package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.lit
import graft.index.VamanaIndex

/** Filtered graph serving (the Filtered-DiskANN serving pattern):
  * predicate-constrained top-k through the UNfiltered graph must (a)
  * return only matching vectors, (b) recall the exact filtered ground
  * truth at a widened beam, (c) be deterministic, and (d) degrade to
  * empty — not crash — on a predicate nothing satisfies. */
class FilteredSearchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val dir = SparkSpecBase.sf001
  private val Target = 3

  private lazy val vecs = Tables.embeddings(spark, dir)
    .select($"vec_id", $"embedding", $"label")
    .as[(Long, Array[Float], Int)].collect().sortBy(_._1)

  private def cosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    1.0 - dot / (math.max(math.sqrt(na), java.lang.Double.MIN_NORMAL) *
      math.max(math.sqrt(nb), java.lang.Double.MIN_NORMAL))
  }

  test("filtered search returns only target-label vectors and recalls ground truth") {
    val res = VamanaIndex.qVamanaFiltered(spark, dir)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    val labelOf = vecs.map(v => v._1 -> v._3).toMap
    assert(res.nonEmpty)
    res.foreach { case (q, nid) =>
      assert(labelOf(nid) == Target, s"q $q returned label ${labelOf(nid)} vector $nid")
    }

    // exact filtered ground truth: top-10 by (dist, id) among label-3
    val queries = vecs.filter(_._1 % 50 == 0)
    val approx = res.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = queries.map { case (qid, qv, _) =>
      val truth = vecs.filter(_._3 == Target)
        .map { case (nid, v, _) => (nid, cosDist(qv, v)) }
        .sortBy { case (nid, d) => (d, nid) }.take(10).map(_._1).toSet
      (truth & approx.getOrElse(qid, Set.empty)).size / 10.0
    }.sum / queries.length
    assert(recall >= 0.8, s"filtered recall@10 $recall below 0.8 floor")
  }

  test("labels frame covering ONLY the target rows keeps the graph whole") {
    // regression: the inner label join dropped unlabeled vectors from
    // the traversal itself, fragmenting the shard graphs — a partial
    // labels frame is a natural way to call this API and must behave
    // like the full frame (unlabeled rows traverse, never match)
    val full = Tables.embeddings(spark, dir).select($"vec_id", $"label")
    val partial = full.filter($"label" === Target)
    val queries = vecs.filter(_._1 % 50 == 0).map(v => (v._1, v._2))
    val p = index.VamanaIndex.qParams
    val idx = index.VamanaIndex.cachedIndex(spark, dir)
    val a = VamanaIndex.searchFiltered(idx, full, queries, 10, 64, p, Target)
      .select($"q_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().sorted
    val b = VamanaIndex.searchFiltered(idx, partial, queries, 10, 64, p, Target)
      .select($"q_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().sorted
    assert(a.nonEmpty && a.sameElements(b),
      s"partial labels diverged: ${a.length} vs ${b.length} rows")
  }

  test("filtered search is deterministic") {
    val a = VamanaIndex.qVamanaFiltered(spark, dir).collect().toSeq
    val b = VamanaIndex.qVamanaFiltered(spark, dir).collect().toSeq
    assert(a == b)
  }

  test("<=1% selectivity: the beam ~ k/selectivity heuristic holds its recall floor") {
    // the one-graph-no-label-forest design is stressed exactly where
    // selectivity collapses: matches are ~1% of the corpus, so the
    // unfiltered traversal must wade through ~100 non-matching
    // neighbors per match. The serving heuristic (searchFiltered doc)
    // says widen beam ≈ k / selectivity; this pins that bound at
    // 0.78% selectivity — recall holds at beam = k/sel with NO
    // further growth needed (the bound is linear in 1/sel, not worse).
    val bigDir = SparkSpecBase.sf1 // 5000 vectors
    val all = Tables.embeddings(spark, bigDir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val isMatch = (id: Long) => id % 128 == 5
    val nMatch = all.count(v => isMatch(v._1))
    val sel = nMatch.toDouble / all.length
    assert(sel <= 0.01, f"synthetic predicate selectivity $sel%.4f not <=1%%")
    val labels = all.map { case (id, _) =>
      (id, if (isMatch(id)) Target else 0) }.toSeq.toDF("vec_id", "label")
    val queries = all.filter(_._1 % 500 == 0).map(v => (v._1, v._2))
    val k = 10
    val beam = math.ceil(k / sel).toInt // the heuristic, no extra slack
    val idx = index.VamanaIndex.cachedIndex(spark, bigDir)
    val res = VamanaIndex.searchFiltered(idx, labels, queries, k, beam,
      index.VamanaIndex.qParams, Target)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    // only matching ids may surface
    res.foreach { case (q, nid) =>
      assert(isMatch(nid), s"q $q returned non-matching vector $nid") }
    // recall vs the exact filtered ground truth
    val approx = res.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val matchVecs = all.filter(v => isMatch(v._1))
    val recall = queries.map { case (qid, qv) =>
      val truth = matchVecs.map { case (nid, v) => (nid, cosDist(qv, v)) }
        .sortBy { case (nid, d) => (d, nid) }.take(k).map(_._1).toSet
      (truth & approx.getOrElse(qid, Set.empty)).size.toDouble / k
    }.sum / queries.length
    info(f"selectivity=$sel%.4f beam=$beam recall@10=$recall%.4f")
    assert(recall >= 0.9, f"low-selectivity recall@10 $recall%.4f under 0.9 at beam=$beam")
  }

  test("an unsatisfiable predicate yields zero rows, not a failure") {
    val qs = vecs.take(3).map(v => (v._1, v._2))
    val out = VamanaIndex.searchFiltered(
      VamanaIndex.cachedIndex(spark, dir),
      Tables.embeddings(spark, dir).select($"vec_id", $"label"),
      qs, 10, 256, graft.index.VamanaParams(metric = "cosine"), target = 99)
    assert(out.count() == 0)
  }

  test("a vec_id with several label rows is returned at most once") {
    // the left label join repeats such a vector once per label row
    // inside its shard graph; the filter holds per graph row, so only
    // the copy carrying the target label may be returned
    val full = Tables.embeddings(spark, dir).select($"vec_id", $"label")
    val multi = full
      .union(full.filter($"label" === Target).select($"vec_id", lit(Target + 100).as("label")))
      .union(full.filter($"vec_id" % 7 === 0 && $"label" =!= Target)
        .select($"vec_id", lit(Target).as("label")))
    val labelsOf = multi.as[(Long, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val queries = vecs.filter(_._1 % 50 == 0).map(v => (v._1, v._2))
    val res = VamanaIndex.searchFiltered(VamanaIndex.cachedIndex(spark, dir), multi,
        queries, 10, 64, VamanaIndex.qParams, Target)
      .select($"q_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect()
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (q, rows) =>
      val ids = rows.map(_._3)
      assert(ids.distinct.length == ids.length, s"q $q returned an id twice: ${ids.toSeq}")
      assert(rows.map(_._2).sorted.sameElements(1 to rows.length), s"q $q ranks not 1..n")
    }
    res.foreach { case (q, _, nid) =>
      assert(labelsOf(nid)(Target), s"q $q returned $nid without label $Target")
    }
  }
}
