package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{StreamingIndex, VamanaIndex, VamanaParams}

/** Answer quality across the in-place lifecycle, on a corpus where it
  * can fall: a seeded clustered mixture with a small degree and a
  * tight serving beam, so `searchLive` recall@10 sits well below 1.
  * Rounds of insertMerge, delete + merge and delete + consolidate run
  * on one index; after every operation no deleted id may be served
  * and recall against brute force over the live set must stay at or
  * above `Floor`. A delete patch that drops the live out-neighbours of
  * a deleted node (keeping only the live neighbours) falls below it. */
class LifecycleRecallSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val Dim = 32
  private val K = 10
  private val Beam = 16
  private val params = VamanaParams(maxDegree = 8, buildBeamWidth = 24, metric = "cosine")
  private val Rounds = 3
  /** Recall floor after every operation: just under 0.786, the lowest
    * figure this lifecycle read while streamed inserts and deletes ran
    * their own search and prune instead of the build's graph steps
    * (CHANGES.md has the figures of both). */
  private val Floor = 0.78

  /** Seeded mixture of 24 centres; ids start at `firstId`. */
  private def mixture(n: Int, firstId: Long, rnd: java.util.Random,
      centres: Array[Array[Double]]): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val c = centres(rnd.nextInt(centres.length))
      (firstId + i, Array.tabulate(Dim)(d => (c(d) + 0.45 * rnd.nextGaussian()).toFloat))
    }

  private def cosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / math.sqrt(na * nb)
  }

  test("recall holds and no deleted id is served across insertMerge, merge and consolidate rounds") {
    val rnd = new java.util.Random(20261)
    val centres = Array.fill(24, Dim)(rnd.nextGaussian())
    var live = mixture(2000, 0L, rnd, centres).toMap
    var nextId = 100000L
    val queries = mixture(100, -1000L, rnd, centres)
    val p = "/tmp/graft_lifecycle_recall"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    VamanaIndex.save(VamanaIndex.build(live.toSeq.toDF("vec_id", "embedding"), params,
      numShards = 2), params, p)
    val dead = scala.collection.mutable.Set.empty[Long]

    def fresh(n: Int): Array[(Long, Array[Float])] = {
      val b = mixture(n, nextId, rnd, centres); nextId += n; b
    }
    def pickDead(n: Int): Seq[Long] = {
      val ids = live.keys.toArray.sorted
      val picked = new scala.util.Random(rnd).shuffle(ids.toSeq).take(n)
      StreamingIndex.delete(spark, p, picked)
      live --= picked; dead ++= picked
      picked
    }
    val recalls = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def check(op: String): Unit = {
      val served = StreamingIndex.searchLive(spark, p, queries, K, Beam, params)
        .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
      served.foreach { case (_, nid) => assert(!dead(nid), s"$op: deleted $nid served") }
      val byQ = served.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val liveRows = live.toArray
      val recall = queries.map { case (qid, q) =>
        val truth = liveRows.sortBy { case (id, v) => (cosDist(q, v), id) }.take(K).map(_._1)
        truth.count(byQ.getOrElse(qid, Set.empty[Long])).toDouble / K
      }.sum / queries.length
      recalls += ((op, recall))
      info(f"$op: recall@$K $recall%.4f over ${live.size} live rows")
      assert(recall >= Floor, f"$op: recall@$K $recall%.4f below the floor $Floor%.3f")
    }

    check("build")
    (1 to Rounds).foreach { r =>
      val ins = fresh(200)
      StreamingIndex.insertMerge(spark, p, ins.toSeq.toDF("vec_id", "embedding"), params)
      live ++= ins
      check(s"round $r insertMerge")
      pickDead(250)
      StreamingIndex.merge(spark, p, params)
      check(s"round $r merge")
      pickDead(150)
      val batch = fresh(150)
      StreamingIndex.consolidate(spark, p, batch.toSeq.toDF("vec_id", "embedding"), params)
      live ++= batch
      check(s"round $r consolidate")
    }
    info(recalls.map { case (op, r) => f"$op=$r%.4f" }.mkString("recalls: ", ", ", ""))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }
}
