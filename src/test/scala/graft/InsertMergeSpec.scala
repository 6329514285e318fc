package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexRow, StreamingIndex, VamanaIndex, VamanaParams}

/** FreshDiskANN §4.1 insert phase ([[StreamingIndex.insertMerge]]):
  * a small batch absorbs into the LIVE graph with no rebuild. Pins
  * (a) untouched-node byte-identity — rows in shards that received
  * no inserts, and unlinked rows in touched shards, survive the
  * merge bit-for-bit; (b) graph invariants (every id present, lists
  * within the slack bound, back-links real); (c) merged-insert
  * recall ≥ the segment-per-batch tier's at equal serving cost; and
  * (d) the ingest → delete → insert-merge → serve lifecycle,
  * including tombstone-log survival across the directory swap. */
class InsertMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val params = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "cosine")
  private val k = 10
  private val beam = 64

  private lazy val all: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, SparkSpecBase.sf001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  // 80/20 split: the base corpus builds the index, every 5th vector
  // arrives later as the insert batch
  private lazy val base = all.filter(_._1 % 5 != 0)
  private lazy val batch = all.filter(_._1 % 5 == 0)

  private def freshIndex(p: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    VamanaIndex.save(
      VamanaIndex.build(base.toSeq.toDF("vec_id", "embedding"), params, numShards = 2),
      params, p)
    p
  }

  private def cosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    1.0 - dot / math.sqrt(na * nb)
  }

  private def trueTopK(q: Array[Float], n: Int): Set[Long] =
    all.sortBy { case (id, v) => (cosDist(q, v), id) }.take(n).map(_._1).toSet

  private lazy val queries: Array[(Long, Array[Float])] =
    all.filter(_._1 % 25 == 3).take(20).map { case (id, v) => (id, v) }

  private def recallOf(res: Array[(Long, Long)]): Double = {
    val byQ = res.groupBy(_._1)
    val hits = queries.map { case (qid, qv) =>
      val truth = trueTopK(qv, k)
      byQ.getOrElse(qid, Array.empty).map(_._2).count(truth) }
    hits.sum.toDouble / (queries.length.toDouble * k)
  }

  test("untouched rows survive byte-identical; inserted ids are linked, lists stay bounded") {
    val p = freshIndex("/tmp/graft_insmerge_ident")
    val before: Map[Long, IndexRow] =
      VamanaIndex.load(spark, p).collect().map(r => r.vec_id -> r).toMap
    StreamingIndex.insertMerge(spark, p, batch.toSeq.toDF("vec_id", "embedding"), params)
    val after = VamanaIndex.load(spark, p).collect()
    val newIds = batch.map(_._1).toSet
    assert(after.length == all.length, "merged index must hold base + batch")
    val afterIds = after.map(_.vec_id).toSet
    assert(newIds.subsetOf(afterIds), "every inserted id must be present")
    after.foreach { r =>
      assert(r.neighbors.length <= params.slackLimit,
        s"node ${r.vec_id}: list ${r.neighbors.length} exceeds slack ${params.slackLimit}")
      assert(r.neighbors.forall(afterIds), s"node ${r.vec_id} points at a ghost id")
      if (newIds(r.vec_id))
        assert(r.neighbors.nonEmpty, s"inserted ${r.vec_id} left unlinked")
      else {
        val b = before(r.vec_id)
        if (!r.neighbors.exists(newIds))
          // untouched: bit-for-bit what was on disk before the merge
          assert(r.embedding.sameElements(b.embedding) && r.shard == b.shard &&
            r.neighbors.sameElements(b.neighbors),
            s"untouched node ${r.vec_id} was rewritten")
      }
    }
    // back-links exist: at least one OLD node must now point at a new
    // id (the §4.1 back-edge step — without it new points would be
    // unreachable from the old graph)
    assert(after.exists(r => !newIds(r.vec_id) && r.neighbors.exists(newIds)),
      "no old node links to any inserted id")
  }

  test("merged-insert recall >= the segment tier's at equal serving cost") {
    // a TIGHT beam (just above k) so the comparison discriminates —
    // at beam 64 both tiers saturate at 1.0 on this corpus size
    val beam = 12
    val p = freshIndex("/tmp/graft_insmerge_recall")
    StreamingIndex.insertMerge(spark, p, batch.toSeq.toDF("vec_id", "embedding"), params)
    val merged = VamanaIndex.load(spark, p)
    val resM = VamanaIndex.search(merged, queries, k, beam, params)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    // segment tier: the same batch sealed as its own single-shard
    // segment beside the base index (what ingest() would append)
    val pSeg = freshIndex("/tmp/graft_insmerge_seg")
    val seg = VamanaIndex.build(batch.toSeq.toDF("vec_id", "embedding"), params, 1)
      .map(r => r.copy(shard = r.shard + 1000))
    val segIdx = VamanaIndex.load(spark, pSeg).union(seg).as[IndexRow]
    val resS = VamanaIndex.search(segIdx, queries, k, beam, params)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    val (rm, rs) = (recallOf(resM), recallOf(resS))
    info(f"merged-insert recall $rm%.3f vs segment tier $rs%.3f (k=$k, beam=$beam)")
    assert(rm >= rs - 1e-9,
      f"insert-merge recall $rm%.3f fell below the segment tier's $rs%.3f")
    // and the merged graph finds every inserted point from itself
    val selfQ = batch.take(25)
    val self = VamanaIndex.search(merged, selfQ, 1, beam, params)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    selfQ.foreach { case (id, _) =>
      assert(self(id) == id, s"inserted $id is not its own nearest neighbor") }
  }

  test("lifecycle: delete -> insert-merge -> serve composes (tombstone log survives the swap)") {
    val p = freshIndex("/tmp/graft_insmerge_life")
    val dead = base.map(_._1).filter(_ % 10 == 1).take(20)
    StreamingIndex.delete(spark, p, dead.toSeq)
    StreamingIndex.insertMerge(spark, p, batch.toSeq.toDF("vec_id", "embedding"), params)
    val deadSet = dead.toSet
    val qs = batch.take(5) ++ dead.take(3).map(id => (id, base.toMap.apply(id)))
    val res = StreamingIndex.searchLive(spark, p, qs, k, beam, params)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    assert(res.nonEmpty)
    res.foreach { case (_, nid) =>
      assert(!deadSet(nid), s"tombstoned $nid served after insertMerge swap") }
    // inserted points serve through the live path too
    batch.take(5).foreach { case (id, _) =>
      assert(res.filter(_._1 == id).map(_._2).contains(id),
        s"inserted $id not served by searchLive") }
    // colliding re-insert fails loudly
    intercept[IllegalArgumentException] {
      StreamingIndex.insertMerge(spark, p,
        batch.take(1).toSeq.toDF("vec_id", "embedding"), params)
    }
  }

  test("routing metadata fails loudly: a corrupt metadata.json names the file, no seed fallback") {
    val p = freshIndex("/tmp/graft_insmerge_meta")
    val metaFile = java.nio.file.Paths.get(s"$p/metadata.json")
    val full = java.nio.file.Files.readString(metaFile)
    def insert(ids: Array[(Long, Array[Float])]): Unit =
      StreamingIndex.insertMerge(spark, p, ids.toSeq.toDF("vec_id", "embedding"), params)
    def rewrite(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      edit(n)
      java.nio.file.Files.writeString(metaFile, n.toString)
    }
    // a truncated file is an I/O fault, never a reason to route by seeds
    java.nio.file.Files.writeString(metaFile, full.take(full.length / 2))
    val truncated = intercept[IllegalArgumentException](insert(batch.take(3)))
    assert(truncated.getMessage.contains(metaFile.toString), truncated.getMessage)
    // a present but malformed field fails the same way
    rewrite(_.put("pivots", "not-a-table"))
    val malformed = intercept[IllegalArgumentException](insert(batch.take(3)))
    assert(malformed.getMessage.contains(metaFile.toString) &&
      malformed.getMessage.contains("pivots"), malformed.getMessage)
    rewrite(_.put("split", "two"))
    val badSplit = intercept[IllegalArgumentException](insert(batch.take(3)))
    assert(badSplit.getMessage.contains(metaFile.toString), badSplit.getMessage)
    // an index saved before pivots existed still ingests by seed routing
    rewrite(_.remove("pivots"))
    insert(batch.take(3))
    val ids = VamanaIndex.load(spark, p).select($"vec_id").as[Long].collect().toSet
    assert(batch.take(3).forall { case (id, _) => ids(id) }, "old-index insert lost its batch")
  }

  test("an index without metadata.json still merges and consolidates deletes") {
    // an ingest-only or foreign directory has no metadata.json; the
    // delete patch never reads routing, so it runs with split 1 and
    // save() writes a fresh metadata.json
    val p = freshIndex("/tmp/graft_insmerge_nometa")
    val metaFile = java.nio.file.Paths.get(s"$p/metadata.json")
    def ids = VamanaIndex.load(spark, p).select($"vec_id").as[Long].collect().toSet
    java.nio.file.Files.delete(metaFile)
    StreamingIndex.delete(spark, p, Seq(base(0)._1))
    StreamingIndex.merge(spark, p, params)
    assert(!ids(base(0)._1), "merge kept a deleted id")
    assert(java.nio.file.Files.exists(metaFile), "merge did not write metadata.json")
    java.nio.file.Files.delete(metaFile)
    StreamingIndex.delete(spark, p, Seq(base(1)._1))
    StreamingIndex.consolidate(spark, p, Seq.empty[(Long, Array[Float])]
      .toDF("vec_id", "embedding"), params)
    assert(!ids(base(1)._1), "consolidate kept a deleted id")
    // inserts need routing: without metadata.json they fail by name
    java.nio.file.Files.delete(metaFile)
    val e = intercept[IllegalArgumentException](StreamingIndex.insertMerge(spark, p,
      batch.take(1).toSeq.toDF("vec_id", "embedding"), params))
    assert(e.getMessage.contains("routing metadata"), e.getMessage)
  }
}
