package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexRow, StreamingIndex, VamanaIndex, VamanaParams}

/** Segment absorption ([[StreamingIndex.absorbSegments]]): the
  * FreshDiskANN background job — ingest's segment-per-batch shards
  * tear down and their live vectors re-insert into the main graph in
  * the same one-pass scan that applies the tombstone log. Pins
  * (a) row-identity with [[StreamingIndex.consolidate]] run on the
  * main-only index with the segment vectors as the batch (the two
  * operators are one algorithm with two batch sources); (b) the
  * lifecycle: segments gone, tombstones applied and retired — a
  * tombstoned SEGMENT vector completes its delete by never
  * re-inserting — and absorbed ids serve from the single-tier
  * result; (c) loud rejection of id corruption (duplicate segment
  * ids, a segment id still live in the main graph); (d) the rest of
  * the merge family on a segmented index: segments survive merge and
  * consolidate delete-patched and insertMerge untouched, and inserts
  * land in main shards only. */
class AbsorbSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val params = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "cosine")
  private val k = 10
  private val beam = 64

  private lazy val all: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, SparkSpecBase.sf001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  private lazy val base = all.filter(_._1 % 5 != 0)
  private lazy val seg = all.filter(_._1 % 5 == 0)

  private def freshIndex(p: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    VamanaIndex.save(
      VamanaIndex.build(base.toSeq.toDF("vec_id", "embedding"), params, numShards = 2),
      params, p)
    p
  }

  /** Seal `rows` as segment shards beside the main graph — the same
    * append [[StreamingIndex.ingest]]'s foreachBatch performs, minus
    * the stream plumbing. */
  private def appendSegment(p: String, rows: Array[(Long, Array[Float])],
      shardBase: Int): Unit = {
    val built = VamanaIndex.build(rows.toSeq.toDF("vec_id", "embedding"), params, 1)
      .map(r => r.copy(shard = r.shard + shardBase))
    built.write.mode("append").partitionBy("shard").parquet(s"$p/graph")
  }

  private def rowsOf(p: String): Array[(Long, Int, Seq[Long], Seq[Float])] =
    VamanaIndex.load(spark, p).collect()
      .map(r => (r.vec_id, r.shard, r.neighbors.toSeq, r.embedding.toSeq))
      .sortBy(_._1)

  test("absorb is row-identical to consolidate with the segment vectors as the batch") {
    val pA = freshIndex("/tmp/graft_absorb_eq_a")
    val pB = freshIndex("/tmp/graft_absorb_eq_b")
    appendSegment(pB, seg, 1000)
    val dead = base.map(_._1).filter(_ % 8 == 3).take(25).toSeq
    StreamingIndex.delete(spark, pA, dead)
    StreamingIndex.delete(spark, pB, dead)
    StreamingIndex.consolidate(spark, pA, seg.toSeq.toDF("vec_id", "embedding"), params)
    StreamingIndex.absorbSegments(spark, pB, params, mainShards = 2)
    assert(rowsOf(pA).sameElements(rowsOf(pB)),
      "absorbSegments diverged from consolidate on the same batch")
  }

  test("lifecycle: segments tear down, a tombstoned segment vector never re-inserts, absorbed ids serve") {
    val p = freshIndex("/tmp/graft_absorb_life")
    appendSegment(p, seg, 1000)
    val deadMain = base.map(_._1).filter(_ % 10 == 1).take(15)
    val deadSeg = seg.map(_._1).take(5)
    StreamingIndex.delete(spark, p, (deadMain ++ deadSeg).toSeq)
    StreamingIndex.absorbSegments(spark, p, params, mainShards = 2)
    assert(StreamingIndex.tombstones(spark, p).isEmpty, "log must retire")
    val after = VamanaIndex.load(spark, p).collect()
    assert(after.forall(_.shard < 2), "segment shards must be gone")
    val ids = after.map(_.vec_id).toSet
    (deadMain ++ deadSeg).foreach(id =>
      assert(!ids(id), s"tombstoned $id survived the absorb"))
    val liveSeg = seg.filterNot(s => deadSeg.contains(s._1))
    liveSeg.foreach { case (id, _) =>
      assert(ids(id), s"live segment vector $id lost in the absorb") }
    assert(after.forall(_.neighbors.forall(ids)), "ghost neighbor after absorb")
    // absorbed vectors serve from the single-tier result
    val qs = liveSeg.take(8)
    val res = VamanaIndex.search(VamanaIndex.load(spark, p), qs, k, beam, params)
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
    qs.foreach { case (id, _) =>
      assert(res.filter(_._1 == id).map(_._2).contains(id),
        s"absorbed $id not served from the merged graph") }
  }

  test("merge, insertMerge and consolidate keep segment shards: delete-patched or untouched, inserts to main") {
    val segRows = seg.filter(_._1 % 10 == 0)
    val ins = seg.filter(_._1 % 10 == 5)
    val deadSeg = segRows.map(_._1).take(6)
    val dead = deadSeg ++ base.map(_._1).filter(_ % 8 == 3).take(10)
    type Rows = Array[(Long, Int, Seq[Long], Seq[Float])]
    def segOf(rows: Rows): Rows = rows.filter(_._2 >= 1000)
    def run(name: String)(op: String => Unit): (Rows, Rows) = {
      val p = freshIndex(s"/tmp/graft_absorb_segkeep_$name")
      appendSegment(p, segRows, 1000)
      val before = rowsOf(p)
      op(p)
      (before, rowsOf(p))
    }
    def assertDeletePatched(name: String, before: Rows, after: Rows): Unit = {
      val kept = segOf(after)
      assert(kept.map(_._1).sameElements(segRows.map(_._1).filterNot(deadSeg.contains)),
        s"$name: live segment rows lost or deleted ones kept")
      assert(kept.forall(_._3.forall(n => !dead.contains(n))), s"$name: segment row points at a deleted id")
      val untouched = segOf(before).filter(_._3.forall(n => !dead.contains(n)))
        .filterNot(r => dead.contains(r._1))
      assert(untouched.forall(kept.contains), s"$name: a segment row touching no delete changed")
    }
    val (mBefore, mAfter) = run("merge") { p =>
      StreamingIndex.delete(spark, p, dead.toSeq)
      StreamingIndex.merge(spark, p, params)
    }
    assertDeletePatched("merge", mBefore, mAfter)
    val (iBefore, iAfter) = run("insert") { p =>
      StreamingIndex.insertMerge(spark, p, ins.toSeq.toDF("vec_id", "embedding"), params)
    }
    assert(segOf(iAfter).sameElements(segOf(iBefore)), "insertMerge touched a segment row")
    assert(iAfter.filter(r => ins.exists(_._1 == r._1)).forall(_._2 < 2) &&
      ins.forall(i => iAfter.exists(_._1 == i._1)), "insertMerge inserts must land in main shards")
    val (cBefore, cAfter) = run("consolidate") { p =>
      StreamingIndex.delete(spark, p, dead.toSeq)
      StreamingIndex.consolidate(spark, p, ins.toSeq.toDF("vec_id", "embedding"), params)
    }
    assertDeletePatched("consolidate", cBefore, cAfter)
    assert(cAfter.filter(r => ins.exists(_._1 == r._1)).forall(_._2 < 2) &&
      ins.forall(i => cAfter.exists(_._1 == i._1)), "consolidate inserts must land in main shards")
  }

  test("maintain picks the measured schedule: noop / absorb / compact by churn") {
    val p = freshIndex("/tmp/graft_absorb_maint")
    assert(StreamingIndex.maintain(spark, p, params, mainShards = 2) == "noop")
    // small churn: a segment well under churnFraction x main -> absorb
    val small = seg.take(math.max(4, base.length / 20))
    appendSegment(p, small, 1000)
    assert(StreamingIndex.maintain(spark, p, params, mainShards = 2) == "absorb")
    val after = VamanaIndex.load(spark, p).collect()
    assert(after.forall(_.shard < 2), "absorb must leave a single-tier index")
    assert(small.forall(s => after.exists(_.vec_id == s._1)), "absorbed rows lost")
    // large churn: segments + tombstones past the fraction -> compact,
    // which drops the tombstoned rows and retires the log
    val rest = seg.filterNot(s => small.exists(_._1 == s._1))
    appendSegment(p, rest, 2000)
    val dead = base.map(_._1).filter(_ % 7 == 2).take(base.length / 10)
    StreamingIndex.delete(spark, p, dead.toSeq)
    assert(StreamingIndex.maintain(spark, p, params, mainShards = 2,
      churnFraction = 0.15) == "compact")
    val rebuilt = VamanaIndex.load(spark, p).collect()
    assert(rebuilt.forall(_.shard < 2))
    dead.foreach(id => assert(!rebuilt.exists(_.vec_id == id), s"dead $id survived compact"))
    assert(StreamingIndex.tombstones(spark, p).isEmpty)
    assert(StreamingIndex.maintain(spark, p, params, mainShards = 2) == "noop")
  }

  test("fully-tombstoned segments are not churn: maintain absorbs instead of rebuilding") {
    val p = freshIndex("/tmp/graft_absorb_deadseg")
    appendSegment(p, seg, 1000) // 100 rows = 25% of main, but...
    StreamingIndex.delete(spark, p, seg.map(_._1).toSeq) // ...all dead
    StreamingIndex.delete(spark, p, Seq(999999L, 999998L)) // stale entries
    // a churn formula that counted tombstoned segment rows twice (or
    // stale log ids at all) would read 202 >= 0.15 x 400 and schedule
    // a full rebuild; the actual absorb work here is zero inserts
    assert(StreamingIndex.maintain(spark, p, params, mainShards = 2) == "absorb")
    val after = VamanaIndex.load(spark, p).collect()
    assert(after.forall(_.shard < 2), "dead segments must still tear down")
    assert(seg.forall(s => !after.exists(_.vec_id == s._1)),
      "tombstoned segment rows must not re-insert")
    assert(StreamingIndex.tombstones(spark, p).isEmpty, "log must retire")
  }

  test("compact collapses duplicate ids to the latest batch's copy (and replicas to one row)") {
    val p = freshIndex("/tmp/graft_absorb_cmpdup")
    val dupId = seg(0)._1
    val oldVec = seg(0)._2
    val newVec = oldVec.map(_ + 1.0f)
    appendSegment(p, seg.take(10), 1000)
    appendSegment(p, Array((dupId, newVec)), 2000) // re-ingested, updated vector
    StreamingIndex.compact(spark, p, params, numShards = 2)
    val after = VamanaIndex.load(spark, p).collect()
    assert(after.map(_.vec_id).distinct.length == after.length,
      "compact left duplicate vec_ids in the rebuilt graph")
    val kept = after.filter(_.vec_id == dupId)
    assert(kept.length == 1 && kept(0).embedding.sameElements(newVec),
      "compact must keep the LATEST batch's copy (highest shard wins)")
  }

  test("id corruption fails loudly: duplicate segment ids, and a segment id live in main") {
    val p = freshIndex("/tmp/graft_absorb_dup")
    appendSegment(p, seg.take(50), 1000)
    appendSegment(p, seg.take(10), 2000) // re-ingested twice
    intercept[IllegalArgumentException] {
      StreamingIndex.absorbSegments(spark, p, params, mainShards = 2)
    }
    val p2 = freshIndex("/tmp/graft_absorb_clash")
    appendSegment(p2, base.take(5) ++ seg.take(20), 1000) // base ids are live in main
    intercept[IllegalArgumentException] {
      StreamingIndex.absorbSegments(spark, p2, params, mainShards = 2)
    }
  }
}
