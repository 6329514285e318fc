package graft

import java.io.File
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{StreamingIndex, VamanaIndex, VamanaParams}

/** The lifecycle transaction every StreamingIndex rewrite ends in:
  * save to `$path-<op>.tmp`, swap with rollback, optional export.
  * Pins (a) that a stale temp directory left by a crashed earlier run
  * never goes live with the swap; (b) the named outcome of a failure
  * at save and at each rename of the swap (injected through
  * `activateSwap`'s rename seam); (c) that an index left between the
  * swap's two renames fails by name at the next load or maintain
  * instead of with Spark's bare missing-path error. */
class LifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val params = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "cosine")

  private lazy val base: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, SparkSpecBase.sf001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).filter(_._1 % 5 != 0)

  private def freshIndex(p: String): String = {
    Seq(p, s"$p-old", s"$p-merge.tmp", s"$p-compact.tmp")
      .foreach(d => FileUtils.deleteQuietly(new File(d)))
    VamanaIndex.save(
      VamanaIndex.build(base.toSeq.toDF("vec_id", "embedding"), params, numShards = 2),
      params, p)
    p
  }

  private def rowsOf(p: String): Array[(Long, Int, Seq[Long], Seq[Float])] =
    VamanaIndex.load(spark, p).collect()
      .map(r => (r.vec_id, r.shard, r.neighbors.toSeq, r.embedding.toSeq))
      .sortBy(_._1)

  /** What a crashed earlier run leaves behind: a temp directory
    * holding a tombstone log. */
  private def plantStaleLog(tmp: String, ids: Seq[Long]): Unit =
    ids.toDF("vec_id").coalesce(1).write.mode("overwrite").parquet(s"$tmp/tombstones")

  test("a stale temp directory never goes live: merge and compact clear it first") {
    val p = freshIndex("/tmp/graft_lifecycle_stale_merge")
    val (stale, dead) = (base(2)._1, base(7)._1)
    plantStaleLog(s"$p-merge.tmp", Seq(stale))
    StreamingIndex.delete(spark, p, Seq(dead))
    StreamingIndex.merge(spark, p, params)
    assert(StreamingIndex.tombstones(spark, p).isEmpty,
      "merge retires the log, yet a stale temp log went live with the swap")
    val merged = rowsOf(p).map(_._1).toSet
    assert(merged(stale) && !merged(dead))

    val q = freshIndex("/tmp/graft_lifecycle_stale_compact")
    plantStaleLog(s"$q-compact.tmp", Seq(stale))
    StreamingIndex.compact(spark, q, params, numShards = 2)
    assert(StreamingIndex.tombstones(spark, q).isEmpty,
      s"compact activated a stale log: live vector $stale is now hidden from searchLive")
    assert(rowsOf(q).exists(_._1 == stale))
  }

  test("save fails: compact of a fully tombstoned index leaves the index and its log, no temp") {
    val p = freshIndex("/tmp/graft_lifecycle_savefail")
    val before = rowsOf(p)
    StreamingIndex.delete(spark, p, base.map(_._1).toSeq)
    val e = intercept[IllegalArgumentException](
      StreamingIndex.compact(spark, p, params, numShards = 2))
    assert(e.getMessage.contains("cannot save an empty index"), e.getMessage)
    assert(rowsOf(p).sameElements(before), "a failed save touched the live index")
    assert(StreamingIndex.tombstones(spark, p) == base.map(_._1).toSet,
      "a failed save touched the tombstone log")
    assert(!new File(s"$p-compact.tmp").exists, "a failed save left its temp directory")
  }

  /** A live index and a replacement (a copy of it) at the temp name,
    * ready for [[StreamingIndex.activateSwap]]. */
  private def swapFixture(p: String): (Array[(Long, Int, Seq[Long], Seq[Float])], File) = {
    freshIndex(p)
    val tmp = new File(s"$p-merge.tmp")
    FileUtils.copyDirectory(new File(p), tmp)
    (rowsOf(p), tmp)
  }

  /** A rename that runs the real move except on the listed calls
    * (1-based), where it fails. */
  private def failingOn(calls: Int*): (File, File) => Boolean = {
    var n = 0
    (from, to) => { n += 1; !calls.contains(n) && from.renameTo(to) }
  }

  test("swap fails at the first rename: the index is untouched, the message names the temp") {
    val p = "/tmp/graft_lifecycle_rename1"
    val (before, tmp) = swapFixture(p)
    val e = intercept[java.io.IOException](
      StreamingIndex.activateSwap(p, tmp, "merge", failingOn(1)))
    assert(e.getMessage.contains(tmp.getPath), e.getMessage)
    assert(rowsOf(p).sameElements(before))
    assert(tmp.exists, "the replacement must stay where the message says")
  }

  test("swap fails at the second rename, rollback succeeds: original restored") {
    val p = "/tmp/graft_lifecycle_rename2"
    val (before, tmp) = swapFixture(p)
    val e = intercept[java.io.IOException](
      StreamingIndex.activateSwap(p, tmp, "merge", failingOn(2)))
    assert(e.getMessage.contains("original restored"), e.getMessage)
    assert(rowsOf(p).sameElements(before))
  }

  test("swap and rollback both fail: the message names -old, and load and maintain fail by name") {
    val p = "/tmp/graft_lifecycle_rename3"
    val (before, tmp) = swapFixture(p)
    val e = intercept[java.io.IOException](
      StreamingIndex.activateSwap(p, tmp, "merge", failingOn(2, 3)))
    assert(e.getMessage.contains(s"$p-old"), e.getMessage)
    assert(!new File(p).exists && new File(s"$p-old").exists)
    // the state a process dying between the two renames leaves behind
    val onLoad = intercept[java.io.IOException](VamanaIndex.load(spark, p))
    val onMaintain = intercept[java.io.IOException](
      StreamingIndex.maintain(spark, p, params, mainShards = 2))
    Seq(onLoad, onMaintain).foreach { x =>
      assert(x.getMessage.contains(s"$p-old") && x.getMessage.contains(tmp.getPath),
        x.getMessage)
    }
    assert(new File(s"$p-old").renameTo(new File(p)))
    assert(rowsOf(p).sameElements(before), "-old must hold the pre-operation index")
  }
}
