package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{MmapIndex, SingleFileIndex, VamanaIndex, VamanaParams}

/** Sharded-files serving tier: one reference-layout file per shard +
  * a routing manifest, written task-locally (no driver streaming).
  * The tier must return IDENTICAL rows to the in-memory parquet tier
  * — same routing rule, same entry points, same distances — at both
  * all-shard and probed configurations. */
class ShardedFilesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val params = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "cosine")
  private val dir = "/tmp/graft_sharded_tier"

  private lazy val idx = {
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    val built = VamanaIndex.build(vecs, params, numShards = 4).cache()
    built.count()
    SingleFileIndex.exportSharded(built, params, dir)
    built
  }

  private lazy val queries = Tables.embeddings(spark, SparkSpecBase.sf001)
    .filter($"vec_id" % 100 === 0)
    .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().sortBy(_._1)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
    df.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("export writes one parseable file per shard plus a manifest") {
    idx // force export
    val man = SingleFileIndex.readManifest(spark, dir)
    assert(man.length == 4)
    man.foreach { case (shard, file, seed) =>
      assert(Files.exists(Paths.get(s"$dir/$file")), s"missing $file")
      val meta = SingleFileIndex.readMeta(s"$dir/$file")
      assert(meta.elemSize == 4 && meta.dim == 64)
      assert(meta.medoidId >= 0 && meta.medoidId < meta.numVectors)
      assert(seed.length == 64, s"shard $shard seed")
      // shard ids are sparse within a shard → sidecar must exist and
      // the file must serve standalone
      val mm = new MmapIndex(s"$dir/$file")
      try assert(mm.n == meta.numVectors) finally mm.close()
    }
    // manifest n sums to the corpus
    assert(man.map(m => SingleFileIndex.readMeta(s"$dir/${m._2}").numVectors).sum ==
      Tables.embeddings(spark, SparkSpecBase.sf001).count())
  }

  test("all-shard file serving == in-memory search, row for row") {
    val qdf = queries.toSeq.toDF("q_id", "qv")
    val files = rows(SingleFileIndex.serveSharded(qdf, dir, k = 5, beamWidth = 32))
    val mem = rows(VamanaIndex.search(idx, queries, 5, 32, params))
    assert(files == mem,
      s"first diff: ${files.zip(mem).find { case (a, b) => a != b }}")
  }

  test("probed file serving == in-memory probed search (same routing rule)") {
    val qdf = queries.toSeq.toDF("q_id", "qv")
    val files = rows(SingleFileIndex.serveSharded(qdf, dir, k = 5, beamWidth = 32, nprobe = 2))
    // both tiers route on the shared pivot kernel — the manifest's
    // pivots must reproduce pivotTable() exactly
    val mem = rows(VamanaIndex.searchProbed(idx, queries, 5, 32, params, nprobe = 2,
      pivots = Some(VamanaIndex.pivotTable(idx))))
    assert(files == mem,
      s"first diff: ${files.zip(mem).find { case (a, b) => a != b }}")
  }

  test("resident LocalSharded handle == serveSharded job path, row for row") {
    // the latency_local bench line is only honest if the resident
    // handle returns EXACTLY what the job path serves — same routing,
    // same merge order, same rounding — at probed and all-shard configs
    idx
    val handle = new SingleFileIndex.LocalSharded(spark, dir)
    try {
      for (np <- Seq(2, 0)) {
        val qdf = queries.toSeq.toDF("q_id", "qv")
        val job = rows(SingleFileIndex.serveSharded(qdf, dir, k = 5, beamWidth = 32,
          nprobe = np))
        val local = queries.flatMap { case (qid, qv) =>
          handle.search(qv, k = 5, beamWidth = 32, nprobe = np)
            .zipWithIndex.map { case ((nid, d), i) => (qid, i + 1, nid, d) }
        }.toSeq
        assert(local == job,
          s"nprobe=$np first diff: ${local.zip(job).find { case (a, b) => a != b }}")
      }
    } finally handle.close()
  }

  test("manifest pivots == parquet-tier pivotTable, and seed routing still parses") {
    idx
    val manPivots = SingleFileIndex.readManifestPivots(spark, dir)
    val tablePivots = VamanaIndex.pivotTable(idx)
    assert(manPivots.length == tablePivots.length)
    manPivots.zip(tablePivots).foreach { case ((shM, _, pvM), (shT, pvT)) =>
      assert(shM == shT)
      assert(pvM.map(_.toSeq).toSeq == pvT.map(_.toSeq).toSeq,
        s"shard $shM pivot drift between tiers")
    }
    // a pivots-free manifest (pre-pivot export) falls back to seed-only
    val noPivots = Files.readString(Paths.get(s"$dir/manifest.json"))
      .replaceAll(""","pivots":\[\[[^]]*](,\[[^]]*])*]""", "")
    val legacyDir = "/tmp/graft_sharded_tier_legacy"
    Files.createDirectories(Paths.get(legacyDir))
    Files.writeString(Paths.get(s"$legacyDir/manifest.json"), noPivots)
    val legacy = SingleFileIndex.readManifestPivots(spark, legacyDir)
    val seeds = SingleFileIndex.readManifest(spark, dir)
    assert(legacy.map(_._3.head.toSeq).toSeq == seeds.map(_._3.toSeq).toSeq)
  }

  test("a foreign manifest fails naming manifest.json: missing file, or a file outside the dir") {
    val shard = """{"shard":0,"n":1,"seed":[0.0]"""
    for ((name, entry) <- Seq("no_file" -> s"$shard}", "escape" -> s"""$shard,"file":"../x.idx"}""")) {
      val d = Files.createTempDirectory(s"graft_manifest_$name")
      Files.writeString(d.resolve("manifest.json"), s"""{"format":"graft-sharded-v1","shards":[$entry]}""")
      for (open <- Seq[() => Any](() => SingleFileIndex.readManifestPivots(spark, d.toString),
          () => new SingleFileIndex.LocalSharded(spark, d.toString))) {
        val e = intercept[IllegalArgumentException](open())
        assert(e.getMessage.contains(s"$d/manifest.json"), s"$name: ${e.getMessage}")
      }
    }
  }
}
