package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{HnswIndex, HnswParams, VamanaIndex}

/** The batch-serving harness ([[graft.index.ShardServe]]) behind every
  * sharded graph search: one routing rule, where `nprobe <= 0` means
  * every shard, and a resident tier that serves exactly the rows of
  * the rebuild tier it caches. */
class ShardServeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select($"q_id", $"rank", $"neighbor_id", $"dist")
      .as[(Long, Int, Long, Double)].collect().toSeq

  test("searchProbed at nprobe <= 0 probes every shard: row-identical to search") {
    val dir = SparkSpecBase.sf01
    val idx = VamanaIndex.cachedIndex(spark, dir)
    val qs = VamanaIndex.queriesArr(spark, dir)
    val p = VamanaIndex.qParams
    val pivots = Some(VamanaIndex.cachedPivots(spark, dir))
    val all = rows(VamanaIndex.search(idx, qs, 10, 64, p, excludeSelf = true))
    assert(all.length == qs.length * 10)
    Seq(0, -1).foreach { np =>
      val probed = rows(VamanaIndex.searchProbed(idx, qs, 10, 64, p, nprobe = np,
        excludeSelf = true, pivots = pivots))
      assert(probed == all, s"nprobe=$np: ${probed.length} rows vs ${all.length}")
    }
  }

  test("resident tier serves the rebuild tier's rows: search, probed, overlap, HNSW") {
    val dir = SparkSpecBase.sf01
    val p = VamanaIndex.qParams
    val qs = VamanaIndex.queriesArr(spark, dir)
    try {
      val idx = VamanaIndex.cachedIndex(spark, dir)
      val plain = Some("spec-plain:sf01:1")
      assert(rows(VamanaIndex.search(idx, qs, 10, 64, p, excludeSelf = true)) ==
        rows(VamanaIndex.search(idx, qs, 10, 64, p, excludeSelf = true, resident = plain)),
        "search: resident rows differ from rebuilt rows")
      val pivots = Some(VamanaIndex.cachedPivots(spark, dir))
      assert(rows(VamanaIndex.searchProbed(idx, qs, 10, 64, p, nprobe = 4,
          excludeSelf = true, pivots = pivots)) ==
        rows(VamanaIndex.searchProbed(idx, qs, 10, 64, p, nprobe = 4,
          excludeSelf = true, pivots = pivots, resident = plain)),
        "searchProbed: resident rows differ from rebuilt rows")
      val ov = VamanaIndex.cachedOverlapIndex(spark, dir)
      val ovPivots = Some(VamanaIndex.cachedOverlapPivots(spark, dir))
      assert(rows(VamanaIndex.searchProbed(ov, qs, 10, 64, p, nprobe = 4,
          excludeSelf = true, pivots = ovPivots, distinctMerge = true)) ==
        rows(VamanaIndex.searchProbed(ov, qs, 10, 64, p, nprobe = 4,
          excludeSelf = true, pivots = ovPivots, distinctMerge = true,
          resident = Some("spec-overlap:sf01:1"))),
        "overlap searchProbed: resident rows differ from rebuilt rows")
      val hp = HnswParams(m = 8, efConstruction = 32, seed = 7L, metric = "cosine")
      val h = HnswIndex.build(Tables.embeddings(spark, SparkSpecBase.sf001)
        .select($"vec_id", $"embedding"), hp, 4).persist()
      try {
        val hqs = VamanaIndex.queriesArr(spark, SparkSpecBase.sf001)
        assert(rows(HnswIndex.search(h, hqs, 10, 64, hp, excludeSelf = true)) ==
          rows(HnswIndex.search(h, hqs, 10, 64, hp, excludeSelf = true,
            resident = Some("spec-hnsw:sf001:1"))),
          "HnswIndex.search: resident rows differ from rebuilt rows")
      } finally h.unpersist()
    } finally VamanaIndex.releaseCaches()
  }
}
