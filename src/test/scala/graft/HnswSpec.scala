package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{GraphCache, HnswGraph, HnswIndex, HnswParams}

/** HNSW comparison baseline (reference examples/hnsw_sift.rs ships
  * HNSW side-by-side with DiskANN so users can weigh index families):
  * kernel determinism/sanity, and the headline comparison — sharded
  * HNSW recall@10 must meet Vamana's at EQUAL search budget
  * (ef = beam = 64) through the same harness on the same corpus. */
class HnswSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private def corpus(n: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(n) { i =>
      Array.tabulate(dim) { d =>
        val h = (i.toLong * 2654435761L + d * 40503L) * 0x9e3779b97f4a7c15L
        ((h >>> 40).toDouble / (1L << 24).toDouble - 0.5).toFloat
      }
    }

  test("kernel: deterministic build, self is its own nearest neighbor") {
    val n = 300; val dim = 16
    val pts = corpus(n, dim)
    val flat = pts.flatten
    val hp = HnswParams(m = 8, efConstruction = 32, metric = "l2")
    val g1 = new HnswGraph(flat, dim, n, hp).build()
    val g2 = new HnswGraph(flat, dim, n, hp).build()
    // identical builds: same entry, same adjacency everywhere
    assert(g1.entry == g2.entry)
    (0 until n).foreach { i =>
      assert(g1.levels(i) == g2.levels(i))
      g1.layers(i).zip(g2.layers(i)).foreach { case (a, b) =>
        assert(a.sameElements(b), s"node $i adjacency drifted")
      }
    }
    // every node finds itself at distance 0, results sorted
    (0 until n by 37).foreach { i =>
      val r = g1.search(pts(i), 5, 32)
      assert(r.head._1 == i && r.head._2 < 1e-12, s"node $i: ${r.toSeq}")
      assert(r.map(_._2).sameElements(r.map(_._2).sorted))
    }
  }

  test("kernel: filtered search returns only allowed nodes and recalls ground truth") {
    val n = 300; val dim = 16
    val pts = corpus(n, dim)
    val g = new HnswGraph(pts.flatten, dim, n, HnswParams(m = 8, efConstruction = 32, metric = "l2")).build()
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    }
    val allow = (id: Int) => id % 3 == 0 // ~33% selectivity
    var recallSum = 0.0; var nq = 0
    (0 until n by 29).foreach { qi =>
      val res = g.searchFiltered(pts(qi), 5, 96, allow)
      assert(res.forall { case (id, _) => allow(id) }, s"q $qi leaked: ${res.toSeq}")
      assert(res.map(_._2).sameElements(res.map(_._2).sorted))
      val truth = (0 until n).filter(allow)
        .map(id => (l2(pts(qi), pts(id)), id))
        .sorted.take(5).map(_._2).toSet
      recallSum += res.count { case (id, _) => truth(id) } / 5.0
      nq += 1
    }
    val recall = recallSum / nq
    assert(recall >= 0.8, s"filtered kernel recall@5 $recall below 0.8 floor")
  }

  test("kernel: layered structure exists and respects degree caps") {
    val n = 2000; val dim = 8
    val flat = corpus(n, dim).flatten
    val hp = HnswParams(m = 8, efConstruction = 32, metric = "l2")
    val g = new HnswGraph(flat, dim, n, hp).build()
    // with n=2000, m=8: expected max level ≈ ln(2000)/ln(8) ≈ 3.7 —
    // the hierarchy must actually exist (some node above level 0)
    assert(g.levels.max >= 1, s"no hierarchy: max level ${g.levels.max}")
    (0 until n).foreach { i =>
      g.layers(i).zipWithIndex.foreach { case (nbrs, lev) =>
        val cap = if (lev == 0) 2 * hp.m else hp.m
        assert(nbrs.length <= cap, s"node $i layer $lev degree ${nbrs.length} > $cap")
        assert(!nbrs.contains(i), s"node $i self-loop at layer $lev")
      }
    }
  }

  test("kernel: a zero cosine query against a zero vector reads finite distances") {
    // node 0 is the zero vector; ef above n visits and keeps every node,
    // so a NaN distance (NaN sorts last) would show among the k = n
    val n = 41; val dim = 16
    val flat = (Array.fill(dim)(0f) +: corpus(n - 1, dim)).flatten
    val g = new HnswGraph(flat, dim, n, HnswParams(m = 8, efConstruction = 32)).build()
    val r = g.search(new Array[Float](dim), n, 64)
    assert(r.length == n)
    assert(r.forall { case (_, d) => !d.isNaN && !d.isInfinite }, r.toSeq.toString)
    assert(r.find(_._1 == 0).map(_._2).contains(1.0), r.toSeq.toString)
  }

  test("sharded HNSW recall@10 meets Vamana's at equal search budget (ef=beam=64)") {
    val dir = SparkSpecBase.sf001
    val hnsw = HnswIndex.hnswRecall(spark, dir)
    val vamana = index.VamanaIndex.qVamanaRecall(spark, dir)
      .head().getDouble(0)
    assert(hnsw >= vamana - 1e-9,
      s"hnsw recall $hnsw below vamana $vamana at equal budget")
    assert(hnsw >= 0.95, s"hnsw recall $hnsw")
  }

  test("q_hnsw_search returns k ranked rows per query") {
    val df = HnswIndex.qHnswSearch(spark, SparkSpecBase.sf001)
    val byQ = df.groupBy($"q_id").count().as[(Long, Long)].collect()
    assert(byQ.nonEmpty && byQ.forall(_._2 == 10), byQ.toSeq.toString)
  }

  test("resident tier: repeat q_hnsw_search hits the graph cache and is row-identical") {
    // the HNSW twin of the VamanaIndex resident-tier pin: run 1
    // populates GraphCache, run 2 serves from it with zero row
    // deserialization — identical rows or the cache is changing
    // answers; release() must drain it.
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val miss = pairs(HnswIndex.qHnswSearch(spark, SparkSpecBase.sf001))
    assert(GraphCache.size > 0,
      "qHnswSearch did not populate the resident graph cache")
    val hit = pairs(HnswIndex.qHnswSearch(spark, SparkSpecBase.sf001))
    assert(miss == hit,
      s"warm tier drifted: ${miss.diff(hit).size} lost, ${hit.diff(miss).size} gained")
    HnswIndex.release()
    assert(GraphCache.size == 0,
      "release left resident HNSW graphs behind")
  }

  test("save → open → search identical to the in-memory index (hnsw_sift.rs dump/reload)") {
    val path = "/tmp/graft_hnsw_spec_idx"
    val hp = HnswParams(m = 8, efConstruction = 32, seed = 7L, metric = "cosine")
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    val h = GraftANN.buildHnswIndex(vecs, hp, numShards = 2, path)
    assert(h.metadataJson.contains("graft-hnsw-v1"))
    assert(h.numVectors == vecs.count())
    // params round-trip through metadata.json alone
    val inferred = GraftANN.openHnswIndex(spark, path)
    assert(inferred.params == hp)
    // in-memory build vs persisted-and-reloaded: identical results
    val mem = HnswIndex.build(vecs, hp, numShards = 2)
    val q = vecs.filter($"vec_id" === 11L).select($"embedding")
      .as[Array[Float]].head()
    val fromMem = HnswIndex.search(mem, Array((11L, q)), 5, 32, hp)
      .orderBy($"rank").select($"neighbor_id", $"dist").as[(Long, Double)].collect()
    val fromDisk = inferred.searchVector(q, k = 5, ef = 32)
    assert(fromMem.sameElements(fromDisk),
      s"mem ${fromMem.toSeq} vs disk ${fromDisk.toSeq}")
    assert(fromDisk.head._1 == 11L && fromDisk.head._2 < 1e-9)
  }

  test("openHnswIndex rejects a non-HNSW directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft_not_hnsw")
    java.nio.file.Files.writeString(dir.resolve("metadata.json"),
      """{"format":"graft-vamana-v1"}""")
    intercept[IllegalArgumentException] {
      GraftANN.openHnswIndex(spark, dir.toString)
    }
  }

  test("file tier: export → serveFiles and the local handle match in-memory, row for row") {
    // the reference persists HNSW as <base>.hnsw.graph/.hnsw.data and
    // reloads instead of rebuilding (examples/hnsw_sift.rs:35-50) —
    // same two-file-per-shard lifecycle here, one task per shard
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_files").toString
    val hp = HnswParams(m = 8, efConstruction = 32, seed = 7L, metric = "cosine")
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    val mem = HnswIndex.build(vecs, hp, numShards = 3).cache()
    try {
      HnswIndex.exportSharded(mem, hp, dir)
      // one data+graph pair per shard, named like the reference's dump
      val files = new java.io.File(dir).list().sorted
      assert(files.count(_.endsWith(".hnsw.data")) == 3, files.mkString(","))
      assert(files.count(_.endsWith(".hnsw.graph")) == 3, files.mkString(","))
      assert(files.contains("manifest.json"))
      val qs = vecs.filter($"vec_id" % 40 === 0)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .collect().sortBy(_._1)
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select($"q_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      val fromMem = pairs(HnswIndex.search(mem, qs, 5, 32, hp, excludeSelf = true))
      val fromFiles = pairs(HnswIndex.serveFiles(spark, dir, qs, 5, 32,
        excludeSelf = true))
      assert(fromMem == fromFiles,
        s"${fromMem.diff(fromFiles).size} missing, ${fromFiles.diff(fromMem).size} extra")
      // resident handle (no Spark job in the query path): same rows,
      // self hit first at distance ~0
      val handle = HnswIndex.openLocal(spark, dir)
      assert(handle.hp == hp)
      qs.take(10).foreach { case (id, q) =>
        val local = handle.search(q, 6, 32).filter(_._1 != id).take(5)
        val viaMem = fromMem.filter(_._1 == id).map(_._2)
        assert(local.map(_._1).toSet == viaMem,
          s"handle drift for q=$id: ${local.toSeq} vs $viaMem")
      }
    } finally {
      mem.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("file tier fails loudly on foreign bytes and mismatched pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_badfiles").toString
    val hp = HnswParams(m = 8, efConstruction = 32, seed = 7L, metric = "cosine")
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001).limit(60)
    try {
      HnswIndex.exportSharded(HnswIndex.build(vecs, hp, numShards = 2), hp, dir)
      val (mhp, entries) = HnswIndex.readManifest(spark, dir)
      assert(mhp == hp && entries.length == 2)
      // a graph file from shard A paired with shard B's data file
      // must be rejected by the row-count cross-check, not served
      val (_, dataA, _, _) = entries(0)
      val (_, _, graphB, _) = entries(1)
      intercept[IllegalArgumentException] {
        HnswIndex.loadShardFiles(s"$dir/$dataA", s"$dir/$graphB", hp)
      }
      // foreign magic fails loudly
      val bogus = s"$dir/bogus.hnsw.data"
      java.nio.file.Files.write(java.nio.file.Paths.get(bogus),
        Array.fill[Byte](64)(0x41))
      intercept[IllegalArgumentException] {
        HnswIndex.loadShardFiles(bogus, s"$dir/$graphB", hp)
      }
      // a directory with a foreign manifest is refused at the format
      val foreign = java.nio.file.Files.createTempDirectory("graft_foreign_manifest")
      java.nio.file.Files.writeString(foreign.resolve("manifest.json"),
        """{"format":"graft-sharded-v1"}""")
      try intercept[IllegalArgumentException] {
        HnswIndex.readManifest(spark, foreign.toString)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(foreign.toFile)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
