package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.index.{GraftBenchRouting, MmapIndex, SingleFileIndex, VamanaIndex, VamanaParams}

/** The ANN workload's parameters and helpers. */
object Ann {
  val K = 10
  val Beam = 64
  val Nprobe = 4
  val Dim = 128
  val Clusters = 256
  /** Noise of the mixture: high enough that recall@10 sits clearly
    * below 1, so a recall loss can show. */
  val Noise = 1.0

  /** The parameters of graft's serving tier (VamanaIndex.cachedIndex
    * builds with these), for the export header. */
  val Params: VamanaParams = VamanaParams(maxDegree = 32, buildBeamWidth = 64,
    alpha = 1.2, passes = 1, extraSeeds = 1, seed = 42L, metric = "cosine")

  private val VecSchema = StructType(Seq(StructField("vec_id", LongType, false),
    StructField("embedding", ArrayType(FloatType, false), false)))

  /** The corpus as graft's embeddings table (vec_id, embedding, label),
    * through an explicit schema: reflection-derived encoders cost seconds
    * on a cold JVM. */
  def writeEmbeddings(s: SparkSession, rows: Array[(Long, Array[Float])], dir: String): Unit =
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, s.sparkContext.defaultParallelism)
        .map { case (id, v) => Row(id, v) }, VecSchema)
      .withColumn("label", (col("vec_id") % 10).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** (q_id → neighbour ids in rank order) from a search result frame
    * (q_id, rank, neighbor_id, dist), in one Spark job. */
  def collectIds(df: DataFrame): Map[Long, Array[Long]] =
    df.queryExecution.toRdd.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) }

  /** Each query returned k unique ids, every one of them `valid`. */
  def checkResults(c: Ctx, what: String, got: Map[Long, Array[Long]], queries: Iterable[Long],
      valid: Long => Boolean): Unit =
    queries.foreach { q =>
      val ids = got.getOrElse(q, Array.empty[Long])
      c.res.check(ids.length == K, s"$what: query $q returned ${ids.length} ids, not $K")
      c.res.check(ids.distinct.length == ids.length, s"$what: query $q returned a duplicate id")
      c.res.check(ids.forall(valid), s"$what: query $q returned an id outside the corpus")
    }
}

/** Serving built indexes read-only, in three phases, one client each:
  * `local` (in-process LocalSharded search; the beam kernel does nearly
  * all the work), `batch` (searchRouted with every query of an index in
  * one Spark job, on the warm ShardGraphCache tier) and `point` (one
  * query per searchRouted job; Spark scheduling dominates).
  *
  * The gated figures are the local ones. The batch rate spread by
  * 0.23–0.52 of its median over ten seeds, as its four-thread jobs
  * contend with whatever else runs on the host, and point latency by
  * more; a single client's local rate and p50 spread by 0.13–0.22. */
object AnnServe extends Workload {
  import Ann._

  /** Vectors per index: 1.5 MB each. */
  val N = 3000
  /** Independent corpora, each built, exported and opened: the set-up is
    * repeated this often and reported as its median, and every phase
    * cycles over the indexes. One index's cost depends on how its seed
    * falls into graft's shards (at 6000 vectors one index built in 3 s
    * and another in 8 s, as one shard took most vectors), so each run
    * averages over three partitions.
    * Served in turn, the three hold 4.6 MB of vectors: past a core's
    * 2 MiB of L2, inside the shared L3. */
  val Indexes = 3
  /** Held-out queries per index, and so per batch job: enough that the
    * search work, not the job's fixed cost, takes most of a batch. */
  val Queries = 600
  val LocalWarm = 600
  /** Fewest timed batches and point queries: every index served at
    * least once in each. Batches run in whole rounds over the indexes, so
    * each index weighs the same in the batch rate. */
  val MinBatches = 3
  val MinPoints = 3
  /** Shares of --seconds for local, batch and point: enough local
    * samples (about 2 ms each) for a p99 with ten beyond it; a batch takes
    * about a second and a point query about half of one. */
  val Split = (0.4, 0.4, 0.2)
  val RecallFloor = 0.7

  val phases: Seq[String] = Seq("build", "setup", "local", "batch", "point")

  /** One served index: its embeddings directory, held-out queries,
    * their exact top-k, and the open in-process handle. */
  final class Served(val dir: String, val shardDir: String,
      val queries: Array[(Long, Array[Float])], val truth: Map[Long, Array[Long]],
      val handle: SingleFileIndex.LocalSharded)

  def run(c: Ctx): Unit = {
    val s = c.spark
    val inputs = (0 until Indexes).map { i =>
      val mix = Gen.mixture(c.seed, Clusters, Dim, Noise, stream = 100 + 10 * i)
      val corpus = mix.draw(Gen.rng(c.seed, 101 + 10 * i), N).zipWithIndex
        .map { case (v, j) => (j.toLong, v) }
      val queries = mix.draw(Gen.rng(c.seed, 102 + 10 * i), Queries).zipWithIndex
        .map { case (v, j) => (Gen.QueryIdBase + j, v) }
      val dir = c.path(s"serve-$i")
      writeEmbeddings(s, corpus, dir)
      (dir, queries, Gen.exactTopK(corpus, queries, K))
    }
    val inCorpus = (id: Long) => id >= 0 && id < N
    c.log("inputs written")

    // set-up, once per index: build, export, open
    c.tracer.on = c.traced
    val served = mutable.ArrayBuffer.empty[Served]
    val mmaps = mutable.ArrayBuffer.empty[MmapIndex]
    try {
      val setups = inputs.zipWithIndex.map { case ((dir, queries, truth), i) =>
        val (idx, buildS) = c.tracer.span("build", "build")(VamanaIndex.cachedIndex(s, dir))
        val shardDir = c.path(s"serve-$i-sharded")
        val (_, exportS) = c.tracer.span("setup", "export")(
          SingleFileIndex.exportSharded(idx, Params, shardDir))
        val (handle, openS) = c.tracer.span("setup", "open")(
          new SingleFileIndex.LocalSharded(s, shardDir))
        served += new Served(dir, shardDir, queries, truth, handle)
        (buildS, exportS, openS)
      }
      val setupS = Stats.median(setups.map(t => t._1 + t._2 + t._3).toArray)
      if (c.traced) c.res.perLayer ++= Seq(
        "build.build_s" -> Stats.median(setups.map(_._1).toArray),
        "setup.export_s" -> Stats.median(setups.map(_._2).toArray),
        "setup.open_ms" -> Stats.median(setups.map(_._3).toArray) * 1e3)
      c.log("set up")
      val budget = (c.seconds * Split._1, c.seconds * Split._2, c.seconds * Split._3)
      def query(j: Int): (Served, (Long, Array[Float])) = {
        val sv = served(j % Indexes)
        (sv, sv.queries((j / Indexes) % Queries))
      }

      // local: in-process closed loop. Each timed phase starts from a
      // collected heap, so garbage left by the phase before is not
      // collected inside its window. Traced runs also time MmapIndex.search
      // on the shard LocalSharded ranks first.
      val topShards = if (!c.traced) IndexedSeq.empty else served.toIndexedSeq.map { sv =>
        SingleFileIndex.readManifestPivots(s, sv.shardDir).map { case (_, f, pv) =>
          val mm = new MmapIndex(s"${sv.shardDir}/$f")
          mmaps += mm
          (pv, mm)
        }
      }
      // warm until the JIT has compiled the search path
      (0 until LocalWarm).foreach { j =>
        val (sv, q) = query(j)
        sv.handle.search(q._2, K, Beam, Nprobe)
      }
      System.gc()
      val localLat = mutable.ArrayBuffer.empty[Double]
      var localRecall = 0.0
      val tLocal = System.nanoTime()
      var j = 0
      var threw = false // a phase stops at its first exception
      while (!threw && (j == 0 || (System.nanoTime() - tLocal) / 1e9 < budget._1)) {
        val (sv, (qid, qv)) = query(j)
        val shards = if (c.tracer.on) topShards(j % Indexes) else Array.empty[(Array[Array[Float]], MmapIndex)]
        threw = c.res.op("local search") {
          val (r, sec) = c.tracer.span("local", "search")(sv.handle.search(qv, K, Beam, Nprobe))
          val ids = r.map(_._1)
          checkResults(c, "local", Map(qid -> ids), Seq(qid), inCorpus)
          localLat += sec
          localRecall += Stats.recallAt(K, ids, sv.truth(qid))
          if (shards.nonEmpty) {
            val top = shards.indices.minBy(x => GraftBenchRouting.pivotDist(qv, shards(x)._1))
            c.tracer.span("local", "mmap_search")(shards(top)._2.search(qv, K, Beam))
          }
        }.isEmpty
        j += 1
      }
      c.log("local done")

      // batch: every query of one index in one searchRouted job, closed
      // loop over the indexes, after one batch per index that fills the
      // graph cache and warms the job path
      served.foreach(sv => collectIds(VamanaIndex.searchRouted(s, sv.dir, sv.queries, K)))
      System.gc()
      val batchLat = mutable.ArrayBuffer.empty[Double]
      val recalls = Array.fill(Indexes)(Double.NaN)
      val tBatch = System.nanoTime()
      var b = 0
      threw = false
      while (!threw && (b < MinBatches || b % Indexes != 0 ||
          (System.nanoTime() - tBatch) / 1e9 < budget._2)) {
        val i = b % Indexes
        val sv = served(i)
        threw = c.res.op("batch search") {
          val (got, sec) = c.tracer.span("batch", "search_routed")(
            collectIds(VamanaIndex.searchRouted(s, sv.dir, sv.queries, K)))
          checkResults(c, "batch", got, sv.queries.map(_._1), inCorpus)
          batchLat += sec
          if (recalls(i).isNaN) recalls(i) = Stats.meanRecall(K, got, sv.truth)
        }.isEmpty
        b += 1
      }
      c.log("batch done")

      // point: one query per searchRouted job, closed loop, after one
      // untimed query (the batches have filled the graph cache)
      collectIds(VamanaIndex.searchRouted(s, served(0).dir, served(0).queries.take(1), K))
      System.gc()
      val pointLat = mutable.ArrayBuffer.empty[Double]
      val tPoint = System.nanoTime()
      var p = 0
      threw = false
      while (!threw && (p < MinPoints || (System.nanoTime() - tPoint) / 1e9 < budget._3)) {
        val (sv, q) = query(p)
        threw = c.res.op("point search") {
          val (got, sec) = c.tracer.span("point", "query") {
            val (df, _) = c.tracer.span("point", "plan")(VamanaIndex.searchRouted(s, sv.dir, Array(q), K))
            c.tracer.span("point", "exec")(collectIds(df))._1
          }
          checkResults(c, "point", got, Seq(q._1), inCorpus)
          pointLat += sec
        }.isEmpty
        p += 1
      }
      c.tracer.on = false
      c.log("point done")

      // recall@10 of the batch results, averaged over the indexes; an
      // index whose every batch failed counts 0
      val recall = recalls.map(r => if (r.isNaN) 0.0 else r).sum / Indexes
      c.res.op("recall floor") {
        c.res.check(recall >= RecallFloor, f"ann-serve recall@10 $recall%.4f below $RecallFloor")
      }

      val local = localLat.toArray.map(_ * 1e3)
      val point = pointLat.toArray.map(_ * 1e3)
      // queries over the summed wall of the timed batches: a mean over
      // the indexes, where a median of batch times would pick one index
      val batchQps = if (batchLat.isEmpty) 0.0 else Stats.rate(Queries * batchLat.length, batchLat.sum)
      val localQps = if (local.isEmpty) 0.0 else Stats.rate(local.length, localLat.sum)
      c.report(localQps, Stats.medianOrZero(local), recall, setupS)

      c.res.info("local_qps", localQps, "1/s")
      c.res.info("local_p50_ms", Stats.medianOrZero(local), "ms")
      tail(c, "local", local)
      c.res.info("local_recall10", if (local.isEmpty) 0.0 else localRecall / local.length, "ratio")
      c.res.info("batch_qps", batchQps, "1/s")
      c.res.info("point_p50_ms", Stats.medianOrZero(point), "ms")
      tail(c, "point", point)
      c.res.info("recall10", recall, "ratio")
      c.res.info("setup_s", setupS, "s")
      c.res.info("samples_local", local.length, "count")
      c.res.info("samples_batch", batchLat.length, "count")
      c.res.info("samples_point", point.length, "count")

      if (c.traced) {
        c.res.perLayer("local.search_us") = c.spanMedian("local", "search", 1e6)
        c.res.perLayer("local.mmap_search_us") = c.spanMedian("local", "mmap_search", 1e6)
        c.res.perLayer("point.plan_ms") = c.spanMedian("point", "plan", 1e3)
        c.res.perLayer("point.exec_ms") = c.spanMedian("point", "exec", 1e3)
        Seq("build", "batch", "point").foreach(c.layerMetrics(_))
        Seq("setup", "local").foreach(c.layerMetrics(_, spark = false))
      }
    } finally {
      c.tracer.on = false
      mmaps.foreach(_.close())
      served.foreach(_.handle.close())
      VamanaIndex.releaseCaches()
    }
  }

  /** The highest tail percentile the sample supports (ten samples
    * beyond it), if any. */
  def tail(c: Ctx, phase: String, ms: Array[Double]): Unit =
    Stats.tailPercentile(ms.length).foreach { p =>
      c.res.info(s"${phase}_p${BigDecimal(p).bigDecimal.stripTrailingZeros.toPlainString}_ms",
        Stats.percentile(ms, p), "ms")
    }
}
