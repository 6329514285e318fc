package graft.index

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, size}
import graft.operators.VectorQueries

/** One index row: per-layer adjacency with GLOBAL neighbor ids (layer
  * index = position). Parquet-friendly (`array<array<bigint>>`), same
  * storage contract as [[IndexRow]]. */
case class HnswRow(
    vec_id: Long, embedding: Array[Float], shard: Int,
    layers: Array[Array[Long]])

/** Sharded HNSW — the comparison index family the reference ships
  * next to DiskANN (reference examples/hnsw_sift.rs, hnsw_skewed.rs),
  * behind the SAME layout and harness as [[VamanaIndex]]: IVF-style
  * shard assignment, one [[HnswGraph]] built per cell inside
  * `mapPartitions` (the only shuffle is the repartition by shard),
  * served by [[ShardServe]] (broadcast queries, per-shard search,
  * bounded TopK merge). Letting both families share the assignment
  * and harness is what makes the recall/QPS comparison Bench prints
  * apples-to-apples.
  */
object HnswIndex {

  def build(emb: DataFrame, hp: HnswParams, numShards: Int): Dataset[HnswRow] = {
    val s = emb.sparkSession
    import s.implicits._
    // shard-exact placement, same rationale as VamanaIndex.buildAssigned:
    // a plain murmur3 repartition stacks multiple graph builds on one
    // task; the preimage column keeps placement exact AND the exchange
    // on the Tungsten path (see VamanaIndex.shardPreimages)
    VamanaIndex.placeByShard(VamanaIndex.shardAssign(emb, numShards), numShards)
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val rows = it.toArray
        rows.groupBy(_._3).iterator.flatMap { case (shard, group) =>
          val sorted = group.sortBy(_._1)
          val n = sorted.length
          val dim = if (n == 0) 0 else sorted(0)._2.length
          val flat = new Array[Float](n * dim)
          var i = 0
          while (i < n) { System.arraycopy(sorted(i)._2, 0, flat, i * dim, dim); i += 1 }
          val g = new HnswGraph(flat, dim, n, hp).build()
          sorted.indices.iterator.map { li =>
            HnswRow(sorted(li)._1, sorted(li)._2, shard,
              g.layers(li).map(_.map(l => sorted(l)._1)))
          }
        }
      }
  }

  /** Rebuild one shard's graph from stored rows — adjacency remapped
    * to local ids ([[ShardServe.localize]]), never re-running the
    * build (mirrors [[VamanaIndex]]'s rebuildShardGraph). */
  private def rebuildShardGraph(
      group: Array[HnswRow], hp: HnswParams): (HnswGraph, Array[HnswRow]) = {
    val (sorted, dim, flat, local) = ShardServe.localize(group)(_.vec_id, _.embedding)
    (HnswGraph.fromAdjacency(flat, dim, sorted.length, hp, sorted.map(_.layers.map(local))),
      sorted)
  }

  /** This partition's shard graphs, each with its rows in local order
    * ([[ShardServe.shardGraphs]]: resident in [[GraphCache]], under
    * one byte budget shared with [[VamanaIndex]], or rebuilt on open). */
  private[graft] def shardGraphs[A](it: Iterator[HnswRow], hp: HnswParams,
      resident: Option[String])(open: ((HnswGraph, Array[HnswRow])) => A)
      : Iterator[(Int, () => A)] =
    ShardServe.shardGraphs(it, resident)(_.shard, rebuildShardGraph(_, hp), rowBytes)(open)

  private def rowBytes(r: HnswRow): Long =
    64L + 8L * r.embedding.length + 16L * r.layers.iterator.map(_.length.toLong).sum

  /** A [[ShardSearcher]] running ef-search over one HNSW graph whose
    * local row `li` has global id `ids(li)`. */
  private def graphSearcher(ef: Int)(g: HnswGraph, ids: Int => Long): ShardSearcher =
    (q, k) => g.search(q, k, ef).map { case (li, d) => (ids(li), d) }

  /** Batch search through [[ShardServe]], the harness every sharded
    * family serves by: broadcast queries, per-shard ef-search, bounded
    * TopK merge. `resident` reads the shard graphs from
    * [[GraphCache]] (see [[shardGraphs]]). */
  def search(
      index: Dataset[HnswRow],
      queries: Array[(Long, Array[Float])],
      k: Int,
      ef: Int,
      hp: HnswParams,
      excludeSelf: Boolean = false,
      resident: Option[String] = None): DataFrame =
    ShardServe.serve(index, queries, k, excludeSelf = excludeSelf) { it =>
      shardGraphs(it, hp, resident) { case (g, rows) => graphSearcher(ef)(g, rows(_).vec_id) }
    }

  // ------------------------------------------------------------ persistence

  /** Persist a built HNSW index: shard-partitioned parquet adjacency +
    * self-describing metadata.json — the exact layout contract of
    * [[VamanaIndex.save]], so both index families survive JVM exit
    * (the reference dumps and reloads its HNSW the same way it does
    * DiskANN, examples/hnsw_sift.rs:1-205). Per-node levels are NOT
    * stored: they are a pure function of (seed, node) and
    * `fromAdjacency` re-derives and cross-checks them, so adjacency +
    * params is the complete index. */
  def save(index: Dataset[HnswRow], hp: HnswParams, path: String): Unit = {
    val wasPersisted = index.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!wasPersisted) index.persist()
    // same guard as VamanaIndex.save: a zero-row index would die
    // cryptically at head() after half-writing the directory
    require(!index.isEmpty,
      s"cannot save an empty HNSW index to $path")
    index.write.mode("overwrite").partitionBy("shard").parquet(s"$path/graph")
    val stats = index.agg(
      count(lit(1)), max(size(col("layers"))), countDistinct(col("shard"))).head()
    val dim = index.head().embedding.length
    val meta =
      s"""{"format":"graft-hnsw-v1","dim":$dim,"num_vectors":${stats.getLong(0)},
         |"max_layers_observed":${stats.getInt(1)},"num_shards":${stats.getLong(2)},
         |"metric":"${hp.metric}","m":${hp.m},
         |"ef_construction":${hp.efConstruction},"seed":${hp.seed}}"""
        .stripMargin.replace("\n", "")
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(s"$path/metadata.json"), meta)
    if (!wasPersisted) index.unpersist()
  }

  def load(spark: SparkSession, path: String): Dataset[HnswRow] = {
    import spark.implicits._
    val raw = spark.read.parquet(s"$path/graph")
      .select("vec_id", "embedding", "shard", "layers").as[HnswRow]
    // re-cluster so each shard's graph is whole within a task. The
    // shard count comes from metadata.json — save() recorded it, so
    // open is O(metadata); recomputing it here cost a full scan +
    // shuffle of the adjacency table per open. Fall back to the scan
    // only for a foreign directory without usable metadata.
    val nShards = scala.util.Try {
      MetaJson.parse(loadMeta(path)).get("num_shards").asInt()
    }.filter(_ > 0)
      .getOrElse(raw.select("shard").distinct().count().toInt)
    raw.repartition(math.max(1, nShards), $"shard").as[HnswRow]
  }

  def loadMeta(path: String): String =
    Files.readString(Paths.get(s"$path/metadata.json"))

  /** Reconstruct build params from metadata.json — the handed-over-
    * index path (same contract as [[VamanaIndex.paramsFromMeta]]): a
    * directory is self-describing, no build configuration needed. */
  def paramsFromMeta(spark: SparkSession, meta: String): HnswParams = {
    val m = MetaJson.parse(meta)
    HnswParams(
      m = m.get("m").asInt(),
      efConstruction = m.get("ef_construction").asInt(),
      seed = m.get("seed").asLong(),
      metric = m.get("metric").asText())
  }

  // ------------------------------------------------------- file serving tier

  /** Disk-resident HNSW file tier — parity with the reference's
    * persisted HNSW (examples/hnsw_sift.rs:35-50 dumps
    * `<base>.hnsw.graph` + `<base>.hnsw.data` and reloads via HnswIo
    * instead of rebuilding). Same TWO-FILE shape per shard here —
    * layered adjacency in `.hnsw.graph`, ids+vectors in `.hnsw.data`
    * — plus a manifest.json naming every shard. The BYTES are graft's
    * own fixed-width little-endian layout, not hnsw_rs's: the
    * reference's files are bincode of hnsw_rs-internal structs with
    * no stability contract, so byte-interop is a non-goal (unlike the
    * DiskANN single-file layout, which IS a documented contract and
    * is matched byte-true in [[SingleFileIndex]]). Loading is a heap
    * load, exactly like the reference's HnswIo (hnsw_rs memory-loads
    * its dump; only the DiskANN family mmaps).
    *
    * `.hnsw.data`:  magic u64 | dim i32 | n i64 | n × (vec_id i64,
    *                f32×dim)   (rows sorted by vec_id)
    * `.hnsw.graph`: magic u64 | m i32 | ef_construction i32 |
    *                seed i64 | n i64 | ids_hash u64 | n × (L i32,
    *                L × (cnt i32, cnt × global neighbor id i64))
    *                (same row order)
    * `ids_hash` (FNV-1a over the data file's id sequence) pairs the
    * two files: a graph served against the wrong data file would
    * silently drop every unmatched edge, so pairing fails LOUDLY on
    * open instead — the same stale-sidecar discipline as
    * [[SingleFileIndex]]'s ids trailer. */
  private val DataMagic = 0x3130304448464721L // "!GFHD001" LE
  private val GraphMagic = 0x3130304748464721L // "!GFHG001" LE

  /** FNV-1a over an id sequence — the graph↔data pairing hash. */
  private def idsHash(ids: Iterator[Long]): Long = {
    var h = 0xcbf29ce484222325L
    ids.foreach { id =>
      var v = id; var b = 0
      while (b < 8) { h = (h ^ (v & 0xffL)) * 0x100000001b3L; v >>>= 8; b += 1 }
    }
    h
  }

  private def writeShardFiles(sorted: Array[HnswRow], hp: HnswParams,
      dataPath: String, graphPath: String): Unit = {
    val n = sorted.length
    val dim = if (n == 0) 0 else sorted(0).embedding.length
    val dOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(dataPath)), 1 << 20))
    try {
      val hdr = java.nio.ByteBuffer.allocate(8 + 4 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(DataMagic).putInt(dim).putLong(n.toLong)
      dOut.write(hdr.array())
      val rowBuf = java.nio.ByteBuffer.allocate(8 + 4 * dim)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      sorted.foreach { r =>
        rowBuf.clear(); rowBuf.putLong(r.vec_id)
        r.embedding.foreach(rowBuf.putFloat)
        dOut.write(rowBuf.array())
      }
    } finally dOut.close()
    val gOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(Paths.get(graphPath)), 1 << 20))
    try {
      val hdr = java.nio.ByteBuffer.allocate(8 + 4 + 4 + 8 + 8 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putLong(GraphMagic).putInt(hp.m).putInt(hp.efConstruction)
        .putLong(hp.seed).putLong(n.toLong)
        .putLong(idsHash(sorted.iterator.map(_.vec_id)))
      gOut.write(hdr.array())
      sorted.foreach { r =>
        val node = java.nio.ByteBuffer.allocate(
            4 + r.layers.map(4 + 8 * _.length).sum)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        node.putInt(r.layers.length)
        r.layers.foreach { lvl =>
          node.putInt(lvl.length); lvl.foreach(node.putLong)
        }
        gOut.write(node.array())
      }
    } finally gOut.close()
  }

  /** Export one graph+data file pair per shard plus manifest.json —
    * the distributed shape of [[SingleFileIndex.exportSharded]]: each
    * task writes its own shard, so export throughput scales with
    * shards exactly like the build. */
  def exportSharded(index: Dataset[HnswRow], hp: HnswParams, dir: String): Unit = {
    val s = index.sparkSession
    import s.implicits._
    Files.createDirectories(Paths.get(dir))
    val entries = index.repartition(col("shard"))
      .mapPartitions { it =>
        val rows = it.toArray
        rows.groupBy(_.shard).iterator.map { case (shard, group) =>
          val sorted = group.sortBy(_.vec_id)
          writeShardFiles(sorted, hp, s"$dir/shard-$shard.hnsw.data",
            s"$dir/shard-$shard.hnsw.graph")
          (shard, sorted.length.toLong)
        }
      }.collect().sortBy(_._1)
    require(entries.nonEmpty, "cannot export an empty HNSW index")
    val shardsJson = entries.map { case (sh, n) =>
      s"""{"shard":$sh,"data":"shard-$sh.hnsw.data",""" +
        s""""graph":"shard-$sh.hnsw.graph","n":$n}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$dir/manifest.json"),
      s"""{"format":"graft-hnsw-files-v1","num_shards":${entries.length},""" +
        s""""metric":"${hp.metric}","m":${hp.m},""" +
        s""""ef_construction":${hp.efConstruction},"seed":${hp.seed},""" +
        s""""shards":$shardsJson}""")
  }

  /** Parse the file-tier manifest: params + (shard, dataFile,
    * graphFile, n) entries. Fails loudly on a foreign format. */
  def readManifest(spark: SparkSession, dir: String)
      : (HnswParams, Array[(Int, String, String, Long)]) = {
    val raw = Files.readString(Paths.get(s"$dir/manifest.json"))
    require(raw.contains("\"graft-hnsw-files-v1\""),
      s"$dir/manifest.json is not a graft-hnsw-files-v1 manifest")
    val meta = MetaJson.parse(raw)
    val hp = HnswParams(m = meta.get("m").asInt(),
      efConstruction = meta.get("ef_construction").asInt(),
      seed = meta.get("seed").asLong(), metric = meta.get("metric").asText())
    val entries = MetaJson.elems(meta.get("shards")).map { sh =>
      (sh.get("shard").asInt(), sh.get("data").asText(),
        sh.get("graph").asText(), sh.get("n").asLong())
    }.toArray.sortBy(_._1)
    (hp, entries)
  }

  /** Heap-load one shard's file pair back into a searchable graph —
    * the HnswIo reload. Magic and row-count cross-checks fail loudly;
    * a graph file paired with the wrong data file cannot serve. */
  private[graft] def loadShardFiles(dataPath: String, graphPath: String,
      hp: HnswParams): (HnswGraph, Array[Long]) = {
    val dIn = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(Paths.get(dataPath)), 1 << 20))
    val (ids, flat, dim) = try {
      val hdr = new Array[Byte](8 + 4 + 8); dIn.readFully(hdr)
      val hb = java.nio.ByteBuffer.wrap(hdr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(hb.getLong == DataMagic, s"$dataPath: not a graft-hnsw data file")
      val dim = hb.getInt; val n = hb.getLong.toInt
      val ids = new Array[Long](n)
      val flat = new Array[Float](n * dim)
      val row = new Array[Byte](8 + 4 * dim)
      var i = 0
      while (i < n) {
        dIn.readFully(row)
        val rb = java.nio.ByteBuffer.wrap(row).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        ids(i) = rb.getLong
        var d = 0
        while (d < dim) { flat(i * dim + d) = rb.getFloat; d += 1 }
        i += 1
      }
      (ids, flat, dim)
    } finally dIn.close()
    val gIn = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(Paths.get(graphPath)), 1 << 20))
    try {
      val hdr = new Array[Byte](8 + 4 + 4 + 8 + 8 + 8); gIn.readFully(hdr)
      val hb = java.nio.ByteBuffer.wrap(hdr).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(hb.getLong == GraphMagic, s"$graphPath: not a graft-hnsw graph file")
      val m = hb.getInt; val ef = hb.getInt; val seed = hb.getLong
      val n = hb.getLong.toInt
      val expectHash = hb.getLong
      require(n == ids.length,
        s"$graphPath holds $n nodes but $dataPath holds ${ids.length} — mismatched pair")
      require(expectHash == idsHash(ids.iterator),
        s"$graphPath was built for a different id sequence than $dataPath — " +
          "mismatched pair; serving it would silently drop unmatched edges")
      require(m == hp.m && ef == hp.efConstruction && seed == hp.seed,
        s"$graphPath params (m=$m, ef=$ef, seed=$seed) differ from the manifest's $hp")
      val local = ShardServe.localIds(ids)
      val adj = Array.tabulate(n) { _ =>
        val layerCount = gIn.readIntLE()
        require(layerCount >= 0 && layerCount < 64, s"$graphPath: corrupt layer count")
        Array.fill(layerCount) {
          val cnt = gIn.readIntLE()
          // same fail-loud discipline as layerCount: a corrupt or
          // truncated file must not drive a negative/huge count into
          // the read loop (garbage edges, desynchronized records, or
          // an oversized allocation instead of a clear error)
          require(cnt >= 0 && cnt <= n,
            s"$graphPath: corrupt neighbor count $cnt (n=$n)")
          local(Array.fill(cnt)(gIn.readLongLE()))
        }
      }
      (HnswGraph.fromAdjacency(flat, dim, n, hp, adj), ids)
    } finally gIn.close()
  }

  /** Note: DataInputStream read{Int,Long} are big-endian; the node
    * records above are written little-endian, so the graph-file BODY
    * is read through this LE wrapper. */
  private implicit class LEInput(in: java.io.DataInputStream) {
    def readIntLE(): Int = java.lang.Integer.reverseBytes(in.readInt())
    def readLongLE(): Long = java.lang.Long.reverseBytes(in.readLong())
  }

  /** Distributed serving over the exported files — one task per
    * shard file pair, served by [[ShardServe]] like [[search]] and
    * [[SingleFileIndex.serveSharded]]. `dir` must be shared storage on
    * a real cluster. */
  def serveFiles(s: SparkSession, dir: String,
      queries: Array[(Long, Array[Float])], k: Int, ef: Int,
      excludeSelf: Boolean = false): DataFrame = {
    import s.implicits._
    val (hp, entries) = readManifest(s, dir)
    val files = s.createDataset(s.sparkContext.parallelize(entries.toIndexedSeq, entries.length))
    ShardServe.serve(files, queries, k, excludeSelf = excludeSelf) { it =>
      it.map { case (sh, dataFile, graphFile, _) =>
        (sh, () => {
          val (g, ids) = loadShardFiles(s"$dir/$dataFile", s"$dir/$graphFile", hp)
          graphSearcher(ef)(g, ids(_))
        })
      }
    }
  }

  /** Driver-resident handle over the exported files — every shard
    * heap-loaded once, single-query searches with no Spark job in the
    * path (the reference's reloaded-index usage shape). */
  final class LocalHnsw private[HnswIndex] (
      shards: Array[(HnswGraph, Array[Long])], val hp: HnswParams) {
    def search(q: Array[Float], k: Int, ef: Int): Array[(Long, Double)] = {
      val merged = new scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      shards.foreach { case (g, ids) =>
        g.search(q, k, ef).foreach { case (li, d) => merged += ((ids(li), d)) }
      }
      merged.sortBy { case (id, d) => (d, id) }.take(k).toArray
    }
  }

  def openLocal(s: SparkSession, dir: String): LocalHnsw = {
    val (hp, entries) = readManifest(s, dir)
    new LocalHnsw(entries.map { case (_, d, g, _) =>
      loadShardFiles(s"$dir/$d", s"$dir/$g", hp)
    }, hp)
  }

  // ---------------------------------------------------------------- queries

  private val qHp = HnswParams(m = 16, efConstruction = 64, seed = 42L, metric = "cosine")
  private val qShards = 8
  private val K = 10
  private val searchEf = 64 // equal search budget to VamanaIndex's beam 64

  private val cache = TrieMap.empty[String, Dataset[HnswRow]]

  def cachedIndex(s: SparkSession, dir: String): Dataset[HnswRow] =
    cache.getOrElseUpdate(dir, {
      val idx = build(graft.Tables.embeddings(s, dir), qHp, qShards).cache()
      idx.count() // materialize once; build cost never leaks into serving
      residentTokens(dir) = s"hnsw:$dir:${tokenCounter.incrementAndGet()}"
      idx
    })

  /** Resident-tier tokens, minted per materialized cached index (the
    * [[VamanaIndex]] contract: a rebuilt index never serves stale
    * graphs). */
  private val residentTokens = TrieMap.empty[String, String]
  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def residentToken(dir: String): Option[String] =
    residentTokens.get(dir)

  /** Unpersist and drop every cached HNSW index — the bench calls
    * this after the family's reps so the comparison family's storage
    * doesn't stay pinned under later allocation-heavy queries. */
  def release(): Unit = {
    cache.keys.foreach { k =>
      cache.remove(k).foreach { ds =>
        try ds.unpersist(blocking = true) catch { case _: Throwable => }
      }
    }
    GraphCache.clear(); residentTokens.clear(); benchQueriesCache.clear()
  }

  /** Bench query batch, memoized per sf dir (the [[VamanaIndex]]
    * rationale: the batch is deterministic and tiny — re-scanning
    * parquet for it on every serve run measured ~0.2 s of pure
    * artifact at sf0.1). Released with [[release]]. */
  private val benchQueriesCache =
    TrieMap.empty[String, Array[(Long, Array[Float])]]

  private def benchQueries(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    benchQueriesCache.getOrElseUpdate(dir, {
      import s.implicits._
      graft.Tables.embeddings(s, dir).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .collect().sortBy(_._1)
    })

  /** Full (all-shard) HNSW search over the bench query set — the HNSW
    * twin of qVamanaSearch, at equal search budget (ef = beam = 64). */
  def qHnswSearch(s: SparkSession, dir: String): DataFrame =
    search(cachedIndex(s, dir), benchQueries(s, dir), K, searchEf, qHp,
      excludeSelf = true, resident = residentToken(dir))

  /** recall@10 of [[qHnswSearch]] vs exact brute force — the number
    * Bench prints next to Vamana's so the two index families are
    * directly comparable (the reference's side-by-side hnsw_sift /
    * diskann_sift reporting). */
  def qHnswRecall(s: SparkSession, dir: String): DataFrame =
    VamanaIndex.recallDf(qHnswSearch(s, dir), VectorQueries.qKnnExact(s, dir))

  def hnswRecall(s: SparkSession, dir: String): Double =
    qHnswRecall(s, dir).head().getDouble(0)

  /** Persistence round-trip: save → load → metadata + integrity row —
    * the HNSW twin of [[VamanaIndex.qIndexMeta]], so the save/load
    * path is exercised by the driver's gate every round, not only by
    * the spec. Also drives the FILE tier end to end (export →
    * serveFiles vs in-memory parity on a query subset), mirroring the
    * reference's dump-and-reload HNSW lifecycle
    * (examples/hnsw_sift.rs:35-50). */
  def qHnswMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sf = dir.replaceAll(".*/", "")
    val path = graft.TempCleanup.onExit(
      s"/tmp/graft_hnsw_${sf}_${s.sparkContext.applicationId}")
    save(cachedIndex(s, dir), qHp, path)
    // same treatment as VamanaIndex.qIndexMeta: the integrity stats
    // need only (shard, layer count), so aggregate the reload scan
    // directly — no per-shard re-clustering exchange, and column
    // pruning drops the embedding/adjacency payloads from the read
    val re = s.read.parquet(s"$path/graph")
      .select(col("shard"), size(col("layers")).as("nlayers"))
    val meta = loadMeta(path)
    // file tier: export once per JVM+sf, then prove the reloaded
    // files serve row-identically to the in-memory graphs
    val filesDir = graft.TempCleanup.onExit(
      s"/tmp/graft_hnswf_${sf}_${s.sparkContext.applicationId}")
    if (!Files.exists(Paths.get(s"$filesDir/manifest.json")))
      exportSharded(cachedIndex(s, dir), qHp, filesDir)
    val subset = benchQueries(s, dir).take(32)
    // compare (q_id, NEIGHBOR) sets — selecting by NAME, not ordinal:
    // topkExplode's column order is (q_id, rank, neighbor_id, dist),
    // and an ordinal (0, 1) read compares (q_id, rank), which is
    // IDENTICAL for any two searches returning k rows per query —
    // a vacuously-true parity check (caught in r10 review)
    def pairs(df: DataFrame): Set[(Long, Long)] = df
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet
    val filesMatch = pairs(serveFiles(s, filesDir, subset, K, searchEf,
      excludeSelf = true)) ==
      pairs(search(cachedIndex(s, dir), subset, K, searchEf, qHp,
        excludeSelf = true, resident = residentToken(dir)))
    re.agg(
      count(lit(1)).as("num_vectors"),
      countDistinct(col("shard")).as("num_shards"),
      max(col("nlayers")).as("max_layers"))
      .withColumn("meta_format",
        lit(if (meta.contains("graft-hnsw-v1")) "graft-hnsw-v1" else "corrupt"))
      .withColumn("files_match", lit(filesMatch))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hnsw_search" -> (qHnswSearch(_, _)),
    "q_hnsw_recall" -> (qHnswRecall(_, _)),
    "q_hnsw_meta" -> (qHnswMeta(_, _)))
}
