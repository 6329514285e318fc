package graft.index

import com.fasterxml.jackson.databind.JsonNode
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental index construction from a vector stream.
  *
  * Each micro-batch of (vec_id, embedding) becomes a fresh set of
  * Vamana shards (shard ids offset by batch id) appended to the same
  * shard-partitioned parquet layout [[VamanaIndex]] serves from — so
  * the index grows monotonically while remaining queryable at every
  * point: `VamanaIndex.load(spark, path)` between batches sees all
  * vectors ingested so far. This is the streaming form of the
  * segment-per-batch pattern (new segments are sealed per batch;
  * compaction = periodically rebuilding merged shards offline).
  *
  * At scale: each batch's shard build is the same embarrassingly
  * parallel mapPartitions as the batch build; the only coordination
  * is the append commit.
  */
object StreamingIndex {

  val ShardsPerBatchBase = 1000

  /** Lazy delete (the FreshDiskANN lifecycle): ids append to a
    * tombstone log next to the graph; serving filters them out of
    * results while the graph still routes through them, and the next
    * [[compact]] drops them physically and retires the log. Append-
    * only, so deletes never rewrite index files in place — the same
    * economics as segment ingestion. */
  def delete(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    ids.toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(s"$path/tombstones")
  }

  /** Existence check through the Hadoop filesystem of the path — a
    * bare java.io.File test silently answers false for every
    * non-local scheme (hdfs://, s3://…), which would serve deleted
    * vectors again and skip the compaction drop with no error. */
  private def tombstoneLogExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The accumulated tombstone set (empty when none recorded) —
    * driver-side materialization, for tests/diagnostics only; serving
    * goes through [[searchLive]], which never collects the log. */
  def tombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Set[Long] = {
    import spark.implicits._
    if (!tombstoneLogExists(spark, path)) Set.empty
    else spark.read.parquet(s"$path/tombstones")
      .select($"vec_id").as[Long].collect().toSet
  }

  /** A log at or below this row count serves through the broadcast
    * path (sorted primitive long array, 8 B/id → ≤ 32 MB broadcast,
    * ZERO index shuffles); above it, the distributed join path
    * ([[VamanaIndex.searchExcludingDf]] — two index exchanges, but no
    * driver/broadcast materialization at ANY log size). The count
    * comes from parquet footer metadata — a metadata-only Spark
    * count, no data scan. */
  val BroadcastTombstoneLimit: Long = 4L * 1000 * 1000

  /** Search the index honoring the tombstone log: deleted ids are
    * excluded from results but still traversed, so live-set recall
    * holds between compactions (pinned in DeleteSpec). Path choice is
    * adaptive on log size ([[BroadcastTombstoneLimit]]) — the same
    * small-side-broadcast-else-shuffle policy AQE applies to joins;
    * both paths are spec-pinned row-identical (DeleteSpec). */
  def searchLive(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: Array[(Long, Array[Float])], k: Int, beamWidth: Int,
      params: VamanaParams): DataFrame = {
    import spark.implicits._
    val idx = VamanaIndex.load(spark, path)
    if (!tombstoneLogExists(spark, path))
      VamanaIndex.search(idx, queries, k, beamWidth, params)
    else {
      val log = spark.read.parquet(s"$path/tombstones")
      if (log.count() <= BroadcastTombstoneLimit) {
        // collect straight to a primitive array — no boxed Set; dedup
        // is free in the sorted binary-search representation
        val ids = log.select($"vec_id").as[Long].collect()
        java.util.Arrays.sort(ids)
        VamanaIndex.searchExcludingSorted(idx, queries, k, beamWidth, params, ids)
      } else
        VamanaIndex.searchExcludingDf(idx, log, queries, k, beamWidth, params)
    }
  }

  /** Offline compaction: rebuild the accumulated segments into
    * `numShards` fresh, well-clustered shards (the periodic merge step
    * of the segment-per-batch design — run it when small streaming
    * segments accumulate). `capFactor > 0` routes through
    * [[VamanaIndex.buildCapped]] so a skewed accumulated stream cannot
    * produce an oversized merged shard.
    *
    * `filesDir`, when set, additionally exports the compacted index
    * to the sharded-files serving tier ([[SingleFileIndex
    * .exportSharded]]: one reference-layout file per shard plus a
    * routing manifest) — the ingest → compact → serve lifecycle can
    * then end at the disk-resident path ([[SingleFileIndex
    * .serveSharded]]) instead of the parquet tier.
    *
    * `overlap > 1` compacts to the OVERLAPPED build ([[VamanaIndex
    * .buildOverlappedCapped]]: every non-seed vector in its `overlap`
    * nearest cells) — the headline recall tier, so an ingested stream
    * can land on the same 0.9-floor operating point as a batch build
    * (serve the result with `distinctMerge = true`: replicas arrive
    * from every probed shard that holds them). The overlapped build is
    * capacity-capped too (`capFactor`: 0, the default, means the
    * standard 1.5; a negative value disables capping entirely —
    * [[VamanaIndex.buildOverlappedCapped]]'s uncapped mode): an
    * ingested stream's key skew is
    * exactly the Voronoi-straggler shape the cap exists for, and the
    * split factor flows into [[VamanaIndex.save]] /
    * [[SingleFileIndex.exportSharded]] so primary pivot sampling
    * groups sibling sub-shards by parent cell.
    *
    * One [[rewrite]] transaction through `$path-compact.tmp`: the
    * tombstone log retires with the swap, and a crash leaves the old
    * index at `path` (or, between the swap's renames, at `$path-old`). */
  def compact(
      spark: SparkSession,
      path: String,
      params: VamanaParams,
      numShards: Int,
      capFactor: Double = 0.0,
      filesDir: Option[String] = None,
      overlap: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    // collapse multi-row vec_ids to ONE vector before the rebuild:
    // an OVERLAPPED source index holds boundary replicas (identical
    // embeddings — any copy serves), and a stream that re-ingested an
    // id holds segment copies (latest batch = highest shard wins, the
    // natural stream semantics). Without this, build() would bake
    // duplicate-id nodes into the rebuilt graph and save() would
    // misclassify the plain result as overlapped. One extra exchange
    // on vec_id, next to the full rebuild this already pays.
    val all = VamanaIndex.load(spark, path)
      .groupBy(col("vec_id"))
      .agg(expr("max_by(embedding, shard)").as("embedding"))
    // drop tombstoned vectors for good — an anti-join (not an isin
    // filter) so a large accumulated delete log shuffles instead of
    // broadcasting through the driver
    val vectors =
      if (!tombstoneLogExists(spark, path)) all
      else all.join(spark.read.parquet(s"$path/tombstones").select(col("vec_id")),
        Seq("vec_id"), "left_anti")
    val (rebuilt, split) =
      if (overlap > 1)
        // capFactor contract here: > 0 explicit cap, == 0 (the
        // default) the standard 1.5, < 0 UNCAPPED — without the
        // negative escape, buildOverlappedCapped's documented
        // "capFactor <= 0 disables capping" would be unreachable
        // through the compaction path (r10 review)
        VamanaIndex.buildOverlappedCapped(vectors, params, numShards, overlap,
          capFactor = if (capFactor == 0) 1.5 else capFactor)
      else if (capFactor > 0)
        (VamanaIndex.buildCapped(vectors, params, numShards, capFactor), 1)
      else (VamanaIndex.build(vectors, params, numShards), 1)
    rewrite(spark, path, "compact", params, split, filesDir, carryLog = false,
      applied = None, inserts = 0)(rebuilt)
  }

  /** In-place delete merge — the published FreshDiskANN §4 merge
    * (Singh et al., "FreshDiskANN", arXiv:2105.09613 §4.2 Delete
    * phase) instead of a rebuild: every live node that points at a
    * tombstoned node absorbs that node's live out-neighbors into its
    * candidate set and is α-re-pruned back to `maxDegree`; tombstoned
    * rows are then dropped. Connectivity routes AROUND the deleted
    * hubs without ever re-running graph construction — the reason the
    * paper's lifecycle is affordable where rebuild-on-compact is not:
    * the merge is ONE scan of the graph (plus the save), linear in
    * index size and independent of how the index was built, where
    * [[compact]] pays the full multi-pass build. DeleteSpec pins both
    * the recall relation (merge ≥ rebuild-compaction on the same
    * corpus and delete set) and the job-count relation (no build job
    * in the merge path).
    *
    * [[patchInPlace]] with the log and no batch: the tombstone set
    * broadcasts and the patch is one `mapPartitions` over the
    * shard-partitioned graph. Logs above [[BroadcastTombstoneLimit]]
    * fall back to [[compact]] (required here: at that accumulation
    * the paper itself schedules the background full merge).
    *
    * One [[rewrite]] transaction through `$path-merge.tmp`: the log
    * retires with the swap, and a crash leaves the old index and its
    * log at `path` (or, between the swap's renames, at `$path-old`). */
  def merge(spark: SparkSession, path: String, params: VamanaParams): Unit =
    patchInPlace(spark, path, params, "merge",
      Some(loadSortedTombstones(spark, path, "merge")), Array.empty, Int.MaxValue)

  /** One insert-merge batch at or under this row count rides the
    * driver/broadcast (ids + vectors — a 100k×128-dim batch is
    * ~51 MB); bulk loads past it are what the segment tier
    * ([[ingest]]) and [[compact]] exist for. */
  val InsertMergeBatchLimit: Long = 100000L

  /** In-place INSERT merge — the other half of the FreshDiskANN
    * lifecycle (Singh et al., arXiv:2105.09613 §4.1 Insert phase;
    * the delete half is [[merge]]): a small batch of new vectors is
    * absorbed into the LIVE graph with no rebuild. Each new point p
    * runs the build's own per-node step ([[VamanaGraph.insert]]): a
    * beam search from the shard's entry logs every row it evaluates,
    * p's list is their α-prune, p back-links into each chosen
    * neighbor, and any list pushed past the slack bound is α-re-pruned
    * to `maxDegree` (reference lib.rs:1140-1279 and 784-914, applied
    * incrementally instead of at build).
    *
    * [[patchInPlace]] with the batch and the log left in force: the
    * batch broadcasts (bounded by [[InsertMergeBatchLimit]]), each
    * vector routes to ONE shard by the index's own persisted routing,
    * and shards that receive no inserts pass their rows through
    * UNTOUCHED (byte-identity pinned in InsertMergeSpec). Inserts
    * apply sequentially in vec_id order inside a shard, so later
    * points link to earlier ones — deterministic, and faithful to the
    * paper's one-at-a-time semantics. A batch id already in the
    * index, tombstoned or not, is rejected: re-inserting a deleted id
    * takes [[consolidate]].
    *
    * On an OVERLAPPED index the new points land primary-only (one
    * shard); they regain boundary replicas at the next [[compact]].
    *
    * One [[rewrite]] transaction through `$path-insertMerge.tmp`: the
    * tombstone log is copied across the swap (deletes and inserts
    * compose), and a crash leaves the old index at `path` (or, between
    * the swap's renames, at `$path-old`). */
  def insertMerge(
      spark: SparkSession,
      path: String,
      inserts: DataFrame,
      params: VamanaParams,
      searchBeamWidth: Int = 0): Unit =
    patchInPlace(spark, path, params, "insertMerge", None, sortedBatch(inserts),
      Int.MaxValue, searchBeamWidth)

  /** The full FreshDiskANN StreamingMerge (Singh et al.,
    * arXiv:2105.09613 §4.2): apply the accumulated tombstone log AND
    * an insert batch in ONE scan of the graph — the paper's
    * background merge runs its delete phase then its insert phase
    * over the same pass. At scale this halves the graph I/O of
    * [[merge]] followed by [[insertMerge]] (each is a full
    * load + patch + save of its own), and it unlocks the lifecycle
    * move the two-step composition cannot express: an insert carrying
    * a TOMBSTONED id is legal RE-INSERTION (delete x, later insert a
    * new vector under x — the delete patch removes the old node
    * before the insert phase links the new one), where
    * [[insertMerge]] alone must reject the id as a collision.
    *
    * Degenerate forms are spec-pinned row-identical to the
    * single-phase operators (ConsolidateSpec): empty log ≡
    * [[insertMerge]] (same pivots — no intermediate save exists to
    * re-sample from), empty batch ≡ [[merge]]. A shard left EMPTY by
    * the delete phase can still receive inserts: they seed a fresh
    * chain from the first new point ([[patchShard]]). Shards touching
    * no delete and receiving no insert pass through byte-identical.
    * Past [[BroadcastTombstoneLimit]] or [[InsertMergeBatchLimit]]
    * the paper itself schedules the full rebuild, i.e. [[compact]].
    *
    * One [[rewrite]] transaction through `$path-consolidate.tmp`: the
    * log retires with the swap, `filesDir` re-exports the sharded-files
    * tier as in [[compact]], and a crash leaves the old index and its
    * log at `path` (or, between the swap's renames, at `$path-old`). */
  def consolidate(
      spark: SparkSession,
      path: String,
      inserts: DataFrame,
      params: VamanaParams,
      searchBeamWidth: Int = 0,
      filesDir: Option[String] = None): Unit =
    patchInPlace(spark, path, params, "consolidate",
      Some(loadSortedTombstones(spark, path, "consolidate")), sortedBatch(inserts),
      Int.MaxValue, searchBeamWidth, filesDir)

  /** Absorb accumulated streaming SEGMENTS into the main graph in
    * one pass — the background job the FreshDiskANN paper actually
    * runs (§4.2: the in-memory temp index the stream lands in is
    * periodically merged into the long-term index via the insert
    * phase; our temp tier is [[ingest]]'s segment-per-batch shards).
    * Shards at id ≥ `mainShards` are torn down and their LIVE
    * vectors re-inserted into the main shards (segment-internal
    * neighbor lists discard — exactly the paper's temp-index merge,
    * where temp-graph edges never survive into the LTI), while the
    * tombstone log delete-patches the main graph in the SAME scan.
    * The result is a single-tier index at segment-free serving cost,
    * for one graph scan + a bounded broadcast instead of
    * [[compact]]'s full rebuild.
    *
    * `mainShards` is the caller's build/compact shard count — shards
    * `[0, mainShards)` are the LTI; everything at or past it is
    * segment tier. Row-identity with [[consolidate]] run on the
    * main-only index with the segment vectors as the batch is
    * spec-pinned (AbsorbSpec). Segment volume past
    * [[InsertMergeBatchLimit]] (or a log past
    * [[BroadcastTombstoneLimit]]) is what [[compact]] is for.
    *
    * One [[rewrite]] transaction through `$path-absorbSegments.tmp`:
    * the log retires with the swap, `filesDir` re-exports as in
    * [[compact]], and a crash leaves the old index and its log at
    * `path` (or, between the swap's renames, at `$path-old`). */
  def absorbSegments(
      spark: SparkSession,
      path: String,
      params: VamanaParams,
      mainShards: Int,
      searchBeamWidth: Int = 0,
      filesDir: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    require(mainShards > 0 && mainShards <= ShardsPerBatchBase,
      s"absorbSegments: mainShards must be in [1, $ShardsPerBatchBase] — " +
        "segment shard ids start at ShardsPerBatchBase")
    val tomb = loadSortedTombstones(spark, path, "absorbSegments")
    // a tombstoned segment vector simply never re-inserts — its
    // delete completes here, with no main-graph patch needed
    val batch = sortedBatch(VamanaIndex.load(spark, path).filter(col("shard") >= mainShards))
      .filter { case (id, _) => java.util.Arrays.binarySearch(tomb, id) < 0 }
    patchInPlace(spark, path, params, "absorbSegments", Some(tomb), batch,
      mainShards, searchBeamWidth, filesDir)
  }

  /** The one in-place patch behind [[merge]], [[insertMerge]],
    * [[consolidate]] and [[absorbSegments]] — FreshDiskANN's
    * StreamingMerge (arXiv:2105.09613 §4): one `mapPartitions` over
    * the shard-partitioned graph runs the delete phase then the insert
    * phase per shard ([[patchShard]]: [[VamanaGraph.repair]] and
    * [[VamanaGraph.insert]], the build's own prune, search and
    * back-link steps), with no shuffle beyond the shard re-cluster
    * [[VamanaIndex.load]] already does, and one [[rewrite]] saves and
    * swaps the result.
    *
    *  - `tomb`: `Some(sorted log)` applies the log, which retires with
    *    the swap; `None` leaves tombstoned rows in the graph and
    *    carries the log across the swap.
    *  - `batch`: sorted by vec_id, at most [[InsertMergeBatchLimit]]
    *    rows, one vector per id, no id live in a shard below `bound`
    *    (with `None`, no id in the index at all: only the delete phase
    *    frees a tombstoned id for re-insertion). Each vector routes to
    *    its nearest main shard below `min(bound, ShardsPerBatchBase)`
    *    by the persisted routing ([[mainRouteTables]]).
    *  - `bound`: shards at or past it tear down (the segment tier
    *    under [[absorbSegments]]; unbounded for the others).
    *
    * No tombstone and an empty batch is a no-op. Shards touching no
    * delete and receiving no insert pass through byte-identical. */
  private def patchInPlace(spark: SparkSession, path: String, params: VamanaParams,
      op: String, tomb: Option[Array[Long]], batch: Array[(Long, Array[Float])],
      bound: Int, searchBeamWidth: Int = 0, filesDir: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val deletes = tomb.getOrElse(Array.empty[Long])
    if (deletes.isEmpty && batch.isEmpty) return
    require(batch.length <= InsertMergeBatchLimit,
      s"$op: ${batch.length} vectors to insert exceed $InsertMergeBatchLimit — " +
        "run compact(); bulk loads belong in ingest()'s segment tier")
    require(batch.map(_._1).distinct.length == batch.length,
      s"$op: duplicate vec_ids among the vectors to insert — keep one vector " +
        "per id (compact() collapses an id ingested twice to the latest batch's copy)")
    val meta = metaOf(path)
    // id-collision check: a colliding id would alias two vectors under
    // one node and corrupt neighbor remapping silently. It stays
    // bounded at any clash size: tombstone exclusion is an anti-join
    // and only the first few offenders reach the driver
    if (batch.nonEmpty) {
      val inIndex = VamanaIndex.load(spark, path).filter(col("shard") < bound)
        .join(broadcast(batch.map(_._1).toSeq.toDF("vec_id")), Seq("vec_id"), "left_semi")
        .select(col("vec_id"))
      val live =
        if (deletes.isEmpty) inIndex
        else inIndex.join(spark.read.parquet(s"$path/tombstones").select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      val clash = live.limit(6).as[Long].collect()
      require(clash.isEmpty,
        s"$op: vec_ids to insert are already in the index " +
          s"(${clash.take(5).mkString(", ")}${if (clash.length > 5) ", …" else ""}) — " +
          (if (tomb.isEmpty) "re-inserting a deleted id takes consolidate()"
          else "delete them first to re-insert"))
    }
    val byShard: Map[Int, Array[(Long, Array[Float])]] =
      if (batch.isEmpty) Map.empty
      else routeBatch(batch,
        mainRouteTables(meta, path, op, math.min(bound, ShardsPerBatchBase)))
    val tombB = spark.sparkContext.broadcast(deletes)
    val insB = spark.sparkContext.broadcast(byShard)
    val bw = math.max(if (searchBeamWidth > 0) searchBeamWidth
      else params.buildBeamWidth, params.maxDegree)
    val patched = VamanaIndex.load(spark, path).mapPartitions { it =>
      val tombA = tombB.value
      val deleted = (id: Long) => java.util.Arrays.binarySearch(tombA, id) >= 0
      it.toArray.groupBy(_.shard).iterator
        .filter { case (shard, _) => shard < bound }
        .flatMap { case (shard, group) =>
          val adds = insB.value.getOrElse(shard, Array.empty[(Long, Array[Float])])
          if (adds.isEmpty && !group.exists(r => deleted(r.vec_id) || r.neighbors.exists(deleted)))
            group.iterator
          else patchShard(params, bw, shard, group, adds, deleted)
        }
    }
    rewrite(spark, path, op, params, splitOf(meta, path), filesDir,
      carryLog = tomb.isEmpty, applied = Some(deletes.length), inserts = batch.length)(patched)
  }

  private val lifecycleLog = org.slf4j.LoggerFactory.getLogger("graft.Lifecycle")

  /** The one lifecycle transaction behind all five rewrites
    * ([[compact]] and the [[patchInPlace]] family). `index` reads
    * lazily from `path`, so it saves to the temp directory
    * `$path-<op>.tmp` first — cleared beforehand, since a crashed
    * earlier run's leftovers (a `tombstones/` log) would otherwise go
    * live with the swap, and removed when the save fails. With
    * `carryLog` the live tombstone log is copied in. Then
    * [[activateSwap]] puts it live, and `filesDir` re-exports the
    * sharded-files tier from the JUST-ACTIVATED parquet, so that tier
    * derives from exactly what `path` now serves. A crash before the
    * swap leaves the old index live; one between the swap's two
    * renames leaves it at `$path-old`, which [[VamanaIndex.load]] then
    * names.
    *
    * Logs one INFO line on `graft.Lifecycle` per operation, from
    * values already on the driver: op, path, tombstones applied
    * (`applied`; `all` for compact's uncounted anti-join), inserts
    * routed, whether the log retired or was kept, and the wall ms
    * of patch+save, swap and export. */
  private def rewrite(spark: SparkSession, path: String, op: String,
      params: VamanaParams, split: Int, filesDir: Option[String], carryLog: Boolean,
      applied: Option[Int], inserts: Int)(index: Dataset[IndexRow]): Unit = {
    val tmp = new java.io.File(s"$path-$op.tmp")
    FileUtils.deleteQuietly(tmp)
    val t0 = System.nanoTime()
    try {
      VamanaIndex.save(index, params, tmp.getPath, split = split)
      if (carryLog && tombstoneLogExists(spark, path))
        FileUtils.copyDirectory(new java.io.File(s"$path/tombstones"),
          new java.io.File(tmp, "tombstones"))
    } catch { case e: Throwable => FileUtils.deleteQuietly(tmp); throw e }
    val t1 = System.nanoTime()
    activateSwap(path, tmp, op)
    val t2 = System.nanoTime()
    filesDir.foreach { fd =>
      SingleFileIndex.exportSharded(VamanaIndex.load(spark, path), params, fd,
        split = split)
    }
    val t3 = System.nanoTime()
    lifecycleLog.info(s"op=$op path=$path tombstones=${applied.fold("all")(_.toString)} " +
      s"inserts=$inserts log=${if (carryLog) "kept" else "retired"} " +
      s"patch_save_ms=${(t1 - t0) / 1000000} swap_ms=${(t2 - t1) / 1000000} " +
      s"export_ms=${(t3 - t2) / 1000000}")
  }

  /** Activate-with-rollback swap of [[rewrite]] (local-filesystem
    * renames; on an object store, write to a fresh path and repoint
    * serving — renameTo fails loudly, never silently): the old index
    * survives at `-old` until `tmp` is in place, each rename checked,
    * failure restores the original and tells the operator the truth
    * about where the data actually is. `rename` is a seam for
    * failure-injection specs. */
  private[graft] def activateSwap(path: String, tmp: java.io.File, op: String,
      rename: (java.io.File, java.io.File) => Boolean = _ renameTo _): Unit = {
    val live = new java.io.File(path)
    val old = new java.io.File(s"$path-old")
    FileUtils.deleteQuietly(old)
    if (!rename(live, old))
      throw new java.io.IOException(s"$op: could not move $path aside; replacement index left at $tmp")
    if (!rename(tmp, live)) {
      val restored = rename(old, live)
      throw new java.io.IOException(
        if (restored) s"$op: could not activate $tmp; original restored at $path"
        else s"$op: could not activate $tmp AND rollback failed — " +
          s"original index is at $old, nothing is live at $path")
    }
    FileUtils.deleteDirectory(old)
  }

  /** A DataFrame's (vec_id, embedding) rows on the driver, sorted by
    * vec_id — the order the insert phase applies them in. */
  private def sortedBatch(rows: Dataset[_]): Array[(Long, Array[Float])] = {
    import org.apache.spark.sql.functions.col
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
  }

  /** The tombstone log as a sorted primitive array for broadcast
    * (empty when no log exists); a log past
    * [[BroadcastTombstoneLimit]] is rejected — at that accumulation
    * the paper itself schedules the full merge, i.e. [[compact]].
    * Shared by the whole merge family. */
  private def loadSortedTombstones(spark: SparkSession,
      path: String, op: String): Array[Long] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    if (!tombstoneLogExists(spark, path)) Array.empty
    else {
      val log = spark.read.parquet(s"$path/tombstones")
      val logCount = log.count()
      require(logCount <= BroadcastTombstoneLimit,
        s"$op: $logCount tombstones exceed the broadcast bound " +
          s"($BroadcastTombstoneLimit) — run compact() (the scheduled full " +
          "merge) instead")
      val ids = log.select(col("vec_id")).as[Long].collect()
      java.util.Arrays.sort(ids)
      ids
    }
  }

  /** The index's persisted routing geometry restricted to shards
    * below `limit` — the MAIN tier. Segment pivots (present after a
    * merge-family save ran over an ingested index) must never
    * attract inserts: segments are torn down, not grown. Pivot table
    * when the save wrote one, else (an index saved before pivots
    * existed) the seed-centroid routing table; both L2, the
    * assignment metric. A present but malformed field fails naming
    * the file — it never falls back to a different routing geometry. */
  private def mainRouteTables(meta: Option[JsonNode], path: String,
      op: String, limit: Int): Array[(Int, Array[Array[Float]])] = {
    val t = meta.fold(Array.empty[(Int, Array[Array[Float]])]) { m =>
      if (m.has("pivots")) VamanaIndex.pivotsOf(m, path)
      else VamanaIndex.routingOf(m, path).map { case (sh, c) => (sh, Array(c)) }
    }.filter(_._1 < limit)
    require(t.nonEmpty,
      s"$op: index has no main-tier routing metadata (shards < $limit) — " +
        "run compact() to establish the main tier first")
    t
  }

  /** Nearest-main-shard assignment of a driver-side insert batch:
    * the serving routing rule ([[ShardServe.probe]]) at nprobe 1, so
    * the lowest shard id wins a distance tie. */
  private def routeBatch(batch: Array[(Long, Array[Float])],
      routeTables: Array[(Int, Array[Array[Float]])]): Map[Int, Array[(Long, Array[Float])]] = {
    val shards = routeTables.map(_._1)
    val pivots = routeTables.map(_._2)
    batch.groupBy { case (_, v) => shards(ShardServe.probe(v, shards, pivots, 1).head) }
  }

  /** The index's parsed metadata.json, or None when the directory has
    * none (an ingest-only index never save()d, a foreign directory):
    * then the split is 1 and there is no routing table, which only a
    * non-empty insert batch needs. A file that exists but cannot be
    * read or parsed fails naming it ([[VamanaIndex.readMetaJson]]). */
  private def metaOf(path: String): Option[JsonNode] =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/metadata.json")))
      Some(VamanaIndex.readMetaJson(path))
    else None

  /** The capped-overlap split factor persisted in metadata.json (1
    * when absent, as in indexes saved before it existed) — preserved
    * across every merge-family save so primary pivot sampling keeps
    * grouping sibling sub-shards by parent cell. A malformed value
    * fails naming the file. */
  private def splitOf(meta: Option[JsonNode], path: String): Int = {
    val n = meta.map(_.get("split")).orNull
    if (n == null) 1
    else {
      require(n.isInt && n.asInt() > 0,
        s"malformed 'split' in $path/metadata.json: $n")
      n.asInt()
    }
  }

  /** One shard's patch, on one [[VamanaGraph]] over the shard's rows
    * and its new points `adds` with local ids in vec_id order
    * ([[VamanaIndex.rebuildShardGraph]]) — FreshDiskANN's delete phase
    * then its insert phase (arXiv:2105.09613 §4.2, §4.1):
    *  - every live row with a deleted neighbour is repaired
    *    ([[VamanaGraph.repair]]) over its live neighbours plus the live
    *    out-neighbours of each deleted neighbour;
    *  - the new points, which no row points at until then, insert
    *    ([[VamanaGraph.insert]]) in vec_id order from the lowest live
    *    row, or from the first new point in a shard the delete emptied.
    * Deleted rows drop. A row whose list was not rewritten is emitted
    * as the same object (the byte-identity DeleteSpec and
    * InsertMergeSpec pin). */
  private def patchShard(params: VamanaParams, beamWidth: Int, shard: Int,
      group: Array[IndexRow], adds: Array[(Long, Array[Float])],
      deleted: Long => Boolean): Iterator[IndexRow] = {
    // (row, isNew); new points sort before loaded rows, so the in-edges
    // of a re-inserted id resolve to its deleted row, not the new one
    val rows = adds.map { case (id, v) => (IndexRow(id, v, shard, Array.empty[Long]), true) } ++
      group.map((_, false))
    val (g, sorted) = VamanaIndex.rebuildShardGraph(rows, params)(_._1)
    val loaded = g.graph.clone()
    val dead = sorted.map { case (r, isNew) => !isNew && deleted(r.vec_id) }
    sorted.indices.foreach { u =>
      if (!dead(u) && sorted(u)._1.neighbors.exists(deleted))
        g.repair(u, loaded(u).flatMap(v => if (dead(v)) loaded(v).filterNot(dead) else Array(v)))
    }
    val fresh = sorted.indices.filter(sorted(_)._2)
    if (fresh.nonEmpty) {
      val entry = sorted.indices.find(u => !sorted(u)._2 && !dead(u)).getOrElse(fresh.head)
      fresh.foreach(g.insert(_, entry, beamWidth))
    }
    sorted.indices.iterator.filterNot(dead).map { u =>
      val r = sorted(u)._1
      if (g.graph(u) eq loaded(u)) r else r.copy(neighbors = g.graph(u).map(sorted(_)._1.vec_id))
    }
  }

  /** One maintenance decision for a continuously-ingested index —
    * the scheduling rule FreshDiskANN's lifecycle implies and
    * BASELINE's "One-pass consolidate vs two-pass vs rebuild"
    * measures: absorb small accumulated churn in place, rebuild when
    * churn is large enough that fresh construction wins time AND
    * graph quality (or when either broadcast bound forces it).
    * Inspects the graph parquet directly (count jobs over vec_id and
    * the shard partition column — never `load()`'s re-cluster
    * shuffle), then runs at most ONE of [[absorbSegments]] /
    * [[compact]]:
    *
    *   - no segments and no tombstones → `"noop"`;
    *   - raw tombstone log past [[BroadcastTombstoneLimit]], LIVE
    *     segment rows past [[InsertMergeBatchLimit]], or accumulated
    *     churn (live segment rows + tombstones hitting a live main
    *     row — tombstoned segment rows and stale log entries are NOT
    *     churn) at or past `churnFraction × live main rows` →
    *     `"compact"` (the paper's scheduled full merge — also where
    *     the in-place recall debt is repaid);
    *   - otherwise → `"absorb"` (one-pass [[absorbSegments]]).
    *
    * Returns the action taken, for the caller's scheduler log.
    * `numShards` of the rebuild = `mainShards`, so the tier shape is
    * stable across maintenance cycles — and `overlap`/`capFactor`
    * forward to [[compact]], so a caller maintaining the OVERLAPPED
    * headline tier must pass its build overlap here or a scheduled
    * rebuild would silently de-replicate the index (the in-place
    * absorb branch keeps existing replicas untouched either way). */
  def maintain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      params: VamanaParams,
      mainShards: Int,
      churnFraction: Double = 0.15,
      filesDir: Option[String] = None,
      overlap: Int = 1,
      capFactor: Double = 0.0): String = {
    import org.apache.spark.sql.functions.col
    require(mainShards > 0 && mainShards <= ShardsPerBatchBase,
      s"maintain: mainShards must be in [1, $ShardsPerBatchBase] — " +
        "segment shard ids start at ShardsPerBatchBase")
    require(churnFraction > 0, "maintain: churnFraction must be positive")
    // the decision pass reads the graph parquet directly (vec_id +
    // the shard partition column) instead of VamanaIndex.load — the
    // inspection must not pay load's shard re-cluster shuffle
    VamanaIndex.requireNoInterruptedSwap(spark, path)
    val graph = spark.read.parquet(s"$path/graph")
      .select(col("vec_id"), col("shard"))
    val logExists = tombstoneLogExists(spark, path)
    val tombsRaw =
      if (logExists) spark.read.parquet(s"$path/tombstones").count() else 0L
    val tombIds =
      if (logExists)
        spark.read.parquet(s"$path/tombstones").select(col("vec_id")).distinct()
      else null
    val segAll = graph.filter(col("shard") >= mainShards)
    val segRows = segAll.count()
    if (segRows == 0 && tombsRaw == 0) return "noop"
    // churn counts the WORK the absorb pass would do: live segment
    // rows (the insert batch) + tombstones that hit a main-tier row
    // (the delete patch). A tombstoned segment row completes its
    // delete by never re-inserting — counting it in both terms, or
    // counting stale log entries at all, would inflate churn and
    // schedule premature full rebuilds
    val segLive =
      if (logExists) segAll.join(tombIds, Seq("vec_id"), "left_anti").count()
      else segRows
    val mainAll = graph.filter(col("shard") < mainShards)
    val tombMain =
      if (logExists) mainAll.join(tombIds, Seq("vec_id"), "left_semi").count()
      else 0L
    val mainLive = mainAll.count() - tombMain
    if (tombsRaw > BroadcastTombstoneLimit || segLive > InsertMergeBatchLimit ||
        segLive + tombMain >= churnFraction * mainLive) {
      compact(spark, path, params, mainShards, capFactor = capFactor,
        filesDir = filesDir, overlap = overlap)
      "compact"
    } else {
      absorbSegments(spark, path, params, mainShards, filesDir = filesDir)
      "absorb"
    }
  }

  /** Online serving of a QUERY stream: each micro-batch of
    * (q_id, qv) is answered against the current on-disk index and
    * appended to `outPath` — the streaming side of the serving story
    * (index updates between batches are picked up because the index
    * is re-loaded per batch). */
  def serveQueries(
      queries: DataFrame,
      indexPath: String,
      outPath: String,
      params: VamanaParams,
      k: Int,
      beamWidth: Int): StreamingQuery = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val qArr = batch.select("q_id", "qv").as[(Long, Array[Float])]
            .collect().sortBy(_._1)
          val idx = VamanaIndex.load(spark, indexPath)
          VamanaIndex.search(idx, qArr, k, beamWidth, params)
            .write.mode("append").parquet(outPath)
        }
        ()
      }
      .start()
  }

  def ingest(
      vectors: DataFrame,
      path: String,
      params: VamanaParams,
      shardsPerBatch: Int = 1): StreamingQuery = {
    require(shardsPerBatch > 0 && shardsPerBatch <= ShardsPerBatchBase,
      s"shardsPerBatch must be in [1, $ShardsPerBatchBase] — larger values collide " +
        "shard ids across batches and silently merge unrelated segments")
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // batchId + 1: Structured Streaming batchIds start at 0, and
          // an unshifted batch 0 would land at shard ids 0..k-1 —
          // INSIDE the main tier's id space on an index that already
          // has built/compacted shards (a fresh stream after compact()
          // restarts at batchId 0), where load() stitches the segment
          // into main shard 0's group as an unreachable component and
          // absorbSegments/maintain misclassify it as main rows. With
          // the shift, every segment shard is >= ShardsPerBatchBase
          // and the main tier owns [0, ShardsPerBatchBase) outright.
          //
          // shard ids are Int: past ~2.1M batches the base would wrap
          // negative and alias earlier batches' shard ids — appending
          // unrelated segments into one shard partition, which load()
          // would then stitch into a corrupt graph. Fail loudly first;
          // the remedy is a compact() (resets segment numbering).
          val baseL = (batchId + 1) * ShardsPerBatchBase
          require(baseL + ShardsPerBatchBase <= Int.MaxValue,
            s"ingest: batchId $batchId overflows the Int shard-id space — " +
              "run compact() to reset segment numbering")
          val base = baseL.toInt
          val seg = VamanaIndex.build(batch, params, shardsPerBatch)
            .map(r => r.copy(shard = r.shard + base)).persist()
          seg.write.mode("append").partitionBy("shard")
            .parquet(s"$path/graph")
          refreshMeta(path, seg.count(),
            seg.select("shard").distinct().count().toInt)
          seg.unpersist()
        }
        ()
      }
      .start()
  }

  /** Bump `num_vectors`/`num_shards` in metadata.json after an ingest
    * append (atomic tmp+move), so a Handle's metadata fast path is
    * never stale relative to the graph directory. An index that has
    * never been save()d has no metadata.json — nothing to refresh
    * (load()/count() paths stay authoritative there). */
  private def refreshMeta(path: String, added: Long, addedShards: Int): Unit = {
    val metaPath = java.nio.file.Paths.get(s"$path/metadata.json")
    if (java.nio.file.Files.exists(metaPath)) {
      val meta = java.nio.file.Files.readString(metaPath)
      val bump = (field: String, by: Long) =>
        (m: String) => s""""$field":(-?\\d+)""".r.replaceAllIn(m,
          mm => s""""$field":${mm.group(1).toLong + by}""")
      val updated = bump("num_vectors", added)(bump("num_shards", addedShards.toLong)(meta))
      val tmp = java.nio.file.Paths.get(s"$path/metadata.json.tmp")
      java.nio.file.Files.writeString(tmp, updated)
      java.nio.file.Files.move(tmp, metaPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
