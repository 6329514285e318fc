package graft.index

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
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
    * The activate/rollback swap below uses LOCAL-filesystem renames;
    * on an object store, compact to a fresh path and repoint serving
    * instead (renameTo fails loudly there, never silently).
    *
    * `filesDir`, when set, additionally exports the compacted index
    * to the sharded-files serving tier ([[SingleFileIndex
    * .exportSharded]]: one reference-layout file per shard plus a
    * routing manifest) — the ingest → compact → serve lifecycle can
    * then end at the disk-resident path ([[SingleFileIndex
    * .serveSharded]]) instead of the parquet tier. The export reads
    * the JUST-ACTIVATED parquet back (not the pre-swap lineage), so
    * the files tier derives from exactly what `path` now serves.
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
    * groups sibling sub-shards by parent cell. */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
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
    // broadcasting through the driver; the log itself retires with
    // the old directory in the swap below
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
    // write to a temp location first: build reads lazily from `path`.
    // On save failure (e.g. every vector tombstoned → empty index)
    // remove the partial temp dir so retries start clean.
    val tmp = new java.io.File(s"$path-compacting")
    try VamanaIndex.save(rebuilt, params, tmp.getPath, split = split)
    catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp); throw e
    }
    activateSwap(path, tmp, "compact")
    filesDir.foreach { fd =>
      SingleFileIndex.exportSharded(VamanaIndex.load(spark, path), params, fd,
        split = split)
    }
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
    * Spark shape: the tombstone set broadcasts (sorted primitive
    * longs, the [[searchLive]] representation) and the patch runs as
    * one `mapPartitions` over the shard-partitioned graph — neighbor
    * lists are intra-shard by construction, so no shuffle beyond the
    * shard re-cluster [[VamanaIndex.load]] already does. Logs above
    * [[BroadcastTombstoneLimit]] should fall back to [[compact]]
    * (required here: at that accumulation the paper itself schedules
    * the background full merge).
    *
    * The same activate/rollback swap as [[compact]] (local-filesystem
    * renames; on an object store, merge to a fresh path and repoint).
    * The tombstone log retires with the swap. */
  def merge(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      params: VamanaParams): Unit = {
    import spark.implicits._
    val ids = loadSortedTombstones(spark, path, "merge")
    if (ids.isEmpty) return
    val bc = spark.sparkContext.broadcast(ids)
    val metricName = params.metric
    val maxDeg = params.maxDegree
    val alpha = params.alpha
    val split = splitOf(metaOf(path), path)
    val patched = VamanaIndex.load(spark, path).mapPartitions { it =>
      val tomb = bc.value
      val metric = Metric.byName(metricName)
      @inline def deleted(id: Long): Boolean =
        java.util.Arrays.binarySearch(tomb, id) >= 0
      it.toArray.groupBy(_.shard).iterator.flatMap { case (_, group) =>
        deletePatchShard(metric, maxDeg, alpha, group, deleted)
      }
    }.persist()
    val tmp = new java.io.File(s"$path-merging")
    try VamanaIndex.save(patched, params, tmp.getPath, split = split)
    catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      patched.unpersist(); throw e
    }
    patched.unpersist()
    activateSwap(path, tmp, "merge")
  }

  /** The tombstone log as a sorted primitive array for broadcast
    * (empty when no log exists); a log past
    * [[BroadcastTombstoneLimit]] is rejected — at that accumulation
    * the paper itself schedules the full merge, i.e. [[compact]].
    * Shared by the whole merge family. */
  private def loadSortedTombstones(spark: org.apache.spark.sql.SparkSession,
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

  /** Nearest-main-shard assignment of a driver-side insert batch
    * (lowest shard id wins distance ties — the standing routing
    * rule). */
  private def routeBatch(batch: Array[(Long, Array[Float])],
      routeTables: Array[(Int, Array[Array[Float]])]): Map[Int, Array[(Long, Array[Float])]] =
    batch.groupBy { case (_, v) =>
      var best = routeTables(0)._1; var bd = Double.MaxValue
      routeTables.foreach { case (sh, pv) =>
        val d = VamanaIndex.pivotDist(v, pv)
        if (d < bd || (d == bd && sh < best)) { bd = d; best = sh }
      }
      best
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

  /** The FreshDiskANN §4.2 delete patch over ONE shard's rows:
    * deleted rows drop; a live row with a deleted neighbor re-prunes
    * over (live neighbors ∪ live out-neighbors of each deleted
    * neighbor); a row touching no deleted id passes through as the
    * SAME object (the byte-identity DeleteSpec pins). Shared by
    * [[merge]] and [[consolidate]]. */
  private[index] def deletePatchShard(metric: Metric, maxDeg: Int,
      alpha: Double, group: Array[IndexRow],
      deleted: Long => Boolean): Iterator[IndexRow] = {
    val byId = new java.util.HashMap[Long, IndexRow](group.length * 2)
    group.foreach(r => byId.put(r.vec_id, r))
    group.iterator.filter(r => !deleted(r.vec_id)).map { r =>
      var hasDeletedNbr = false
      r.neighbors.foreach(n => if (deleted(n)) hasDeletedNbr = true)
      if (!hasDeletedNbr) r
      else {
        // candidate set: live neighbors + the live out-neighbors
        // of each deleted neighbor (the §4.2 formula), self-free
        val cand = new java.util.LinkedHashSet[java.lang.Long]()
        r.neighbors.foreach { n =>
          if (!deleted(n)) { if (n != r.vec_id) cand.add(n) }
          else {
            val dRow = byId.get(n)
            if (dRow != null) dRow.neighbors.foreach { nn =>
              if (!deleted(nn) && nn != r.vec_id) cand.add(nn)
            }
          }
        }
        val withVec = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](cand.size)
        val cit = cand.iterator()
        while (cit.hasNext) {
          val id = cit.next().longValue()
          val row = byId.get(id)
          if (row != null) withVec += ((id, row.embedding))
        }
        r.copy(neighbors =
          robustPrune(metric, r.embedding, withVec.toArray, maxDeg, alpha))
      }
    }
  }

  /** Activate-with-rollback swap shared by [[compact]] and the
    * in-place merge family (local-filesystem renames; on an object
    * store, write to a fresh path and repoint serving — renameTo
    * fails loudly, never silently): the old index survives at `-old`
    * until `tmp` is in place, each rename checked, failure restores
    * the original and tells the operator the truth about where the
    * data actually is. */
  private def activateSwap(path: String, tmp: java.io.File, op: String): Unit = {
    val live = new java.io.File(path)
    val old = new java.io.File(s"$path-old")
    org.apache.commons.io.FileUtils.deleteQuietly(old)
    if (!live.renameTo(old))
      throw new java.io.IOException(s"$op: could not move $path aside; replacement index left at $tmp")
    if (!tmp.renameTo(live)) {
      val restored = old.renameTo(live)
      throw new java.io.IOException(
        if (restored) s"$op: could not activate $tmp; original restored at $path"
        else s"$op: could not activate $tmp AND rollback failed — " +
          s"original index is at $old, nothing is live at $path")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(old)
  }

  /** One insert-merge batch at or under this row count rides the
    * driver/broadcast (ids + vectors — a 100k×128-dim batch is
    * ~51 MB); bulk loads past it are what the segment tier
    * ([[ingest]]) and [[compact]] exist for. */
  val InsertMergeBatchLimit: Long = 100000L

  /** In-place INSERT merge — the other half of the FreshDiskANN
    * lifecycle (Singh et al., arXiv:2105.09613 §4.1 Insert phase;
    * the delete half is [[merge]]): a small batch of new vectors is
    * absorbed into the LIVE graph with no rebuild. Per new point p,
    * in the paper's recipe: greedy search from the entry point
    * collects the visited candidate set V; p's out-list =
    * robustPrune(p, V); p back-links into each chosen neighbor, and
    * any list pushed past the slack bound is α-re-pruned to
    * `maxDegree`. Reference anchor: the same single-graph insert the
    * repo cites at lib.rs:1140-1279 (search + prune), applied
    * incrementally instead of at build.
    *
    * Spark shape: the batch broadcasts (bounded by
    * [[InsertMergeBatchLimit]]); each vector routes to ONE shard by
    * the index's own persisted routing (pivot table when present,
    * seed-centroid table otherwise — the same rule serving probes
    * use), and the patch is one `mapPartitions` over the
    * shard-partitioned graph: shards that receive no inserts pass
    * their rows through UNTOUCHED (byte-identity pinned in
    * InsertMergeSpec). Inserts apply sequentially in vec_id order
    * inside a shard, so later points link to earlier ones —
    * deterministic, and faithful to the paper's one-at-a-time
    * semantics. Like [[merge]], the whole operation is one scan of
    * the graph plus the save — linear in index size, independent of
    * build cost.
    *
    * On an OVERLAPPED index the new points land primary-only (one
    * shard); they regain boundary replicas at the next [[compact]].
    * An existing tombstone log survives the swap (copied into the
    * new directory) — deletes and inserts compose. */
  def insertMerge(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      inserts: DataFrame,
      params: VamanaParams,
      searchBeamWidth: Int = 0): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val bw = math.max(if (searchBeamWidth > 0) searchBeamWidth
      else params.buildBeamWidth, params.maxDegree)
    val batch = inserts.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    if (batch.isEmpty) return
    require(batch.length <= InsertMergeBatchLimit,
      s"insertMerge: batch of ${batch.length} exceeds $InsertMergeBatchLimit — " +
        "use ingest() (segment tier) or compact() for bulk loads")
    require(batch.map(_._1).distinct.length == batch.length,
      "insertMerge: duplicate vec_ids in the insert batch")
    val meta = metaOf(path)
    // id-collision check against the live index: one broadcast
    // semi-join scan — a colliding id would otherwise alias two
    // vectors under one node and corrupt neighbor remapping silently
    val idsDf = batch.map(_._1).toSeq.toDF("vec_id")
    val clash = VamanaIndex.load(spark, path)
      .join(org.apache.spark.sql.functions.broadcast(idsDf), Seq("vec_id"), "left_semi")
      .limit(1).count()
    require(clash == 0, "insertMerge: batch contains vec_ids already in the index")
    val byShard = routeBatch(batch,
      mainRouteTables(meta, path, "insertMerge", ShardsPerBatchBase))
    val insB = spark.sparkContext.broadcast(byShard)
    val metricName = params.metric
    val maxDeg = params.maxDegree
    val alpha = params.alpha
    val slack = params.slackLimit
    val bwL = bw
    val split = splitOf(meta, path)
    val patched = VamanaIndex.load(spark, path).mapPartitions { it =>
      val metric = Metric.byName(metricName)
      it.toArray.groupBy(_.shard).iterator.flatMap { case (shard, group) =>
        insertIntoShard(metric, maxDeg, alpha, slack, bwL, shard, group,
          insB.value.getOrElse(shard, Array.empty[(Long, Array[Float])]))
      }
    }.persist()
    val tmp = new java.io.File(s"$path-inserting")
    try VamanaIndex.save(patched, params, tmp.getPath, split = split)
    catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      patched.unpersist(); throw e
    }
    patched.unpersist()
    // deletes compose with inserts: carry the live tombstone log into
    // the new directory so the swap never resurrects deleted ids
    if (tombstoneLogExists(spark, path))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$path/tombstones"), new java.io.File(s"${tmp.getPath}/tombstones"))
    activateSwap(path, tmp, "insertMerge")
  }

  /** The FreshDiskANN §4.1 insert phase over ONE shard: each new
    * point, in vec_id order, gets out-list = robustPrune(visited set
    * of a greedy search from the shard entry), back-links into its
    * chosen neighbors, and any list pushed past the slack bound
    * α-re-prunes. A shard receiving no inserts passes through
    * untouched (byte-identity InsertMergeSpec pins). `group` may be
    * EMPTY (a fully-deleted shard under [[consolidate]]): the first
    * new point seeds a fresh chain and becomes the entry. Shared by
    * [[insertMerge]] and [[consolidate]]. */
  private[index] def insertIntoShard(metric: Metric, maxDeg: Int,
      alpha: Double, slack: Int, bwL: Int, shard: Int,
      group: Array[IndexRow],
      newPts: Array[(Long, Array[Float])]): Iterator[IndexRow] = {
    if (newPts.isEmpty) group.iterator
    else {
      val dim = if (group.nonEmpty) group(0).embedding.length
        else newPts(0)._2.length
      val vecOf = new java.util.HashMap[Long, Array[Float]](
        (group.length + newPts.length) * 2)
      val adj = new java.util.HashMap[Long, Array[Long]](
        (group.length + newPts.length) * 2)
      group.foreach { r => vecOf.put(r.vec_id, r.embedding); adj.put(r.vec_id, r.neighbors) }
      val touched = new java.util.HashSet[Long]()
      // entry point: the shard's lowest id — its assignment seed
      // by the standing lowest-id routing rule, so every greedy
      // walk starts where routing says the shard is centered; an
      // empty shard's entry is the first (lowest-id) inserted point
      val entry = if (group.nonEmpty) {
        var m = group(0).vec_id
        group.foreach(r => if (r.vec_id < m) m = r.vec_id); m
      } else newPts(0)._1
      // paper GreedySearch: best-first over a size-bw working
      // set; V = the EXPANDED set, returned with distances as
      // the prune candidate pool
      def greedy(q: Array[Float]): Array[(Long, Double)] = {
        val wIds = new Array[Long](bwL)
        val wD = new Array[Double](bwL)
        val wExp = new Array[Boolean](bwL)
        var wLen = 0
        val seen = new java.util.HashSet[Long]()
        val visited = new scala.collection.mutable.ArrayBuffer[(Long, Double)](bwL)
        def wInsert(id: Long, d: Double): Unit = {
          if (wLen == bwL && d >= wD(wLen - 1)) return
          var pos = java.util.Arrays.binarySearch(wD, 0, wLen, d)
          if (pos < 0) pos = -pos - 1
          val end = math.min(wLen, bwL - 1)
          var j = end
          while (j > pos) { wIds(j) = wIds(j - 1); wD(j) = wD(j - 1); wExp(j) = wExp(j - 1); j -= 1 }
          if (pos < bwL) { wIds(pos) = id; wD(pos) = d; wExp(pos) = false
            if (wLen < bwL) wLen += 1 }
        }
        seen.add(entry)
        wInsert(entry, metric.eval(q, 0, vecOf.get(entry), 0, dim))
        var done = false
        while (!done) {
          var pick = -1; var j = 0
          while (pick < 0 && j < wLen) { if (!wExp(j)) pick = j; j += 1 }
          if (pick < 0) done = true
          else {
            wExp(pick) = true
            val cur = wIds(pick)
            visited += ((cur, wD(pick)))
            val nbrs = adj.get(cur)
            if (nbrs != null) nbrs.foreach { n =>
              if (seen.add(n))
                wInsert(n, metric.eval(q, 0, vecOf.get(n), 0, dim))
            }
          }
        }
        visited.toArray
      }
      newPts.foreach { case (id, v) =>
        val cands =
          if (adj.isEmpty) Array.empty[(Long, Array[Float])]
          else greedy(v).map { case (cid, _) => (cid, vecOf.get(cid)) }
        val nbrs = robustPrune(metric, v, cands, maxDeg, alpha)
        vecOf.put(id, v); adj.put(id, nbrs); touched.add(id)
        nbrs.foreach { n =>
          val cur = adj.get(n)
          if (!cur.contains(id)) {
            val ext = java.util.Arrays.copyOf(cur, cur.length + 1)
            ext(cur.length) = id
            if (ext.length > slack) {
              val cs = ext.map(x => (x, vecOf.get(x)))
              adj.put(n, robustPrune(metric, vecOf.get(n), cs, maxDeg, alpha))
            } else adj.put(n, ext)
            touched.add(n)
          }
        }
      }
      group.iterator.map { r =>
        if (touched.contains(r.vec_id)) r.copy(neighbors = adj.get(r.vec_id)) else r
      } ++ newPts.iterator.map { case (id, v) => IndexRow(id, v, shard, adj.get(id)) }
    }
  }

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
    * [[insertMerge]] alone must reject the id as a collision. The
    * tombstone log retires with the swap: deletes were applied
    * physically, exactly like [[merge]].
    *
    * Degenerate forms are spec-pinned row-identical to the
    * single-phase operators (ConsolidateSpec): empty log ≡
    * [[insertMerge]] (same pivots — no intermediate save exists to
    * re-sample from), empty batch ≡ [[merge]]. A shard left EMPTY by
    * the delete phase can still receive inserts: they seed a fresh
    * chain ([[insertIntoShard]]'s empty-group path). Shards touching
    * no delete and receiving no insert pass through byte-identical.
    *
    * Spark shape: tombstones and the batch both broadcast (bounded by
    * [[BroadcastTombstoneLimit]] / [[InsertMergeBatchLimit]] — past
    * either bound the paper itself schedules the full rebuild, i.e.
    * [[compact]]); the combined patch is one `mapPartitions` over the
    * shard-partitioned graph, no shuffle beyond the shard re-cluster
    * [[VamanaIndex.load]] already does. `filesDir`, when set,
    * re-exports the consolidated index to the sharded-files serving
    * tier from the just-activated parquet (same contract as
    * [[compact]]'s `filesDir`). */
  def consolidate(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      inserts: DataFrame,
      params: VamanaParams,
      searchBeamWidth: Int = 0,
      filesDir: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val bw = math.max(if (searchBeamWidth > 0) searchBeamWidth
      else params.buildBeamWidth, params.maxDegree)
    val tomb = loadSortedTombstones(spark, path, "consolidate")
    val batch = inserts.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    if (batch.isEmpty && tomb.isEmpty) return
    require(batch.length <= InsertMergeBatchLimit,
      s"consolidate: batch of ${batch.length} exceeds $InsertMergeBatchLimit — " +
        "use ingest() (segment tier) or compact() for bulk loads")
    require(batch.map(_._1).distinct.length == batch.length,
      "consolidate: duplicate vec_ids in the insert batch")
    val meta = metaOf(path)
    // id-collision check against the POST-DELETE live set: a batch id
    // that is tombstoned is re-insertion (allowed); one that is live
    // would alias two vectors under one node (rejected). The check
    // stays bounded at any clash size: tombstone exclusion is an
    // anti-join and only the first few offenders reach the driver
    if (batch.nonEmpty) {
      val idsDf = batch.map(_._1).toSeq.toDF("vec_id")
      val clashAll = VamanaIndex.load(spark, path)
        .join(org.apache.spark.sql.functions.broadcast(idsDf), Seq("vec_id"), "left_semi")
        .select(col("vec_id"))
      val clashLive =
        if (tomb.isEmpty) clashAll
        else clashAll.join(
          spark.read.parquet(s"$path/tombstones").select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      val clash = clashLive.limit(6).as[Long].collect()
      require(clash.isEmpty,
        s"consolidate: batch contains LIVE vec_ids (${clash.take(5).mkString(", ")}" +
          s"${if (clash.length > 5) ", …" else ""}) — delete them first to re-insert")
    }
    val byShard: Map[Int, Array[(Long, Array[Float])]] =
      if (batch.isEmpty) Map.empty
      else routeBatch(batch,
        mainRouteTables(meta, path, "consolidate", ShardsPerBatchBase))
    val tombB = spark.sparkContext.broadcast(tomb)
    val insB = spark.sparkContext.broadcast(byShard)
    val metricName = params.metric
    val maxDeg = params.maxDegree
    val alpha = params.alpha
    val slack = params.slackLimit
    val bwL = bw
    val split = splitOf(meta, path)
    val patched = VamanaIndex.load(spark, path).mapPartitions { it =>
      val metric = Metric.byName(metricName)
      val tombA = tombB.value
      @inline def deleted(id: Long): Boolean =
        java.util.Arrays.binarySearch(tombA, id) >= 0
      it.toArray.groupBy(_.shard).iterator.flatMap { case (shard, group) =>
        val live =
          if (tombA.isEmpty) group
          else deletePatchShard(metric, maxDeg, alpha, group, deleted).toArray
        insertIntoShard(metric, maxDeg, alpha, slack, bwL, shard, live,
          insB.value.getOrElse(shard, Array.empty[(Long, Array[Float])]))
      }
    }.persist()
    val tmp = new java.io.File(s"$path-consolidating")
    try VamanaIndex.save(patched, params, tmp.getPath, split = split)
    catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      patched.unpersist(); throw e
    }
    patched.unpersist()
    // NO tombstone carry-over: the delete phase applied the log
    activateSwap(path, tmp, "consolidate")
    // like compact: a files-tier deployment re-exports from the
    // JUST-ACTIVATED parquet, so the disk-resident serving path never
    // lags the consolidated graph
    filesDir.foreach { fd =>
      SingleFileIndex.exportSharded(VamanaIndex.load(spark, path), params, fd,
        split = split)
    }
  }

  /** Absorb accumulated streaming SEGMENTS into the main graph in
    * one pass — the background job the FreshDiskANN paper actually
    * runs (§4.2: the in-memory temp index the stream lands in is
    * periodically merged into the long-term index via the insert
    * phase; our temp tier is [[ingest]]'s segment-per-batch shards).
    * Shards at id ≥ `mainShards` are torn down and their LIVE
    * vectors re-inserted into the main shards (segment-internal
    * neighbor lists discard — exactly the paper's temp-index merge,
    * where temp-graph edges never survive into the LTI), while the
    * tombstone log delete-patches the main graph in the SAME scan;
    * the log retires with the swap. The result is a single-tier
    * index at segment-free serving cost, for one graph scan + a
    * bounded broadcast instead of [[compact]]'s full rebuild.
    *
    * `mainShards` is the caller's build/compact shard count — shards
    * `[0, mainShards)` are the LTI; everything at or past it is
    * segment tier. Row-identity with [[consolidate]] run on the
    * main-only index with the segment vectors as the batch is
    * spec-pinned (AbsorbSpec). Segment volume past
    * [[InsertMergeBatchLimit]] (or a log past
    * [[BroadcastTombstoneLimit]]) is what [[compact]] is for. */
  def absorbSegments(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      params: VamanaParams,
      mainShards: Int,
      searchBeamWidth: Int = 0,
      filesDir: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    require(mainShards > 0 && mainShards <= ShardsPerBatchBase,
      s"absorbSegments: mainShards must be in [1, $ShardsPerBatchBase] — " +
        "segment shard ids start at ShardsPerBatchBase")
    val bw = math.max(if (searchBeamWidth > 0) searchBeamWidth
      else params.buildBeamWidth, params.maxDegree)
    val tomb = loadSortedTombstones(spark, path, "absorbSegments")
    // a tombstoned segment vector simply never re-inserts — its
    // delete completes here, with no main-graph patch needed
    val batch = VamanaIndex.load(spark, path)
      .filter(col("shard") >= mainShards)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .filter { case (id, _) => java.util.Arrays.binarySearch(tomb, id) < 0 }
      .sortBy(_._1)
    if (batch.isEmpty && tomb.isEmpty) return
    require(batch.length <= InsertMergeBatchLimit,
      s"absorbSegments: ${batch.length} live segment vectors exceed " +
        s"$InsertMergeBatchLimit — run compact() instead")
    require(batch.map(_._1).distinct.length == batch.length,
      "absorbSegments: duplicate vec_ids across segments — the stream " +
        "ingested an id twice; run compact() (collapses to the latest " +
        "batch's copy) or delete one copy first")
    val meta = metaOf(path)
    // the check stays bounded at any clash size: tombstone exclusion
    // is an anti-join and only the first few offenders reach the driver
    if (batch.nonEmpty) {
      val idsDf = batch.map(_._1).toSeq.toDF("vec_id")
      val clashAll = VamanaIndex.load(spark, path)
        .filter(col("shard") < mainShards)
        .join(org.apache.spark.sql.functions.broadcast(idsDf), Seq("vec_id"), "left_semi")
        .select(col("vec_id"))
      val clashLive =
        if (tomb.isEmpty) clashAll
        else clashAll.join(
          spark.read.parquet(s"$path/tombstones").select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      val clash = clashLive.limit(6).as[Long].collect()
      require(clash.isEmpty,
        s"absorbSegments: segment vec_ids already LIVE in the main graph " +
          s"(${clash.take(5).mkString(", ")}${if (clash.length > 5) ", …" else ""})")
    }
    val byShard: Map[Int, Array[(Long, Array[Float])]] =
      if (batch.isEmpty) Map.empty
      else routeBatch(batch,
        mainRouteTables(meta, path, "absorbSegments", mainShards))
    val tombB = spark.sparkContext.broadcast(tomb)
    val insB = spark.sparkContext.broadcast(byShard)
    val metricName = params.metric
    val maxDeg = params.maxDegree
    val alpha = params.alpha
    val slack = params.slackLimit
    val bwL = bw
    val mainN = mainShards
    val split = splitOf(meta, path)
    val patched = VamanaIndex.load(spark, path).mapPartitions { it =>
      val metric = Metric.byName(metricName)
      val tombA = tombB.value
      @inline def deleted(id: Long): Boolean =
        java.util.Arrays.binarySearch(tombA, id) >= 0
      it.toArray.groupBy(_.shard).iterator
        .filter { case (shard, _) => shard < mainN } // segments tear down
        .flatMap { case (shard, group) =>
          val live =
            if (tombA.isEmpty) group
            else deletePatchShard(metric, maxDeg, alpha, group, deleted).toArray
          insertIntoShard(metric, maxDeg, alpha, slack, bwL, shard, live,
            insB.value.getOrElse(shard, Array.empty[(Long, Array[Float])]))
        }
    }.persist()
    val tmp = new java.io.File(s"$path-absorbing")
    try VamanaIndex.save(patched, params, tmp.getPath, split = split)
    catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      patched.unpersist(); throw e
    }
    patched.unpersist()
    activateSwap(path, tmp, "absorbSegments")
    filesDir.foreach { fd =>
      SingleFileIndex.exportSharded(VamanaIndex.load(spark, path), params, fd,
        split = split)
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

  /** Robust α-prune over global ids (reference lib.rs:1201-1279
    * semantics — α-occlusion then nearest backfill — re-expressed
    * over (vec_id, embedding) pairs for the merge path, where
    * candidates span rows rather than one in-memory graph's local
    * indices). */
  private[index] def robustPrune(metric: Metric, p: Array[Float],
      cands: Array[(Long, Array[Float])], maxDeg: Int, alpha: Double): Array[Long] = {
    if (cands.isEmpty) return Array.empty
    val dim = p.length
    val sorted = cands.map { case (id, e) => (id, e, metric.eval(p, 0, e, 0, dim)) }
      .sortBy(t => (t._3, t._1))
    val outIds = new Array[Long](math.min(maxDeg, sorted.length))
    val outVecs = new Array[Array[Float]](outIds.length)
    var outLen = 0
    // phase 1: α-occlusion
    var i = 0
    while (i < sorted.length && outLen < outIds.length) {
      val (c, ce, dc) = sorted(i)
      var occluded = false
      var t = 0
      while (t < outLen && !occluded) {
        if (alpha * metric.eval(ce, 0, outVecs(t), 0, dim) <= dc) occluded = true
        t += 1
      }
      if (!occluded) { outIds(outLen) = c; outVecs(outLen) = ce; outLen += 1 }
      i += 1
    }
    // phase 2: nearest backfill
    if (outLen < outIds.length) {
      i = 0
      while (i < sorted.length && outLen < outIds.length) {
        val (c, ce, _) = sorted(i)
        var present = false
        var t = 0
        while (t < outLen && !present) { if (outIds(t) == c) present = true; t += 1 }
        if (!present) { outIds(outLen) = c; outVecs(outLen) = ce; outLen += 1 }
        i += 1
      }
    }
    if (outLen == outIds.length) outIds else java.util.Arrays.copyOf(outIds, outLen)
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
