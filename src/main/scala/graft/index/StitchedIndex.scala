package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** One index-row replica per (member, label): the member's graph
  * edges live WITHIN its label's graph, so `label` is both the
  * traversal scope and — at rest — the partition column. */
case class StitchedIndexRow(vec_id: Long, embedding: Array[Float],
    label: Int, shard: Int, neighbors: Array[Long])

/** Label-stitched Vamana family — the Filtered-DiskANN alternative to
  * beam widening (Gollapudi et al., WWW'23 "Filtered-DiskANN", the
  * StitchedVamana construction; reference repo rust-diskann has no
  * filtered tier, so this extends the engine the way §6 of the paper
  * extends DiskANN).
  *
  * [[VamanaIndex.searchFiltered]] serves a predicate through the ONE
  * unfiltered graph and pays beam ≈ k/selectivity: at 1% selectivity
  * the beam wades through ~100 non-matching neighbors per match. This
  * tier instead builds a Vamana graph family PER LABEL, so a filtered
  * query runs a NORMAL beam over exactly its label's subgraph —
  * search cost tracks the MATCH SET, not the corpus.
  *
  * Scale shape (the reason this form wins at 100 TB):
  *   - Build is one narrow per-label count (|labels| rows, driver-
  *     bounded), one seed-rank window partitioned BY LABEL, and one
  *     shard-exact repartition — per-label graphs build in parallel
  *     across (label, cell) tasks, each capped at `targetShardRows`.
  *   - At rest [[save]] writes `partitionBy("label")`: a filtered
  *     query's scan prunes to its label's directories — a 1%-
  *     selectivity search READS 1% of the index. Storage cost is one
  *     replica per (member, label) — the multi-label trade the paper
  *     makes explicit (stitching dedups nodes; the replicated layout
  *     trades that memory back for partition pruning and zero shared
  *     state, the cheap axis at rest).
  *   - Serving probes only the target label's cells; the TopK merge
  *     is the same bounded k-row-per-(query, cell) shuffle as the
  *     plain tier. Within a big label the pivot-routing machinery of
  *     the main tier applies unchanged (a label IS a corpus here).
  *
  * Labels arrive as a (vec_id, label) frame; multiple rows per
  * vec_id = multi-label membership (the vector joins each of its
  * labels' graphs). */
object StitchedIndex {

  /** Build the per-label graph family. Each label's corpus is split
    * into ceil(n / targetShardRows) Voronoi cells seeded by its
    * lowest-id members (the same deterministic seeding rule as
    * [[VamanaIndex.shardAssign]], applied per label), and every
    * (label, cell) builds one in-memory Vamana graph. Global shard
    * ids are dense across labels so the shard-exact placement and
    * every downstream groupBy-shard work unchanged. */
  def build(emb: DataFrame, labels: DataFrame, params: VamanaParams,
      targetShardRows: Int = 100000): Dataset[StitchedIndexRow] = {
    val s = emb.sparkSession
    import s.implicits._
    // dropDuplicates: a labels frame with repeated (vec_id, label)
    // rows would silently build duplicate same-id nodes into one
    // graph — one narrow 2-column exchange buys the guard.
    // Persisted for the build's span: three driver-side passes (sizes,
    // seed ids, seed embeddings) read this frame before the final
    // distributed build — unpersisted, each would re-run the scan +
    // dedup exchange + join. Dropped (blocking=false) before return;
    // the caller's first materialization recomputes the join once
    // from source, so the total is 2 source executions, not 4+1.
    val lab = emb.select(col("vec_id"), col("embedding"))
      .join(labels.select(col("vec_id"), col("label"))
        .dropDuplicates("vec_id", "label"), Seq("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-label sizes: one narrow aggregation, |labels| rows
    val sizes = lab.groupBy($"label").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().sortBy(_._1)
    require(sizes.nonEmpty, "stitched build: empty label join")
    val nShards: Map[Int, Int] = sizes.map { case (l, n) =>
      l -> math.max(1, ((n + targetShardRows - 1) / targetShardRows).toInt)
    }.toMap
    val totalShards = nShards.valuesIterator.sum
    val offsets: Map[Int, Int] = {
      var run = 0
      sizes.map { case (l, _) =>
        val o = run; run += nShards(l); l -> o
      }.toMap
    }
    // per-label seed ids: the nShards(l) lowest vec_ids of label l —
    // a bounded map-side-combining [[graft.operators.TopK]] aggregate
    // (dist = id as double is order-isomorphic for any long, ties
    // broken by the exact id), NOT a row_number window partitioned by
    // label: that window funnels an entire label's rows into ONE sort
    // task — the single-partition hazard at a billion-row label. The
    // collect is bounded by Σ shards ≈ corpus / targetShardRows (the
    // routing-table bound class); seed EMBEDDINGS then come from one
    // broadcast join against the tiny (label, vec_id) seed set.
    val tk = graft.operators.TopK.topk(nShards.valuesIterator.max)
    val seedIdRows: Array[(Int, Array[Long])] = lab
      .select($"label", $"vec_id")
      .groupBy($"label")
      .agg(tk($"vec_id", $"vec_id".cast("double")).as("t"))
      .select($"label", $"t.ids")
      .as[(Int, Array[Long])].collect()
    val seedPairs = seedIdRows.toSeq.flatMap { case (l, ids) =>
      ids.take(nShards(l)).map(id => (l, id))
    }.toDF("label", "vec_id")
    val seedRows: Array[(Int, Long, Array[Float])] = lab
      .join(broadcast(seedPairs), Seq("label", "vec_id"))
      .select($"label", $"vec_id", $"embedding")
      .as[(Int, Long, Array[Float])].collect()
    val centroids: Map[Int, Array[Array[Float]]] = seedRows
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    val bc = s.sparkContext.broadcast((offsets, centroids))
    pendingBc.synchronized { pendingBc += bc }
    // fused assignment: nearest within-label centroid → global shard
    val assigned = lab.select($"vec_id", $"embedding", $"label")
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val (off, cents) = bc.value
        it.map { case (id, v, l) =>
          (id, v, l, off(l) + VamanaIndex.nearestCell(v, cents(l)))
        }
      }
      .toDF("vec_id", "embedding", "label", "shard")
    lab.unpersist(blocking = false)
    // shard-exact placement + per-(label, cell) in-memory builds; the
    // label rides the row type end to end (IndexRow has no label slot)
    VamanaIndex.placeByShard(assigned, totalShards)
      .select(col("vec_id"), col("embedding"), col("label"), col("shard"))
      .as[(Long, Array[Float], Int, Int)]
      .mapPartitions(VamanaIndex.buildShards(_, params)(_._4, _._1, _._2)(
        (r, nbrs) => StitchedIndexRow(r._1, r._2, r._3, r._4, nbrs)))
  }

  /** Filtered top-k: a NORMAL beam over the target label's graphs
    * only. The label filter is a partition-prunable predicate on a
    * [[load]]ed index; the per-cell searches and the bounded TopK
    * merge are the plain tier's ([[ShardServe]]). Beam needs k-headroom, not
    * 1/selectivity scaling — that is the entire point.
    *
    * `tombstones`: optional SORTED delete log, honored exactly as in
    * the plain tier ([[VamanaIndex.searchExcludingSorted]]): a
    * deleted id is excluded from RESULTS in every label's graph it
    * replicates into, but keeps ROUTING until a compaction pass —
    * the FreshDiskANN lazy-delete trade carried through the stitched
    * tier. */
  def search(index: Dataset[StitchedIndexRow],
      queries: Array[(Long, Array[Float])], k: Int, beamWidth: Int,
      params: VamanaParams, target: Int,
      tombstones: Array[Long] = Array.emptyLongArray): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    VamanaIndex.requireSortedTombstones(tombstones)
    val exB = s.sparkContext.broadcast(tombstones)
    val cells = index.filter(col("label") === target)
      .repartition(col("shard"))
      .as[StitchedIndexRow]
    ShardServe.serve(cells, queries, k) { it =>
      val ex = exB.value
      val alive = VamanaIndex.live(ex)
      VamanaIndex.shardGraphs(
          it.map(r => IndexRow(r.vec_id, r.embedding, r.shard, r.neighbors)), params)(identity) {
        case (g, rows) => VamanaIndex.graphSearcher(beamWidth,
          if (ex.length == 0) None else Some(li => alive(rows(li).vec_id)))(g, rows(_).vec_id)
      }
    }
  }

  /** Persist partitioned by label — the layout that turns the label
    * predicate into partition pruning at any scale. */
  def save(index: Dataset[StitchedIndexRow], params: VamanaParams,
      path: String, targetShardRows: Int): Unit = {
    index.toDF().write.mode("overwrite")
      .partitionBy("label").parquet(s"$path/graph")
    val meta =
      s"""{"format":"graft-stitched-v1","metric":"${params.metric}",
         |"max_degree":${params.maxDegree},"build_beam_width":${params.buildBeamWidth},
         |"alpha":${params.alpha},"passes":${params.passes},
         |"extra_seeds":${params.extraSeeds},"seed":${params.seed},
         |"target_shard_rows":$targetShardRows}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/metadata.json"), meta)
  }

  def load(s: SparkSession, path: String): Dataset[StitchedIndexRow] = {
    import s.implicits._
    loadParams(path) // format-tag gate: fail loudly on a foreign dir
    s.read.parquet(s"$path/graph")
      .select(col("vec_id"), col("embedding"),
        col("label").cast("int").as("label"), col("shard"), col("neighbors"))
      .as[StitchedIndexRow]
  }

  /** The persisted build params (and shard-size target) of a [[save]]d
    * stitched index, gated on the `graft-stitched-v1` format tag.
    * Callers must serve with THESE params — a caller-supplied metric
    * that diverges from the build metric would silently return
    * wrong-distance results, never an error. */
  def loadParams(path: String): (VamanaParams, Int) = {
    val where = s"$path/metadata.json"
    val n = MetaJson.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(where)))
    val fmt = MetaJson.required(n, "format", where).asText()
    require(fmt == "graft-stitched-v1",
      s"not a graft stitched index: format='$fmt' in $where")
    val p = VamanaParams(
      maxDegree = MetaJson.required(n, "max_degree", where).asInt(),
      buildBeamWidth = MetaJson.required(n, "build_beam_width", where).asInt(),
      alpha = MetaJson.required(n, "alpha", where).asDouble(),
      passes = MetaJson.required(n, "passes", where).asInt(),
      extraSeeds = MetaJson.required(n, "extra_seeds", where).asInt(),
      seed = MetaJson.required(n, "seed", where).asLong(),
      metric = MetaJson.required(n, "metric", where).asText())
    (p, MetaJson.required(n, "target_shard_rows", where).asInt())
  }

  // ----------------------------------------------------------- query

  /** One stitched build per (sf dir, JVM) — build once, query many,
    * like every index cache in [[VamanaIndex]]. The query-surface
    * shard target keeps per-label cells comparable to the plain
    * tier's shards at test SFs. */
  private val cache = TrieMap.empty[String, Dataset[StitchedIndexRow]]

  /** Build-time broadcasts (offsets + centroids) pending release:
    * [[build]] can't unpersist its own broadcast — the returned
    * dataset's lineage still references it — so the handle parks here
    * and [[trimBroadcasts]] unpersists once the caller has
    * materialized. `unpersist`, not `destroy`: a later lineage
    * recompute re-sends the value from the driver instead of failing,
    * so the trim is always safe; without it repeated builds in one
    * JVM accumulate broadcast blocks on driver and executors. */
  private val pendingBc =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.broadcast.Broadcast[_]]

  private[graft] def trimBroadcasts(): Unit = pendingBc.synchronized {
    pendingBc.foreach(_.unpersist(blocking = false))
    pendingBc.clear()
  }

  def cachedIndex(s: SparkSession, dir: String): Dataset[StitchedIndexRow] =
    cache.getOrElseUpdate(dir, {
      val emb = graft.Tables.embeddings(s, dir)
      val idx = build(emb.select(col("vec_id"), col("embedding")),
        emb.select(col("vec_id"), col("label")),
        VamanaIndex.qParams, targetShardRows = 2000).persist()
      idx.count()
      trimBroadcasts()
      idx
    })

  private[graft] def release(): Unit = {
    cache.values.foreach(_.unpersist(blocking = false))
    cache.clear()
    servedLabelCache.values.foreach(_._1.unpersist(blocking = false))
    servedLabelCache.clear()
    trimBroadcasts()
  }

  /** Hot-label serving handle: the target label's rows filtered and
    * shard-repartitioned ONCE per (dir, label), persisted, plus a
    * resident-tier token — the per-run cost of the old path was a
    * full filter + shuffle + per-cell graph rebuild of the label's
    * rows on EVERY query batch. A serving fleet pins its hot labels
    * exactly like this: the label partition loads once, its cell
    * graphs stay executor-resident ([[GraphCache]]),
    * and a query batch pays only beam search + the top-k merge.
    * Cold labels keep the one-shot [[search]] path. */
  private val servedLabelCache =
    TrieMap.empty[(String, Int), (Dataset[IndexRow], String)]
  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private def servedLabel(s: SparkSession, dir: String, target: Int)
      : (Dataset[IndexRow], String) =
    servedLabelCache.getOrElseUpdate((dir, target), {
      import s.implicits._
      val ds = cachedIndex(s, dir).filter(col("label") === target)
        .select(col("vec_id"), col("embedding"), col("shard"), col("neighbors"))
        .repartition(col("shard"))
        .as[IndexRow].persist()
      ds.count()
      (ds, s"stitched:$dir:$target:${tokenCounter.incrementAndGet()}")
    })

  /** Label-filtered top-k through the per-label stitched graphs
    * (target label 3, same predicate as [[VamanaIndex.qVamanaFiltered]])
    * at the PLAIN beam — no 1/selectivity widening — rows-only;
    * recall floors, the ≤1%-selectivity contrast with the one-graph
    * tier, determinism, and the partitioned save/load round-trip are
    * pinned in StitchedIndexSpec. */
  def qVamanaStitched(s: SparkSession, dir: String): DataFrame = {
    // hot-label resident serve: row-identical to
    // `search(cachedIndex, …, target = 3)` (same per-cell kernel at
    // the same beam, same bounded TopK merge — StitchedIndexSpec pins
    // the equivalence) with the per-run filter + shuffle + rebuild
    // amortized away
    val (labelDs, token) = servedLabel(s, dir, target = 3)
    VamanaIndex.search(labelDs, VamanaIndex.queriesArr(s, dir),
      k = 10, beamWidth = 64, VamanaIndex.qParams, resident = Some(token))
  }
}
