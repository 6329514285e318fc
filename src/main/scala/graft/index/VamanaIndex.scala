package graft.index

import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorExprs._
import graft.operators.VectorQueries

/** One indexed vector: global id, raw vector, owning shard, and its
  * out-neighbors as global ids — the parquet-native analog of the
  * reference's single-file layout (vectors region + fixed-degree
  * adjacency region, reference lib.rs:32-36). */
case class IndexRow(vec_id: Long, embedding: Array[Float], shard: Int, neighbors: Array[Long])

/** Distributed Vamana/DiskANN-style index.
  *
  * Layout: the corpus is partitioned into `numShards` IVF-style cells
  * (nearest deterministic seed centroid); each Spark partition builds
  * a [[VamanaGraph]] over its cell **locally** inside `mapPartitions`
  * — the only shuffle in the whole build is the one repartition by
  * shard. At 100 TB this is the published distributed-DiskANN recipe:
  * cluster, build per cluster in parallel (1000 executors → 1000
  * concurrent shard builds), store shard-partitioned.
  *
  * Persistence: `graph/` parquet partitioned by shard (so a query that
  * probes 2 of 1000 shards reads 2/1000 of the files — partition
  * pruning on disk) + `metadata.json` (dim, n, max_degree, metric,
  * shards, params, AND the shard→seed routing table — the analog of
  * reference lib.rs:126-136 Metadata; persisting the routing table is
  * what lets probed serving start without any index scan).
  *
  * Serving ([[ShardServe]]): queries are broadcast (small side), each
  * shard searches its local graph with the reference's beam search,
  * and the global top-k is merged with the bounded
  * [[graft.operators.TopKAgg]] — shuffle volume is k rows per (query,
  * probed shard).
  */
object VamanaIndex {

  // ---------------------------------------------------------------- build

  /** Assign each vector to its nearest of `numShards` seed centroids
    * (deterministic: the vectors with the lowest ids — at real scale,
    * sampled k-means centroids). The centroid set is tiny (shards ×
    * dim floats), so it's collected once and broadcast; assignment is
    * then a zero-shuffle argmin pass over the scan — the only shuffle
    * in the whole build is the repartition by shard. */
  /** Index of the L2-nearest centroid — the assignment argmin shared
    * by [[shardAssign]], [[shardAssignOverlapped]]'s primary rule, and
    * [[StitchedIndex.build]]'s per-label assignment. */
  private[index] def nearestCell(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = Metric.L2.eval(v, 0, cents(c), 0, v.length)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def shardAssign(emb: DataFrame, numShards: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents: Array[Array[Float]] = emb.orderBy($"vec_id").limit(numShards)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1).map(_._2)
    val bc = s.sparkContext.broadcast(cents)
    emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cv = bc.value
        it.map { case (id, v) => (id, v, nearestCell(v, cv)) }
      }
      .toDF("vec_id", "embedding", "shard")
  }

  def build(emb: DataFrame, params: VamanaParams, numShards: Int): Dataset[IndexRow] =
    buildAssigned(shardAssign(emb, numShards), params, numShards)

  /** Build straight from a NATIVE u8 source — (vec_id, codes: binary),
    * the schema `spark.read.format("bvecs")` serves — without the
    * `widen=true` option or any stored float column (reference
    * examples/bigann.rs builds AND serves BigANN u8 end to end). The
    * per-row widen ([[graft.functions.U8CodesToFloats]], codegen'd)
    * fuses into the build's shard-assignment scan: u8 is exact in f32,
    * so the graph is IDENTICAL to the widened path's, while the
    * source scan stays one byte per slot and the natural export is
    * `SingleFileIndex.export(..., u8 = true)` → [[U8Graph]] serving
    * at 1/4 the widened heap. L2 is the metric of the reference's u8
    * examples and the only one the u8 file tier serves. */
  def buildFromU8Codes(codes: DataFrame, params: VamanaParams,
      numShards: Int, merged: Boolean = false): Dataset[IndexRow] = {
    require(params.metric == "l2",
      s"u8 builds serve through the u8/L2 file tier; got metric ${params.metric}")
    val emb = codes.select(codes("vec_id"),
      graft.functions.VectorExprs.u8ToFloats(codes("codes")).as("embedding"))
    // merged=true: the capped PARALLEL single-graph build
    // ([[buildMerged]] — numShards concurrent sub-builds merged into
    // one graph), for single-file export of corpora where a
    // numShards=1 build would serialize on one core (the sf10 lesson:
    // 200 k vectors built 5× faster merged)
    if (merged) buildMerged(emb, params, numShards)
    else build(emb, params, numShards)
  }

  /** Overlapped assignment: every non-seed vector goes to its `overlap`
    * nearest cells, not just the nearest — the published merged-build
    * DiskANN recipe (Subramanya et al., NeurIPS'19 §4: points are
    * assigned to their ℓ closest clusters so each cluster's graph sees
    * its boundary neighborhood). A query whose true neighbors straddle
    * a Voronoi boundary no longer loses them to an unprobed shard:
    * probed recall at the SAME nprobe rises sharply, for `overlap`×
    * storage and build compute — the trade 100 TB deployments take,
    * because storage is the cheap axis and recall the product one.
    *
    * Seed vectors (the numShards lowest ids) stay primary-only so each
    * shard's lowest id remains its own assignment centroid and the standing
    * lowest-id routing rule reproduces the exact routing table.
    * Serving merges with the id-distinct TopK (replicas of a neighbor
    * arrive from several shards with bit-identical distances). */
  def shardAssignOverlapped(emb: DataFrame, numShards: Int, overlap: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val seedRows = emb.orderBy($"vec_id").limit(numShards)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val cents: Array[Array[Float]] = seedRows.map(_._2)
    // seeds are identified by their ACTUAL ids, not by `id < numShards`
    // — vec_ids need not be dense or 0-based, and a corpus whose ids
    // start above numShards would otherwise replicate every seed,
    // breaking the lowest-id routing rule (two shards sharing a seed)
    val seedIds: Set[Long] = seedRows.map(_._1).toSet
    val bc = s.sparkContext.broadcast((cents, seedIds))
    emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (cv, seeds) = bc.value
        val nCells = cv.length
        it.flatMap { case (id, v) =>
          val reps = if (seeds(id)) 1 else math.min(overlap, nCells)
          Array.tabulate(nCells)(c => (Metric.L2.eval(v, 0, cv(c), 0, v.length), c))
            .sortBy(identity).iterator.take(reps).map { case (_, c) => (id, v, c) }
        }
      }
      .toDF("vec_id", "embedding", "shard")
  }

  // NOTE: there is deliberately NO index-only `buildOverlapped`
  // convenience wrapper: the capped build's split factor is REQUIRED
  // downstream (save/pivotTablePrimary group split sub-shards by
  // parent cell), and a wrapper that discards it invites exactly the
  // silent-recall-degradation bug an r10 review caught — a capped
  // index saved with split=1 starves every split cell's siblings of
  // primary pivots. Callers take the (index, split) pair.

  /** The overlapped assignment plus the capped-assignment pass of
    * [[buildCapped]] — the overlap tier is the HEADLINE serving tier,
    * and seeded-centroid Voronoi skew bites it exactly like the plain
    * build (the sf10 rehearsal: a handful of 300k-row straggler cells
    * serialized the whole build). Replicas of a vector always sit in
    * distinct parent cells, so [[capAssignment]]'s vec_id-hash slicing
    * never folds two replicas into one sub-shard graph. Returns
    * (index, split): `split` = sub-shards per parent cell
    * (capAssignment re-tags shard → shard·split + bin), which
    * [[pivotTablePrimary]] needs to group sibling sub-shards back to
    * their parent Voronoi cell for the primary-row test. `split == 1`
    * (no cell oversized — the common case on balanced corpora) is
    * byte-identical to the uncapped build. `capFactor <= 0` disables
    * capping entirely. */
  def buildOverlappedCapped(emb: DataFrame, params: VamanaParams, numShards: Int,
      overlap: Int = 2, capFactor: Double = 1.5): (Dataset[IndexRow], Int) =
    if (capFactor <= 0)
      (buildAssigned(shardAssignOverlapped(emb, numShards, overlap), params, numShards), 1)
    else {
      val assigned = shardAssignOverlapped(emb, numShards, overlap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (recapped, totalShards) = capAssignment(assigned, numShards, capFactor)
      // eager checkpoint so the persisted 2n-row assignment can be
      // released now (same ownership contract as buildCapped)
      val built = buildAssigned(recapped, params, totalShards).localCheckpoint(true)
      assigned.unpersist()
      (built, totalShards / numShards)
    }

  /** Parallel build of ONE logical graph — the published merged-build
    * DiskANN recipe end-to-end (Subramanya et al., NeurIPS'19 §4;
    * reference lib.rs builds its single graph in-process, which a
    * driver cannot at corpus scale): overlap-2 shard builds run in
    * parallel across the cluster, then each vector's ≤2 per-shard
    * adjacency lists are UNIONed into a single list (≤2·maxDegree —
    * the paper keeps the union too; the overlap edges are exactly the
    * cross-cell links a monolithic build would have found). The result
    * is a single-shard index whose beam searches start at the same
    * deterministic medoid pivots as a monolithic build, suitable for
    * [[SingleFileIndex.export]].
    *
    * `numShards <= 1` degenerates to the monolithic kernel build —
    * callers pick shards so each build task stays ~50k rows
    * (a 2M-vector corpus at numShards=1 is a single-core build that
    * runs for hours: the exact collapse the sf10 rehearsal caught). */
  def buildMerged(emb: DataFrame, params: VamanaParams, numShards: Int): Dataset[IndexRow] = {
    val s = emb.sparkSession
    import s.implicits._
    if (numShards <= 1) build(emb, params, 1)
    else {
      // capped, not bare, overlapped assignment: the 40-cell sf10 run
      // showed seeded-centroid Voronoi skew serializing the tail
      // behind a handful of 300k-row straggler builds — the same
      // failure buildCapped exists for, so the same FFD re-tag caps
      // every build task at capFactor·avg regardless of distribution
      val assigned = shardAssignOverlapped(emb, numShards, overlap = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (recapped, totalShards) = capAssignment(assigned, numShards, capFactor = 1.5)
      val merged = buildAssigned(recapped, params, totalShards)
        .groupByKey(_.vec_id)
        .mapGroups { (id, it) =>
          val reps = it.toArray
          val seen = new java.util.LinkedHashSet[java.lang.Long]()
          reps.foreach(_.neighbors.foreach { n => if (n != id) seen.add(n) })
          val out = new Array[Long](seen.size)
          val mIt = seen.iterator(); var i = 0
          while (mIt.hasNext) { out(i) = mIt.next(); i += 1 }
          IndexRow(id, reps(0).embedding, 0, out)
        }
        // eager checkpoint so the 2n-row persisted assignment can be
        // released now (same ownership contract as buildCapped)
        .localCheckpoint(true)
      assigned.unpersist()
      merged
    }
  }

  /** Shard count that keeps each merged-build task at a bounded row
    * count: the overlap-2 assignment carries 2n rows, so target
    * 2n/[[MergedShardRows]] cells (≈50k rows per build task at the
    * average; [[capAssignment]] bounds the tail at 1.5×). */
  val MergedShardRows = 50000L
  def mergedShards(n: Long): Int =
    math.min(512L, math.max(1L, (2 * n + MergedShardRows - 1) / MergedShardRows)).toInt

  /** Capacity-capped build — the HARD answer to shard skew. Centroid
    * quality (seeded or Lloyd-trained) can never bound the largest
    * cell: k-means minimizes variance, not balance, and a dense-ball
    * corpus legitimately wants most of its mass in one cell. So the
    * bound comes from splitting, not clustering: any cell whose count
    * exceeds `cap = capFactor·n/numShards` is split into sub-shards
    * by packing MEASURED fine-grained hash slices — not by a bare
    * `hash mod k`, whose binomial spread routinely pushes one
    * sub-shard past the cap when a cell sits near a cap multiple.
    * Each oversized cell is sliced into 64·ceil(n/cap) xxhash64
    * buckets, their true counts are aggregated, and the driver packs
    * buckets first-fit-decreasing into bins of capacity `cap` — so
    * the bound rests on measured sizes and holds for ANY distribution
    * of cell counts. The one residual assumption (a single 1/64·cap-
    * expected slice exceeding cap, i.e. 64× hash skew on distinct
    * ids) fails loudly via `require` instead of silently overflowing.
    * Sub-shards of a dense cell carry near-identical routing seeds,
    * so probed serving naturally probes siblings of a hot region.
    *
    * Cost: the k-row count aggregate, a histogram aggregate over
    * oversized cells only, and a zero-shuffle re-tag; `assigned` is
    * persisted across those passes so the argmin assignment runs
    * once (build-once contract, same as the serving caches). */
  def buildCapped(emb: DataFrame, params: VamanaParams, numShards: Int,
      capFactor: Double = 1.5): Dataset[IndexRow] = {
    val assigned = shardAssign(emb, numShards)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (recapped, totalShards) = capAssignment(assigned, numShards, capFactor)
    // materialize the built index eagerly so the persisted assignment
    // can be RELEASED here — otherwise every buildCapped call pins a
    // full corpus copy in executor storage for the JVM lifetime. The
    // checkpoint holds the final index instead, and is freed when the
    // caller's reference is garbage-collected (a cache entry with an
    // owner, vs. an ownerless leak).
    val built = buildAssigned(recapped, params, totalShards)
      .localCheckpoint(true)
    assigned.unpersist()
    built
  }

  /** The capping pass of [[buildCapped]], reusable over ANY
    * (vec_id, embedding, shard) assignment — primary or overlapped
    * (replicas of a vector always sit in distinct cells, so the
    * vec_id-hash slicing below never folds two replicas into one
    * graph). Returns the re-tagged assignment and the new dense shard
    * id bound. `assigned` should be persisted by the caller (it is
    * scanned once or twice here and again by the build). */
  private[graft] def capAssignment(assigned: DataFrame, numShards: Int,
      capFactor: Double): (DataFrame, Int) = {
    val s = assigned.sparkSession
    import s.implicits._
    val counts = assigned.groupBy($"shard").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    val total = counts.values.sum
    val cap = math.max(1L, math.ceil(capFactor * total.toDouble / numShards).toLong)
    val oversized = counts.filter(_._2 > cap).keys.toSet
    // ONE slice-count derivation, shared by the histogram pass and the
    // re-tag kernel — two independent copies of this formula would let
    // an edit desynchronize histogram keys from re-tag keys
    val slicesOf: Map[Int, Int] = oversized.map { sh =>
      sh -> 64 * math.ceil(counts(sh).toDouble / cap).toInt
    }.toMap
    // (cell, slice) → sub-shard map from measured slice sizes
    val subOf: Map[(Int, Int), Int] =
      if (oversized.isEmpty) Map.empty
      else {
        val bcSlices = s.sparkContext.broadcast(slicesOf)
        val hist = assigned
          .filter($"shard".isInCollection(oversized))
          .select($"shard", xxhash64($"vec_id").as("h"))
          .as[(Int, Long)]
          .mapPartitions { it =>
            val sl = bcSlices.value
            it.map { case (sh, h) => (sh, math.floorMod(h, sl(sh).toLong).toInt) }
          }
          .toDF("shard", "slice")
          .groupBy($"shard", $"slice").agg(count(lit(1)).as("n"))
          .as[(Int, Int, Long)].collect()
        hist.groupBy(_._1).flatMap { case (sh, rows) =>
          // first-fit-decreasing: bins stay ≤ cap because every item is
          val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
          rows.sortBy(r => (-r._3, r._2)).map { case (_, slice, n) =>
            require(n <= cap,
              s"hash slice of cell $sh holds $n > cap $cap rows — " +
                "pathological xxhash64 skew; raise capFactor or slices")
            val i = bins.indexWhere(_ + n <= cap)
            val bin = if (i >= 0) { bins(i) += n; i }
              else { bins += n; bins.length - 1 }
            (sh, slice) -> bin
          }
        }
      }
    val maxSplit = math.max(1, if (subOf.isEmpty) 1 else subOf.values.max + 1)
    val bcSub = s.sparkContext.broadcast(subOf)
    val bcSlices2 = s.sparkContext.broadcast(slicesOf)
    // zero-shuffle re-tag kernel (same shape as shardAssign's argmin
    // pass — no UDF boxing, no exchange)
    val recapped = assigned.select($"vec_id", $"embedding", $"shard",
        xxhash64($"vec_id").as("h"))
      .as[(Long, Array[Float], Int, Long)]
      .mapPartitions { it =>
        val sub = bcSub.value; val sl = bcSlices2.value
        it.map { case (id, v, shard, h) =>
          val bin = sl.get(shard) match {
            case Some(k) => sub((shard, math.floorMod(h, k.toLong).toInt))
            case None => 0
          }
          (id, v, shard * maxSplit + bin)
        }
      }
      .toDF("vec_id", "embedding", "shard")
    (recapped, numShards * maxSplit)
  }

  /** Exact shard→partition placement for the build shuffles. A plain
    * `repartition(n, $"shard")` murmur3-hashes the id into n buckets,
    * which COLLIDES for small n — at 8 shards it reliably stacks 2-3
    * graph builds on one straggler task while other cores idle
    * (observed at the sf10 rehearsal: the whole 200k-vector build
    * serialized behind one partition). `repartitionByRange` would fix
    * placement but adds a boundary-sampling pass over the assignment —
    * a second corpus-wide job at scale; an RDD `partitionBy` fixes it
    * too but drops the exchange off the Tungsten path and Java-
    * serializes every vector through the shuffle — the wrong trade
    * when the corpus IS the shuffle payload.
    *
    * Instead, repartition on a murmur3 PREIMAGE of the shard id:
    * `preimages(s)` is the smallest non-negative int j with
    * `pmod(hash(j), n) == s`, where `hash` is Spark's stable
    * seed-42 Murmur3 (`functions.hash` semantics — the same function
    * `repartition(n, col)` feeds into `pmod(…, n)` for the partition
    * id). Routing shard s via column value preimages(s) therefore
    * lands it on partition s EXACTLY, one shard per task, with the
    * exchange staying UnsafeRow end-to-end. Expected search length is
    * n·H(n) ≈ n·ln n candidate ints — microseconds at any realistic
    * shard count. */
  private[graft] def shardPreimages(n: Int): Array[Int] = {
    val out = new Array[Int](n)
    val found = new Array[Boolean](n)
    var j = 0
    var remaining = n
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(j, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; out(p) = j; remaining -= 1 }
      j += 1
    }
    out
  }

  /** Shard-exact repartition of an assignment frame carrying a dense
    * int `shard` column (0 until numShards), entirely in
    * DataFrame-land — see [[shardPreimages]]. */
  private[graft] def placeByShard(assigned: DataFrame, numShards: Int): DataFrame = {
    val pre = shardPreimages(numShards)
    assigned
      .withColumn("__pre", element_at(typedlit(pre.toSeq), col("shard") + 1))
      .repartition(numShards, col("__pre"))
      .drop("__pre")
  }

  /** Shared build tail: one shard-exact repartition, then per-shard
    * in-memory Vamana builds inside `mapPartitions` ([[buildShards]]). */
  private[graft] def buildAssigned(
      assigned: DataFrame, params: VamanaParams, numShards: Int): Dataset[IndexRow] = {
    val s = assigned.sparkSession
    import s.implicits._
    placeByShard(assigned, numShards)
      .as[(Long, Array[Float], Int)]
      .mapPartitions(buildShards(_, params)(_._3, _._1, _._2)(
        (r, nbrs) => IndexRow(r._1, r._2, r._3, nbrs)))
  }

  /** The one per-shard build of a partition's rows, behind
    * [[buildAssigned]] and [[StitchedIndex.build]]: each shard's rows
    * in vec_id order ([[ShardServe.localize]]) build one [[VamanaGraph]],
    * and `out` makes each row's output from the row and its neighbours
    * as global ids. Generic over the row type, so a row can carry
    * what an [[IndexRow]] has no slot for (the stitched label). */
  private[graft] def buildShards[R: ClassTag, O](rows: Iterator[R], params: VamanaParams)(
      shard: R => Int, id: R => Long, vec: R => Array[Float])(
      out: (R, Array[Long]) => O): Iterator[O] =
    rows.toArray.groupBy(shard).iterator.flatMap { case (_, group) =>
      val (sorted, dim, flat, _) = ShardServe.localize(group)(id, vec)
      val g = new VamanaGraph(flat, dim, sorted.length, params).build()
      sorted.indices.iterator.map(li => out(sorted(li), g.graph(li).map(l => id(sorted(l)))))
    }

  // ---------------------------------------------------------------- persist

  /** shard → routing seed (the lowest-id vector per shard — the same
    * deterministic representative the shard assignment used). Computed
    * ONCE per built index and persisted in metadata.json; serving must
    * never recompute it per call (at 100 TB that would be a full index
    * scan in front of every query batch). */
  def routingTable(index: Dataset[IndexRow]): Array[(Int, Array[Float])] =
    routingTableWithIds(index).map { case (shard, _, seed) => (shard, seed) }

  /** [[routingTable]] keeping each seed's vec_id — [[parentSeeds]]
    * needs the ids to pick a split cell's original assignment
    * centroid among its sibling sub-shards. */
  private[graft] def routingTableWithIds(
      index: Dataset[IndexRow]): Array[(Int, Long, Array[Float])] = {
    val s = index.sparkSession
    import s.implicits._
    // narrow to (shard, vec_id, embedding) BEFORE the shuffle —
    // neighbor arrays never leave the scan
    index
      .select(col("shard"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .reduceGroups((a: (Int, Long, Array[Float]), b: (Int, Long, Array[Float])) =>
        if (a._2 < b._2) a else b)
      .map { case (shard, row) => (shard, row._2, row._3) }
      .collect().sortBy(_._1)
  }

  /** Parent-cell assignment centroids of a capped (split) build: group
    * the per-sub-shard seed table by parent = shard / split and keep
    * each parent's LOWEST-ID seed. That row IS the parent cell's
    * original assignment centroid: [[shardAssignOverlapped]]'s
    * centroids are the numShards globally-lowest-id rows, each primary
    * -only in its own cell, so within any parent cell the globally
    * -lowest id is its centroid row — and the per-sub-shard lowest-id
    * rule surfaces it as the min-id seed among the siblings. `split
    * == 1` degenerates to the seed table itself. */
  private[graft] def parentSeeds(seeds: Array[(Int, Long, Array[Float])],
      split: Int): Array[(Int, Array[Float])] =
    seeds.groupBy(_._1 / split).toArray
      .map { case (parent, g) => (parent, g.minBy(_._2)._3) }
      .sortBy(_._1)

  /** shard → ≤m routing PIVOTS (deterministic): per shard, the m
    * smallest-splitmix64(vec_id) rows — a uniform, order-independent
    * hash sample of the cell. Routing on min distance over the pivot
    * SET instead of the single seed tracks the cell's true extent —
    * an elongated or multi-lobed Voronoi cell no longer looks "far"
    * just because its seed sits in one lobe — which buys probed
    * recall with ZERO extra index storage (the pivots ride in
    * metadata.json, ≤ m·dim floats per shard). The measured sf0.1
    * shootout (PR-8): seed-only 0.6875 < farthest-point-8 0.5725
    * (extreme points make every cell look close) < sample-128 0.7825
    * < sample-256 0.8300 = the min-dist-to-full-shard oracle bound;
    * mass-count ranking over the same sample ties it, so the simple
    * min-dist rule wins. Same one narrow shuffle shape as
    * [[routingTable]]; per-shard state is bounded at m rows. Router
    * cost is O(shards·m·dim) per query and the table is
    * O(shards·m·dim) floats driver-side — at 10k+ shards drop m
    * (recall degrades gracefully with sample sparsity) or quantize
    * the sample; nprobe stays the recall lever. */
  def pivotTable(index: Dataset[IndexRow], m: Int = 256): Array[(Int, Array[Array[Float]])] = {
    val s = index.sparkSession
    import s.implicits._
    index
      .select(col("shard"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        (shard, selectPivots(it.map(t => (t._2, t._3)), m))
      }
      .collect().sortBy(_._1)
  }

  /** Per-shard pivot selection kernel — shared verbatim by
    * [[pivotTable]] (parquet tier) and [[SingleFileIndex
    * .exportSharded]] (files-tier manifest), so the two tiers route
    * identically. Keeps the m smallest-splitmix64(id) rows, ordered by
    * vec_id — a uniform hash sample, order-independent under any
    * partitioning, O(m) memory via a bounded max-heap. (A
    * farthest-point sweep was tried and REJECTED: extreme points of a
    * cell sit near every other cell's boundary, so min-dist ranking
    * saw recall 0.5725 — below even single-seed routing.) */
  private[graft] def selectPivots(rows: Iterator[(Long, Array[Float])],
      m: Int = 256): Array[Array[Float]] = {
    val sampler = new PivotSampler(m)
    rows.foreach { case (id, v) => sampler.add(id, v) }
    require(sampler.nonEmpty, "selectPivots: empty shard")
    sampler.result()
  }

  /** Streaming form of [[selectPivots]]: bounded max-heap of the m
    * smallest-splitmix64(id) rows, so one pass over a shard can feed
    * several samples (primary + all-resident) without buffering the
    * shard. */
  private[graft] final class PivotSampler(m: Int) {
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    private val heap = new scala.collection.mutable.PriorityQueue[(Long, Long, Array[Float])]()(
      Ordering.by[(Long, Long, Array[Float]), (Long, Long)](t => (t._1, t._2)))
    def add(id: Long, v: Array[Float]): Unit = {
      val h = mix(id)
      if (heap.size < m) heap.enqueue((h, id, v))
      else if (Ordering.Tuple2[Long, Long].lt((h, id), (heap.head._1, heap.head._2))) {
        heap.dequeue(); heap.enqueue((h, id, v))
      }
    }
    def nonEmpty: Boolean = heap.nonEmpty
    def result(): Array[Array[Float]] =
      heap.toArray.sortBy(_._2).map(_._3) // by vec_id: deterministic order
  }

  /** [[pivotTable]] for OVERLAPPED indexes: pivots sample each shard's
    * PRIMARY (Voronoi-cell) rows only. Replicas must not route — a
    * replica-polluted sample makes every probed-adjacent shard look
    * close, scrambling the ranking (measured sf0.1: overlap recall@10
    * 0.8725 polluted vs ≥ 0.9 primary-only at the same nprobe).
    * Primary test is map-side: a row is primary iff its resident shard
    * is the global argmin cell — exactly [[shardAssignOverlapped]]'s
    * first pick (strict `<` argmin = lowest-cell tie-break there too).
    * Seed table = [[parentSeeds]] over [[routingTableWithIds]] (one
    * narrow pass), broadcast; the filter+sample pass has the same
    * one-shuffle shape as [[pivotTable]].
    *
    * `split` handles CAPPED overlapped builds ([[buildOverlappedCapped]]
    * re-tags an oversized cell's rows across `split` sibling
    * sub-shards): the argmin test must run against PARENT-cell
    * centroids and compare parent ids — testing against per-sub-shard
    * seeds would crown one sibling (near-identical seeds) and starve
    * the rest of primary rows. A sub-shard that still ends up with no
    * primary rows (a hash slice landing only replicas) falls back to
    * sampling ALL its resident rows — those replicas ARE its content,
    * and an unroutable (empty-pivot) shard would lose them. */
  def pivotTablePrimary(index: Dataset[IndexRow], m: Int = 256,
      split: Int = 1): Array[(Int, Array[Array[Float]])] = {
    val s = index.sparkSession
    import s.implicits._
    val parents = parentSeeds(routingTableWithIds(index), split)
    val bc = s.sparkContext.broadcast(parents)
    index
      .select(col("shard"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val pv = bc.value
        val prim = new PivotSampler(m)
        val all = new PivotSampler(m)
        it.foreach { case (_, id, v) =>
          all.add(id, v)
          if (primaryShard(v, pv) == shard / split) prim.add(id, v)
        }
        require(all.nonEmpty, "pivotTablePrimary: empty shard")
        (shard, if (prim.nonEmpty) prim.result() else all.result())
      }
      .collect().sortBy(_._1)
  }

  /** Global argmin cell of `v` over the seed table — strict `<` with
    * first-index tie-break, mirroring [[shardAssign]] /
    * [[shardAssignOverlapped]]. */
  private[graft] def primaryShard(v: Array[Float], seeds: Array[(Int, Array[Float])]): Int = {
    var best = seeds(0)._1; var bestD = Double.MaxValue
    var c = 0
    while (c < seeds.length) {
      val d = Metric.L2.eval(v, 0, seeds(c)._2, 0, v.length)
      if (d < bestD) { bestD = d; best = seeds(c)._1 }
      c += 1
    }
    best
  }

  /** True iff any vec_id resides in more than one shard — the marker
    * of an overlapped build ([[save]]/[[SingleFileIndex.exportSharded]]
    * switch pivot sampling to primary-only on it; plain and capped
    * builds never replicate ids). One narrow agg. */
  private[graft] def hasReplicas(index: Dataset[IndexRow]): Boolean = {
    val s = index.sparkSession
    import s.implicits._
    index.groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count() > 0
  }

  /** Min L2 distance from `q` to any pivot of the set (`MaxValue` for
    * none) — the pivot-routing distance [[ShardServe.probe]] ranks
    * shards by. The minimum is taken over the kernel's squared
    * distances and rooted once: `sqrt` is monotone and correctly
    * rounded, so the value is the minimum of the roots. */
  private[graft] def pivotDist(q: Array[Float], pivots: Array[Array[Float]]): Double = {
    var best = Double.MaxValue
    var i = 0
    while (i < pivots.length) {
      val d = Distance.l2sq(q, 0, pivots(i), 0, q.length)
      if (d < best) best = d
      i += 1
    }
    if (best == Double.MaxValue) best else math.sqrt(best)
  }

  /** `split` = sub-shards per parent cell of a CAPPED overlapped
    * build ([[buildOverlappedCapped]]'s second return) — primary pivot
    * sampling needs it to group sibling sub-shards; 1 for plain,
    * capped-primary, and uncapped-overlap indexes. */
  def save(index: Dataset[IndexRow], params: VamanaParams, path: String,
      split: Int = 1): Unit = {
    val s = index.sparkSession
    // save runs four actions (write, stats, head, routing) — persist so
    // an unpersisted lazily-built index isn't rebuilt each time
    val wasPersisted = index.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!wasPersisted) index.persist()
    try {
      // a zero-row index used to die cryptically at head()/getInt —
      // reachable through a legitimate delete-everything-then-compact
      require(!index.isEmpty,
        s"cannot save an empty index to $path — if every vector was " +
          "tombstoned, delete the index directory instead of compacting it")
      index.write.mode("overwrite").partitionBy("shard").parquet(s"$path/graph")
      val stats = index.agg(
        count(lit(1)), max(size(col("neighbors"))), countDistinct(col("shard"))).head()
      val dim = index.head().embedding.length
      val routingJson = routingTable(index).map { case (shard, seed) =>
        s"""{"shard":$shard,"seed":[${seed.mkString(",")}]}"""
      }.mkString("[", ",", "]")
      // overlapped indexes (replicated ids) sample pivots from primary
      // rows only — replica-polluted samples scramble the shard ranking
      val pivots =
        if (hasReplicas(index)) pivotTablePrimary(index, split = split)
        else pivotTable(index)
      val pivotsJson = pivots.map { case (shard, pv) =>
        s"""{"shard":$shard,"vecs":[${pv.map(_.mkString("[", ",", "]")).mkString(",")}]}"""
      }.mkString("[", ",", "]")
      val meta =
        s"""{"format":"graft-vamana-v1","dim":$dim,"num_vectors":${stats.getLong(0)},
           |"max_degree_observed":${stats.getInt(1)},"num_shards":${stats.getLong(2)},
           |"metric":"${params.metric}","max_degree":${params.maxDegree},
           |"build_beam_width":${params.buildBeamWidth},"alpha":${params.alpha},
           |"passes":${params.passes},"extra_seeds":${params.extraSeeds},"seed":${params.seed},
           |"split":$split,"serving":$servingScheduleJson,
           |"routing":$routingJson,"pivots":$pivotsJson}"""
          .stripMargin.replace("\n", "")
      Files.createDirectories(Paths.get(path))
      Files.writeString(Paths.get(s"$path/metadata.json"), meta)
    } finally if (!wasPersisted) index.unpersist()
  }

  /** Parse the persisted routing table back out of metadata.json —
    * driver-side ([[MetaJson]]; the metadata string must never ride a
    * Spark task). Float seeds round-trip exactly: Float.toString is
    * shortest-round-trip, and double-parse → float restores the bit
    * pattern. */
  def loadRouting(spark: SparkSession, path: String): Array[(Int, Array[Float])] =
    routingOf(readMetaJson(path), path)

  /** Parse the persisted pivot table back out of metadata.json —
    * pivot-routing twin of [[loadRouting]]. Indexes saved before the
    * pivots field existed throw here; callers fall back to one
    * [[pivotTable]] recompute (Handle does). */
  def loadPivots(spark: SparkSession, path: String): Array[(Int, Array[Array[Float]])] =
    pivotsOf(readMetaJson(path), path)

  /** The index's metadata.json, parsed once per call. A file
    * that cannot be read, or is not a JSON object, fails naming it. */
  private[index] def readMetaJson(path: String): JsonNode = {
    val where = s"$path/metadata.json"
    val n =
      try MetaJson.parse(loadMeta(path))
      catch { case e: java.io.IOException =>
        throw new IllegalArgumentException(s"cannot read index metadata $where: $e", e)
      }
    require(n != null && n.isObject, s"index metadata $where is not a JSON object")
    n
  }

  /** The `routing` table of parsed metadata (required). */
  private[index] def routingOf(meta: JsonNode,
      path: String): Array[(Int, Array[Float])] =
    shardTable(meta, "routing", path)(r => MetaJson.floats(r.get("seed")))

  /** The `pivots` table of parsed metadata (required). */
  private[index] def pivotsOf(meta: JsonNode,
      path: String): Array[(Int, Array[Array[Float]])] =
    shardTable(meta, "pivots", path)(p => MetaJson.floatMatrix(p.get("vecs")))

  /** A per-shard array field of parsed metadata as (shard, value)
    * sorted by shard; absent or malformed fails naming the file. */
  private def shardTable[A](meta: JsonNode, field: String,
      path: String)(value: JsonNode => A): Array[(Int, A)] = {
    val where = s"$path/metadata.json"
    val f = MetaJson.required(meta, field, where)
    try {
      require(f.isArray, "not an array")
      MetaJson.elems(f).map { e =>
        val sh = e.get("shard")
        require(sh != null && sh.isInt, "entry without an integer shard")
        (sh.asInt(), value(e))
      }.toArray.sortBy(_._1)
    } catch { case e: Exception =>
      throw new IllegalArgumentException(s"malformed '$field' in $where: ${e.getMessage}", e)
    }
  }

  /** The persisted serving schedule as its own JSON string — typed
    * accessor over metadata.json (driver-side [[MetaJson]], same
    * machinery as [[loadRouting]]/[[loadPivots]]), so callers never
    * slice the raw metadata by string position. Indexes saved before
    * the serving field existed fall back to the normative in-code
    * copy ([[servingScheduleJson]] — the schedule is version-static,
    * not per-index). Unlike the other Meta accessors this one is
    * purely driver-side, so it takes no SparkSession. */
  def loadServingSchedule(path: String): String = {
    val n = MetaJson.parse(loadMeta(path)).get("serving")
    if (n != null) n.toString else servingScheduleJson
  }

  /** `path` missing beside an existing `$path-old` is a
    * [[StreamingIndex]] lifecycle swap interrupted between its two
    * renames: fail naming where the index went (the pre-operation
    * index at `-old`, its replacement at any `$path-<op>.tmp`)
    * instead of Spark's bare PATH_NOT_FOUND on `graph`. One `exists`
    * on the normal path. */
  private[graft] def requireNoInterruptedSwap(spark: SparkSession, path: String): Unit = {
    val given = new org.apache.hadoop.fs.Path(path)
    val fs = given.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.makeQualified(given)
    val old = new org.apache.hadoop.fs.Path(s"$live-old")
    if (!fs.exists(live) && fs.exists(old)) {
      val tmps = fs.listStatus(live.getParent).map(_.getPath).filter { p =>
        p.getName.startsWith(s"${live.getName}-") && p.getName.endsWith(".tmp")
      }
      throw new java.io.IOException(s"no index at $path: a lifecycle swap was " +
        s"interrupted between its renames — the pre-operation index is at $old" +
        (if (tmps.isEmpty) "" else s", its replacement at ${tmps.mkString(", ")}") +
        s"; move one of them to $path")
    }
  }

  def load(spark: SparkSession, path: String): Dataset[IndexRow] = {
    import spark.implicits._
    requireNoInterruptedSwap(spark, path)
    val raw = spark.read.parquet(s"$path/graph")
      .select("vec_id", "embedding", "shard", "neighbors").as[IndexRow]
    // re-cluster so each shard's graph is whole within a task (a shard
    // written as several files would otherwise arrive fragmented). The
    // shard count comes from metadata.json — save() records it, so
    // open is O(metadata); recomputing it cost a scan + shuffle of the
    // shard column per open. Fall back to the scan only for a foreign
    // directory without usable metadata (HnswIndex.load's contract).
    val nShards = scala.util.Try {
      MetaJson.parse(loadMeta(path)).get("num_shards").asInt()
    }.filter(_ > 0)
      .getOrElse(raw.select("shard").distinct().count().toInt)
    raw.repartition(math.max(1, nShards), $"shard").as[IndexRow]
  }

  def loadMeta(path: String): String =
    Files.readString(Paths.get(s"$path/metadata.json"))

  /** Reconstruct the build params from persisted metadata.json — the
    * reference's `open_index_default_metric` support (reference
    * lib.rs:506-534): an index directory is self-describing, so a
    * caller who received one without its build configuration can still
    * open and serve it. Numeric accessors coerce explicitly (alpha =
    * 2.0 may be written as "2"). */
  def paramsFromMeta(spark: SparkSession, meta: String): VamanaParams = {
    val m = MetaJson.parse(meta)
    def f(name: String) = MetaJson.required(m, name, "vamana metadata.json")
    VamanaParams(
      metric = f("metric").asText(),
      maxDegree = f("max_degree").asInt(),
      buildBeamWidth = f("build_beam_width").asInt(),
      alpha = f("alpha").asDouble(),
      passes = f("passes").asInt(),
      extraSeeds = f("extra_seeds").asInt(),
      seed = f("seed").asLong())
  }

  /** Rebuild one shard's in-memory graph from its rows (`row` views
    * each as an IndexRow): sorts by vec_id (stable, so rows sharing an
    * id keep their input order), flattens vectors, remaps global
    * neighbor ids to local indices ([[ShardServe.localize]]). Returns
    * the rows in local order. Shared by every serving/diagnostic path
    * so fixes can't drift between them. */
  private[index] def rebuildShardGraph[R](group: Array[R], params: VamanaParams)(
      row: R => IndexRow): (VamanaGraph, Array[R]) = {
    val (sorted, dim, flat, local) =
      ShardServe.localize(group)(row(_).vec_id, row(_).embedding)
    val g = new VamanaGraph(flat, dim, sorted.length, params)
    sorted.indices.foreach(i => g.graph(i) = local(row(sorted(i)).neighbors))
    (g, sorted)
  }

  /** This partition's shard graphs, each with its rows in local order
    * ([[ShardServe.shardGraphs]]: resident or rebuilt on open). Rows
    * may carry a per-row payload beside the IndexRow that `row`
    * extracts (a filter flag), aligned with the graph's local rows. */
  private[graft] def shardGraphs[R: ClassTag, A](it: Iterator[R], params: VamanaParams,
      resident: Option[String] = None)(row: R => IndexRow)(
      open: ((VamanaGraph, Array[R])) => A): Iterator[(Int, () => A)] =
    ShardServe.shardGraphs(it, resident)(row(_).shard,
      rebuildShardGraph(_, params)(row), (r: R) => rowBytes(row(r)))(open)

  // flat vectors + adjacency are held twice (rows + graph); the search
  // scratch is per thread (BestFirst), not per graph, so it needs no
  // allowance here
  private def rowBytes(r: IndexRow): Long =
    64L + 8L * r.embedding.length + 16L * r.neighbors.length

  /** A [[ShardSearcher]] over one shard graph whose local row `li`
    * has global id `ids(li)`. `keep` = None runs the plain beam;
    * `Some(p)` runs the filtered beam, which traverses every row but
    * returns only local rows passing `p`. */
  private[index] def graphSearcher(beamWidth: Int, keep: Option[Int => Boolean] = None)(
      g: VamanaGraph, ids: Int => Long): ShardSearcher =
    keep match {
      case None =>
        (q, k) => g.search(q, k, beamWidth).map { case (li, d) => (ids(li), d) }
      case Some(p) =>
        (q, k) => g.searchFiltered(q, k, beamWidth, p).map { case (li, d) => (ids(li), d) }
    }

  /** The lazy-delete rule: an id is live iff it is absent from the
    * sorted tombstone log `ex` (binary search, no boxing). */
  private[index] def live(ex: Array[Long]): Long => Boolean =
    id => java.util.Arrays.binarySearch(ex, id) < 0

  /** The shard graphs of rows that carry a keep flag, each searched by
    * the filtered beam returning only rows whose flag is set. */
  private def flagged(it: Iterator[(IndexRow, Boolean)], params: VamanaParams,
      beamWidth: Int): Iterator[(Int, () => ShardSearcher)] =
    shardGraphs(it, params)(_._1) { case (g, rows) =>
      graphSearcher(beamWidth, Some(rows(_)._2))(g, rows(_)._1.vec_id)
    }

  // ---------------------------------------------------------------- search

  /** Batch beam search over every shard. `queries`: (q_id, qv).
    * Returns (q_id, rank, neighbor_id, dist) for the global top-k.
    *
    * Each index partition reconstructs its shard graphs in memory
    * (adjacency remapped to local indices) — or, with a `resident`
    * token, reads them from [[GraphCache]] — and [[ShardServe]] runs
    * every query against every shard and merges the per-shard k
    * results with the bounded TopK aggregate. */
  def search(
      index: Dataset[IndexRow],
      queries: Array[(Long, Array[Float])],
      k: Int,
      beamWidth: Int,
      params: VamanaParams,
      excludeSelf: Boolean = false,
      resident: Option[String] = None): DataFrame =
    ShardServe.serve(index, queries, k, excludeSelf = excludeSelf) { it =>
      shardGraphs(it, params, resident)(identity) { case (g, rows) =>
        graphSearcher(beamWidth)(g, rows(_).vec_id)
      }
    }

  /** Filtered serving — predicate-constrained top-k through the SAME
    * graph, no per-label index (the Filtered-DiskANN serving pattern,
    * Gollapudi et al. WWW'23): the narrow label payload joins the
    * index rows, shard graphs rebuild as usual, and each query runs
    * the kernel's filtered beam search keeping ids whose label is
    * `target`. Traversal stays unfiltered so connectivity is
    * preserved; only result collection filters. The label join is one
    * narrow-column shuffle here — at 100 TB store attributes in the
    * index rows at build time (or co-bucket both tables on vec_id) and
    * it disappears. Widen `beamWidth` ≈ k / selectivity.
    *
    * `tombstones`: optional SORTED delete log (the
    * [[searchExcludingSorted]] convention — broadcast primitive
    * longs, binary-searched once per row). Deleted ids are excluded
    * from RESULTS but keep ROUTING, exactly as in the plain tier
    * (FreshDiskANN lazy delete): a result must carry the target label
    * AND be live, and traversal stays unfiltered either way. */
  def searchFiltered(
      index: Dataset[IndexRow], labels: DataFrame,
      queries: Array[(Long, Array[Float])], k: Int, beamWidth: Int,
      params: VamanaParams, target: Int,
      tombstones: Array[Long] = Array.emptyLongArray): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    // Int.MinValue is the reserved unlabeled sentinel below; a caller
    // targeting it would silently match every unlabeled vector
    require(target != Int.MinValue,
      "label Int.MinValue is reserved as the unlabeled sentinel")
    requireSortedTombstones(tombstones)
    // LEFT join: a vector without a label row must STAY IN THE GRAPH
    // (sentinel label that matches no target) — an inner join removed
    // unlabeled vectors from the traversal itself, fragmenting the
    // shard graphs and collapsing recall whenever the labels frame
    // covers only part of the corpus (a natural way to call this API)
    val Unlabeled = Int.MinValue
    val exB = s.sparkContext.broadcast(tombstones)
    val labeled = index
      .join(labels.select(col("vec_id"), col("label")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"), col("shard"), col("neighbors"),
        coalesce(col("label"), lit(Unlabeled)).as("label"))
      .repartition(col("shard"))
      .as[(Long, Array[Float], Int, Array[Long], Int)]
    ShardServe.serve(labeled, queries, k) { it =>
      // the filter is per graph row: a vec_id with several label rows
      // is several nodes, and only the one carrying `target` qualifies
      val alive = live(exB.value)
      flagged(it.map(t => (IndexRow(t._1, t._2, t._3, t._4), t._5 == target && alive(t._1))),
        params, beamWidth)
    }
  }

  /** Search with a tombstone set excluded from RESULTS but not from
    * TRAVERSAL — the lazy-delete serving mode (the FreshDiskANN
    * pattern, Singh et al. 2021: deleted nodes keep routing until a
    * consolidation pass rewires around them, so recall on the live
    * set does not degrade between compactions). The set is broadcast
    * ONCE as a sorted primitive long array (8 B/id, no boxing — 1e5
    * tombstones = 800 KB) and each kernel consults it by binary
    * search. For logs too large even as a primitive broadcast, use
    * [[searchExcludingDf]] — the fully distributed form. */
  def searchExcluding(
      index: Dataset[IndexRow],
      queries: Array[(Long, Array[Float])],
      k: Int, beamWidth: Int, params: VamanaParams,
      excluded: Set[Long]): DataFrame =
    searchExcludingSorted(index, queries, k, beamWidth, params,
      { val a = excluded.toArray; java.util.Arrays.sort(a); a })

  /** Every kernel binary-searches the tombstone log, so an unsorted
    * one would silently SERVE deleted ids. One driver-side pass at
    * entry — O(n) next to the broadcast — fails loudly instead. */
  private[graft] def requireSortedTombstones(ex: Array[Long]): Unit = {
    var i = 1
    while (i < ex.length) {
      require(ex(i - 1) <= ex(i),
        s"tombstone log must be sorted: ex($i)=${ex(i)} < ex(${i - 1})=${ex(i - 1)}")
      i += 1
    }
  }

  /** [[searchExcluding]] core over an ALREADY-SORTED primitive id
    * array — the no-boxing entry for callers that collect the log
    * straight to Array[Long] ([[StreamingIndex.searchLive]]'s
    * broadcast path). */
  def searchExcludingSorted(
      index: Dataset[IndexRow],
      queries: Array[(Long, Array[Float])],
      k: Int, beamWidth: Int, params: VamanaParams,
      exArr: Array[Long]): DataFrame = {
    requireSortedTombstones(exArr)
    if (exArr.isEmpty) return search(index, queries, k, beamWidth, params)
    val exB = index.sparkSession.sparkContext.broadcast(exArr)
    ShardServe.serve(index, queries, k) { it =>
      val alive = live(exB.value)
      shardGraphs(it, params)(identity) { case (g, rows) =>
        graphSearcher(beamWidth, Some(li => alive(rows(li).vec_id)))(g, rows(_).vec_id)
      }
    }
  }

  /** Distributed form of [[searchExcluding]]: the tombstone log stays
    * a DataFrame end-to-end — it LEFT-joins the index rows as a
    * per-row deleted flag (co-partitioned by shard, the same narrow
    * join shape as [[searchFiltered]]'s labels), so NOTHING
    * materializes on the driver and the log can be arbitrarily large
    * (1e9 deletes between compactions is a join, not an 8 GB driver
    * set). Traversal still routes through tombstoned nodes; only
    * result collection excludes them. */
  def searchExcludingDf(
      index: Dataset[IndexRow],
      tombstones: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int, beamWidth: Int, params: VamanaParams): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    val withFlag = index
      .join(tombstones.select(col("vec_id"), lit(true).as("deleted"))
        .dropDuplicates("vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"), col("shard"), col("neighbors"),
        coalesce(col("deleted"), lit(false)).as("deleted"))
      .repartition(col("shard"))
      .as[(Long, Array[Float], Int, Array[Long], Boolean)]
    ShardServe.serve(withFlag, queries, k) { it =>
      flagged(it.map(t => (IndexRow(t._1, t._2, t._3, t._4), !t._5)), params, beamWidth)
    }
  }

  /** Routed (probed) search — the 100 TB serving path: each query is
    * routed to its `nprobe` nearest shards ([[ShardServe.probe]];
    * `nprobe <= 0` probes every shard, == [[search]]) and ONLY those
    * shards run beam search for it. With shard-partitioned storage
    * the unprobed shards' files are never read for that query, and
    * each shard task searches only the queries routed to it.
    *
    * `routing`: pass the build-time table (from [[cachedRouting]] or
    * [[loadRouting]]). The `None` fallback recomputes it with a full
    * index pass — acceptable only for ad-hoc exploration.
    *
    * `pivots`: when set (from [[pivotTable]]/[[loadPivots]]), shards
    * rank by min distance over the pivot SET instead of the single
    * seed — the no-extra-storage recall lever (an elongated cell's
    * far lobe is represented by its own pivot). Takes precedence
    * over `routing` for ranking; seed routing remains for indexes
    * saved before pivots existed. */
  def searchProbed(
      index: Dataset[IndexRow],
      queries: Array[(Long, Array[Float])],
      k: Int,
      beamWidth: Int,
      params: VamanaParams,
      nprobe: Int,
      excludeSelf: Boolean = false,
      routing: Option[Array[(Int, Array[Float])]] = None,
      distinctMerge: Boolean = false,
      pivots: Option[Array[(Int, Array[Array[Float]])]] = None,
      resident: Option[String] = None): DataFrame = {
    val table: Array[(Int, Array[Array[Float]])] = pivots.getOrElse(
      routing.getOrElse(routingTable(index)).map { case (sh, sv) => (sh, Array(sv)) })
    val routed = ShardServe.route(queries, table, nprobe)
    // warm tier (see [[GraphCache]]): no shard filter on the scan —
    // (token, pid) must name one immutable content — and the
    // harness's per-shard routing prunes work instead; otherwise the
    // partition filter prunes the scan to the probed shards
    val scan =
      if (resident.isDefined) index
      else index.filter(col("shard").isin(routed.keySet.toSeq: _*))
    ShardServe.serve(scan, queries, k, Some(routed), excludeSelf, distinctMerge) { it =>
      shardGraphs(it, params, resident)(identity) { case (g, rows) =>
        graphSearcher(beamWidth)(g, rows(_).vec_id)
      }
    }
  }

  // ---------------------------------------------------------------- queries

  private[graft] val qParams = VamanaParams(
    maxDegree = 32, buildBeamWidth = 64, alpha = 1.2, passes = 1,
    extraSeeds = 1, seed = 42L, metric = "cosine")
  private[graft] val qShards = 8
  private val K = 10
  private val searchBeam = 64

  /** One built+persisted index per sf dir within a JVM — build once,
    * query many (the engine contract; same economics as the reference
    * building `index.db` once and serving from it). */
  private val cache = TrieMap.empty[String, Dataset[IndexRow]]

  def cachedIndex(s: SparkSession, dir: String): Dataset[IndexRow] =
    cache.getOrElseUpdate(dir, {
      val idx = build(Tables.embeddings(s, dir), qParams, qShards).persist()
      idx.count() // materialize
      residentTokens("plain:" + dir) = newToken("plain", dir)
      idx
    })

  /** Resident-tier tokens, minted once per materialized cached index
    * (plain/overlap per dir) — they key [[GraphCache]] entries to
    * ONE immutable build, so a re-built index after [[releaseCaches]]
    * can never be served stale graphs. */
  private val residentTokens = TrieMap.empty[String, String]
  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def newToken(kind: String, dir: String): String =
    s"$kind:$dir:${tokenCounter.incrementAndGet()}"
  private def plainToken(dir: String): Option[String] =
    residentTokens.get("plain:" + dir)
  private def overlapToken(dir: String): Option[String] =
    residentTokens.get("overlap:" + dir)

  /** Build-time routing table, computed once per cached index — the
    * in-JVM analog of reading it back from metadata.json. */
  private val routingCache = TrieMap.empty[String, Array[(Int, Array[Float])]]

  def cachedRouting(s: SparkSession, dir: String): Array[(Int, Array[Float])] =
    routingCache.getOrElseUpdate(dir, routingTable(cachedIndex(s, dir)))

  /** Build-time pivot table (pivot-set routing), cached like
    * [[cachedRouting]]. */
  private val pivotCache = TrieMap.empty[String, Array[(Int, Array[Array[Float]])]]

  def cachedPivots(s: SparkSession, dir: String): Array[(Int, Array[Array[Float]])] =
    pivotCache.getOrElseUpdate(dir, pivotTable(cachedIndex(s, dir)))

  private val overlapPivotCache = TrieMap.empty[String, Array[(Int, Array[Array[Float]])]]

  def cachedOverlapPivots(s: SparkSession, dir: String): Array[(Int, Array[Array[Float]])] =
    overlapPivotCache.getOrElseUpdate(dir,
      pivotTablePrimary(cachedOverlapIndex(s, dir),
        split = cachedOverlapSplit(s, dir)))

  /** Overlap-2 index, cached like [[cachedIndex]]. Routing comes from
    * the overlapped rows themselves (same lowest-id rule; seeds are
    * primary-only so the PARENT seed table is identical to the plain
    * build's). The capped build's split factor is cached alongside —
    * primary pivot sampling needs it. */
  private val overlapCache = TrieMap.empty[String, Dataset[IndexRow]]
  private val overlapRoutingCache = TrieMap.empty[String, Array[(Int, Array[Float])]]
  private val overlapSplitCache = TrieMap.empty[String, Int]

  def cachedOverlapIndex(s: SparkSession, dir: String): Dataset[IndexRow] =
    overlapCache.getOrElseUpdate(dir, {
      val (built, split) =
        buildOverlappedCapped(Tables.embeddings(s, dir), qParams, qShards)
      overlapSplitCache(dir) = split
      val idx = built.persist()
      idx.count()
      residentTokens("overlap:" + dir) = newToken("overlap", dir)
      idx
    })

  private[graft] def cachedOverlapSplit(s: SparkSession, dir: String): Int = {
    cachedOverlapIndex(s, dir) // ensure the build (and its split) exists
    overlapSplitCache.getOrElse(dir, 1)
  }

  def cachedOverlapRouting(s: SparkSession, dir: String): Array[(Int, Array[Float])] =
    overlapRoutingCache.getOrElseUpdate(dir, routingTable(cachedOverlapIndex(s, dir)))

  /** Unpersist and drop the in-memory index caches (plain + overlap)
    * and their routing tables — bench end-of-run hygiene after the
    * serving probes complete. The sharded-files export is disk, not
    * storage memory, and keeps its TempCleanup lifetime. */
  def releaseCaches(): Unit = {
    Seq(cache, overlapCache).foreach { c =>
      c.keys.foreach { k =>
        c.remove(k).foreach { ds =>
          try ds.unpersist(blocking = true) catch { case _: Throwable => }
        }
      }
    }
    routingCache.clear(); overlapRoutingCache.clear()
    pivotCache.clear(); overlapPivotCache.clear(); overlapSplitCache.clear()
    GraphCache.clear(); residentTokens.clear(); queriesCache.clear()
  }

  /** The standard serving query batch, memoized per sf dir: a serving
    * run holds its query workload in hand — re-scanning the corpus
    * parquet for the SAME deterministic batch on every serve call was
    * a measured ~0.15–0.23 s fixed cost per run at sf0.1 (≈ half the
    * job-path serve wall), all of it artifact, none of it serving.
    * The batch is n/50 rows of dim floats (sf10: ~1 MB; the ×1000
    * rehearsal: ~10 MB) — driver-resident is the right home.
    * Released with the index caches ([[releaseCaches]]). */
  private val queriesCache = TrieMap.empty[String, Array[(Long, Array[Float])]]

  private[graft] def queriesArr(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    queriesCache.getOrElseUpdate(dir, {
      import s.implicits._
      Tables.embeddings(s, dir).filter($"vec_id" % 50 === 0)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .collect().sortBy(_._1)
    })

  /** Degree histogram of the built graph (rows-only: stochastic-free
    * but graph-build is not SQL-expressible). */
  def qVamanaDegree(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cachedIndex(s, dir)
      .select(size($"neighbors").as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"degree")
  }

  /** Beam-search top-10 for the standard query set (self excluded, to
    * line up with the exact ground truth for recall). */
  def qVamanaSearch(s: SparkSession, dir: String): DataFrame =
    search(cachedIndex(s, dir), queriesArr(s, dir), K, searchBeam, qParams,
      excludeSelf = true, resident = plainToken(dir))

  /** Routed search at nprobe=4 of 8 shards — the partition-pruned
    * serving path, ranking shards by the pivot SET (rows-only; recall
    * bounds pinned in ProbedSearchSpec). */
  def qVamanaProbed(s: SparkSession, dir: String): DataFrame =
    searchProbed(cachedIndex(s, dir), queriesArr(s, dir), K, searchBeam, qParams,
      nprobe = 4, excludeSelf = true, pivots = Some(cachedPivots(s, dir)),
      resident = plainToken(dir))

  /** Routed search over the OVERLAPPED index — same queries, knobs,
    * and nprobe as [[qVamanaProbed]], so the two rows-only results
    * isolate exactly what boundary replication buys: recall at equal
    * probe fan-out (floors pinned in OverlapSpec). Merge is
    * id-distinct — a replicated neighbor arrives from every probed
    * shard that holds it. */
  def qOverlapServe(s: SparkSession, dir: String): DataFrame =
    searchProbed(cachedOverlapIndex(s, dir), queriesArr(s, dir), K, searchBeam,
      qParams, nprobe = 4, excludeSelf = true,
      pivots = Some(cachedOverlapPivots(s, dir)), distinctMerge = true,
      resident = overlapToken(dir))

  /** recall@10 of the overlapped probed config (Bench's
    * `recall_overlap`, paired with `qps_overlap`). */
  def probedRecallOverlap(s: SparkSession, dir: String): Double =
    recallDf(qOverlapServe(s, dir), VectorQueries.qKnnExact(s, dir))
      .head().getDouble(0)

  /** k-aware routed-serving dispatcher — THE documented serving
    * schedule for partition-pruned search (persisted to every saved
    * index's metadata.json as the `serving` block; floors per point
    * pinned in ProbedSearchSpec):
    *   - k ≤ [[LargeKThreshold]] → plain index, pivot-set routing at
    *     nprobe=[[ServeNprobe]] (recall@10 0.83–0.94 at sf0.1, zero
    *     extra storage).
    *   - k > [[LargeKThreshold]] → overlap-2 index at the SAME
    *     nprobe=[[ServeNprobe]]: large-k recall is routing-limited,
    *     not beam-limited (sf0.1: plain recall@100 plateaus at 0.626
    *     for beam 2k→4k, while nprobe 4→6→8 gives 0.63→0.83→1.0),
    *     and boundary replication recovers the cross-cell tail
    *     without raising probe fan-out: overlap-2 recall@100 = 0.856
    *     at nprobe=4 (0.978 at 6). The trade is 2× index storage —
    *     bounded and predictable — versus scaling PROBE cost with k
    *     (plain would need 6 of 8 shards per query for the same
    *     recall, unacceptable at 1000-shard scale where per-query
    *     shard reads are the serving cost).
    *   - `highRecall = true` → [[HighRecallNprobe]]=6 on the
    *     k-selected tier: the documented step up when a caller wants
    *     recall ≥ 0.95 at k=100 (overlap recall@100 0.978 measured)
    *     and accepts 1.5× probe fan-out. nprobe stays THE recall
    *     lever beyond that — not beam, which the sweep showed
    *     saturated.
    * Beam stays max(searchBeam, 2·k) per the reference's
    * beam_width ≥ k contract (lib.rs:640-644). */
  val LargeKThreshold = 32
  val ServeNprobe = 4
  val HighRecallNprobe = 6
  def searchRouted(s: SparkSession, dir: String,
      queries: Array[(Long, Array[Float])], k: Int,
      highRecall: Boolean = false): DataFrame = {
    val beam = math.max(searchBeam, 2 * k)
    val np = if (highRecall) HighRecallNprobe else ServeNprobe
    if (k <= LargeKThreshold)
      searchProbed(cachedIndex(s, dir), queries, k, beam, qParams,
        nprobe = np, excludeSelf = true, pivots = Some(cachedPivots(s, dir)),
        resident = plainToken(dir))
    else
      searchProbed(cachedOverlapIndex(s, dir), queries, k, beam, qParams,
        nprobe = np, excludeSelf = true,
        pivots = Some(cachedOverlapPivots(s, dir)), distinctMerge = true,
        resident = overlapToken(dir))
  }

  /** The serving schedule as persisted JSON — one normative copy,
    * written into every saved index's metadata.json so an operator
    * reading the index directory sees the k→(tier, nprobe, beam)
    * dispatch rule [[searchRouted]] implements, not just its code. */
  private[graft] def servingScheduleJson: String =
    s"""{"dispatch_k_threshold":$LargeKThreshold,""" +
      s""""points":[{"k":"<=$LargeKThreshold","tier":"plain","nprobe":$ServeNprobe,"beam":"max($searchBeam,2k)"},""" +
      s"""{"k":">$LargeKThreshold","tier":"overlap2","nprobe":$ServeNprobe,"beam":"max($searchBeam,2k)"},""" +
      s"""{"k":"any","mode":"high_recall","tier":"k-selected","nprobe":$HighRecallNprobe,"beam":"max($searchBeam,2k)"}]}"""

  /** Mean recall of `approx` against `exact` (both (q_id,
    * neighbor_id) result sets) — the evaluation every reference
    * example runs (examples/diskann_sift.rs:58-98).
    *
    * INPUT CONTRACT: both sides must be query-batch-bounded
    * (nQueries·k rows) — the helper broadcast-hints the approx set
    * and the per-query hit counts, so a caller handing it a
    * corpus-sized frame would pay driver collection (or OOM) instead
    * of falling back to a shuffled join. Every in-repo caller passes
    * search results of a bounded query batch; keep it that way or
    * drop the hints at the call site. */
  def recallDf(approx: DataFrame, exact: DataFrame): DataFrame = {
    val s = approx.sparkSession
    import s.implicits._
    // every caller passes query-batch-bounded result sets (nQueries·k
    // rows), so the semi-join probe side and the per-query hit counts
    // broadcast — no exchange+sort pair on either side of either join
    val a = approx.select($"q_id", $"neighbor_id")
    val e = exact.select($"q_id", $"neighbor_id")
    val hit = e.join(broadcast(a), Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("hits"))
    e.groupBy($"q_id").agg(count(lit(1)).as("total"))
      .join(broadcast(hit), Seq("q_id"), "left")
      .select($"q_id", (coalesce($"hits", lit(0)) / $"total").as("recall"))
      .agg(round(avg($"recall"), 4).as("mean_recall"), count(lit(1)).as("n_queries"))
  }

  /** THRESHOLD recall: the fraction of returned neighbors whose
    * distance is within the true k-th distance — the tie-tolerant
    * recall flavor the reference reports NEXT TO id recall
    * (examples/diskann_skewed.rs:146-185 computes both; with distance
    * ties, a returned neighbor at exactly the k-th distance counts
    * even when its id differs from the ground-truth set's pick).
    * Both inputs are (q_id, …, dist) result frames; `exact` defines
    * the per-query threshold. ≥ id recall by construction. */
  def thresholdRecallDf(approx: DataFrame, exact: DataFrame): DataFrame = {
    val s = approx.sparkSession
    import s.implicits._
    val kth = exact.groupBy($"q_id")
      .agg(max($"dist").as("gt_kth"), count(lit(1)).as("total"))
    // LEFT join FROM the exact side: a query with ground truth but no
    // approx rows must average in as recall 0, not vanish — an inner
    // join would silently overstate the mean and report an n_queries
    // inconsistent with recallDf's
    val hits = approx.select($"q_id", $"dist".as("a_dist"))
      .join(kth.select($"q_id", $"gt_kth"), Seq("q_id"))
      .groupBy($"q_id")
      .agg(sum(when($"a_dist" <= $"gt_kth", 1L).otherwise(0L)).as("hits"))
    kth.join(hits, Seq("q_id"), "left")
      .select($"q_id",
        (least(coalesce($"hits", lit(0L)), $"total") / $"total").as("recall"))
      .agg(round(avg($"recall"), 4).as("threshold_recall"),
        count(lit(1)).as("n_queries"))
  }

  /** Label-filtered top-k through the graph (target label 3, ~10% of
    * the corpus; beam widened 4× for the selectivity) — rows-only,
    * recall floors pinned in FilteredSearchSpec. */
  def qVamanaFiltered(s: SparkSession, dir: String): DataFrame =
    searchFiltered(cachedIndex(s, dir),
      Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
      queriesArr(s, dir), K, searchBeam * 4, qParams, target = 3)

  /** Lazy-delete serving: every 7th vector tombstoned (~14% of the
    * corpus), results exclude them while traversal still routes
    * through them — rows-only; tombstone exclusion and live-set
    * recall floors pinned in DeleteSpec. */
  def qVamanaDeleted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // tombstones stay a DataFrame end-to-end (searchExcludingDf joins
    // them in as a deleted flag) — no driver-side id set at any scale
    val tombs = Tables.embeddings(s, dir).select($"vec_id")
      .filter($"vec_id" % 7 === 0)
    searchExcludingDf(cachedIndex(s, dir), tombs, queriesArr(s, dir), K,
      searchBeam, qParams)
  }

  /** One sharded-files export per (sf dir, JVM) for [[qShardedServe]]
    * — export-once/serve-many, like every index cache here. */
  private val shardedDirCache = TrieMap.empty[String, String]

  private def cachedShardedDir(s: SparkSession, dir: String): String =
    shardedDirCache.getOrElseUpdate(dir, {
      val sf = dir.replaceAll(".*/", "")
      val path = graft.TempCleanup.onExit(
        s"/tmp/graft_sharded_${sf}_${s.sparkContext.applicationId}")
      SingleFileIndex.exportSharded(cachedIndex(s, dir), qParams, path)
      path
    })

  /** Probed serving over the sharded-files tier (one mmap'd
    * reference-layout file per shard + manifest routing) — rows-only
    * in the driver gate; row-identity with the in-memory tier is
    * pinned in ShardedFilesSpec. */
  def qShardedServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qdf = queriesArr(s, dir).toSeq.toDF("q_id", "qv")
    SingleFileIndex.serveSharded(qdf, cachedShardedDir(s, dir), K, searchBeam,
      nprobe = 4)
  }

  /** Sequential per-query wall latencies (seconds) through the
    * RESIDENT local handle over the sharded-files tier
    * ([[SingleFileIndex.LocalSharded]]) — the reference's latency
    * protocol (perf_test.rs measures sub-ms per query against a
    * resident index). [[probedLatencies]] times the same work through
    * a Spark job per query, which measures job-scheduling overhead,
    * not search cost; this is the honest single-query line. Results
    * are spec-pinned identical to the job path (ShardedFilesSpec). */
  def localLatencies(s: SparkSession, dir: String): Array[Double] = {
    val handle = new SingleFileIndex.LocalSharded(s, cachedShardedDir(s, dir))
    try {
      val qs = latencySample(queriesArr(s, dir))
      // one warm pass so mmap page faults don't bill the first queries
      qs.take(32).foreach { case (_, qv) => handle.search(qv, K, searchBeam, nprobe = 4) }
      qs.map { case (_, qv) =>
        val t0 = System.nanoTime()
        handle.search(qv, K, searchBeam, nprobe = 4)
        (System.nanoTime() - t0) / 1e9
      }
    } finally handle.close()
  }

  /** recall@10 of the full (unrouted) beam search vs brute force —
    * both flavors the reference evaluates side by side
    * (diskann_skewed.rs:182-189): id recall and tie-tolerant
    * threshold recall in one row. Both result sets materialize ONCE
    * (they are query-batch-bounded: nQueries·k rows) and both metrics
    * compute from the collected arrays — a crossJoin of two
    * independent aggregations re-executed the uncached beam-search
    * and brute-force subtrees per branch. */
  def qVamanaRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val approx = qVamanaSearch(s, dir)
      .select($"q_id", $"neighbor_id", $"dist")
      .as[(Long, Long, Double)].collect()
    val exact = VectorQueries.qKnnExact(s, dir)
      .select($"q_id", $"neighbor_id", $"dist")
      .as[(Long, Long, Double)].collect()
    val exactByQ = exact.groupBy(_._1)
    val approxByQ = approx.groupBy(_._1)
    // map over a SEQ of the entries, not the Map: a Map.map whose
    // result is a (Double, Double) pair builds a new MAP keyed by
    // idRecall — per-query entries with equal recalls silently
    // collapse, skewing the mean and undercounting n_queries (caught
    // r11 when the ivecs file loop reported the true query count)
    val perQ = exactByQ.toSeq.map { case (q, e) =>
      val a = approxByQ.getOrElse(q, Array.empty[(Long, Long, Double)])
      val idRecall = (e.map(_._2).toSet intersect a.map(_._2).toSet).size
        .toDouble / e.length
      val gtKth = e.map(_._3).max
      val thr = math.min(a.count(_._3 <= gtKth), e.length).toDouble / e.length
      (idRecall, thr)
    }
    val n = perQ.size
    // HALF_UP, matching Spark round() in recallDf/thresholdRecallDf —
    // one rounding rule for every recall report (math.rint is
    // half-even and can differ in the last digit at .xxxx5)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((r4(perQ.map(_._1).sum / n), n.toLong, r4(perQ.map(_._2).sum / n)))
      .toDF("mean_recall", "n_queries", "threshold_recall")
  }

  /** Dense 0-based rank of a single-column id frame in ascending id
    * order, fully distributed: repartitionByRange assigns ascending
    * value ranges to ascending partition ids, the in-partition sort
    * orders within each range, and RDD.zipWithIndex adds the
    * partition-count prefix offsets — the same global total order a
    * `row_number() over (order by id)` window yields, without ever
    * moving the data to one partition. Ids must be unique (vec_ids
    * are) — ties would make the rank nondeterministic. */
  private def denseRank(ids: DataFrame, rankCol: String): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    val idCol = ids.columns.head
    ids.select(col(idCol).cast("long"))
      .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
      .as[Long].rdd.zipWithIndex.toDF(idCol, rankCol)
  }

  /** [[denseRank]] for the stage-level profiler
    * ([[graft.examples.ProfileRecallIvecs]]) — same kernel, test/
    * diagnostics visibility only. */
  private[graft] def denseRankPublic(ids: DataFrame, rankCol: String): DataFrame =
    denseRank(ids, rankCol)

  /** The reference's ACTUAL benchmark evaluation protocol, end to end
    * through the ground-truth FILE (examples/diskann_sift.rs:58-98 and
    * bigann.rs read a `.ivecs` ground-truth file and score recall
    * against it — never against a recomputed in-engine truth): exact
    * kNN → exported as `.ivecs` with the benchmark formats' POSITIONAL
    * id convention → read back via `spark.read.format("ivecs")` → the
    * graph search scored against the file's lists. A user with real
    * SIFT/BigANN ground-truth artifacts runs exactly the read-back +
    * scoring half. Output: one row (mean_recall, n_queries) where
    * n_queries counts the FILE's records.
    *
    * Positional mapping: .ivecs carries no ids — a record is query
    * rank, values are corpus ranks. The rank map is a DISTRIBUTED
    * dense rank over vec_id ([[denseRank]]: range repartition +
    * in-partition sort + RDD.zipWithIndex partition offsets), not a
    * single-partition global window — the map stays sharded at any
    * corpus size. Scoring joins are all distributed; the spec pins
    * file-sourced recall == the in-engine [[qVamanaRecall]] figure. */
  def qRecallIvecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sf = dir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_")
    val path = graft.TempCleanup.onExit(
      s"/tmp/graft_gt_${sf}_${s.sparkContext.applicationId}.ivecs")
    // corpus rank map: position of each vec_id in vec_id order — the
    // identity the file format stores. localCheckpoint: TWO consumers
    // (the gt export join and the file-side mapping join) read one
    // materialization of the range-repartition + zipWithIndex chain —
    // without it the whole denseRank (a corpus shuffle plus the
    // zipWithIndex count job) re-ran per consumer, and AGAIN per
    // branch of recallDf's two aggregations
    val pos = denseRank(Tables.embeddings(s, dir).select($"vec_id"), "pos")
      .withColumn("pos", $"pos".cast("int"))
      .localCheckpoint()
    val exact = VectorQueries.qKnnExact(s, dir)
    // neighbors as positions, rank-ordered per query; query record
    // order is q_id order (writeIvecs sorts by query_id). The exact
    // result is query-batch-bounded (nQueries·k rows) — broadcast it
    // so the corpus-sized rank map streams through a BroadcastHashJoin
    // instead of both sides paying a SortMergeJoin exchange+sort
    val gtRows = broadcast(exact)
      .join(pos.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .groupBy($"q_id".as("query_id"))
      .agg(array_sort(collect_list(struct($"rank", $"pos"))).as("rp"))
      .select($"query_id", expr("transform(rp, x -> x.pos)").as("neighbors"))
    graft.sources.VecsFormats.writeIvecs(gtRows, path)
    // read the FILE back: query_id is now the query's rank; map both
    // sides back to vec_ids and score the graph search against it.
    // The rank map derives from the QUERY-SET definition (every 50th
    // vector — the same subset qKnnExact uses), not from the exact
    // results: re-deriving it from `exact` would re-execute the whole
    // brute-force kNN subtree a second time just to list its q_ids
    val qpos = denseRank(Tables.embeddings(s, dir)
      .filter($"vec_id" % 50 === 0).select($"vec_id".as("q_id")), "qrank")
    // both file-side joins build from the bounded side: the exploded
    // file rows (nQueries·k) broadcast against the corpus rank map;
    // localCheckpoint because recallDf evaluates its `exact` argument
    // twice (hit semi-join + per-query totals) and the file subtree
    // (DSv2 scan + two joins + both rank maps) re-ran per branch
    val fileGt = broadcast(s.read.format("ivecs").load(path)
      .select($"query_id".as("qrank"), explode($"neighbors").as("pos"))
      .join(broadcast(qpos), Seq("qrank")))
      .join(pos, Seq("pos"))
      .select($"q_id", $"vec_id".as("neighbor_id"))
      .localCheckpoint()
    // n_queries counts the FILE's record set — a lossy round-trip
    // (missing/extra records) shifts it off the query-set size, which
    // the spec pins against the in-engine evaluation's count
    recallDf(qVamanaSearch(s, dir), fileGt)
  }

  /** recall@10 of the PROBED serving config (what Bench pairs with its
    * QPS figure, matching the reference's recall+QPS reporting). */
  def probedRecall(s: SparkSession, dir: String): Double =
    recallDf(qVamanaProbed(s, dir), VectorQueries.qKnnExact(s, dir))
      .head().getDouble(0)

  /** recall@k of the probed config at arbitrary k (the reference's
    * BigANN evaluation reports k=10 AND k=100, examples/bigann.rs:
    * 334-338). The beam scales to 2·k (the reference's beam_width ≥ k
    * contract, lib.rs:640-644, plus headroom: a beam equal to k has
    * zero exploration slack and caps recall well below 1 at large k —
    * r7 measured 0.65 at k=100 with beam=k). */
  def probedRecallAt(s: SparkSession, dir: String, k: Int,
      highRecall: Boolean = false): Double = {
    val approx = searchRouted(s, dir, queriesArr(s, dir), k, highRecall)
    recallDf(approx, VectorQueries.qKnnExactK(s, dir, k)).head().getDouble(0)
  }

  /** recall@k of the FULL (all-shard) search at beam 4·k — the
    * high-recall k=100 operating point next to the routed one
    * (reference bigann.rs reports the k=100 row at full search). */
  def fullRecallAt(s: SparkSession, dir: String, k: Int): Double = {
    val approx = search(cachedIndex(s, dir), queriesArr(s, dir), k,
      math.max(searchBeam, 4 * k), qParams, excludeSelf = true,
      resident = plainToken(dir))
    recallDf(approx, VectorQueries.qKnnExactK(s, dir, k)).head().getDouble(0)
  }

  /** Sequential per-query wall latencies (seconds) of the probed
    * serving config — the reference measures per-query latency one
    * query at a time (perf_test.rs:100), vs the batch QPS figure.
    * Each element times one single-query probed search end-to-end
    * (routing + beam + merge) against the cached index. */
  def probedLatencies(s: SparkSession, dir: String): Array[Double] = {
    val idx = cachedIndex(s, dir)
    val pivots = cachedPivots(s, dir)
    withAqeOff(s) {
      latencySample(queriesArr(s, dir)).map { q =>
        val t0 = System.nanoTime()
        searchProbed(idx, Array(q), K, searchBeam, qParams, nprobe = 4,
          excludeSelf = true, pivots = Some(pivots),
          resident = plainToken(dir))
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
    }
  }

  /** Run `body` with adaptive query execution off, restoring the
    * session's setting after. A single-query serve job is a FIXED
    * tiny plan (one scan-and-search stage into a ≤k·nprobe-row top-k
    * exchange): AQE's per-exchange stage materialization and runtime
    * re-planning are pure driver round-trips on it — measured at
    * sf0.1, disabling AQE cuts single-query job p95 from ~252–298 ms
    * to ~175–209 ms at identical results. Batch serving keeps AQE
    * (coalescing pays there); only the per-query latency protocol —
    * the shape a production point-query path would pin — turns it
    * off. */
  private def withAqeOff[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }

  /** Latency probes time queries ONE AT A TIME, so their cost is
    * per-query wall × |sample| — at sf10's 40k-query set the job-path
    * probe alone would run ~100 min of scheduler overhead (r10: Bench
    * at sf10 sat single-threaded in probedLatencies for 20+ min before
    * being killed). Percentile estimates don't need the whole set: an
    * id-ordered stride of ≤512 spans the full id range, stays
    * deterministic (same sample every run at a given SF), and bounds
    * both probes at minutes regardless of corpus size. */
  private val LatencySampleMax = 512
  private def latencySample(
      qs: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] = {
    if (qs.length <= LatencySampleMax) qs
    else {
      val step = (qs.length + LatencySampleMax - 1) / LatencySampleMax
      qs.indices.collect { case i if i % step == 0 => qs(i) }.toArray
    }
  }

  /** Graph-quality diagnostic: fraction of each shard reachable by BFS
    * from its entry point — the navigability property Vamana's
    * bootstrap + reverse-edge merge must maintain (a disconnected
    * shard silently caps recall). */
  def qVamanaReach(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = qParams
    cachedIndex(s, dir).mapPartitions { it =>
      val rows = it.toArray
      rows.groupBy(_.shard).iterator.map { case (shard, group) =>
        // BFS from the shard's MEDOID — the entry point beam search
        // actually uses — not from an arbitrary node
        val (g, _) = rebuildShardGraph(group, p)(identity)
        val n = g.n
        val seen = new Array[Boolean](n)
        var frontier = List(g.medoid)
        seen(g.medoid) = true
        var reached = 1
        while (frontier.nonEmpty) {
          val next = scala.collection.mutable.ListBuffer.empty[Int]
          frontier.foreach { u =>
            g.graph(u).foreach { nb =>
              if (!seen(nb)) { seen(nb) = true; reached += 1; next += nb }
            }
          }
          frontier = next.toList
        }
        (shard, n.toLong, math.round(reached.toDouble / n * 10000) / 10000.0)
      }
    }.toDF("shard", "n_nodes", "reachable_frac").orderBy($"shard")
  }

  /** Persistence round-trip: save → load → metadata + integrity row. */
  def qIndexMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // applicationId-scoped path: concurrent same-sf runs must not
    // clobber each other's round-trip directory; deleted at JVM exit
    val sf = dir.replaceAll(".*/", "")
    val path = graft.TempCleanup.onExit(
      s"/tmp/graft_index_${sf}_${s.sparkContext.applicationId}")
    save(cachedIndex(s, dir), qParams, path)
    // the integrity row aggregates the RELOADED files; its stats need
    // only (shard, degree), so aggregate the reload scan directly —
    // load()'s per-shard re-clustering exchange exists for serving,
    // not for a 4-scalar aggregate, and column pruning drops the
    // embedding/adjacency payloads from the read (§6; same values,
    // rows-only spec pins them). load() itself stays covered by the
    // handed-over-index serving paths and its spec.
    val re = s.read.parquet(s"$path/graph")
      .select($"shard", size($"neighbors").as("deg"))
    val meta = loadMeta(path)
    re.agg(
      count(lit(1)).as("num_vectors"),
      countDistinct($"shard").as("num_shards"),
      max($"deg").as("max_degree"),
      round(avg($"deg"), 4).as("avg_degree"))
      .withColumn("meta_format",
        lit(if (meta.contains("graft-vamana-v1")) "graft-vamana-v1" else "corrupt"))
  }

  /** Vector retrieval by id through the SERVED index (reference
    * `get_vector`, lib.rs:724) — the stored index rows, not the source
    * table, answer the lookup, proving the index preserves its vectors
    * bit-exactly. Because retrieval is exact, this one gets a FULL SQL
    * oracle over the embeddings table (unlike the stochastic graph
    * queries): norms computed from the index must hash-match norms
    * computed from the source parquet. The filter prunes on the stored
    * `vec_id` column before any vector math — at scale this is an
    * id-indexed point-lookup family, not a scan of vector payloads. */
  def qGetVector(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cachedIndex(s, dir)
      .filter($"vec_id" % 25 === 0)
      .select($"vec_id", size($"embedding").as("dim"),
        round(sqrt(graft.functions.VectorExprs.dotProduct($"embedding", $"embedding")), 4)
          .as("l2_norm"))
      .orderBy($"vec_id")
  }

  val qGetVectorSql: String =
    """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
      |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                              CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
      |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_get_vector" -> (qGetVector(_, _)),
    "q_vamana_filtered" -> (qVamanaFiltered(_, _)),
    "q_vamana_stitched" -> (StitchedIndex.qVamanaStitched(_, _)),
    "q_vamana_deleted" -> (qVamanaDeleted(_, _)),
    "q_sharded_serve" -> (qShardedServe(_, _)),
    "q_vamana_degree" -> (qVamanaDegree(_, _)),
    "q_vamana_search" -> (qVamanaSearch(_, _)),
    "q_vamana_probed" -> (qVamanaProbed(_, _)),
    "q_overlap_serve" -> (qOverlapServe(_, _)),
    "q_vamana_reach" -> (qVamanaReach(_, _)),
    "q_vamana_recall" -> (qVamanaRecall(_, _)),
    "q_recall_ivecs" -> (qRecallIvecs(_, _)),
    "q_index_meta" -> (qIndexMeta(_, _)))

  /** Approximate/graph ops are rows-only (SURVEY.md §2.B); exact
    * retrieval is hash-checked. */
  val oracles: Map[String, String] = Map("q_get_vector" -> qGetVectorSql)
}
