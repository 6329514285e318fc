package graft.index

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.operators.VectorQueries

/** One shard's search: a query vector and k → up to k (global id,
  * dist) pairs, ascending. */
private[index] trait ShardSearcher {
  def search(q: Array[Float], k: Int): Array[(Long, Double)]

  /** Release what the searcher holds open (a mapped file). */
  def close(): Unit = ()
}

/** The batch graph-serving harness behind every sharded search
  * surface ([[VamanaIndex]], [[HnswIndex]], [[StitchedIndex]] and the
  * sharded-files tier of [[SingleFileIndex]]). An entry point prepares
  * its input Dataset (joins, filters, repartition) and supplies a
  * per-partition function from rows to `(shard, open searcher)`; the
  * harness owns everything around the per-shard search:
  *   - one broadcast of the query batch (or of its per-shard routing);
  *   - per-shard query selection, and skipping a shard with no
  *     queries before its searcher is opened (no graph rebuild, no
  *     mmap);
  *   - the `excludeSelf` rule: search k + 1, drop `q_id == nid`;
  *   - materialising each shard's rows before its searcher closes;
  *   - the `(q_id, nid, dist)` frame and the bounded TopK merge
  *     ([[VectorQueries.topkExplode]]).
  * The shard loop exists once here, so per-shard work is counted here. */
private[index] object ShardServe {

  type Queries = Array[(Long, Array[Float])]

  /** The shard-routing rule: positions of `shards` ranked by
    * (min distance from `q` to the shard's pivot set, shard id), the
    * first `nprobe` kept; `nprobe <= 0` keeps every shard. */
  def probe(q: Array[Float], shards: Array[Int], pivots: Array[Array[Array[Float]]],
      nprobe: Int): Array[Int] = {
    val d = new Array[Double](shards.length)
    var i = 0
    while (i < d.length) { d(i) = VamanaIndex.pivotDist(q, pivots(i)); i += 1 }
    val ranked = Array.range(0, shards.length).sortBy(j => (d(j), shards(j)))
    if (nprobe <= 0) ranked else ranked.take(nprobe)
  }

  /** [[probe]] over a query batch: shard → the queries routed to it,
    * in batch order. */
  def route(queries: Queries, table: Array[(Int, Array[Array[Float]])],
      nprobe: Int): Map[Int, Queries] = {
    val shards = table.map(_._1)
    val pivots = table.map(_._2)
    queries.flatMap { q =>
      probe(q._2, shards, pivots, nprobe).map(i => (shards(i), q))
    }.groupBy(_._1).map { case (shard, rows) => shard -> rows.map(_._2) }
  }

  /** The shard graphs `G` of one partition of rows `R`, opened into
    * `A`. Under a `resident` token every shard graph of the partition
    * is rebuilt once per (token, partition) and held in [[GraphCache]]
    * (`bytes` estimates each row's share); otherwise rows are grouped
    * by shard and a graph is rebuilt only when the harness opens its
    * shard. */
  def shardGraphs[R: ClassTag, G, A](it: Iterator[R], resident: Option[String])(
      shard: R => Int, rebuild: Array[R] => G, bytes: R => Long)(
      open: G => A): Iterator[(Int, () => A)] = resident match {
    case Some(token) =>
      GraphCache.getOrLoad(token, TaskContext.getPartitionId()) {
        val rows = it.toArray
        (rows.groupBy(shard).map { case (sh, group) => sh -> rebuild(group) },
          rows.iterator.map(bytes).sum)
      }.iterator.map { case (sh, g) => (sh, () => open(g)) }
    case None =>
      it.toArray.groupBy(shard).iterator.map { case (sh, group) =>
        (sh, () => open(rebuild(group)))
      }
  }

  /** One shard's rows sorted by id, prepared for a graph rebuild:
    * (sorted rows, dim, vectors flattened row-major, [[localIds]] over
    * the sorted ids). */
  def localize[R](group: Array[R])(id: R => Long, vec: R => Array[Float])
      : (Array[R], Int, Array[Float], Array[Long] => Array[Int]) = {
    val sorted = group.sortBy(id)
    val n = sorted.length
    val dim = if (n == 0) 0 else vec(sorted(0)).length
    val flat = new Array[Float](n * dim)
    var i = 0
    while (i < n) { System.arraycopy(vec(sorted(i)), 0, flat, i * dim, dim); i += 1 }
    (sorted, dim, flat, localIds(sorted.map(id)))
  }

  /** Global → local neighbor remap for a shard whose row i has id
    * `ids(i)`: ids outside the shard are dropped. */
  def localIds(ids: Array[Long]): Array[Long] => Array[Int] = {
    val g2l = new java.util.HashMap[java.lang.Long, Integer](ids.length * 2)
    ids.indices.foreach(i => g2l.put(ids(i), i))
    nbrs => {
      val out = new ArrayBuffer[Int](nbrs.length)
      var t = 0
      while (t < nbrs.length) {
        val lo = g2l.get(nbrs(t))
        if (lo != null) out += lo.intValue()
        t += 1
      }
      out.toArray
    }
  }

  /** Serve `queries` over the shards `searchers` yields for each
    * partition of `rows`, and merge the global top-k as
    * (q_id, rank, neighbor_id, dist). `routed` = None sends every
    * query to every shard; otherwise a shard answers only its routed
    * queries. `distinctIds` keeps one entry per id in the merge
    * (replicated ids in overlapped tiers). */
  def serve[T](rows: Dataset[T], queries: Queries, k: Int,
      routed: Option[Map[Int, Queries]] = None, excludeSelf: Boolean = false,
      distinctIds: Boolean = false)(
      searchers: Iterator[T] => Iterator[(Int, () => ShardSearcher)]): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val qB = s.sparkContext.broadcast(routed.toRight(queries))
    // search past k when dropping self so k true neighbors remain
    val kLocal = if (excludeSelf) k + 1 else k
    val perShard = rows.mapPartitions { it =>
      val batch = qB.value
      searchers(it).flatMap { case (shard, open) =>
        val mine = batch.fold(identity, _.getOrElse(shard, Array.empty[(Long, Array[Float])]))
        if (mine.isEmpty) Iterator.empty
        else {
          val searcher = open()
          try {
            val out = new ArrayBuffer[(Long, Long, Double)](mine.length * kLocal)
            mine.foreach { case (q, qv) =>
              searcher.search(qv, kLocal).foreach { case (nid, d) =>
                if (!(excludeSelf && q == nid)) out += ((q, nid, d))
              }
            }
            out.iterator
          } finally searcher.close()
        }
      }
    }.toDF("q_id", "nid", "dist")
    VectorQueries.topkExplode(perShard, k, distinctIds)
  }
}
