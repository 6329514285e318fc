package graft.index

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

/** Executor-resident shard-graph cache — the warm serving tier of the
  * Spark job path, one cache for every index family ([[VamanaIndex]],
  * [[HnswIndex]]) under one byte budget. Every serve job used to pay
  * deserialization of the persisted rows PLUS a shard-graph rebuild
  * per shard per run; a long-lived serving executor does that work
  * ONCE (the same "build once, serve many" economics as the reference
  * loading `index.db` once — and as this repo's own resident file
  * handle, whose per-query cost is ~300× below the job path's).
  *
  * Keyed by (index token, partition id): a token names one immutable
  * materialized index (`kind:dir:counter`; the cached-index builders
  * mint one per build, and the kinds of the two families differ), and
  * a persisted Dataset's partition contents are deterministic, so the
  * cached graphs are exactly what re-scanning would rebuild. On a hit
  * the task never consumes its input iterator — no row
  * deserialization at all. On a cluster each executor warms its own
  * partitions' entries (tasks are partition-affine under locality
  * scheduling; a migrated task just rebuilds once on its new
  * executor).
  *
  * Bounded: entries stop being added past `GRAFT_GRAPH_CACHE_MB`
  * (default 4 GiB, ~2× the sf-×1000 rehearsal index), summed over
  * both families — past the cap serves degrade to rebuild-per-run,
  * never OOM. Cleared by either family's release
  * ([[VamanaIndex.releaseCaches]], [[HnswIndex.release]]) alongside
  * the plan caches it shadows.
  */
private[graft] object GraphCache {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.GraphCache")
  // value carries its byte estimate so eviction can decrement the
  // shared counter exactly
  private val cache = TrieMap.empty[(String, Int), (AnyRef, Long)]
  private val bytesUsed = new AtomicLong(0L)
  private def capBytes: Long =
    sys.env.get("GRAFT_GRAPH_CACHE_MB")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .map(_ << 20).getOrElse(4096L << 20)

  /** The entry for (token, pid): cached, or produced by `load` — the
    * value and its byte estimate — and cached when under the byte cap.
    * A token's value type is fixed by its family.
    *
    * Superseded-build eviction: a cached entry sharing this token's
    * `kind:dir:` prefix under a DIFFERENT counter names an older
    * materialization of the same index. Executor JVMs on a real
    * cluster never see the driver's release calls; without eviction
    * here, rebuilt indexes would pin dead graphs until the cap filled
    * and resident serving silently degraded to rebuild-per-run.
    * Correctness never depended on this (tokens already prevent stale
    * serves) — only memory does. */
  def getOrLoad[V <: AnyRef](token: String, pid: Int)(load: => (V, Long)): V =
    cache.get((token, pid)) match {
      case Some((v, _)) => v.asInstanceOf[V]
      case None =>
        val prefix = token.substring(0, token.lastIndexOf(':') + 1)
        cache.keysIterator
          .filter(k => k._1 != token && k._1.startsWith(prefix))
          .foreach(k => cache.remove(k)
            .foreach { case (_, e) => bytesUsed.addAndGet(-e) })
        val (v, est) = load
        // reserve first (addAndGet), roll back on cap-exceed or lost
        // putIfAbsent race — check-then-act across two atomics let
        // concurrent misses collectively overshoot the cap
        if (bytesUsed.addAndGet(est) <= capBytes) {
          if (cache.putIfAbsent((token, pid), (v, est)).isEmpty)
            log.info(s"miss: rebuilt ($token, p$pid), cached ${est >> 20} MiB " +
              s"(${bytesUsed.get() >> 20}/${capBytes >> 20} MiB used)")
          else bytesUsed.addAndGet(-est)
        } else {
          bytesUsed.addAndGet(-est)
          log.warn(s"miss over cap: serving ($token, p$pid) uncached " +
            s"— ${est >> 20} MiB would exceed the " +
            s"${capBytes >> 20} MiB GRAFT_GRAPH_CACHE_MB bound; " +
            "resident tier is degrading to rebuild-per-run")
        }
        v
    }

  def clear(): Unit = { cache.clear(); bytesUsed.set(0L) }

  /** Entry count — test observability (the serving specs pin that the
    * serving queries actually populate the warm tier). */
  private[graft] def size: Int = cache.size

  /** Byte-accounting observability — ProbedSearchSpec pins that
    * superseded-token eviction returns its bytes and that both
    * families count against one budget. */
  private[graft] def bytes: Long = bytesUsed.get()
}
