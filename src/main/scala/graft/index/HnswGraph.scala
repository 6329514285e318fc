package graft.index

/** HNSW build knobs (Malkov & Yashunin, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable
  * Small World graphs", arXiv:1603.09320): `m` = max out-degree per
  * upper layer (2m at layer 0), `efConstruction` = build-time beam.
  * The explicit seed makes level draws reproducible, same determinism
  * contract as [[VamanaParams]]. */
case class HnswParams(
    m: Int = 16,
    efConstruction: Int = 100,
    seed: Long = 42L,
    metric: String = "cosine")

/** Single-shard in-memory HNSW graph: the comparison baseline the
  * reference ships next to DiskANN (reference examples/hnsw_sift.rs:
  * 1-205, examples/hnsw_skewed.rs) so users can weigh recall/QPS
  * across index families. Re-derived from the HNSW paper — layered
  * skip-list-like graph, greedy descent through upper layers, beam
  * (ef) search at layer 0 — NOT translated from any implementation.
  *
  * Determinism: level draws are splitmix64 streams keyed by (seed,
  * node); every comparator breaks distance ties by node id; inserts
  * happen in local-id order. Two builds over the same shard are
  * identical, the same contract as [[VamanaGraph]].
  *
  * Serving from storage never re-runs the build: [[HnswIndex]]
  * persists per-layer adjacency and reconstructs instances directly
  * (`fromAdjacency`).
  */
final class HnswGraph(
    val vecs: Array[Float], // n × dim, row-major
    val dim: Int,
    val n: Int,
    val params: HnswParams) extends Serializable {

  private val metric: Metric = Metric.byName(params.metric)
  private val isCos = metric eq Metric.Cosine

  private val norms: Array[Double] =
    if (!isCos) null else Array.tabulate(n)(i => Metric.cosineNorm(vecs, i * dim, dim))

  @inline private def distIdx(i: Int, j: Int): Double =
    if (isCos) {
      var dot = 0.0; var d = 0
      val ao = i * dim; val bo = j * dim
      while (d < dim) { dot += vecs(ao + d).toDouble * vecs(bo + d).toDouble; d += 1 }
      Metric.cosineDist(dot, norms(i), norms(j))
    } else metric.eval(vecs, i * dim, vecs, j * dim, dim)

  @inline private def distQ(q: Array[Float], qNorm: Double, j: Int): Double =
    if (isCos) {
      var dot = 0.0; var d = 0
      val bo = j * dim
      while (d < dim) { dot += q(d).toDouble * vecs(bo + d).toDouble; d += 1 }
      Metric.cosineDist(dot, qNorm, norms(j))
    } else metric.eval(q, 0, vecs, j * dim, dim)

  // ------------------------------------------------------------ levels

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  require(params.m >= 2,
    s"HNSW m must be >= 2 (got ${params.m}): m = 1 makes the level " +
      "multiplier 1/ln(1) infinite — every node would draw the 31-level cap")
  require(params.efConstruction >= 1,
    s"efConstruction must be >= 1, got ${params.efConstruction}")

  private val mL = 1.0 / math.log(params.m.toDouble)

  /** level(i) = floor(-ln(u)·mL), u uniform in (0,1] from the (seed,
    * node) stream — the paper's exponential level rule, capped so a
    * pathological draw can't build a 60-layer tower. */
  val levels: Array[Int] = Array.tabulate(n) { i =>
    val u = ((mix(params.seed ^ (i.toLong * 0x9e3779b97f4a7c15L)) >>> 11).toDouble + 1.0) /
      (1L << 53).toDouble // (0, 1]
    math.min(31, (-math.log(u) * mL).toInt)
  }

  /** adjacency: node → layer (0..levels(node)) → neighbor list. */
  val layers: Array[Array[Array[Int]]] =
    Array.tabulate(n)(i => Array.fill(levels(i) + 1)(Array.empty[Int]))

  /** entry point: the max-level node (lowest id on ties). */
  var entry: Int = {
    var best = 0; var i = 1
    while (i < n) { if (levels(i) > levels(best)) best = i; i += 1 }
    best
  }

  // ------------------------------------------------------------ search

  /** Greedy single-step descent at `lev`: walk to the closest
    * neighbor until no improvement. */
  private def greedy(q: Array[Float], qNorm: Double, ep: Int, lev: Int): Int = {
    var cur = ep
    var curD = distQ(q, qNorm, cur)
    var improved = true
    while (improved) {
      improved = false
      val nbrs = layers(cur)(lev)
      var t = 0
      while (t < nbrs.length) {
        val nb = nbrs(t)
        val d = distQ(q, qNorm, nb)
        if (d < curD || (d == curD && nb < cur)) { curD = d; cur = nb; improved = true }
        t += 1
      }
    }
    cur
  }

  /** (dist, id) ascending — ids break distance ties for determinism. */
  private val nearFirst = new java.util.Comparator[Array[Double]] {
    def compare(a: Array[Double], b: Array[Double]): Int = {
      val c = java.lang.Double.compare(a(0), b(0))
      if (c != 0) c else java.lang.Double.compare(a(1), b(1))
    }
  }

  /** Beam (ef) search at one layer from `ep`; returns up to `ef`
    * (dist, id) pairs sorted ascending by (dist, id). */
  private def searchLayer(
      q: Array[Float], qNorm: Double, ep: Int, ef: Int, lev: Int,
      visitLog: scala.collection.mutable.ArrayBuffer[(Double, Int)] = null)
      : Array[(Double, Int)] = {
    val visited = new java.util.HashSet[Integer](ef * 4)
    val cand = new java.util.PriorityQueue[Array[Double]](64, nearFirst) // nearest-first
    val res = new java.util.PriorityQueue[Array[Double]](64,
      java.util.Collections.reverseOrder(nearFirst)) // worst-first
    val d0 = distQ(q, qNorm, ep)
    visited.add(ep)
    if (visitLog != null) visitLog += ((d0, ep))
    cand.add(Array(d0, ep.toDouble)); res.add(Array(d0, ep.toDouble))
    while (!cand.isEmpty) {
      val c = cand.peek()
      if (res.size() >= ef && nearFirst.compare(c, res.peek()) > 0) { cand.clear() }
      else {
        cand.poll()
        val nbrs = layers(c(1).toInt)(lev)
        var t = 0
        while (t < nbrs.length) {
          val nb = nbrs(t)
          if (visited.add(nb)) {
            val d = distQ(q, qNorm, nb)
            if (visitLog != null) visitLog += ((d, nb))
            // scalar compare + ONE shared entry array per accepted
            // candidate: the rejected-neighbor path (the common one
            // at ef << visited) allocates nothing
            val w = if (res.size() < ef) null else res.peek()
            if (w == null || d < w(0) || (d == w(0) && nb.toDouble < w(1))) {
              val e = Array(d, nb.toDouble)
              cand.add(e)
              res.add(e)
              if (res.size() > ef) res.poll()
            }
          }
          t += 1
        }
      }
    }
    val out = new Array[(Double, Int)](res.size())
    var i = out.length - 1
    while (i >= 0) { val e = res.poll(); out(i) = (e(0), e(1).toInt); i -= 1 }
    out
  }

  @inline private def qNormOf(q: Array[Float]): Double =
    if (!isCos) 0.0 else Metric.cosineNorm(q, 0, q.length)

  /** k-NN search: greedy descent through upper layers, ef-beam at
    * layer 0. Returns (local id, dist) ascending by (dist, id) — the
    * same output contract as [[VamanaGraph.search]] so both kernels
    * plug into one harness. */
  def search(q: Array[Float], k: Int, ef: Int): Array[(Int, Double)] = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    val qNorm = qNormOf(q)
    var ep = entry
    var lev = levels(entry)
    while (lev > 0) { ep = greedy(q, qNorm, ep, lev); lev -= 1 }
    searchLayer(q, qNorm, ep, math.max(ef, k), 0)
      .take(k).map { case (d, id) => (id, d) }
  }

  /** Filtered k-NN — the same serving pattern as
    * [[VamanaGraph.searchFiltered]]: the layer-0 beam traverses
    * UNfiltered (connectivity preserved) while every VISITED node
    * satisfying `allow` is a result candidate, so no distance is
    * computed twice and recall degrades gracefully with selectivity.
    * Size `ef` ≈ k / selectivity. */
  def searchFiltered(q: Array[Float], k: Int, ef: Int,
      allow: Int => Boolean): Array[(Int, Double)] = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    val qNorm = qNormOf(q)
    var ep = entry
    var lev = levels(entry)
    while (lev > 0) { ep = greedy(q, qNorm, ep, lev); lev -= 1 }
    val log = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    searchLayer(q, qNorm, ep, math.max(ef, k), 0, visitLog = log)
    log.filter { case (_, id) => allow(id) }
      .sortBy { case (d, id) => (d, id) }
      .take(k).map { case (d, id) => (id, d) }.toArray
  }

  // ------------------------------------------------------------- build

  /** max degree at `lev`: 2m on the ground layer, m above. */
  @inline private def maxDeg(lev: Int): Int = if (lev == 0) 2 * params.m else params.m

  /** Algorithm-4 "select neighbors heuristic" (paper §4.2): scan
    * candidates nearest-first and keep a candidate only if it is
    * closer to the base node than to every already-kept neighbor —
    * the same occlusion rule as [[VamanaGraph]]'s α-prune at α=1 —
    * then backfill the nearest rejected candidates up to `cap`
    * (keepPrunedConnections). Diversity-preserving selection is what
    * keeps the graph connected: plain nearest-m lets later inserts
    * re-prune away every in-link of an early low-degree node, leaving
    * it unreachable. */
  private def selectHeuristic(i: Int, ids: Array[Int], cap: Int): Array[Int] = {
    if (ids.length <= cap) return ids
    val sorted = ids.map(j => (distIdx(i, j), j)).sortBy(identity)
    val kept = new Array[Int](cap)
    var keptLen = 0
    var t = 0
    while (t < sorted.length && keptLen < cap) {
      val (dc, c) = sorted(t)
      var occluded = false
      var e = 0
      while (e < keptLen && !occluded) {
        if (distIdx(c, kept(e)) <= dc) occluded = true
        e += 1
      }
      if (!occluded) { kept(keptLen) = c; keptLen += 1 }
      t += 1
    }
    if (keptLen < cap) { // nearest backfill over the rejected
      t = 0
      while (t < sorted.length && keptLen < cap) {
        val c = sorted(t)._2
        var present = false
        var e = 0
        while (e < keptLen && !present) { if (kept(e) == c) present = true; e += 1 }
        if (!present) { kept(keptLen) = c; keptLen += 1 }
        t += 1
      }
    }
    kept
  }

  /** Incremental insert in local-id order (deterministic). */
  def build(): HnswGraph = {
    var node = 1 // node 0 seeds the structure at its own level
    entry = 0
    var maxLevel = levels(0)
    while (node < n) {
      val l = levels(node)
      val q = new Array[Float](dim)
      System.arraycopy(vecs, node * dim, q, 0, dim)
      val qNorm = qNormOf(q)
      var ep = entry
      var lev = maxLevel
      while (lev > l) { ep = greedy(q, qNorm, ep, lev); lev -= 1 }
      lev = math.min(l, maxLevel)
      while (lev >= 0) {
        val found = searchLayer(q, qNorm, ep, params.efConstruction, lev)
        val chosen = selectHeuristic(node, found.map(_._2), maxDeg(lev))
        layers(node)(lev) = chosen
        // bidirectional links, pruned back to the layer cap
        chosen.foreach { nb =>
          val cur = layers(nb)(lev)
          if (!cur.contains(node)) {
            val grown = cur :+ node
            layers(nb)(lev) =
              if (grown.length <= maxDeg(lev)) grown
              else selectHeuristic(nb, grown, maxDeg(lev))
          }
        }
        ep = found.head._2
        lev -= 1
      }
      if (l > maxLevel) { maxLevel = l; entry = node }
      node += 1
    }
    this
  }
}

object HnswGraph {
  /** Reconstruct a built graph from stored per-layer adjacency —
    * serving never re-runs the build. `adj(i)(lev)` are LOCAL ids;
    * the entry point is re-derived (max level, lowest id on ties),
    * which is exactly what build() leaves behind. */
  def fromAdjacency(
      vecs: Array[Float], dim: Int, n: Int, params: HnswParams,
      adj: Array[Array[Array[Int]]]): HnswGraph = {
    val g = new HnswGraph(vecs, dim, n, params)
    var i = 0
    while (i < n) {
      require(adj(i).length == g.levels(i) + 1,
        s"node $i: stored ${adj(i).length} layers, level rule says ${g.levels(i) + 1} — " +
          "params/seed mismatch with the stored index")
      g.layers(i) = adj(i)
      i += 1
    }
    g
  }
}
