package graft.index

import java.util.{Arrays => JArrays}

/** Distance metric over flat float vectors, computed in double by a
  * scalar loop — mirrors [[graft.functions.VectorExprs]] bit-for-bit.
  * Graph build and serving evaluate L2, cosine and dot through the
  * [[Distance]] kernel instead ([[Metric.graphDist]]). */
sealed trait Metric extends Serializable {
  def name: String
  def eval(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, dim: Int): Double
}
object Metric {
  case object L2 extends Metric {
    val name = "l2"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { val d = a(ao + i).toDouble - b(bo + i).toDouble; acc += d * d; i += 1 }
      math.sqrt(acc)
    }
  }
  case object Cosine extends Metric {
    val name = "cosine"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < dim) {
        val x = a(ao + i).toDouble; val y = b(bo + i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      // zero-norm guard: cosine to a zero vector is defined as 1.0
      // (neutral), never NaN — NaN comparisons silently corrupt the
      // beam ordering
      if (nx == 0.0 || ny == 0.0) 1.0
      else 1.0 - dot / (math.sqrt(nx) * math.sqrt(ny))
    }
  }
  case object Dot extends Metric {
    val name = "dot"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var dot = 0.0; var i = 0
      while (i < dim) { dot += a(ao + i).toDouble * b(bo + i).toDouble; i += 1 }
      -dot
    }
  }
  /** Hamming over binarized vectors (element ≠ element count) — the
    * unpacked form of the reference's `DistHamming` over packed u64
    * words (reference lib.rs:22-29): identical distances, bit-per-slot
    * layout instead of 64-bits-per-word. */
  case object Hamming extends Metric {
    val name = "hamming"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var c = 0; var i = 0
      while (i < dim) { if (a(ao + i) != b(bo + i)) c += 1; i += 1 }
      c.toDouble
    }
  }
  /** Manhattan — the reference's DistL1 (anndists); mirrors the
    * L1Distance SQL expression in VectorExprs. */
  case object L1 extends Metric {
    val name = "l1"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { acc += math.abs(a(ao + i).toDouble - b(bo + i).toDouble); i += 1 }
      acc
    }
  }
  /** Chebyshev — the reference's DistLinf; mirrors LinfDistance. */
  case object Linf extends Metric {
    val name = "linf"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var m = 0.0; var i = 0
      while (i < dim) {
        val d = math.abs(a(ao + i).toDouble - b(bo + i).toDouble)
        if (d > m) m = d; i += 1
      }
      m
    }
  }
  /** Generalized (weighted) Jaccard: 1 − Σmin/Σmax over non-negative
    * weights — the anndists DistJaccard formula widened to float;
    * mirrors the JaccardDistance SQL expression. */
  case object Jaccard extends Metric {
    val name = "jaccard"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var smin = 0.0; var smax = 0.0; var i = 0
      while (i < dim) {
        val xi = a(ao + i).toDouble; val yi = b(bo + i).toDouble
        smin += math.min(xi, yi); smax += math.max(xi, yi); i += 1
      }
      if (smax == 0.0) 0.0 else 1.0 - smin / smax
    }
  }
  /** Hellinger over self-L1-normalized |x| — the anndists
    * DistHellinger formula (which assumes pre-normalized input)
    * extended to raw weight vectors; mirrors HellingerDistance. */
  case object Hellinger extends Metric {
    val name = "hellinger"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var sa = 0.0; var sb = 0.0; var i = 0
      while (i < dim) {
        sa += math.abs(a(ao + i).toDouble); sb += math.abs(b(bo + i).toDouble)
        i += 1
      }
      if (sa == 0.0 || sb == 0.0) { if (sa == sb) 0.0 else 1.0 }
      else {
        var bc = 0.0; i = 0
        while (i < dim) {
          bc += math.sqrt((math.abs(a(ao + i).toDouble) / sa)
            * (math.abs(b(bo + i).toDouble) / sb))
          i += 1
        }
        math.sqrt(math.max(0.0, math.min(1.0, 1.0 - bc)))
      }
    }
  }
  /** Jensen-Shannon distance over self-L1-normalized |x| — the
    * anndists DistJensenShannon formula (√(0.5·Σ[p·ln(p/m) +
    * q·ln(q/m)]), natural log, m = (p+q)/2; the crate assumes
    * pre-normalized probability input) extended to raw weight vectors
    * the same way [[Hellinger]] is; mirrors JensenShannonDistance.
    * Disjoint-support distributions reach the metric's maximum
    * √(ln 2), which is also the one-sided zero-vector value. */
  case object JensenShannon extends Metric {
    val name = "js"
    def eval(a: Array[Float], ao: Int, b: Array[Float], bo: Int, dim: Int): Double = {
      var sa = 0.0; var sb = 0.0; var i = 0
      while (i < dim) {
        sa += math.abs(a(ao + i).toDouble); sb += math.abs(b(bo + i).toDouble)
        i += 1
      }
      if (sa == 0.0 || sb == 0.0) { if (sa == sb) 0.0 else math.sqrt(math.log(2.0)) }
      else {
        var acc = 0.0; i = 0
        while (i < dim) {
          val p = math.abs(a(ao + i).toDouble) / sa
          val q = math.abs(b(bo + i).toDouble) / sb
          val m = 0.5 * (p + q)
          // 0·ln 0 = 0 by continuity; m > 0 whenever either term runs
          var t = 0.0
          if (p > 0.0) t += p * math.log(p / m)
          if (q > 0.0) t += q * math.log(q / m)
          acc += t
          i += 1
        }
        // float noise can push the divergence a hair negative at
        // p == q; clamp before the sqrt so identity can never be NaN
        math.sqrt(math.max(0.0, 0.5 * acc))
      }
    }
  }
  /** sqrt(Σx²) over `v(off ..< off + dim)`, floored at MIN_NORMAL —
    * the cosine norm that graph build and serving cache per row and
    * compute once per query. */
  private[index] def cosineNorm(v: Array[Float], off: Int, dim: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < dim) { val x = v(off + i).toDouble; acc += x * x; i += 1 }
    math.max(math.sqrt(acc), java.lang.Double.MIN_NORMAL)
  }

  /** Cosine distance from a [[Distance]] dot product and the two
    * [[cosineNorm]]s. The distance to a zero vector is 1.0 (neutral),
    * never NaN — a NaN silently corrupts the beam ordering: the floor
    * keeps one zero norm finite, and two floors multiply to 0. */
  @inline private[index] def cosineDist(dot: Double, na: Double, nb: Double): Double = {
    val den = na * nb
    if (den == 0.0) 1.0 else 1.0 - dot / den
  }

  /** A graph distance: L2 and dot through the [[Distance]] kernel,
    * every other metric through its scalar [[Metric.eval]]. Cosine
    * callers divide a kernel dot by their cached norms instead. */
  private[index] def graphDist(m: Metric, a: Array[Float], ao: Int,
      b: Array[Float], bo: Int, dim: Int): Double =
    if (m eq L2) math.sqrt(Distance.l2sq(a, ao, b, bo, dim))
    else if (m eq Dot) -Distance.dot(a, ao, b, bo, dim)
    else m.eval(a, ao, b, bo, dim)

  def byName(n: String): Metric = n match {
    case "l2" => L2; case "cosine" => Cosine; case "dot" => Dot
    case "hamming" => Hamming; case "l1" => L1; case "linf" => Linf
    case "jaccard" => Jaccard; case "hellinger" => Hellinger
    case "js" => JensenShannon
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }
}

/** Vamana build parameters — same knob set as the reference's
  * `DiskAnnParams` (reference lib.rs:86-107) plus an explicit seed so
  * every "random" choice is reproducible (SURVEY.md §5). */
case class VamanaParams(
    maxDegree: Int = 32,
    buildBeamWidth: Int = 64,
    alpha: Double = 1.2,
    passes: Int = 2,
    extraSeeds: Int = 1,
    seed: Long = 42L,
    metric: String = "cosine") {
  /** Reverse-list slack before re-prune (reference lib.rs:62-65). */
  def slackLimit: Int = math.max(maxDegree, math.ceil(1.3 * maxDegree).toInt)
}

/** Single-shard in-memory Vamana graph: build + beam search kernel.
  *
  * This is the per-partition compute that runs inside `mapPartitions`
  * in [[VamanaIndex]] — the one place the engine is deliberately
  * imperative, because graph construction is a pointer-chasing local
  * algorithm (same reason the reference is a native library). Each
  * Spark partition holds one shard; shards build independently and in
  * parallel across executors, so the build scales out linearly with
  * shard count.
  *
  * Algorithm (same family as reference lib.rs:971-1133, re-derived
  * from the Vamana/DiskANN paper, not translated):
  *  1. seeded random R-regular bootstrap (ref lib.rs:989-1004)
  *  2. `passes` refinement sweeps in seeded-shuffled order; pass 0 of a
  *     multi-pass build uses α=1.0, later passes the target α
  *     (ref lib.rs:1013-1020)
  *  3. per node: greedy beam search from the medoid (+ extraSeeds
  *     deterministic restarts) collecting all visited candidates
  *     (ref lib.rs:1140-1198; the [[BestFirst]] kernel with its
  *     visited log), then robust α-prune with nearest
  *     backfill (ref lib.rs:1201-1279)
  *  4. reverse edges merged; lists over `slackLimit` are re-pruned
  *     (ref lib.rs:784-914)
  *
  * The streaming index mutates a built graph with the same steps:
  * [[insert]] is step 3 from one entry followed by step 4, and
  * [[repair]] is step 3's prune over a delete's candidates.
  *
  * All randomness is splitmix64 streams keyed by (seed, node) so two
  * builds of the same shard are identical. The kernel is allocation-
  * free on the hot path: primitive parallel arrays (no boxed
  * collections), epoch-marked visited/dedup sets, and — for cosine —
  * per-vector norms cached once so each pair distance is a single dot
  * pass.
  */
final class VamanaGraph(
    val vecs: Array[Float], // n × dim, row-major
    val dim: Int,
    val n: Int,
    val params: VamanaParams) extends Serializable {

  private val metric: Metric = Metric.byName(params.metric)
  private val isCosine = metric eq Metric.Cosine

  /** cached [[Metric.cosineNorm]] per vector (cosine only): distance
    * becomes one dot-product pass instead of three accumulations. */
  private val norms: Array[Double] =
    if (!isCosine) null else Array.tabulate(n)(i => Metric.cosineNorm(vecs, i * dim, dim))

  /** Distance from `a(ao ..< ao + dim)`, of norm `aNorm` (cosine
    * only), to row `j` — through the [[Distance]] kernel, as
    * [[MmapIndex]] evaluates it, so heap and mapped serving agree. */
  @inline private def distTo(a: Array[Float], ao: Int, aNorm: Double, j: Int): Double =
    if (isCosine) Metric.cosineDist(Distance.dot(a, ao, vecs, j * dim, dim), aNorm, norms(j))
    else Metric.graphDist(metric, a, ao, vecs, j * dim, dim)

  @inline private def dist(i: Int, j: Int): Double =
    distTo(vecs, i * dim, if (isCosine) norms(i) else 0.0, j)

  @inline private def distQ(q: Array[Float], qNorm: Double, j: Int): Double =
    distTo(q, 0, qNorm, j)

  /** splitmix64 — tiny, public-domain PRNG recurrence. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def rngInt(state: Long, bound: Int): Int =
    Math.floorMod(mix(state), bound.toLong).toInt

  /** adjacency: var-degree lists, bounded by slackLimit during build. */
  val graph: Array[Array[Int]] = new Array[Array[Int]](n)

  /** Externally-supplied entry point (e.g. a single-file index's
    * stored medoid_id): set BEFORE the first search to make serving
    * honor the file's entry point instead of recomputing one — a
    * reference-written file records a random-pivot medoid this
    * deterministic rule would not reproduce. Negative = compute. */
  private[graft] var entryOverride: Int = -1

  /** Entry point: the pivot medoid ([[BestFirst.pivotMedoid]] over
    * [[BestFirst.medoidPivots]]) — sampled form of reference
    * lib.rs:736-756. */
  lazy val medoid: Int = {
    if (entryOverride >= 0) entryOverride
    else if (n == 1) 0
    else {
      val pivots = BestFirst.medoidPivots(n)
      BestFirst.pivotMedoid(n, pivots.length, (i, p) => dist(i, pivots(p)))
    }
  }

  // ------------------------------------------------------------- prune pool

  /** Candidate pool for [[pruneCandidates]], with its own dedup
    * marks; the beam search's scratch lives in [[BestFirst]]. */
  private final class Pool {
    val dedupMark = new Array[Int](n)
    var dedupEpoch = 0
    var candIds = new Array[Int](512)
    var candDists = new Array[Double](512)
    var candLen = 0

    def candPush(id: Int, d: Double): Unit = {
      if (candLen == candIds.length) {
        candIds = JArrays.copyOf(candIds, candLen * 2)
        candDists = JArrays.copyOf(candDists, candLen * 2)
      }
      candIds(candLen) = id; candDists(candLen) = d; candLen += 1
    }
  }

  // ------------------------------------------------------------- search

  /** Serving-path search: top-k (local idx, dist) for an external query
    * vector (reference lib.rs:635-701), run by [[BestFirst]]. Its
    * scratch is one per thread, shared by every graph that thread
    * searches, so a graph held in [[GraphCache]] can be searched by
    * several task threads at once. */
  def search(q: Array[Float], k: Int, beamWidth: Int): Array[(Int, Double)] = {
    val qNorm = queryNorm(q)
    BestFirst.topK(n, medoid, k, beamWidth, BestFirst.lists(graph), j => distQ(q, qNorm, j))
  }

  /** The query's [[Metric.cosineNorm]] (cosine only). */
  @inline private def queryNorm(q: Array[Float]): Double =
    if (!isCosine) 0.0 else Metric.cosineNorm(q, 0, q.length)

  /** Filtered serving search (the Filtered-DiskANN serving pattern,
    * Gollapudi et al. WWW'23 — predicated top-k without per-label
    * indexes): the traversal steers over ALL nodes, preserving the
    * connectivity the unfiltered build guarantees, while the result
    * collects only nodes satisfying `allow`. Every VISITED match is a
    * candidate — not just the final working set — so recall degrades
    * gracefully as selectivity drops; no distance is computed twice.
    * Size `beamWidth` ≈ k / selectivity (FilteredSearchSpec pins the
    * floors). */
  def searchFiltered(q: Array[Float], k: Int, beamWidth: Int,
      allow: Int => Boolean): Array[(Int, Double)] = {
    val s = BestFirst.scratch()
    val qNorm = queryNorm(q)
    BestFirst.search(s, n, medoid, math.max(beamWidth, k), BestFirst.lists(graph),
      j => distQ(q, qNorm, j), collect = true)
    // compact the allowed prefix of the visited log in place (the log
    // is duplicate-free — epoch marks — and reset by the next search)
    var m = 0
    var i = 0
    while (i < s.visLen) {
      if (allow(s.visIds(i))) {
        s.visIds(m) = s.visIds(i); s.visDists(m) = s.visDists(i); m += 1
      }
      i += 1
    }
    BestFirst.sortPairs(s.visIds, s.visDists, 0, m - 1)
    val out = new Array[(Int, Double)](math.min(k, m))
    i = 0
    while (i < out.length) { out(i) = (s.visIds(i), s.visDists(i)); i += 1 }
    out
  }

  // ------------------------------------------------------------- prune

  /** Robust α-prune with nearest backfill (ref lib.rs:1201-1279) over
    * the candidate pool: sorts by (dist, id), dedups keeping
    * the nearest occurrence per id (epoch marks), excludes self. */
  private def pruneCandidates(u: Int, s: Pool, maxDeg: Int, alpha: Double): Array[Int] = {
    BestFirst.sortPairs(s.candIds, s.candDists, 0, s.candLen - 1)
    s.dedupEpoch += 1
    if (s.dedupEpoch == Int.MaxValue) { JArrays.fill(s.dedupMark, 0); s.dedupEpoch = 1 }
    // compact unique, self-free prefix in place
    var w = 0
    var r = 0
    while (r < s.candLen) {
      val id = s.candIds(r)
      if (id != u && s.dedupMark(id) != s.dedupEpoch) {
        s.dedupMark(id) = s.dedupEpoch
        s.candIds(w) = id; s.candDists(w) = s.candDists(r); w += 1
      }
      r += 1
    }
    val m = w
    if (m == 0) return Array.empty

    val out = new Array[Int](math.min(maxDeg, m))
    var outLen = 0
    // phase 1: α-occlusion
    var i = 0
    while (i < m && outLen < maxDeg) {
      val c = s.candIds(i); val dc = s.candDists(i)
      var occluded = false
      var t = 0
      while (t < outLen && !occluded) {
        if (alpha * dist(c, out(t)) <= dc) occluded = true
        t += 1
      }
      if (!occluded) { out(outLen) = c; outLen += 1 }
      i += 1
    }
    // phase 2: nearest backfill
    if (outLen < math.min(maxDeg, m)) {
      i = 0
      while (i < m && outLen < maxDeg) {
        val c = s.candIds(i)
        var present = false
        var t = 0
        while (t < outLen && !present) { if (out(t) == c) present = true; t += 1 }
        if (!present) { out(outLen) = c; outLen += 1 }
        i += 1
      }
    }
    if (outLen == out.length) out else JArrays.copyOf(out, outLen)
  }

  /** Reverse-edge merge of `src`'s list `outs` (ref lib.rs:784-914):
    * each listed row that does not point at `src` yet gains it, and a
    * list pushed past `slackLimit` is α-re-pruned to `maxDeg`. */
  private def backLink(src: Int, outs: Array[Int], pool: Pool, maxDeg: Int,
      alpha: Double): Unit = {
    val slack = params.slackLimit
    var t = 0
    while (t < outs.length) {
      val dst = outs(t)
      val cur = graph(dst)
      var present = false
      var x = 0
      while (x < cur.length && !present) { if (cur(x) == src) present = true; x += 1 }
      if (!present) {
        if (cur.length + 1 <= slack) {
          val merged = JArrays.copyOf(cur, cur.length + 1)
          merged(cur.length) = src
          graph(dst) = merged
        } else {
          pool.candLen = 0
          var y = 0
          while (y < cur.length) { pool.candPush(cur(y), dist(dst, cur(y))); y += 1 }
          pool.candPush(src, dist(dst, src))
          graph(dst) = pruneCandidates(dst, pool, maxDeg, alpha)
        }
      }
      t += 1
    }
  }

  // ------------------------------------------------------------- mutation

  /** The prune pool of [[insert]] and [[repair]]. */
  @transient private lazy val editPool = new Pool

  /** FreshDiskANN Insert (Singh et al., arXiv:2105.09613 §4.1) — the
    * build's per-node step from one explicit `entry`: a [[BestFirst]]
    * search for row `u` logs every row it evaluates, `u`'s list becomes
    * the α-prune of that log, and `u` back-links into each row it chose
    * ([[backLink]]). No row may point at `u` before; `entry` must be
    * linked already, or be `u` itself, which then gets an empty list. */
  private[index] def insert(u: Int, entry: Int, beamWidth: Int): Unit = {
    val pool = editPool
    val beam = BestFirst.scratch()
    BestFirst.search(beam, n, entry, beamWidth, BestFirst.lists(graph),
      j => dist(u, j), collect = true)
    pool.candLen = 0
    var v = 0
    while (v < beam.visLen) { pool.candPush(beam.visIds(v), beam.visDists(v)); v += 1 }
    graph(u) = pruneCandidates(u, pool, params.maxDegree, params.alpha)
    backLink(u, graph(u), pool, params.maxDegree, params.alpha)
  }

  /** FreshDiskANN Delete repair (§4.2): row `u`'s list becomes the
    * α-prune of the caller's candidates `cands` — its live neighbours
    * plus the live out-neighbours of each deleted one. */
  private[index] def repair(u: Int, cands: Array[Int]): Unit = {
    val pool = editPool
    pool.candLen = 0
    cands.foreach(c => pool.candPush(c, dist(u, c)))
    graph(u) = pruneCandidates(u, pool, params.maxDegree, params.alpha)
  }

  // ------------------------------------------------------------- build

  def build(): VamanaGraph = {
    if (n == 1) { graph(0) = Array.empty; return this }
    val maxDeg = math.min(params.maxDegree, n - 1)

    // 1. seeded random bootstrap (ref lib.rs:989-1004)
    var u = 0
    while (u < n) {
      val s = new java.util.TreeSet[Integer]()
      var tries = 0L
      while (s.size < maxDeg && tries < maxDeg * 8L) {
        val nb = rngInt(params.seed ^ (u.toLong << 20) ^ tries, n)
        if (nb != u) s.add(nb)
        tries += 1
      }
      val arr = new Array[Int](s.size)
      val it = s.iterator(); var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      graph(u) = arr
      u += 1
    }

    val pool = new Pool
    val beam = BestFirst.scratch()
    val adj = BestFirst.lists(graph)
    val chunkSize = 256
    val passes = math.max(1, params.passes)

    var pass = 0
    while (pass < passes) {
      val passAlpha =
        if (passes == 1) params.alpha else if (pass == 0) 1.0 else params.alpha

      // seeded shuffle of processing order (ref lib.rs:1022-1023)
      val order = (0 until n).toArray
      var i = n - 1
      while (i > 0) {
        val j = rngInt(params.seed ^ 0x5eedL ^ (pass.toLong << 32) ^ i.toLong, i + 1)
        val tmp = order(i); order(i) = order(j); order(j) = tmp
        i -= 1
      }

      var cs = 0
      while (cs < n) {
        val ce = math.min(cs + chunkSize, n)
        val newLists = new Array[Array[Int]](ce - cs)
        var ci = cs
        while (ci < ce) {
          val node = order(ci)
          pool.candLen = 0
          val cur = graph(node)
          var t = 0
          while (t < cur.length) {
            pool.candPush(cur(t), dist(node, cur(t))); t += 1
          }
          // greedy from medoid + deterministic extra seeds
          var si = 0
          while (si <= params.extraSeeds) {
            val entry =
              if (si == 0) medoid
              else rngInt(params.seed ^ 0xabcdL ^ (node.toLong << 8) ^ (pass.toLong << 40) ^ si.toLong, n)
            BestFirst.search(beam, n, entry, params.buildBeamWidth, adj,
              j => dist(node, j), collect = true)
            var v = 0
            while (v < beam.visLen) {
              pool.candPush(beam.visIds(v), beam.visDists(v)); v += 1
            }
            si += 1
          }
          newLists(ci - cs) = pruneCandidates(node, pool, maxDeg, passAlpha)
          ci += 1
        }
        // merge chunk: commit outgoing, then the reverse edges
        ci = cs
        while (ci < ce) { graph(order(ci)) = newLists(ci - cs); ci += 1 }
        ci = cs
        while (ci < ce) { backLink(order(ci), newLists(ci - cs), pool, maxDeg, passAlpha); ci += 1 }
        cs = ce
      }
      pass += 1
    }

    // final cleanup: enforce bounded degree (ref lib.rs:1111-1132)
    u = 0
    while (u < n) {
      if (graph(u).length > maxDeg) {
        pool.candLen = 0
        var t = 0
        while (t < graph(u).length) {
          pool.candPush(graph(u)(t), dist(u, graph(u)(t))); t += 1
        }
        graph(u) = pruneCandidates(u, pool, maxDeg, params.alpha)
      }
      u += 1
    }
    this
  }
}
