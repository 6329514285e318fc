package graft.index

import java.util.{Arrays => JArrays}

/** The engine's one best-first beam search (reference lib.rs:635-701
  * serving, lib.rs:1140-1198 build): greedy expansion from an entry
  * node over a graph given only as an adjacency fill and a per-row
  * distance. [[VamanaGraph]] (build, the streaming index's insert,
  * serving, filtered serving), [[U8Graph]], [[MmapIndex]] and
  * [[PqSearch]] all run this loop, so
  * their result lists agree element for element whenever their
  * distances do.
  *
  * The rules every caller's results depend on:
  *  - the working set holds at most `beamWidth` entries, ascending by
  *    (dist, id);
  *  - a newly evaluated node enters it when the set is not full, or
  *    `d < worst || (d == worst && id < worstId)`, and then also joins
  *    the frontier;
  *  - the search stops when the set is full and the best frontier
  *    candidate is no closer than its worst entry;
  *  - every node is evaluated at most once per search (epoch marks),
  *    the entry included.
  *
  * Scratch is one grow-only [[Scratch]] per thread, owned here rather
  * than by any graph, so every graph can be searched by many task
  * threads at once. It is soft-referenced: the epoch marks are
  * `Array[Int]` sized to the largest graph the thread has searched,
  * and an idle thread's copy is left to the GC under memory pressure
  * (an active search just reallocates).
  */
object BestFirst {

  /** Out-neighbors of `row`: writes them into `buf` and returns their
    * count. A row with more neighbors than `buf.length` returns its
    * full count without writing past `buf`; the kernel then grows the
    * buffer and asks again. */
  trait Adjacency {
    def fill(row: Int, buf: Array[Int]): Int
  }

  /** Adjacency over heap lists (`null` = no neighbors). */
  def lists(graph: Array[Array[Int]]): Adjacency = (row, buf) => {
    val a = graph(row)
    if (a == null) 0
    else {
      if (a.length <= buf.length) System.arraycopy(a, 0, buf, 0, a.length)
      a.length
    }
  }

  /** Per-thread search state. After [[search]] returns, `wIds/wDists`
    * hold the working set and, when the search collected them,
    * `visIds/visDists` the visited log; both stay valid until the
    * thread's next search. */
  final class Scratch private[BestFirst] () {
    private var mark = new Array[Int](0)
    private var epoch = 0

    // frontier: sorted DESCENDING by (dist, id) — best candidate at end
    private var fIds = new Array[Int](256)
    private var fDists = new Array[Double](256)
    private var fLen = 0

    private var nbrs = new Array[Int](64)

    private[index] var wIds = new Array[Int](64)
    private[index] var wDists = new Array[Double](64)
    private var wLen = 0

    private[index] var visIds = new Array[Int](256)
    private[index] var visDists = new Array[Double](256)
    private[index] var visLen = 0

    private def visPush(id: Int, d: Double): Unit = {
      if (visLen == visIds.length) {
        visIds = JArrays.copyOf(visIds, visLen * 2)
        visDists = JArrays.copyOf(visDists, visLen * 2)
      }
      visIds(visLen) = id; visDists(visLen) = d; visLen += 1
    }

    private def fPush(id: Int, d: Double): Unit = {
      if (fLen == fIds.length) {
        fIds = JArrays.copyOf(fIds, fLen * 2)
        fDists = JArrays.copyOf(fDists, fLen * 2)
      }
      // binary search in descending order: position where d fits
      var lo = 0; var hi = fLen
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (fDists(mid) > d || (fDists(mid) == d && fIds(mid) > id)) lo = mid + 1 else hi = mid
      }
      System.arraycopy(fIds, lo, fIds, lo + 1, fLen - lo)
      System.arraycopy(fDists, lo, fDists, lo + 1, fLen - lo)
      fIds(lo) = id; fDists(lo) = d; fLen += 1
    }

    private def wInsert(id: Int, d: Double, beamWidth: Int): Unit = {
      var lo = 0; var hi = wLen
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (wDists(mid) < d || (wDists(mid) == d && wIds(mid) < id)) lo = mid + 1 else hi = mid
      }
      if (lo < beamWidth) {
        val newLen = math.min(wLen + 1, beamWidth)
        val tail = newLen - lo - 1
        if (tail > 0) {
          System.arraycopy(wIds, lo, wIds, lo + 1, tail)
          System.arraycopy(wDists, lo, wDists, lo + 1, tail)
        }
        wIds(lo) = id; wDists(lo) = d
        wLen = newLen
      }
    }

    private[BestFirst] def run(n: Int, entry: Int, beamWidth: Int, adj: Adjacency,
        dist: Int => Double, collect: Boolean): Int = {
      if (mark.length < n) mark = new Array[Int](n)
      epoch += 1
      if (epoch == Int.MaxValue) { JArrays.fill(mark, 0); epoch = 1 }
      if (wIds.length < beamWidth) {
        wIds = new Array[Int](beamWidth)
        wDists = new Array[Double](beamWidth)
      }
      wLen = 0; fLen = 0; visLen = 0

      val d0 = dist(entry)
      mark(entry) = epoch
      if (collect) visPush(entry, d0)
      wInsert(entry, d0, beamWidth); fPush(entry, d0)

      while (fLen > 0) {
        val bestD = fDists(fLen - 1)
        if (wLen >= beamWidth && bestD >= wDists(wLen - 1)) {
          fLen = 0
        } else {
          val cur = fIds(fLen - 1)
          fLen -= 1
          var cnt = adj.fill(cur, nbrs)
          if (cnt > nbrs.length) {
            nbrs = new Array[Int](math.max(cnt, 2 * nbrs.length))
            cnt = adj.fill(cur, nbrs)
          }
          var t = 0
          while (t < cnt) {
            val nb = nbrs(t)
            if (mark(nb) != epoch) {
              val d = dist(nb)
              mark(nb) = epoch
              if (collect) visPush(nb, d)
              if (wLen < beamWidth || d < wDists(wLen - 1) ||
                  (d == wDists(wLen - 1) && nb < wIds(wLen - 1))) {
                wInsert(nb, d, beamWidth); fPush(nb, d)
              }
            }
            t += 1
          }
        }
      }
      wLen
    }
  }

  private val local =
    ThreadLocal.withInitial[java.lang.ref.SoftReference[Scratch]](
      () => new java.lang.ref.SoftReference(new Scratch))

  /** This thread's scratch. Hold the returned reference for as long as
    * its working set or visited log is read. */
  def scratch(): Scratch = {
    val s = local.get().get()
    if (s != null) s
    else {
      val fresh = new Scratch
      local.set(new java.lang.ref.SoftReference(fresh))
      fresh
    }
  }

  /** Search a graph of `n` rows (ids in [0, n)) from `entry`, keeping
    * a working set of `beamWidth`. `collect` logs every evaluated
    * (id, dist) into the scratch's visited log. Returns the working-set
    * length. `adj` and `dist` must not search on this thread. */
  def search(s: Scratch, n: Int, entry: Int, beamWidth: Int,
      adj: Adjacency, dist: Int => Double, collect: Boolean = false): Int =
    s.run(n, entry, beamWidth, adj, dist, collect)

  /** Top-k (row, dist) ascending by (dist, id), searched with a working
    * set of `max(beamWidth, k)`. */
  def topK(n: Int, entry: Int, k: Int, beamWidth: Int,
      adj: Adjacency, dist: Int => Double): Array[(Int, Double)] = {
    val s = scratch()
    val wLen = search(s, n, entry, math.max(beamWidth, k), adj, dist)
    val out = new Array[(Int, Double)](math.min(k, wLen))
    var i = 0
    while (i < out.length) { out(i) = (s.wIds(i), s.wDists(i)); i += 1 }
    out
  }

  /** The entry-point pivots of an n-row graph: `min(64, n)` evenly
    * spaced rows 0, step, 2·step … — the sampled form of the
    * reference's medoid (lib.rs:736-756). */
  def medoidPivots(n: Int): Array[Int] = {
    val np = math.min(64, n)
    val step = math.max(1, n / np)
    (0 until np).map(_ * step % n).distinct.toArray
  }

  /** The pivot medoid: the row with the least summed distance to the
    * `np` pivots, summed in pivot order, the lowest row on a tie.
    * `dist(row, p)` is the distance from `row` to pivot number `p`. */
  def pivotMedoid(n: Int, np: Int, dist: (Int, Int) => Double): Int = {
    var best = 0; var bestScore = Double.MaxValue
    var i = 0
    while (i < n) {
      var s = 0.0; var p = 0
      while (p < np) { s += dist(i, p); p += 1 }
      if (s < bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  /** Quicksort of parallel (dists, ids) by ascending (dist, id) — the
    * working set's order — over [lo0, hi0]. */
  def sortPairs(ids: Array[Int], ds: Array[Double], lo0: Int, hi0: Int): Unit = {
    @inline def less(i: Int, j: Int): Boolean =
      ds(i) < ds(j) || (ds(i) == ds(j) && ids(i) < ids(j))
    @inline def swap(i: Int, j: Int): Unit = {
      val td = ds(i); ds(i) = ds(j); ds(j) = td
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }
    def qs(lo: Int, hi: Int): Unit = {
      if (hi - lo < 12) {
        var i = lo + 1
        while (i <= hi) {
          var j = i
          while (j > lo && less(j, j - 1)) { swap(j, j - 1); j -= 1 }
          i += 1
        }
        return
      }
      val mid = (lo + hi) >>> 1
      if (less(mid, lo)) swap(mid, lo)
      if (less(hi, lo)) swap(hi, lo)
      if (less(hi, mid)) swap(hi, mid)
      swap(mid, hi - 1) // pivot at hi-1
      val p = hi - 1
      var i = lo; var j = p
      while (true) {
        i += 1
        while (less(i, p)) i += 1
        j -= 1
        while (less(p, j)) j -= 1
        if (i >= j) {
          swap(i, p)
          qs(lo, i - 1); qs(i + 1, hi)
          return
        }
        swap(i, j)
      }
    }
    if (hi0 > lo0) qs(lo0, hi0)
  }
}
