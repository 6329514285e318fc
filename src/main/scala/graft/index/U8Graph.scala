package graft.index

/** Heap-resident u8 serving graph — the reference's generic-element
  * index kept byte-resident (the reference is generic over element
  * type, lib.rs:7-8, and examples/bigann.rs builds AND serves u8
  * natively). [[SingleFileIndex.importLocal]] widens codes to f32 —
  * lossless, but 4× the heap — and at 100 TB the widened form caps
  * how many shard graphs fit per serving executor; this variant keeps
  * the raw codes and evaluates distances in integer arithmetic, so a
  * BigANN-style index never widens in EITHER serving mode
  * (disk-resident u8 lives in [[MmapIndex]]).
  *
  * Serving-only: builds stay in [[VamanaGraph]] — u8 values are exact
  * in f32, so build-time math is identical either way and there is
  * nothing to re-derive. The search is [[BestFirst]], as for
  * [[VamanaGraph.search]], and the distances are equal (integer
  * squares are exact in double, same final sqrt), so result lists
  * match element-for-element — SingleFileIndexSpec pins that
  * equivalence on real files. L2 only: the metric of the reference's
  * u8 examples. The instance holds no per-query state, so any number
  * of threads can search it at once.
  */
final class U8Graph(
    val codes: Array[Byte], // n × dim, row-major u8 codes
    val dim: Int,
    val n: Int,
    val entry: Int) {

  require(dim <= 8192,
    s"integer distance accumulation is exact only for dim <= 8192, got $dim")

  /** adjacency (local ids) — filled by the importer. */
  val graph: Array[Array[Int]] = new Array[Array[Int]](n)

  /** Top-k (local idx, dist) ascending by (dist, id) — same output
    * contract as [[VamanaGraph.search]]. */
  def search(q: Array[Float], k: Int, beamWidth: Int): Array[(Int, Double)] = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    val qInt = U8Graph.intQuery(q)
    val dist: Int => Double =
      if (qInt != null) j => math.sqrt(U8Graph.intL2(qInt, codes, j * dim).toDouble)
      else {
        // fractional query: the codes widened (exact in f32) into a
        // per-call row and evaluated by the [[Distance]] kernel — what
        // the widened heap graph and MmapIndex compute
        val row = new Array[Float](dim)
        j => {
          val off = j * dim
          var i = 0
          while (i < dim) { row(i) = (codes(off + i) & 0xff).toFloat; i += 1 }
          math.sqrt(Distance.l2sq(q, 0, row, 0, dim))
        }
      }
    BestFirst.topK(n, entry, k, beamWidth, BestFirst.lists(graph), dist)
  }
}

object U8Graph {

  /** The query as ints when every slot is exactly u8-valued (the
    * BigANN case), else null: a fractional or out-of-range query takes
    * the widened-float loop, with identical semantics. */
  def intQuery(q: Array[Float]): Array[Int] = {
    val out = new Array[Int](q.length)
    var i = 0
    while (i < q.length) {
      val v = q(i); val vi = v.toInt
      if (v == vi.toFloat && vi >= 0 && vi <= 255) out(i) = vi
      else return null
      i += 1
    }
    out
  }

  /** Σ (qInt(i) − codes(off + i))² over `qInt.length` unsigned bytes,
    * in int — exact for dim ≤ 8192 (8192·255² < 2³¹). */
  def intL2(qInt: Array[Int], codes: Array[Byte], off: Int): Int = {
    var acc = 0; var i = 0
    while (i < qInt.length) {
      val d = qInt(i) - (codes(off + i) & 0xff)
      acc += d * d; i += 1
    }
    acc
  }
}
