package graft.index

import java.util.{Arrays => JArrays}

/** Trained product-quantization codebook — the in-memory compression
  * half of the DiskANN serving architecture (Subramanya et al.,
  * NeurIPS'19 §3): the graph traversal computes distances from M-byte
  * PQ codes held in RAM, and only the final candidates touch the
  * full-precision vectors (on disk for [[MmapIndex]], in the shard
  * heap for the distributed path). At dim=64/M=8 the resident state
  * is 8 bytes per vector instead of 256 — the 32× that lets a
  * 100 TB corpus's candidate generation live in executor memory.
  *
  * Everything is deterministic (SURVEY.md §5): the training sample is
  * evenly-spaced rows (the same rule as [[VamanaGraph.medoid]]'s
  * pivots), initial centroids are the first `ksub` sampled rows'
  * subvectors, Lloyd iterations are fixed-count with ties to the
  * lower code, and empty clusters keep their previous centroid — two
  * trainings of the same data are bit-identical.
  *
  * Layout: `cents[(sub·ksub + j)·subDim + i]`, matching the flat
  * codebook layout of [[graft.operators.PQ]]'s oracle-checked seed
  * variant (this class is the trained form, where recall — not hash
  * parity — is the contract).
  */
final class PqCodebook(
    val m: Int, val ksub: Int, val subDim: Int,
    val cents: Array[Float]) extends Serializable {

  val dim: Int = m * subDim
  require(cents.length == m * ksub * subDim,
    s"codebook length ${cents.length} != m($m)·ksub($ksub)·subDim($subDim)")

  /** Squared L2 between subvector `sub` of the row at `vOff` and
    * codebook entry (sub, j) — double, left-to-right. */
  @inline private def subSqL2(v: Array[Float], vOff: Int, sub: Int, j: Int): Double = {
    val base = vOff + sub * subDim
    val cOff = (sub * ksub + j) * subDim
    var acc = 0.0; var i = 0
    while (i < subDim) {
      val d = v(base + i).toDouble - cents(cOff + i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  /** PQ-encode the row at `vOff` into `out(outOff …outOff+m)` —
    * per-subspace argmin entry, tie → lower code. Returns the total
    * squared quantization error (Σ per-subspace residuals). */
  def encodeInto(v: Array[Float], vOff: Int, out: Array[Byte], outOff: Int): Double = {
    var err = 0.0
    var sub = 0
    while (sub < m) {
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val d = subSqL2(v, vOff, sub, j)
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(outOff + sub) = best.toByte
      err += bestD
      sub += 1
    }
    err
  }

  /** Encode `n` row-major vectors into an n·m code array. */
  def encodeAll(vecs: Array[Float], n: Int): Array[Byte] = {
    val out = new Array[Byte](n * m)
    var i = 0
    while (i < n) { encodeInto(vecs, i * dim, out, i * m); i += 1 }
    out
  }

  /** Mean squared quantization error over `n` row-major vectors —
    * the codebook-quality diagnostic (training must not increase it). */
  def meanSqError(vecs: Array[Float], n: Int): Double = {
    val scratch = new Array[Byte](m)
    var s = 0.0; var i = 0
    while (i < n) { s += encodeInto(vecs, i * dim, scratch, 0); i += 1 }
    if (n == 0) 0.0 else s / n
  }

  /** ADC lookup table for one query: lut[sub·ksub + j] = squared L2
    * between the query's subvector and entry (sub, j). M·Ksub doubles
    * per query; after this, every candidate distance is m lookups. */
  def lut(q: Array[Float]): Array[Double] = {
    require(q.length == dim, s"query dim ${q.length} != codebook dim $dim")
    val out = new Array[Double](m * ksub)
    var sub = 0
    while (sub < m) {
      var j = 0
      while (j < ksub) { out(sub * ksub + j) = subSqL2(q, 0, sub, j); j += 1 }
      sub += 1
    }
    out
  }

  /** Approximate squared distance of coded row `i`: Σ_sub lut[code]. */
  @inline def adc(lutArr: Array[Double], codes: Array[Byte], i: Int): Double = {
    val base = i * m
    var acc = 0.0; var sub = 0
    while (sub < m) {
      acc += lutArr(sub * ksub + (codes(base + sub) & 0xff))
      sub += 1
    }
    acc
  }
}

object PqCodebook {

  /** Deterministic per-subspace Lloyd training over an evenly-spaced
    * row sample. `iters = 0` returns the seed codebook (the first
    * `ksub` sampled rows' subvectors) — useful for measuring how much
    * training helps. The sample bound keeps training O(sampleMax·
    * m·ksub·subDim·iters) regardless of corpus size; at 100 TB the
    * sample is collected once on the driver or per shard, never the
    * corpus. */
  def train(
      vecs: Array[Float], dim: Int, n: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 5,
      sampleMax: Int = 4096): PqCodebook = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(n > 0, "cannot train a PQ codebook on zero vectors")
    require(ksub <= 256, s"codes are one byte: ksub $ksub > 256")
    val subDim = dim / m

    // evenly-spaced deterministic sample (same rule as the medoid pivots)
    val sN = math.min(n, sampleMax)
    val step = math.max(1, n / sN)
    val sampleRows = Array.tabulate(sN)(i => i * step)

    // init: first ksub sampled rows, cycled when the sample is smaller
    val cents = new Array[Float](m * ksub * subDim)
    var sub = 0
    while (sub < m) {
      var j = 0
      while (j < ksub) {
        val row = sampleRows(j % sN)
        System.arraycopy(vecs, row * dim + sub * subDim,
          cents, (sub * ksub + j) * subDim, subDim)
        j += 1
      }
      sub += 1
    }
    val cb = new PqCodebook(m, ksub, subDim, cents)

    val sums = new Array[Double](ksub * subDim)
    val counts = new Array[Int](ksub)
    var it = 0
    while (it < iters) {
      sub = 0
      while (sub < m) {
        JArrays.fill(sums, 0.0); JArrays.fill(counts, 0)
        // assignment pass (argmin, tie → lower code) + partial sums
        var si = 0
        while (si < sN) {
          val row = sampleRows(si)
          val base = row * dim + sub * subDim
          var best = 0; var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            // the ONE subspace distance kernel (same accumulation
            // order as encode) — an inline copy here could drift and
            // break the train/encode consistency invariant
            val acc = cb.subSqL2(vecs, row * dim, sub, j)
            if (acc < bestD) { bestD = acc; best = j }
            j += 1
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best * subDim + i) += vecs(base + i).toDouble; i += 1 }
          si += 1
        }
        // recompute; an empty cluster keeps its previous centroid
        var j = 0
        while (j < ksub) {
          if (counts(j) > 0) {
            val cOff = (sub * ksub + j) * subDim
            var i = 0
            while (i < subDim) {
              cents(cOff + i) = (sums(j * subDim + i) / counts(j)).toFloat
              i += 1
            }
          }
          j += 1
        }
        sub += 1
      }
      it += 1
    }
    cb
  }
}

/** Two-tier best-first beam search — the DiskANN traversal: the
  * [[BestFirst]] kernel is steered by a RESIDENT approximate distance
  * (ADC lookups over in-memory PQ codes, or xor+popcount over sign
  * bits), and only the final working set (≤ beamWidth candidates) is
  * reranked with full-precision distances. The traversal differs from
  * [[MmapIndex.search]] ONLY in the distance used to steer it. */
object PqSearch {

  /** @param n      row count of the graph (ids in [0, n))
    * @param adj    adjacency fill ([[BestFirst.Adjacency]])
    * @param entry  start node (the index's medoid)
    * @param approx resident approximate distance of a row (steering)
    * @param exact  full-precision distance to the query (rerank only)
    * @return top-k (local row, EXACT distance) ascending by (dist, id)
    */
  def searchSteered(
      n: Int, adj: BestFirst.Adjacency, entry: Int,
      approx: Int => Double,
      exact: Int => Double, k: Int, beamWidth: Int): Array[(Int, Double)] = {
    val s = BestFirst.scratch()
    val wLen = BestFirst.search(s, n, entry, math.max(beamWidth, k), adj, approx)
    // full-precision rerank of the working set only (≤ bw candidates)
    val rIds = JArrays.copyOf(s.wIds, wLen)
    val rDists = new Array[Double](wLen)
    var i = 0
    while (i < wLen) { rDists(i) = exact(rIds(i)); i += 1 }
    BestFirst.sortPairs(rIds, rDists, 0, wLen - 1)
    val out = new Array[(Int, Double)](math.min(k, wLen))
    i = 0
    while (i < out.length) { out(i) = (rIds(i), rDists(i)); i += 1 }
    out
  }
}
