package graft.index

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The one graph distance kernel ([[Distance]]): the vector loops agree
  * with the scalar loop up to summation order, follow one documented
  * lane order in every compilation tier, and give bit-identical results
  * whether a row comes off the heap or off a mapped file, so the heap
  * graph and the mapped file serve identical lists. */
class DistanceKernelSpec extends AnyFunSuite {

  private val Dims = Seq(1, 7, 8, 9, 15, 16, 17, 127, 128, 129, 960)

  /** Gaussian slots spread over several binades, so that sums round. */
  private def vec(rnd: java.util.Random, n: Int): Array[Float] =
    Array.fill(n)((rnd.nextGaussian() * math.pow(2, rnd.nextInt(9) - 4)).toFloat)

  test("the test JVM runs the vector kernel, not the scalar fallback") {
    assert(Distance.VECTORIZED, s"the vector kernel is off; fork with ${Distance.FLAGS}")
    assert(DistanceVector.lanes >= 2)
  }

  test("dot and squared L2 match the scalar loop within 1e-12 of the summed magnitudes") {
    val rnd = new java.util.Random(11)
    for (dim <- Dims; (ao, bo) <- Seq((0, 0), (3, 5), (13, 1))) {
      val a = vec(rnd, ao + dim + 2)
      val b = vec(rnd, bo + dim + 2)
      var absDot = 0.0; var absL2 = 0.0
      for (i <- 0 until dim) {
        val x = a(ao + i).toDouble; val y = b(bo + i).toDouble
        absDot += math.abs(x * y); absL2 += (x - y) * (x - y)
      }
      val dot = Distance.dot(a, ao, b, bo, dim)
      val sDot = Distance.scalarDot(a, ao, b, bo, dim)
      assert(math.abs(dot - sDot) <= 1e-12 * absDot, s"dot dim $dim offsets ($ao, $bo): $dot vs $sDot")
      val l2 = Distance.l2sq(a, ao, b, bo, dim)
      val sL2 = Distance.scalarL2sq(a, ao, b, bo, dim)
      assert(math.abs(l2 - sL2) <= 1e-12 * absL2, s"l2sq dim $dim offsets ($ao, $bo): $l2 vs $sL2")
      // symmetric, as the build's pair distances assume
      assert(Distance.dot(b, bo, a, ao, dim) == dot)
      assert(Distance.l2sq(b, bo, a, ao, dim) == l2)
    }
  }

  test("the vector sums follow one lane order, interpreted and compiled alike") {
    val lanes = DistanceVector.lanes
    // lane l accumulates slots l, l + lanes, … with fma; then the lanes
    // are added in order, then the tail slots
    def model(a: Array[Float], b: Array[Float], dim: Int, l2: Boolean): Double = {
      val acc = new Array[Double](lanes)
      val bound = dim - dim % lanes
      for (i <- 0 until bound) {
        val x = a(i).toDouble; val y = b(i).toDouble
        acc(i % lanes) = if (l2) Math.fma(x - y, x - y, acc(i % lanes)) else Math.fma(x, y, acc(i % lanes))
      }
      var s = acc(0)
      for (l <- 1 until lanes) s += acc(l)
      for (i <- bound until dim) {
        val x = a(i).toDouble; val y = b(i).toDouble
        s += (if (l2) (x - y) * (x - y) else x * y)
      }
      s
    }
    val rnd = new java.util.Random(12)
    // enough calls for the JIT to compile the kernel part way through
    for (round <- 0 until 3000) {
      val dim = Dims(round % Dims.length)
      val a = vec(rnd, dim); val b = vec(rnd, dim)
      assert(Distance.dot(a, 0, b, 0, dim) == model(a, b, dim, l2 = false), s"dot round $round")
      assert(Distance.l2sq(a, 0, b, 0, dim) == model(a, b, dim, l2 = true), s"l2sq round $round")
    }
  }

  test("zero vectors: the kernel reads 0 and the cosine guard still gives 1.0") {
    for (dim <- Dims) {
      val z = new Array[Float](dim)
      assert(Distance.dot(z, 0, z, 0, dim) == 0.0)
      assert(Distance.l2sq(z, 0, z, 0, dim) == 0.0)
    }
    val rnd = new java.util.Random(13)
    val dim = 17
    val rows = Array.fill(30)(vec(rnd, dim))
    rows(4) = new Array[Float](dim)
    val params = VamanaParams(maxDegree = 8, buildBeamWidth = 16, metric = "cosine")
    val g = new VamanaGraph(rows.flatten, dim, rows.length, params).build()
    val all = g.search(new Array[Float](dim), rows.length, rows.length)
    assert(all.length == rows.length && all.forall(_._2 == 1.0), all.toSeq)
    val toZeroRow = g.search(rows(0), rows.length, rows.length).find(_._1 == 4)
    assert(toZeroRow.map(_._2).contains(1.0), toZeroRow)
    // the mapped file applies the same guard
    val path = Files.createTempDirectory("graft-distance").resolve("zero.idx").toString
    SingleFileIndex.writeShardFile(Array.tabulate(rows.length)(i =>
      IndexRow(i.toLong, rows(i), 0, g.graph(i).map(_.toLong))), params, path)
    val mapped = new MmapIndex(path).search(new Array[Float](dim), rows.length, rows.length)
    assert(mapped.toSeq == all.toSeq.map { case (j, d) => (j.toLong, d) })
  }

  test("a mapped little-endian row and its heap array give bit-identical distances and lists") {
    val rnd = new java.util.Random(14)
    val dim = 129
    val n = 300
    val rows = Array.fill(n)(vec(rnd, dim))
    val dir = Files.createTempDirectory("graft-distance")
    for (metric <- Seq("l2", "cosine", "dot")) {
      val params = VamanaParams(maxDegree = 12, buildBeamWidth = 32, metric = metric)
      val g = new VamanaGraph(rows.flatten, dim, n, params).build()
      val group = Array.tabulate(n)(i =>
        IndexRow(10L * i + 3, rows(i), 0, g.graph(i).map(j => 10L * j + 3)))
      val path = dir.resolve(s"$metric.idx").toString
      SingleFileIndex.writeShardFile(group, params, path)

      val file = new SingleFileIndex.IndexFile(path)
      val row = new Array[Float](dim)
      val q = vec(rnd, dim + 1)
      for (i <- 0 until n) {
        file.decodeInto(i, row, 0)
        assert(file.ids(i) == 10L * i + 3)
        assert(Distance.dot(q, 1, row, 0, dim) == Distance.dot(q, 1, g.vecs, i * dim, dim))
        assert(Distance.l2sq(q, 1, row, 0, dim) == Distance.l2sq(q, 1, g.vecs, i * dim, dim))
      }
      val mm = new MmapIndex(path)
      for (t <- 0 until 20) {
        val query = vec(rnd, dim)
        val heap = g.search(query, 10, 32).map { case (j, d) => (10L * j + 3, d) }.toSeq
        assert(mm.search(query, 10, 32).toSeq == heap, s"$metric query $t")
      }
    }
  }
}
