package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{VamanaGraph, VamanaParams}

/** Pins `VamanaGraph.build`'s adjacency byte for byte: three seeds,
  * the l2, cosine and dot metrics, and shard sizes below and above one
  * 256-node refinement chunk (so the chunk merge runs once per pass
  * and several times per pass). Each expected value is a SHA-256
  * prefix over every list's length and entries in row order, recorded
  * from the build before its reverse-edge merge moved behind the
  * shared back-link step. A build change that moves any edge fails
  * here, whatever its recall. */
class BuildIdentitySpec extends AnyFunSuite {

  private val Dim = 16

  /** Seeded mixture of 8 centres, spread so clusters overlap. */
  private def vectors(n: Int, seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(8, Dim)(rnd.nextGaussian())
    Array.fill(n) {
      val c = centres(rnd.nextInt(8))
      Array.tabulate(Dim)(d => (c(d) + 0.6 * rnd.nextGaussian()).toFloat)
    }.flatten
  }

  private def adjacencyHash(graph: Array[Array[Int]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(4)
    def put(x: Int): Unit = { buf.clear(); buf.putInt(x); md.update(buf.array()) }
    graph.foreach { l => put(l.length); l.foreach(put) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private val expected: Map[(String, Int, Long), String] = Map(
    ("l2", 200, 1L) -> "9498a62733678a8c",
    ("l2", 200, 2L) -> "5750a3202c5cf3c2",
    ("l2", 200, 3L) -> "498ce59082094995",
    ("l2", 700, 1L) -> "0a0b894baf7bd508",
    ("l2", 700, 2L) -> "2ec75ac984e9539b",
    ("l2", 700, 3L) -> "852a942c07c8d792",
    ("cosine", 200, 1L) -> "6cce9ea56f1df4b0",
    ("cosine", 200, 2L) -> "3b580788484b8b96",
    ("cosine", 200, 3L) -> "d4e1b0b2bbe84c6f",
    ("cosine", 700, 1L) -> "b1560024446e252c",
    ("cosine", 700, 2L) -> "996ceb6942ef34ea",
    ("cosine", 700, 3L) -> "c14f903bbb7365b8",
    ("dot", 200, 1L) -> "934fa71d7d501c74",
    ("dot", 200, 2L) -> "c11f4f544ae65da6",
    ("dot", 200, 3L) -> "8d77c310a5b4f8e3",
    ("dot", 700, 1L) -> "7498eb8f8d3bfc5e",
    ("dot", 700, 2L) -> "5ba0f657a03f4683",
    ("dot", 700, 3L) -> "136f0278aec60777")

  test("build adjacency is byte-identical to the recorded graphs") {
    val got = expected.keys.toSeq.sorted.map { case key @ (metric, n, seed) =>
      val p = VamanaParams(maxDegree = 12, buildBeamWidth = 32, seed = seed, metric = metric)
      val g = new VamanaGraph(vectors(n, seed), Dim, n, p).build()
      key -> adjacencyHash(g.graph)
    }
    val diffs = got.filter { case (key, h) => expected(key) != h }
    assert(diffs.isEmpty, s"${diffs.size} of ${got.size} graphs moved: " +
      diffs.map { case (key, h) => s"$key -> $h" }.mkString(", "))
  }
}
