package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{HnswGraph, HnswParams, MmapIndex, SingleFileIndex, VamanaIndex, VamanaParams}

/** Every serving graph can be shared by many task threads: searching
  * ONE instance from 8 threads at once must return, for every query,
  * exactly the list a single thread gets. The search scratch is one
  * per thread ([[graft.index.BestFirst]]) and per-query state lives
  * in the call, so no instance holds anything two searches could
  * race on. */
class ConcurrentSearchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark

  private val N = 800
  private val Dim = 32
  private val Threads = 8
  private val PerThread = 200

  /** Seeded mixture of 16 centres; `u8` rounds into integral [0, 255]. */
  private def vectors(count: Int, seed: Long, u8: Boolean): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    val centres = Array.fill(16, Dim)(rnd.nextGaussian())
    Array.fill(count) {
      val c = centres(rnd.nextInt(16))
      Array.tabulate(Dim) { d =>
        val x = c(d) + 0.5 * rnd.nextGaussian()
        if (u8) math.max(0, math.min(255, math.round(128 + 40 * x))).toFloat else x.toFloat
      }
    }
  }

  private def exportFile(dir: java.nio.file.Path, name: String,
      rows: Array[Array[Float]], metric: String, u8: Boolean): String = {
    import spark.implicits._
    val p = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = metric)
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("vec_id", "embedding")
    val file = dir.resolve(name).toString
    SingleFileIndex.export(VamanaIndex.build(df, p, numShards = 1), p, file, u8 = u8)
    file
  }

  test("one shared instance searched from 8 threads returns the single-threaded lists") {
    val dir = Files.createTempDirectory("graft-concurrent")
    val f32 = vectors(N, 1L, u8 = false)
    val u8v = vectors(N, 2L, u8 = true)
    val l2File = exportFile(dir, "l2.idx", f32, "l2", u8 = false)
    val cosFile = exportFile(dir, "cos.idx", f32, "cosine", u8 = false)
    val u8File = exportFile(dir, "u8.idx", u8v, "l2", u8 = true)

    val qF = vectors(PerThread, 3L, u8 = false)
    val qInt = vectors(PerThread, 4L, u8 = true)
    val qFrac = qInt.map { q => val c = q.clone(); c(0) += 0.5f; c }

    val (heap, heapIds, _) = SingleFileIndex.importLocal(cosFile)
    val hnsw = new HnswGraph(f32.flatten, Dim, N, HnswParams(m = 8, efConstruction = 48)).build()
    val (g8, ids8, _) = SingleFileIndex.importLocalU8(u8File)
    val mmL2 = new MmapIndex(l2File)
    val mmCos = new MmapIndex(cosFile)
    val mmU8 = new MmapIndex(u8File)
    try {
      val (cb, codes) = mmCos.buildPqState()
      val (words, wpv, rot) = mmCos.buildBinaryState()
      val searchers: Seq[(String, Array[Array[Float]], Array[Float] => Seq[(Long, Double)])] = Seq(
        ("VamanaGraph", qF, q => heap.search(q, 10, 32).map { case (r, d) => (heapIds(r), d) }.toSeq),
        ("HnswGraph", qF, q => hnsw.search(q, 10, 32).map { case (r, d) => (r.toLong, d) }.toSeq),
        ("U8Graph integer", qInt, q => g8.search(q, 10, 32).map { case (r, d) => (ids8(r), d) }.toSeq),
        ("U8Graph fractional", qFrac, q => g8.search(q, 10, 32).map { case (r, d) => (ids8(r), d) }.toSeq),
        ("MmapIndex f32-l2", qF, q => mmL2.search(q, 10, 32).toSeq),
        ("MmapIndex f32-cosine", qF, q => mmCos.search(q, 10, 32).toSeq),
        ("MmapIndex u8 integer", qInt, q => mmU8.search(q, 10, 32).toSeq),
        ("MmapIndex u8 fractional", qFrac, q => mmU8.search(q, 10, 32).toSeq),
        ("searchPq", qF, q => mmCos.searchPq(q, 10, 32, cb, codes).toSeq),
        ("searchBinary", qF, q => mmCos.searchBinary(q, 10, 32, words, wpv, rot).toSeq))

      val expected = searchers.map { case (_, qs, f) => qs.map(f) }
      assert(expected.forall(_.forall(_.size == 10)))

      val pool = Executors.newFixedThreadPool(Threads)
      val start = new CountDownLatch(1)
      try {
        // each thread walks the queries from its own offset, so the
        // threads search one instance with different queries at once
        val futures = (0 until Threads).map { t =>
          pool.submit(new Callable[Seq[Array[Seq[(Long, Double)]]]] { def call() = {
            start.await()
            val got = searchers.map(_ => new Array[Seq[(Long, Double)]](PerThread))
            var i = 0
            while (i < PerThread) {
              val qi = (i + t * PerThread / Threads) % PerThread
              searchers.indices.foreach { s => got(s)(qi) = searchers(s)._3(searchers(s)._2(qi)) }
              i += 1
            }
            got
          }})
        }
        start.countDown()
        val results = futures.map(_.get(300, TimeUnit.SECONDS))
        val mismatches = for {
          (got, t) <- results.zipWithIndex
          s <- searchers.indices
          qi <- 0 until PerThread
          if got(s)(qi) != expected(s)(qi)
        } yield s"${searchers(s)._1} thread $t query $qi"
        val bad = mismatches.size
        assert(bad == 0,
          s"$bad lists differ from the single-threaded ones, e.g. " +
            mismatches.take(5).mkString("; "))
      } finally pool.shutdownNow()
    } finally {
      mmL2.close(); mmCos.close(); mmU8.close()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
