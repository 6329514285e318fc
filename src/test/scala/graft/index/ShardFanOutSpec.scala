package graft.index

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkSpecBase, Tables}

/** One routed query's independent parts run at once
  * ([[ShardServe.fanOut]]): the per-shard pivot distances of
  * [[ShardServe.probe]] and the probed shard searches of
  * [[SingleFileIndex.LocalSharded]]. Each part's result keeps its
  * shard's slot, so the ranking, the merge and every served list are
  * the sequential ones, also when many clients share one handle. */
class ShardFanOutSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val Threads = 8
  private val K = 7
  private val Beam = 24

  test("fanOut keeps slot order and rethrows the lowest failing slot's exception as thrown") {
    assert(ShardServe.fanOut(0)(i => i).isEmpty)
    assert(ShardServe.fanOut(9)(i => i * i).toSeq == (0 until 9).map(i => i * i))
    val atTwo = new IllegalArgumentException("slot 2")
    val atThree = new IllegalStateException("slot 3")
    val e = intercept[IllegalArgumentException](ShardServe.fanOut(5) { i =>
      if (i == 2) throw atTwo
      if (i == 3) throw atThree
      i
    })
    assert(e eq atTwo, s"the pool re-wrapped the exception: $e")
  }

  test("probe breaks a pivot-distance tie by the lower shard id") {
    val shared = Array(Array(1f, 0f), Array(0f, 2f))
    val far = Array(Array(9f, 9f))
    val q = Array(0.5f, 0.5f)
    // positions 0 and 2 hold shards 7 and 3 with identical pivot sets
    val shards = Array(7, 5, 3)
    val pivots = Array(shared, far, shared)
    assert(ShardServe.probe(q, shards, pivots, 0).toSeq == Seq(2, 0, 1))
    assert(ShardServe.probe(q, shards, pivots, 1).toSeq == Seq(2))
    // no pivots at all: every distance is Double.MaxValue, ranked by id
    val none = Array.fill(3)(Array.empty[Array[Float]])
    assert(ShardServe.probe(q, shards, none, 2).toSeq == Seq(2, 1))
  }

  test("one LocalSharded handle searched from 8 threads returns the sequential lists") {
    val dir = Files.createTempDirectory("graft-fanout").toString
    val params = VamanaParams(maxDegree = 12, buildBeamWidth = 24, metric = "cosine")
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    // an overlapped tier, so replicas arrive from several probed shards
    // and distinctMerge has ids to drop
    val (built, split) = VamanaIndex.buildOverlappedCapped(vecs, params, 6, capFactor = 0)
    SingleFileIndex.exportSharded(built, params, dir, split)
    val queries = vecs.filter($"vec_id" % 7 === 0).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2)
    val man = SingleFileIndex.readManifestPivots(spark, dir)
    val files = man.map { case (_, f, _) => new MmapIndex(s"$dir/$f") }
    val handle = new SingleFileIndex.LocalSharded(spark, dir)
    try {
      val configs = for (np <- Seq(0, 1, 2, 4); distinct <- Seq(false, true)) yield (np, distinct)

      // per-shard MmapIndex.search in probe order, merged by (dist, id)
      def reference(q: Array[Float], np: Int, distinct: Boolean): Seq[(Long, Double)] = {
        val hits = ShardServe.probe(q, man.map(_._1), man.map(_._3), np)
          .flatMap(i => files(i).search(q, K, Beam))
          .sortBy(h => (h._2, h._1))
        val kept = if (!distinct) hits else {
          val seen = scala.collection.mutable.HashSet.empty[Long]
          hits.filter(h => seen.add(h._1))
        }
        kept.take(K).map { case (id, d) =>
          (id, BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSeq
      }
      val expected = configs.map { case (np, distinct) =>
        queries.map(reference(_, np, distinct))
      }
      assert(expected.forall(_.forall(_.length == K)))
      assert(expected(1).zip(expected(0)).exists { case (a, b) => a != b },
        "the fixture holds no replicas: distinctMerge never drops an id")

      val pool = Executors.newFixedThreadPool(Threads)
      val start = new CountDownLatch(1)
      try {
        // each thread walks the queries from its own offset, so the
        // threads search the one handle with different queries at once
        val futures = (0 until Threads).map { t =>
          pool.submit(new Callable[Seq[Array[Seq[(Long, Double)]]]] { def call() = {
            start.await()
            val got = configs.map(_ => new Array[Seq[(Long, Double)]](queries.length))
            queries.indices.foreach { i =>
              val qi = (i + t * queries.length / Threads) % queries.length
              configs.indices.foreach { c =>
                val (np, distinct) = configs(c)
                got(c)(qi) = handle.search(queries(qi), K, Beam, np, distinct).toSeq
              }
            }
            got
          }})
        }
        start.countDown()
        val results = futures.map(_.get(300, TimeUnit.SECONDS))
        val mismatches = for {
          (got, t) <- results.zipWithIndex
          c <- configs.indices
          qi <- queries.indices
          if got(c)(qi) != expected(c)(qi)
        } yield s"nprobe ${configs(c)._1} distinct ${configs(c)._2} thread $t query $qi"
        assert(mismatches.isEmpty,
          s"${mismatches.size} lists differ from the sequential reference, e.g. " +
            mismatches.take(5).mkString("; "))
      } finally pool.shutdownNow()
    } finally {
      handle.close()
      files.foreach(_.close())
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
