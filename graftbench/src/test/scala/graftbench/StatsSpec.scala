package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, checked on hand-worked cases. */
class StatsSpec extends AnyFunSuite {

  private val oneToTen = (1 to 10).map(_.toDouble).toArray

  test("nearest-rank percentile picks the smallest sample covering p percent") {
    assert(Stats.percentile(oneToTen, 50) == 5.0)
    assert(Stats.percentile(oneToTen, 90) == 9.0)
    assert(Stats.percentile(oneToTen, 91) == 10.0)
    assert(Stats.percentile(oneToTen, 100) == 10.0)
    assert(Stats.percentile(oneToTen, 1) == 1.0)
    assert(Stats.percentile(Array(3.0, 1.0, 2.0), 50) == 2.0) // unsorted input
    assert(Stats.percentile(Array(7.0), 99) == 7.0)
    assert(Stats.median(Array(4.0, 1.0)) == 1.0) // rank ceil(0.5 * 2) = 1
  }

  test("a phase with no successful sample reports a zero median") {
    assert(Stats.medianOrZero(Array.empty[Double]) == 0.0)
    assert(Stats.medianOrZero(Array(3.0, 1.0, 2.0)) == 2.0)
  }

  test("percentile rejects empty samples and out-of-range p") {
    intercept[IllegalArgumentException](Stats.percentile(Array.empty[Double], 50))
    intercept[IllegalArgumentException](Stats.percentile(oneToTen, 0))
    intercept[IllegalArgumentException](Stats.percentile(oneToTen, 101))
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(100, 95) == 5)
    assert(Stats.beyond(1000, 99) == 10)
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(99).isEmpty)
  }

  test("recall counts true neighbours among the first k returned") {
    assert(Stats.recallAt(3, Array(1L, 2L, 3L), Array(3L, 2L, 1L)) == 1.0)
    assert(Stats.recallAt(2, Array(1L, 9L, 2L), Array(1L, 2L)) == 0.5) // 2 is past k
    assert(Stats.recallAt(2, Array.empty[Long], Array(1L, 2L)) == 0.0)
    intercept[IllegalArgumentException](Stats.recallAt(3, Array(1L), Array(1L)))
    val truth = Map(1L -> Array(1L, 2L), 2L -> Array(3L, 4L))
    // a query with no result counts as recall 0, not as missing
    assert(Stats.meanRecall(2, Map(1L -> Array(2L, 1L)), truth) == 0.5)
  }

  test("rates divide items by seconds and refuse empty intervals") {
    assert(Stats.rate(400, 2.0) == 200.0)
    intercept[IllegalArgumentException](Stats.rate(1, 0.0))
  }

  test("interval union merges overlaps and skips empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("exact top-k is brute-force cosine order, ties to the lower id") {
    val corpus = Array(
      (10L, Array(1f, 0f)), (11L, Array(0f, 1f)), (12L, Array(2f, 0f)), (13L, Array(-1f, 0f)))
    val truth = Gen.exactTopK(corpus, Array((0L, Array(1f, 0.1f))), 3)
    // 10 and 12 point the same way (cosine ties): the lower id first
    assert(truth(0L).toSeq == Seq(10L, 12L, 11L))
  }

  test("generated inputs are a function of the seed") {
    val m1 = Gen.mixture(7, 4, 8, 1.0); val m2 = Gen.mixture(7, 4, 8, 1.0)
    val a = m1.draw(Gen.rng(7, 2), 5); val b = m2.draw(Gen.rng(7, 2), 5)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(Gen.mixture(8, 4, 8, 1.0).centers.head.toSeq != m1.centers.head.toSeq)
    val vocab = new Gen.Vocab(20000)
    val c1 = Gen.corpus(3, 10, 200, vocab); val c2 = Gen.corpus(3, 10, 200, vocab)
    assert(c1.docs.toSeq == c2.docs.toSeq)
  }

  test("the document generator accounts for its planted duplicates") {
    val vocab = new Gen.Vocab(20000)
    val c = Gen.corpus(5, 10, 300, vocab)
    assert(c.docs.map(_.id).toSeq == c.docs.indices.map(_.toLong))
    assert(c.distinctTexts == c.docs.map(_.text).distinct.length)
    assert(c.distinctTexts < c.docs.length) // exact copies were planted
    assert(c.nearPairs.nonEmpty)
    c.nearPairs.foreach { case (a, b, j) =>
      assert(a < b)
      assert(c.family(a) == c.family(b))
      assert(j == Gen.jaccard(Gen.shingles(c.docs(a.toInt).text), Gen.shingles(c.docs(b.toInt).text)))
      assert(j < 1.0)
    }
    assert(c.totalWords == c.docs.map(_.text.split(' ').length.toLong).sum)
    assert(vocab.words.distinct.length == vocab.words.length)
    assert(!vocab.words.exists(w => Gen.LangStops.exists(_._2.contains(w))))
  }
}
