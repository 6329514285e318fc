package graftbench

import java.util.Random

/** Seeded input generators. Every stream draws from its own
  * `Random(seed, stream)`, so one seed always yields the same inputs
  * and the streams do not shift when another stream's size changes. */
object Gen {

  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  // ------------------------------------------------------------ vectors

  /** A Gaussian mixture in `dim` dimensions: unit-variance centres plus
    * isotropic noise. The noise sets how hard the search is: at 0.35 the
    * clusters are so tight that recall@10 reads 0.996 and cannot show a
    * loss, so the workloads run it near the inter-centre spread. */
  final class Mixture(val centers: Array[Array[Float]], val noise: Double) {
    def dim: Int = centers(0).length

    def draw(r: Random, n: Int): Array[Array[Float]] = Array.fill(n) {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(d => (c(d) + noise * r.nextGaussian()).toFloat)
    }
  }

  def mixture(seed: Long, clusters: Int, dim: Int, noise: Double, stream: Long = 1): Mixture = {
    val r = rng(seed, stream)
    new Mixture(Array.fill(clusters, dim)(r.nextGaussian().toFloat), noise)
  }

  /** Ids of held-out query vectors: disjoint from every corpus id, so a
    * returned query id is always an error. */
  val QueryIdBase = 1000000000L

  // -------------------------------------------------------------- exact

  private def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val inv = if (s > 0) 1.0 / math.sqrt(s) else 0.0
    v.map(x => (x * inv).toFloat)
  }

  /** Exact cosine top-k by brute force over `corpus`, independent of
    * graft: the ground truth recall is measured against. Ties break
    * by the lower id. */
  def exactTopK(corpus: Array[(Long, Array[Float])], queries: Array[(Long, Array[Float])],
      k: Int): Map[Long, Array[Long]] = {
    val ids = corpus.map(_._1)
    val units = corpus.map(c => unit(c._2))
    val dim = units.headOption.map(_.length).getOrElse(0)
    val out = new Array[Array[Long]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = unit(queries(qi)._2)
      val bestD = Array.fill(k)(Double.MaxValue)
      val bestI = Array.fill(k)(-1)
      var j = 0
      while (j < units.length) {
        val v = units(j)
        var dot = 0.0; var d = 0
        while (d < dim) { dot += q(d).toDouble * v(d); d += 1 }
        val dist = 1.0 - dot
        if (dist < bestD(k - 1) ||
            (dist == bestD(k - 1) && bestI(k - 1) >= 0 && ids(j) < ids(bestI(k - 1)))) {
          var p = k - 1
          while (p > 0 && (bestD(p - 1) > dist ||
              (bestD(p - 1) == dist && ids(bestI(p - 1)) > ids(j)))) {
            bestD(p) = bestD(p - 1); bestI(p) = bestI(p - 1); p -= 1
          }
          bestD(p) = dist; bestI(p) = j
        }
        j += 1
      }
      out(qi) = bestI.filter(_ >= 0).map(ids(_))
    }
    queries.indices.map(i => queries(i)._1 -> out(i)).toMap
  }

  // ---------------------------------------------------------- documents

  /** Stopwords per language: the lists graft's language filter counts,
    * so generated documents classify as the language they were drawn in. */
  val LangStops: Seq[(String, Array[String])] = Seq(
    "en" -> Array("the", "a", "of", "to", "and", "in", "is", "it"),
    "es" -> Array("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Array("le", "la", "et", "les", "des", "un", "une", "que"),
    "de" -> Array("der", "die", "und", "das", "ein", "ist", "nicht", "mit"))

  private val LangWeights = Array(0.55, 0.15, 0.15, 0.15)
  private val StopShare = 0.18

  /** Content vocabulary: pronounceable, distinct, never a stopword. */
  final class Vocab(size: Int) {
    private val on = "bcdfghjklmnprstvwz"; private val nu = "aeiou"
    val words: Array[String] = Array.tabulate(size) { i =>
      val sb = new StringBuilder; var x = i + size
      while (x > 0) { sb += on(x % on.length); x /= on.length; sb += nu(x % nu.length); x /= nu.length }
      sb.toString
    }
    // Zipf(s) over ranks by inverse CDF on the cumulative weights
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1, 0.9))
      val c = w.scanLeft(0.0)(_ + _).tail; val t = c.last
      c.map(_ / t)
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A documents corpus with planted duplicates and the generator's own
    * accounting of them. `family(doc)` groups a base document with its
    * exact and near copies; `nearPairs` are the planted (base, near copy)
    * pairs with their exact word-3-shingle Jaccard. */
  final case class Corpus(docs: Array[Doc], distinctTexts: Int,
      family: Map[Long, Int], nearPairs: Array[(Long, Long, Double)],
      totalWords: Long)

  def shingles(text: String): Set[String] = {
    val w = text.split(' ').filter(_.nonEmpty)
    (0 until math.max(0, w.length - 2)).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val uni = a.size + b.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  /** `nBase` fresh documents, then exact copies of `exactShare` of them
    * and near copies of `nearShare` of them, shuffled and numbered.
    * A near copy replaces each word with probability f ~ U[0.01, 0.25],
    * which spreads the planted Jaccards across 0.3–0.95. */
  def corpus(seed: Long, stream: Long, nBase: Int, vocab: Vocab,
      exactShare: Double = 0.1, nearShare: Double = 0.1): Corpus = {
    val r = rng(seed, stream)
    def drawLang(): Int = {
      val u = r.nextDouble(); var acc = 0.0; var i = 0
      while (i < LangWeights.length - 1 && { acc += LangWeights(i); u >= acc }) i += 1
      i
    }
    final case class Proto(text: String, lang: String, fam: Int)
    val base = Array.tabulate(nBase) { f =>
      val li = drawLang()
      val stops = LangStops(li)._2
      val n = 60 + r.nextInt(160)
      val words = Array.fill(n)(
        if (r.nextDouble() < StopShare) stops(r.nextInt(stops.length)) else vocab.draw(r))
      Proto(words.mkString(" "), LangStops(li)._1, f)
    }
    val exact = base.filter(_ => r.nextDouble() < exactShare)
      .flatMap(p => Array.fill(1 + r.nextInt(2))(p))
    val near = base.filter(_ => r.nextDouble() < nearShare).map { p =>
      val w = p.text.split(' ')
      val f = 0.01 + 0.24 * r.nextDouble()
      def other(x: String): String = { var y = vocab.draw(r); while (y == x) y = vocab.draw(r); y }
      var changed = false
      val edited = w.map { x =>
        if (r.nextDouble() < f) { changed = true; other(x) } else x
      }
      if (!changed) { val i = r.nextInt(edited.length); edited(i) = other(edited(i)) }
      Proto(edited.mkString(" "), p.lang, p.fam)
    }
    val all = (base ++ exact ++ near).map(p => (p, r.nextLong()))
      .sortBy(_._2).map(_._1)
    val docs = all.zipWithIndex.map { case (p, i) =>
      Doc(i.toLong, p.text, p.lang, s"src${r.nextInt(20)}")
    }
    val distinct = all.iterator.map(_.text).toSet.size
    val family = docs.indices.map(i => docs(i).id -> all(i).fam).toMap
    // planted near pairs: each near copy against its base document (the
    // lowest-id copy of the base text)
    val baseId = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach(d => if (!baseId.contains(d.text) || baseId(d.text) > d.id) baseId(d.text) = d.id)
    val nearTexts = near.map(_.text).toSet
    val pairs = docs.filter(d => nearTexts.contains(d.text) && baseId(d.text) == d.id).map { d =>
      val b = base(all(d.id.toInt).fam)
      val bid = baseId(b.text)
      val j = jaccard(shingles(b.text), shingles(d.text))
      (math.min(bid, d.id), math.max(bid, d.id), j)
    }.distinct
    Corpus(docs, distinct, family, pairs, docs.iterator.map(_.text.split(' ').length.toLong).sum)
  }
}
