package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextAnalysis}

/** Passes of an LLM-data curation pipeline (exact dedup, MinHash
  * near-dup, cluster representatives, quality/language selection,
  * chunk packing), each over a fresh seeded documents corpus. The index
  * module does nothing here: the work is hash and text expressions,
  * shuffles and aggregates. */
object TextCurate extends Workload {

  /** Base documents per corpus; exact and near copies come on top. */
  val DocsPerCorpus = 800
  /** Distinct corpora per run; passes beyond this reuse one, with every
    * graft cache released first. */
  val Corpora = 2
  /** Base documents of the set-up corpus, drawn from another stream: one
    * untimed pass over it pays the cold JVM's costs (codegen, JIT, parquet
    * footers), and its wall is `setup_s`. `Dedup.warm` is never called on
    * a timed corpus. */
  val SetupDocs = 100
  /** Shingle Jaccard at and above which a planted near-duplicate pair
    * counts toward near-dup recall. */
  val Tau = 0.5
  val RecallFloor = 0.8
  /** Fewest timed passes. */
  val MinPasses = 2
  val VocabSize = 40000
  /** Share of base documents given a near copy: enough planted pairs
    * (about 400 a corpus) that near-dup recall moves by under 2% between
    * seeds. */
  val NearShare = 0.5

  val phases: Seq[String] = Seq("curate")

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false), StructField("lang", StringType, false),
    StructField("source", StringType, false), StructField("n_chars", LongType, false)))

  /** The corpus as graft's documents table, through an explicit schema. */
  def writeDocs(s: SparkSession, corpus: Gen.Corpus, dir: String): Unit =
    s.createDataFrame(java.util.Arrays.asList(corpus.docs.map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)): _*), DocSchema)
      .repartition(s.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def release(s: SparkSession): Unit = { Dedup.release(s); TextAnalysis.release(s) }

  private val stages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "exact" -> Dedup.qDedupExact, "minhash" -> Dedup.qDedupMinhash,
    "cluster_rep" -> Dedup.qDedupClusterRep, "select" -> TextAnalysis.qPipelineSelect,
    "pack" -> TextAnalysis.qPackChunks)

  /** One pass: every stage's output rows and wall seconds. */
  private def pass(c: Ctx, dir: String): Seq[(String, Array[Row], Double)] =
    stages.map { case (name, q) =>
      val (rows, sec) = c.tracer.span("curate", name)(q(c.spark, dir).collect())
      (name, rows, sec)
    }

  def run(c: Ctx): Unit = {
    val s = c.spark
    val vocab = new Gen.Vocab(VocabSize)
    val corpora = (0 until Corpora).map(i => Gen.corpus(c.seed, 10 + i, DocsPerCorpus, vocab, nearShare = NearShare))
    val dirs = corpora.indices.map(i => c.path(s"docs-$i"))
    corpora.zip(dirs).foreach { case (cp, d) => writeDocs(s, cp, d) }
    val setupDir = c.path("docs-setup")
    writeDocs(s, Gen.corpus(c.seed, 20, SetupDocs, vocab, nearShare = NearShare), setupDir)
    c.log("inputs written")
    // a cold JVM's first pass: once a run, as only the first pass is cold
    val setupS = pass(c, setupDir).map(_._3).sum
    release(s)
    c.log("set up")

    val passWalls = mutable.ArrayBuffer.empty[Double]
    val stageSecs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var docs = 0L
    var plantedFound = 0; var plantedTotal = 0
    var reported = 0L; var reportedPlanted = 0L
    c.tracer.on = c.traced
    System.gc() // start the window from a collected heap
    val tStart = System.nanoTime()
    var p = 0
    var threw = false // the loop stops at its first exception
    while (!threw && (p < MinPasses || (System.nanoTime() - tStart) / 1e9 < c.seconds)) {
      val cp = corpora(p % Corpora)
      threw = c.res.op("curation pass") {
        val out = pass(c, dirs(p % Corpora))
        val byStage = out.map(o => o._1 -> o._2).toMap
        val (found, total, rep, repPlanted) = checkPass(c, cp, byStage)
        plantedFound += found; plantedTotal += total
        reported += rep; reportedPlanted += repPlanted
        passWalls += out.map(_._3).sum
        docs += cp.docs.length
        out.foreach { case (name, rows, sec) =>
          stageSecs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec
          if (c.tracer.on) c.res.perLayer(s"curate.${name}_rows_out") = rows.length
        }
      }.isEmpty
      release(s)
      c.log(s"pass $p done")
      p += 1
    }

    c.tracer.on = false
    val recall = if (plantedTotal == 0) 0.0 else plantedFound.toDouble / plantedTotal
    c.res.op("near-dup recall floor") {
      c.res.check(recall >= RecallFloor, f"near-dup recall $recall%.4f below $RecallFloor")
    }
    // throughput: docs over the timed passes' summed wall; the operation
    // latency: the median over every stage query of those passes, which
    // the short stages set while the pass wall is mostly MinHash and
    // cluster_rep
    val docsPerS = if (passWalls.isEmpty) 0.0 else Stats.rate(docs, passWalls.sum)
    val stageMs = stageSecs.valuesIterator.flatten.map(_ * 1e3).toArray
    val precision = if (reported == 0) 0.0 else reportedPlanted.toDouble / reported
    c.report(docsPerS, Stats.medianOrZero(stageMs), recall, setupS)

    c.res.info("curate_docs_per_s", docsPerS, "1/s")
    c.res.info("stage_p50_ms", Stats.medianOrZero(stageMs), "ms")
    c.res.info("pass_p50_ms", Stats.medianOrZero(passWalls.toArray) * 1e3, "ms")
    c.res.info("neardup_recall", recall, "ratio")
    c.res.info("minhash_precision", precision, "ratio")
    c.res.info("planted_pairs", plantedTotal, "count")
    c.res.info("setup_s", setupS, "s")
    c.res.info("passes", passWalls.length, "count")
    stageSecs.foreach { case (n, xs) => c.res.info(s"${n}_s", Stats.median(xs.toArray), "s") }

    if (c.traced) {
      stages.foreach { case (n, _) => c.res.perLayer(s"curate.${n}_s") = c.spanMedian("curate", n, 1) }
      c.res.perLayer("curate.minhash_precision") = precision
      c.layerMetrics("curate")
    }
  }

  /** Checks one pass against the generator's accounting; returns
    * (planted pairs found, planted pairs at or above Tau, pairs
    * reported, reported pairs inside one planted family). */
  private def checkPass(c: Ctx, cp: Gen.Corpus, out: Map[String, Array[Row]]): (Int, Int, Long, Long) = {
    val n = cp.docs.length
    val inRange = (id: Long) => id >= 0 && id < n

    val exact = out("exact")
    c.res.check(exact.length == n, s"exact dedup returned ${exact.length} rows for $n docs")
    val keepers = exact.count(r => r.getLong(0) == r.getLong(1))
    c.res.check(keepers == cp.distinctTexts,
      s"exact dedup kept $keepers docs; the corpus holds ${cp.distinctTexts} distinct texts")

    val pairs = out("minhash").map(r => (r.getLong(0), r.getLong(1)))
    c.res.check(pairs.forall { case (a, b) => a < b && inRange(a) && inRange(b) },
      "minhash returned a pair out of order or out of range")
    val pairSet = pairs.toSet
    val planted = cp.nearPairs.filter(_._3 >= Tau)
    val found = planted.count(p => pairSet.contains((p._1, p._2)))
    val inFamily = pairs.count { case (a, b) => cp.family(a) == cp.family(b) }

    // cluster_rep lists the members of clusters of two or more docs;
    // byte-identical documents always share one
    val cl = out("cluster_rep")
    val clusters = cl.map(r => r.getLong(0) -> r.getLong(1)).toMap
    c.res.check(clusters.size == cl.length && cl.forall(r => inRange(r.getLong(0)) && r.getLong(2) >= 2),
      "cluster_rep listed a doc twice, out of range, or in a cluster of one")
    val byText = cp.docs.groupBy(_.text).valuesIterator.filter(_.length > 1)
    c.res.check(byText.forall(g => g.map(d => clusters.getOrElse(d.id, -1L)).distinct.length == 1 &&
      clusters.contains(g.head.id)), "identical documents missing from cluster_rep or split across clusters")

    val sel = out("select").map(_.getLong(0))
    c.res.check(sel.nonEmpty && sel.distinct.length == sel.length && sel.forall(inRange),
      "pipeline select returned no rows, a duplicate, or an id out of range")
    c.res.check(sel.length <= cp.distinctTexts, "pipeline select kept more docs than distinct texts")

    val pack = out("pack")
    c.res.check(pack.length == n, s"pack returned ${pack.length} rows for $n docs")
    val tokens = pack.iterator.map(_.getLong(2)).sum
    c.res.check(tokens == cp.totalWords, s"pack counted $tokens tokens; the corpus holds ${cp.totalWords}")
    (found, planted.length, pairs.length.toLong, inFamily.toLong)
  }
}
