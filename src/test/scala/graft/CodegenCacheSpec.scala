package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.{Dedup, TextAnalysis}

/** Spark's generated-code cache must hold a repeated curation pass's
  * classes. One text-curate pass (exact, MinHash and cluster dedup,
  * select, pack) generates more classes than the default 100-entry
  * cache holds, so at the default every repeat pass recompiled what
  * the last one evicted. build.sbt sets
  * `spark.sql.codegen.cache.maxEntries` to 1000 for every forked JVM.
  *
  * Compiles are counted with `CodegenMetrics.METRIC_COMPILATION_TIME`,
  * a JVM-global counter: the count is this spec's own only because
  * build.sbt's `testGrouping` forks it in a JVM of its own. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark

  private val stages = Seq(Dedup.qDedupExact _, Dedup.qDedupMinhash _,
    Dedup.qDedupClusterRep _, TextAnalysis.qPipelineSelect _, TextAnalysis.qPackChunks _)

  private def release(): Unit = { Dedup.release(spark); TextAnalysis.release(spark) }

  /** Janino compiles during one pass over sf0.001, every cache of the
    * two families released first, as graftbench releases them between
    * passes. */
  private def passCompiles(): Long = {
    release()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    stages.foreach(q => q(spark, SparkSpecBase.sf001).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated curation pass reuses its generated classes") {
    val first = passCompiles()
    val second = passCompiles()
    release()
    info(s"Janino compiles: first pass $first, second pass $second")
    assert(second * 10 <= first, s"first pass compiled $first classes, the second $second")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }
}
