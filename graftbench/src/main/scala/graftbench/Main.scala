package graftbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Operations attempted and failed, and the metrics a run reports. An
  * operation fails when it throws or when any check inside it fails. */
final class Result {
  var attempted = 0L
  var failed = 0L
  private var opFailed = false
  private var logged = 0
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]

  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    try {
      val v = body
      if (opFailed) failed += 1
      Some(v)
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"$what threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** An exception outside any operation (in set-up, say): one more
    * operation attempted and failed. */
  def threw(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    log(s"$what threw ${e.getClass.getName}: ${e.getMessage}")
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { opFailed = true; log(s"check failed: $what") }

  private def log(msg: String): Unit = {
    if (logged < 20) System.err.println(s"[graftbench] $msg")
    logged += 1
  }

  /** A figure printed for the reader beside the gated metrics. */
  def info(name: String, value: Double, unit: String): Unit =
    println(f"info $name%-22s $value%14.4f $unit")
}

/** What a workload gets: the session, its seed, its time budget, the
  * tracer and a private scratch directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: File, val tracer: Tracer,
    val listener: Option[PhaseListener], val res: Result) {

  def path(name: String): String = new File(work, name).getAbsolutePath

  private val born = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

  /** The end-to-end figures and, in a traced run, the traced run's own
    * headline figures and its tracing overhead: the tracer's and the
    * listener's own time as a share of the traced wall. Comparing
    * `trace.throughput_per_s` and `trace.op_p50_ms` with an untraced
    * run's figures gives the traced/untraced difference. */
  def report(throughput: Double, opP50Ms: Double, quality: Double, setupS: Double): Unit = {
    res.endToEnd ++= Seq("throughput_per_s" -> throughput, "op_p50_ms" -> opP50Ms,
      "quality" -> quality, "setup_s" -> setupS)
    if (traced) {
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val wallNs = tracer.recorded.filter(_.parent < 0).map(s => s.endNs - s.startNs).sum
      val busyNs = tracer.selfNs + listener.map(_.busyNs).getOrElse(0L)
      res.perLayer ++= Seq("trace.throughput_per_s" -> throughput, "trace.op_p50_ms" -> opP50Ms,
        "trace.overhead_pct" -> (if (wallNs > 0) 100.0 * busyNs / wallNs else 0.0))
    }
  }

  /** Spark and JVM metrics of `phase`, under `<phase>.<metric>`. */
  def layerMetrics(phase: String, spark: Boolean = true): Unit = {
    if (spark) listener.foreach { l =>
      org.apache.spark.GraftBenchBus.drain(this.spark.sparkContext)
      l.metrics(phase, tracer.top(phase)).foreach { case (m, v) => res.perLayer(s"$phase.$m") = v }
    }
    res.perLayer(s"$phase.gc_ms") = tracer.jvmGcMs(phase)
    res.perLayer(s"$phase.heap_used_peak_mb") = tracer.jvmHeapPeakMb(phase)
  }

  /** Median duration of the spans `phase`/`name`, scaled, or 0 when
    * the run recorded none. */
  def spanMedian(phase: String, name: String, scale: Double): Double = {
    val s = tracer.named(phase, name)
    if (s.isEmpty) 0.0 else Stats.median(s.map(_.seconds * scale).toArray)
  }
}

trait Workload {
  /** The phases whose per-layer metrics (`<phase>.<metric>`) this
    * workload reports; every other phase's metrics read 0 for it. */
  def phases: Seq[String]
  def run(c: Ctx): Unit
}

object Main {
  val Workloads: Map[String, Workload] = Map("ann-serve" -> AnnServe, "text-curate" -> TextCurate)

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.println("usage: graftbench.Main --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <dir> --trace-file <file>")
    sys.exit(2)
  }

  /** Configured as graft.Bench configures its session, on every core of
    * the host, with Spark's scratch space inside the run's directory. */
  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
  }

  /** The end-to-end metrics every run reports. */
  val EndToEnd: Seq[String] = Seq("throughput_per_s", "op_p50_ms", "quality", "setup_s")

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s""""$k":${java.lang.Double.toString(v)}""" }.mkString("{", ",", "}")

  /** A run whose workload threw, or left a metric unset or not finite,
    * still reports: each missing or non-finite end-to-end metric reads 0,
    * and the run counts one more failed operation. */
  private def complete(res: Result): Unit = {
    val missing = EndToEnd.filterNot(res.endToEnd.contains)
    val bad = (res.endToEnd ++ res.perLayer).filter { case (_, v) => v.isNaN || v.isInfinite }.keys
    if (missing.nonEmpty || bad.nonEmpty) {
      res.op("reporting") {
        res.check(false, s"metrics missing ${missing.mkString(",")}, not finite ${bad.mkString(",")}")
      }
      missing.foreach(res.endToEnd(_) = 0.0)
      bad.foreach { k => if (res.endToEnd.contains(k)) res.endToEnd(k) = 0.0 else res.perLayer(k) = 0.0 }
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = Workloads.getOrElse(arg("workload"), usage(s"unknown workload ${arg("workload")}"))
    val seed = arg("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = arg("seconds").toDoubleOption.filter(_ > 0).getOrElse(usage("--seconds must be positive"))
    val traced = arg("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val work = new File(arg("work"))
    val traceFile = new File(arg("trace-file"))
    work.mkdirs()

    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val listener = if (traced) Some(new PhaseListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext)
    val res = new Result
    val ctx = new Ctx(spark, seed, seconds, traced, work, tracer, listener, res)
    ctx.log("session up")
    try workload.run(ctx)
    catch { case NonFatal(e) => res.threw(arg("workload"), e) }
    finally {
      complete(res)
      if (traced) writeTrace(traceFile, tracer, res)
      spark.stop()
    }
    val phases = workload.phases.map(p => "\"" + p + "\"").mkString("[", ",", "]")
    println(s"""{"correct":${res.failed == 0},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"phases":$phases,""" +
      s""""end_to_end":${obj(res.endToEnd)},"per_layer":${obj(res.perLayer)}}""")
  }

  /** Spans, then the per-layer metrics, one JSON object a line. */
  private def writeTrace(f: File, tr: Tracer, res: Result): Unit = {
    f.getParentFile.mkdirs()
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      tr.recorded.foreach { s =>
        w.println(s"""{"span":${s.id},"name":${q(s.name)},"phase":${q(s.phase)},""" +
          s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      }
      w.println(s"""{"per_layer":${obj(res.perLayer)}}""")
    } finally w.close()
  }
}
