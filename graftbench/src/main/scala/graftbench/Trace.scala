package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into graft: name, start, end, the span that caused
  * it (-1 at top level) and the phase it belongs to. */
final case class Span(id: Int, name: String, phase: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft, kept in memory.
  *
  * `on` switches recording; traced runs turn it on for the set-up and
  * the timed phases, not for warm-ups. While a span records, the Spark jobs it starts carry its phase as a
  * local property, which [[PhaseListener]] reads; top-level spans also
  * sample the JVM's GC time and heap peak. `selfNs` is the time spent
  * in this bookkeeping rather than in graft. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val gcMs = mutable.LinkedHashMap.empty[String, Long]
  private val heapPeakMb = mutable.LinkedHashMap.empty[String, Double]
  var selfNs = 0L

  /** Runs `body`, returning its value and wall seconds; records a span
    * when tracing is on. */
  def span[T](phase: String, name: String)(body: => T): (T, Double) = {
    if (!on) {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } else {
      val enter = System.nanoTime()
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in at the end
      stack.push(id)
      val prevPhase = sc.getLocalProperty(PhaseListener.PhaseProp)
      sc.setLocalProperty(PhaseListener.PhaseProp, phase)
      val top = parent < 0
      val gc0 = if (top) Jvm.gcMillis() else 0L
      if (top) Jvm.resetHeapPeak()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      selfNs += t0 - enter
      try {
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      } finally {
        val t1 = System.nanoTime()
        spans(id) = Span(id, name, phase, parent, t0, t1, ms0, System.currentTimeMillis())
        if (top) {
          gcMs(phase) = gcMs.getOrElse(phase, 0L) + Jvm.gcMillis() - gc0
          heapPeakMb(phase) = math.max(heapPeakMb.getOrElse(phase, 0.0), Jvm.heapPeakMb())
        }
        sc.setLocalProperty(PhaseListener.PhaseProp, prevPhase)
        stack.pop()
        selfNs += System.nanoTime() - t1
      }
    }
  }

  def recorded: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Top-level spans of `phase`. */
  def top(phase: String): Seq[Span] = recorded.filter(s => s.parent < 0 && s.phase == phase)

  def named(phase: String, name: String): Seq[Span] =
    recorded.filter(s => s.phase == phase && s.name == name)

  def jvmGcMs(phase: String): Double = gcMs.getOrElse(phase, 0L).toDouble
  def jvmHeapPeakMb(phase: String): Double = heapPeakMb.getOrElse(phase, 0.0)
}

object Jvm {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum over heap pools of each pool's peak since the last reset: an
    * upper bound on the heap's peak occupancy. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Per-phase Spark metrics, from jobs whose local properties name a
  * phase. The listener bus is one thread; readers call
  * [[org.apache.spark.GraftBenchBus.drain]] first. */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskDeserMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var worstSkew = 0.0
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val accs = mutable.HashMap.empty[String, Acc]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def acc(p: String) = accs.getOrElseUpdate(p, new Acc)

  /** Time spent in this listener's callbacks, on the listener bus. */
  @volatile var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
    phase.foreach { p =>
      jobStart(e.jobId) = (p, e.time)
      e.stageIds.foreach(stagePhase(_) = p)
      acc(p).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStart.remove(e.jobId).foreach { case (p, t0) => acc(p).jobSpans += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stagePhase.get(e.stageId).foreach { p =>
      val a = acc(p)
      a.tasks += 1
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.taskDeserMs += m.executorDeserializeTime
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    val durs = stageTaskMs.remove(key)
    stagePhase.get(info.stageId).foreach { p =>
      val a = acc(p)
      a.stages += 1
      durs.filter(_.length >= 2).foreach { d =>
        val med = Stats.median(d.map(_.toDouble).toArray)
        if (med > 0) a.worstSkew = math.max(a.worstSkew, d.max / med)
      }
    }
  }

  /** The Spark layer's per-phase metrics. `phaseSpans` are the phase's
    * top-level spans: their walls minus the union of the phase's job
    * walls is the time the driver worked with no job running. */
  def metrics(phase: String, phaseSpans: Seq[Span]): Seq[(String, Double)] = synchronized {
    val a = accs.getOrElse(phase, new Acc)
    val jobWall = a.jobSpans.map { case (s, e) => e - s }.sum
    val spanWall = phaseSpans.map(s => s.endMs - s.startMs).sum
    val gap = math.max(0L, spanWall - Stats.unionLength(a.jobSpans.toSeq))
    Seq("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble, "tasks" -> a.tasks.toDouble,
      "job_wall_ms" -> jobWall.toDouble, "task_deser_ms" -> a.taskDeserMs.toDouble,
      "executor_run_ms" -> a.runMs.toDouble, "executor_cpu_ms" -> a.cpuNs / 1e6,
      "jvm_gc_ms" -> a.gcMs.toDouble, "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
      "shuffle_read_bytes" -> a.shuffleRead.toDouble, "spill_bytes" -> a.spill.toDouble,
      "task_skew" -> a.worstSkew,
      "driver_gap_ms" -> (if (phaseSpans.isEmpty) 0.0 else gap.toDouble))
  }
}

object PhaseListener {
  val PhaseProp = "graftbench.phase"
}
