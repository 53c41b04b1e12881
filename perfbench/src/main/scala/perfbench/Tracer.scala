package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Per-span Spark accounting for the traced run.
  *
  * The benchmark wraps each call it makes into a module's public functions
  * in a [[span]]. The span name rides on the driver thread as a local
  * property, Spark copies it into every job submitted inside the span, and
  * the listener files each job, stage and task under that name. The engine
  * itself is not instrumented.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobSpan = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val acc = mutable.LinkedHashMap.empty[String, Acc]
  private val walls = mutable.LinkedHashMap.empty[String, Double]

  private def accOf(span: String): Acc = acc.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse(Unattributed)
    jobSpan(e.jobId) = span
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
    accOf(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (span <- jobSpan.get(e.jobId); t0 <- jobStartMs.remove(e.jobId))
      accOf(span).jobIntervals += ((t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val span = stageSpan.getOrElse(info.stageId, Unattributed)
    val a = accOf(span)
    a.stages += 1
    stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = Stats.median(sorted.map(_.toDouble).toSeq)
        if (med > 0) a.taskSkew = math.max(a.taskSkew, sorted.last / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, Unattributed)
    val a = accOf(span)
    val info = e.taskInfo
    a.tasks += 1
    if (!info.successful) a.failedTasks += 1
    a.taskBusyMs += info.duration
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      info.duration
    val m = e.taskMetrics
    if (m != null) {
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      a.schedDelayMs += math.max(0L, delay)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      a.gcMs += m.jvmGCTime
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Run `body` with every Spark job it submits filed under `name`; the
    * span's wall time adds to `name` (repeated spans accumulate). */
  def span[A](name: String)(body: => A): A = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      synchronized { walls(name) = walls.getOrElse(name, 0.0) + dt }
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Run `body` with the tracer detached: its jobs cost no listener work
    * and land in no span. */
  def paused[A](body: => A): A = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    try body
    finally {
      PerfbenchBus.drain(sc)
      sc.addSparkListener(this)
    }
  }

  /** Per-span totals, after all pending listener events have landed. */
  def report(cores: Int): Seq[SpanStats] = {
    PerfbenchBus.drain(sc)
    synchronized {
      (walls.keys ++ acc.keys).toSeq.distinct.map { name =>
        val a = acc.getOrElse(name, new Acc)
        val wall = walls.getOrElse(name, 0.0)
        SpanStats(name, wall, a.jobs, a.stages, a.tasks, a.taskBusyMs / 1e3,
          if (wall > 0) a.taskBusyMs / 1e3 / (wall * cores) else 0.0,
          math.max(0.0, wall - unionSeconds(a.jobIntervals.toSeq)),
          a.schedDelayMs / 1e3, a.shuffleWriteBytes / MB, a.shuffleReadBytes / MB,
          a.spillBytes / MB, a.gcMs / 1e3, a.peakExecMem / MB, a.taskSkew,
          a.failedTasks)
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "(none)"
  private val MB = 1024.0 * 1024.0

  private final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
    var taskBusyMs = 0L; var schedDelayMs = 0L
    var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var spillBytes = 0L
    var gcMs = 0L; var peakExecMem = 0L; var taskSkew = 1.0
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final case class SpanStats(
      name: String, wallS: Double, jobs: Int, stages: Int, tasks: Int,
      taskBusyS: Double, coreUtil: Double, driverGapS: Double,
      schedDelayS: Double, shuffleWriteMb: Double, shuffleReadMb: Double,
      spillMb: Double, gcS: Double, peakExecMemMb: Double, taskSkew: Double,
      failedTasks: Int)

  /** Seconds covered by the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }

  def attach(sc: SparkContext): Tracer = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    t
  }
}
