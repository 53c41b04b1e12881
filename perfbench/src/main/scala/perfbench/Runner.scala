package perfbench

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import org.apache.spark.SparkContext

/** One timed op: a query, or one pipeline request.
  *
  * `seconds` is present only for an op that returned a correct output in
  * time. An op that threw, timed out, or whose output failed its check is a
  * failure and contributes no timing, so a broken op can never look fast.
  */
final case class OpRecord(name: String, pass: Int, seconds: Option[Double],
                          failure: Option[String], cpuS: Double)

/** Runs ops on one op thread. An op gets at most `timeoutS`, and none past
  * `deadlineMs` (epoch ms): whatever an op does, the run still ends with a
  * result in which a slow op is a failure. */
final class Runner(sc: SparkContext, timeoutS: Double, deadlineMs: Long = Long.MaxValue) {
  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
  private var seq = 0

  /** Time `body` on the op thread (under the caller's span, if any), then,
    * outside the timing, run `check` on its output: `None` = correct,
    * `Some(reason)` = wrong. */
  def run[A](name: String, pass: Int)(body: => A)(check: A => Option[String]): OpRecord = {
    val limitS = math.min(timeoutS, (deadlineMs - System.currentTimeMillis()) / 1e3)
    if (limitS <= 0) return OpRecord(name, pass, None, Some("not run: the run's deadline passed"), 0.0)
    seq += 1
    val group = s"perfbench-op-$seq"
    val span = sc.getLocalProperty(Tracer.SpanKey)
    val cpu0 = Runner.processCpuS()
    val fut = Future {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      sc.setLocalProperty(Tracer.SpanKey, span)
      try {
        val t0 = System.nanoTime()
        val out = body
        (out, (System.nanoTime() - t0) / 1e9)
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
    }
    val outcome = Try(Await.result(fut, limitS.seconds))
    val cpu = Runner.processCpuS() - cpu0
    outcome match {
      case Success((out, dt)) =>
        Try(check(out)) match {
          case Success(None) => OpRecord(name, pass, Some(dt), None, cpu)
          case Success(Some(why)) => OpRecord(name, pass, None, Some("wrong: " + why), cpu)
          case Failure(e) => OpRecord(name, pass, None, Some("check threw: " + Runner.describe(e)), cpu)
        }
      case Failure(_: TimeoutException) =>
        sc.cancelJobGroup(group)
        Try(Await.ready(fut, Runner.CancelWaitS.seconds))
        OpRecord(name, pass, None, Some(f"timed out after $limitS%.0f s"), cpu)
      case Failure(e) =>
        OpRecord(name, pass, None, Some("threw: " + Runner.describe(e)), cpu)
    }
  }

  def close(): Unit = { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
}

object Runner {
  /** The longest an op may take; the run's deadline caps it further. */
  val OpTimeoutS = 30.0
  /** How long a timed-out op's cancelled jobs get to wind down. */
  val CancelWaitS = 10.0

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
