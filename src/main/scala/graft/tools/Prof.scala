package graft.tools

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Bench, Harness, SparkEntry}
import graft.ops.PlanGuard

/** The profiler, on the bench's session (`Harness`) at
  * `SPARK_GRAFT_SF_DIR`. `names` are comma-separated query-name substrings.
  *
  *  - `time <names> [passes]`: each matching query run `passes` times
  *    (default 2), one line per query with every pass's wall seconds and
  *    the classes it Janino-compiled (`Harness.compiledClasses`), or the
  *    message of what the pass threw.
  *  - `jobs <name> [passes]`: the query named exactly, run `passes` times
  *    (default 2), then every Spark job of the last pass with its wall
  *    time, the gap since the previous job ended and its stages — the
  *    serial-action breakdown the UI would show, without the UI.
  *  - `plan <out.json> [names]`: `PlanGuard.digest` of each matching query
  *    (default all), one JSON object keyed by query name. Eager operators
  *    (connected components' rounds) run while the frame is built; the
  *    digest is of the final consumer plan, the one the query returns.
  *    The run gets its own empty `java.io.tmpdir`, so queries that reuse
  *    scratch state there digest their build path on every host.
  *
  * e.g. `sbt "runMain graft.tools.Prof time q27,q28 3"`. */
object Prof {
  private type Query = (String, (SparkSession, String) => DataFrame)

  private val usage =
    "usage: Prof time <names> [passes] | jobs <name> [passes] | plan <out.json> [names]"

  def main(args: Array[String]): Unit = {
    def passes = args.lift(2).fold(2)(_.toInt)
    val run: SparkSession => Unit = args.toList match {
      case "time" :: names :: _ => time(_, select(Some(names)), passes)
      case "jobs" :: name :: _ => jobs(_, name, passes)
      case "plan" :: out :: rest => plan(_, select(rest.headOption), out)
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = Harness.session()
    try run(spark) finally spark.stop()
  }

  private def select(names: Option[String]): Seq[Query] = {
    val wanted = names.map(_.split(",").toSeq)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.forall(_.exists(n.contains)) }
  }

  private def time(spark: SparkSession, queries: Seq[Query], passes: Int): Unit =
    for ((name, fn) <- queries) {
      val runs = Seq.fill(passes) {
        val c0 = Harness.compiledClasses()
        val r = Bench.timeQuery(() => fn(spark, Harness.sfDir).count())
        val compiled = Harness.compiledClasses() - c0
        Harness.release(spark)
        r.fold(m => s"failed: $m", t => f"$t%7.3f [$compiled%3d cls]")
      }
      println(f"PROF $name%-26s ${runs.mkString(" ")}")
    }

  private def jobs(spark: SparkSession, name: String, passes: Int): Unit = {
    case class Job(id: Int, t0: Long, tasks: Int, stages: String, var t1: Long = 0L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Job(e.jobId, e.time, e.stageInfos.map(_.numTasks).sum,
          e.stageInfos.sortBy(_.stageId)
            .map(s => s.name.takeWhile(_ != '$').take(30) + ":" + s.numTasks)
            .mkString(" | "))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = seen.synchronized {
        seen.find(_.id == e.jobId).foreach(_.t1 = e.time)
      }
    })
    for (p <- 1 to passes) {
      seen.synchronized(seen.clear())
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, Harness.sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Harness.release(spark)
      println(f"PASS $p $name $dt%8.2f s rows=$rows")
    }
    Thread.sleep(1500) // let the listener bus drain
    // a job's driver gap runs from the latest end of all earlier jobs, not
    // the previous one's: AQE runs query-stage jobs concurrently, and a job
    // that starts while another still runs has no gap
    var lastEnd = 0L
    var gaps = 0.0
    val js = seen.synchronized(seen.toSeq).sortBy(_.t0)
    js.foreach { j =>
      val gap = if (lastEnd == 0) 0.0 else math.max(0L, j.t0 - lastEnd) / 1e3
      lastEnd = math.max(lastEnd, j.t1)
      gaps += gap
      println(f"  job ${j.id}%3d ${(j.t1 - j.t0) / 1e3}%7.2f s  gap=$gap%6.2f s  tasks=${j.tasks}%3d  ${j.stages.take(150)}")
    }
    val span = js.headOption.fold(0.0)(j => (lastEnd - j.t0) / 1e3)
    println(f"JOBS ${js.size} in_jobs=${span - gaps}%.2f s driver_gap=$gaps%.2f s")
  }

  private def plan(spark: SparkSession, queries: Seq[Query], out: String): Unit = {
    // queries that keep scratch state under java.io.tmpdir (q126's and
    // q138's corpus shards, q144's band index) plan their build path on a
    // cold root and their reuse path on a warm one: a fresh root for the
    // run makes every digest a function of the code alone
    val tmpdir = System.getProperty("java.io.tmpdir")
    val root = java.nio.file.Files.createTempDirectory("graft-prof-plan-").toFile
    System.setProperty("java.io.tmpdir", root.toString)
    try digest(spark, queries, out)
    finally {
      System.setProperty("java.io.tmpdir", tmpdir)
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  private def digest(spark: SparkSession, queries: Seq[Query], out: String): Unit = {
    val digests = new java.util.LinkedHashMap[String, java.util.Map[String, Any]]()
    for ((name, fn) <- queries) {
      try {
        val m = new java.util.LinkedHashMap[String, Any]()
        PlanGuard.digest(fn(spark, Harness.sfDir)).fields.foreach {
          case (k, v: SortedMap[_, _]) => m.put(k, v.asJava)
          case (k, v) => m.put(k, v)
        }
        digests.put(name, m)
      } catch {
        case e: Throwable => System.err.println(s"Prof: $name failed: $e")
      } finally Harness.release(spark)
    }
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(out), digests)
    println(s"Prof: ${digests.size} digests -> $out")
  }
}
