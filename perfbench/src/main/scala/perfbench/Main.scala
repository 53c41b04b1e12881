package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{GraftExtensions, SparkEntry}

/** Harness JVM. `run.py` builds it, prepares the inputs and the oracle
  * digests, and launches it with:
  *
  *   oracles <workload>   print the workload's oracle SQL as JSON
  *   run key=value ...    set up, warm up, time passes, write a result JSON
  *
  * Keys of `run`: workload, data, expect, out, work, seed, seconds,
  * trace (0|1), cores, deadline (epoch seconds: no op starts after it).
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: workload :: Nil =>
      val sql = SparkEntry.oracleSql
      val queries = if (workload == "dedup") Workloads.Dedup else Nil
      println(Json.obj(queries.map(q => q -> Json.str(sql(q)))))
    case "run" :: kv =>
      run(kv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    case _ =>
      System.err.println("usage: perfbench.Main oracles <workload> | run key=value ...")
      sys.exit(2)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def run(o: Map[String, String]): Unit = {
    val cores = o("cores").toInt
    val trace = o("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o("work"))
      .config("spark.sql.warehouse.dir", Paths.get(o("work"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)

    val expected = Json.parseDigests(Files.readString(Paths.get(o("expect"))))
    val runner = new Runner(spark.sparkContext, Runner.OpTimeoutS,
      (o("deadline").toDouble * 1000).toLong)
    val ctx = Ctx(spark, o("data"), Paths.get(o("work")), expected, o("seed").toLong, runner)
    val w = Workloads(o("workload"), ctx)

    // warm-up passes: first-touch codegen, JIT and any per-workload state
    // (the resume workload's seeded half) belong to set-up, not to the
    // timed passes. A failing op gains nothing from more warm-up.
    val warm = Seq.newBuilder[OpRecord]
    var ok = true
    for (i <- 1 to w.warmup if ok) {
      val recs = w.pass(-i)
      warm ++= recs
      ok = recs.forall(_.failure.isEmpty)
    }
    val setupEnd = { val t = java.time.Instant.now(); t.getEpochSecond + t.getNano / 1e9 }

    val seconds = o("seconds").toDouble
    val passes = Seq.newBuilder[Seq[OpRecord]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untracedBudget = if (trace) seconds / 2 else seconds
    var i = 1
    while (i == 1 || elapsed < untracedBudget) {
      passes += w.pass(i)
      i += 1
    }

    // the traced run: the same pass once more, timed the same way but with
    // every op in a span, then one more untraced pass (the tracing overhead
    // is the replay's gap to the untraced passes on either side of it),
    // then the workload's layer calls
    val traced = if (!trace) None else {
      val tracer = Tracer.attach(spark.sparkContext)
      val replay = w.pass(i, Some(tracer))
      passes += tracer.paused(w.pass(i + 1))
      val layers = w.layers(tracer, replay)
      Some((replay, layers, tracer.report(cores)))
    }
    val timed = passes.result()
    runner.close()
    val rss = peakRssMb()
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "unit" -> Json.str(w.unit),
      "work_per_pass" -> Json.num(w.work),
      "setup_end_epoch_s" -> Json.num(setupEnd),
      "peak_rss_mb" -> Json.num(rss),
      "inputs" -> Json.obj(w.inputs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "warmup_ops" -> Json.arr(warm.result().map(opJson)),
      "passes" -> Json.arr(timed.map(recs => Json.arr(recs.map(opJson))))) ++
      traced.toSeq.flatMap { case (replay, layers, spans) => Seq(
        "replay_ops" -> Json.arr(replay.map(opJson)),
        "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.arr(spans.map(spanJson)))
      })
    Files.writeString(Paths.get(o("out")), out)
  }

  private def opJson(r: OpRecord): String = Json.obj(Seq(
    "name" -> Json.str(r.name),
    "seconds" -> r.seconds.map(Json.num).getOrElse("null"),
    "cpu_s" -> Json.num(r.cpuS),
    "failure" -> r.failure.map(Json.str).getOrElse("null")))

  private def spanJson(s: Tracer.SpanStats): String = Json.obj(Seq(
    "name" -> Json.str(s.name), "wall_s" -> Json.num(s.wallS),
    "jobs" -> Json.num(s.jobs), "stages" -> Json.num(s.stages),
    "tasks" -> Json.num(s.tasks), "task_busy_s" -> Json.num(s.taskBusyS),
    "core_util" -> Json.num(s.coreUtil), "driver_gap_s" -> Json.num(s.driverGapS),
    "sched_delay_s" -> Json.num(s.schedDelayS),
    "shuffle_write_mb" -> Json.num(s.shuffleWriteMb),
    "shuffle_read_mb" -> Json.num(s.shuffleReadMb), "spill_mb" -> Json.num(s.spillMb),
    "gc_s" -> Json.num(s.gcS), "peak_exec_mem_mb" -> Json.num(s.peakExecMemMb),
    "task_skew" -> Json.num(s.taskSkew), "failed_tasks" -> Json.num(s.failedTasks)))
}

/** The little JSON this harness reads and writes. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def bool(b: Boolean): String = if (b) "true" else "false"
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** {"query": {"digest": "...", "rows": n}, ...} */
  def parseDigests(s: String): Map[String, Digest.Result] =
    graft.model.Json.parseObject(s).map { case (q, v) =>
      val m = v.asInstanceOf[Map[String, Any]]
      q -> Digest.Result(m("digest").asInstanceOf[String], m("rows").asInstanceOf[Double].toLong)
    }
}
