package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  private lazy val runner = new Runner(spark.sparkContext, timeoutS = 5)

  override def afterAll(): Unit = { runner.close(); spark.stop() }

  private val schema = StructType(Seq(
    StructField("b", StringType), StructField("a", LongType),
    StructField("c", DoubleType), StructField("d", TimestampType),
    StructField("e", DateType), StructField("f", ArrayType(IntegerType))))
  private val rows = Seq(
    Row("x", 1L, -0.0, java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00.000001Z")),
      java.sql.Date.valueOf("2024-01-02"), Seq(1, 2)),
    Row(null, 2L, 1.5, java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59Z")),
      java.sql.Date.valueOf("1969-12-31"), Seq.empty[Int]),
    Row("é|ü", -3L, Double.NaN, null, null, null))

  test("the digest matches the oracle side's (digest.py) and ignores row order") {
    // the same rows through perfbench/digest.py (tests/test_run.py pins it too)
    val want = "f299584680b74f5815c40910bae414ae79cb481ec26c072d1e60c0335ef1695d"
    assert(Digest.of(schema, rows) == Digest.Result(want, 3))
    assert(Digest.of(schema, rows.reverse).digest == want)
  }

  test("the digest sees a signed zero and a changed cell") {
    val flipped = Row.fromSeq(rows.head.toSeq.updated(2, 0.0)) +: rows.tail
    assert(Digest.of(schema, flipped) != Digest.of(schema, rows))
  }

  test("a wrong output counts as a failure and records no timing") {
    val r = runner.run("q", 1)(spark.range(10).count()) { n =>
      if (n == 11) None else Some(s"$n rows")
    }
    assert(r.seconds.isEmpty)
    assert(r.failure.exists(_.startsWith("wrong")))
  }

  test("a throwing op records no timing") {
    val r = runner.run[Long]("q", 1)(throw new IllegalStateException("boom"))(_ => None)
    assert(r.seconds.isEmpty)
    assert(r.failure.exists(f => f.startsWith("threw") && f.contains("boom")))
  }

  test("an op past its timeout is a failure and its jobs are cancelled") {
    val r = runner.run("slow", 1) {
      spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }.count()
    }(_ => None)
    assert(r.seconds.isEmpty)
    assert(r.failure.exists(_.startsWith("timed out")))
  }

  test("a correct op records its timing") {
    val r = runner.run("q", 1)(spark.range(10).count())(n => if (n == 10) None else Some("bad"))
    assert(r.failure.isEmpty && r.seconds.exists(_ > 0))
  }

  test("no op starts past the run's deadline, and none runs beyond it") {
    val late = new Runner(spark.sparkContext, 30, System.currentTimeMillis() - 1)
    var ran = false
    val r = late.run("q", 1) { ran = true; 1 }(_ => None)
    assert(!ran && r.seconds.isEmpty && r.failure.exists(_.contains("deadline")))
    late.close()
    val soon = new Runner(spark.sparkContext, 30, System.currentTimeMillis() + 1500)
    val t0 = System.nanoTime()
    val slow = soon.run("slow", 1) {
      spark.sparkContext.parallelize(1 to 2, 2).map { i => Thread.sleep(60000); i }.count()
    }(_ => None)
    assert(slow.failure.exists(_.startsWith("timed out")))
    assert((System.nanoTime() - t0) / 1e9 < 15)
    soon.close()
  }

  test("jobs land in the span that encloses them") {
    val sc = spark.sparkContext
    val t = Tracer.attach(sc)
    // RDD actions: exactly one job each
    sc.parallelize(1 to 3).count()
    t.span("a")(sc.parallelize(1 to 100, 3).count())
    t.span("b") {
      sc.parallelize(1 to 10).count()
      // jobs an op runs on the runner's thread stay in the caller's span
      runner.run("q", 1)(sc.parallelize(1 to 5).collect().length)(_ => None)
    }
    // a paused tracer sees none of the jobs run meanwhile
    t.paused(t.span("c")(sc.parallelize(1 to 10).count()))
    val by = t.report(cores = 2).map(s => s.name -> s).toMap
    assert(by("c").jobs == 0)
    assert(by("a").jobs == 1)
    assert(by("b").jobs == 2)
    assert(by(Tracer.Unattributed).jobs == 1)
    assert(by("a").tasks == 3 && by("a").wallS > 0)
    sc.removeSparkListener(t)
  }

  test("driver gap counts span time covered by no job") {
    assert(Tracer.unionSeconds(Seq((0L, 1000L), (500L, 1500L), (3000L, 3500L))) == 2.0)
    assert(Tracer.unionSeconds(Nil) == 0.0)
  }

  test("the mosaic check's recomputation follows the documented grid rules") {
    assert(MosaicWorkload.tileId(-5, 41) == "005W_41N")
    assert(MosaicWorkload.tileId(12, -3) == "012E_3S")
    // 2021-01-01 minus 365 days = 2020-01-02 (leap year): periods 921..944
    assert(MosaicWorkload.windowPeriods(2021) == (921L to 944L))
  }
}
