package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per suite (lazy). */
trait SparkSpecBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfSmoke = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` starts. The listener bus delivers
    * job starts in order, so the jobs counted are those between the start
    * events of two marker jobs run before and after `body`. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val (open, close) = ("jobsOf-open-" + System.nanoTime(), "jobsOf-close-" + System.nanoTime())
    val (opened, closed) = (new CountDownLatch(1), new CountDownLatch(1))
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case `open` => opened.countDown()
          case `close` => closed.countDown()
          case _ => if (opened.getCount == 0 && closed.getCount > 0) n.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(open)
      body
      marker(close)
      assert(closed.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      n.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
