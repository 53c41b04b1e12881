package graft

import org.scalatest.funsuite.AnyFunSuite

/** ops.Sweep: grouped distributed prefix-sum max-concurrency. */
class SweepSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private def brute(pts: Seq[(String, Long, Long)]): Map[String, Long] =
    pts.groupBy(_._1).map { case (g, ps) =>
      var run = 0L
      var mx = Long.MinValue
      ps.sortBy(p => (p._2, p._3)).foreach { p => run += p._3; if (run > mx) mx = run }
      g -> mx
    }

  test("maxConcurrent matches the single-reducer windowed form") {
    val rnd = new scala.util.Random(13)
    val pts = (1 to 2000).flatMap { _ =>
      val g = s"g${rnd.nextInt(5)}"
      val s0 = rnd.nextInt(1000).toLong
      val e0 = s0 + 1 + rnd.nextInt(50)
      Seq((g, s0, 1L), (g, e0, -1L))
    }
    val got = graft.ops.Sweep.maxConcurrent(pts.toDS(), parts = 7)
      .as[(String, Long)].collect().toMap
    assert(got == brute(pts))
    graft.ops.ScratchCache.releaseAll()
  }

  test("half-open intervals: touching endpoints do not overlap") {
    // [0,10) and [10,20): close sorts before open at t=10 → max 1
    val pts = Seq(("g", 0L, 1L), ("g", 10L, -1L), ("g", 10L, 1L), ("g", 20L, -1L))
    val got = graft.ops.Sweep.maxConcurrent(pts.toDS(), parts = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("g" -> 1L))
    graft.ops.ScratchCache.releaseAll()
  }

  test("the null group is kept, next to non-null groups and across partitions") {
    val rnd = new scala.util.Random(29)
    val pts = (1 to 600).flatMap { i =>
      val g = if (i % 2 == 0) null else s"g${rnd.nextInt(3)}"
      val s0 = rnd.nextInt(500).toLong
      Seq((g, s0, 1L), (g, s0 + 1 + rnd.nextInt(40), -1L))
    }
    for (parts <- Seq(1, 6)) {
      val got = graft.ops.Sweep.maxConcurrent(pts.toDS(), parts)
        .as[(String, Long)].collect().toMap
      assert(got.contains(null), s"parts=$parts")
      assert(got == brute(pts), s"parts=$parts")
    }
  }

  test("groups spanning many partitions still seed correctly") {
    // one huge group forced across partitions: staircase up then down
    val up = (0L until 500L).map(t => ("big", t, 1L))
    val dn = (500L until 1000L).map(t => ("big", t, -1L))
    val got = graft.ops.Sweep.maxConcurrent((up ++ dn).toDS(), parts = 8)
      .as[(String, Long)].collect().toMap
    assert(got == Map("big" -> 500L))
    graft.ops.ScratchCache.releaseAll()
  }
}
