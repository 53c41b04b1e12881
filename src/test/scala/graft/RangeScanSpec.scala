package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{GlobalIndex, PrefixSum, ScratchCache, SizeBatch, Skyline, Sweep}

/** ops.RangeScan: the two-pass prefix scans read the range shuffle twice
  * and keep no cached state behind. */
class RangeScanSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  test("the five scans register no scratch frame and cache nothing") {
    spark.catalog.clearCache() // isolate from earlier suites' own caches
    val registered = ScratchCache.registered
    val pairs = (1L to 40L).map(i => (i, i % 7)).toDS()
    assert(PrefixSum.byKeyAsc(pairs, 4).collect().length == 40)
    assert(GlobalIndex.byScoreDesc(pairs, 4).collect().length == 40)
    assert(SizeBatch.assign(pairs, budget = 10L, parts = 4).collect().length == 40)
    assert(Skyline.frontier(pairs.map { case (i, g) => (i, i.toDouble, g) }, 4)
      .collect().nonEmpty)
    assert(Sweep.maxConcurrent(pairs.map { case (i, g) => (s"g$g", i, 1L) }, 4)
      .collect().length == 7)
    assert(ScratchCache.registered == registered)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
