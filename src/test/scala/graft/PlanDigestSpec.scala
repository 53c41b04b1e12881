package graft

import scala.collection.immutable.SortedMap
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.ops.PlanGuard
import graft.ops.PlanGuard.Digest

/** `PlanGuard.digest` on hand-built frames whose plans are known: exact
  * counts, on the walk that crosses the AQE boundary and enters the plans
  * cached frames were built from. */
class PlanDigestSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  /** The digest's counts; its line count is checked against the explain
    * it is defined by and left out of the comparison. */
  private def counts(df: DataFrame): Digest = {
    val d = PlanGuard.digest(df)
    assert(d.planLines ==
      df.queryExecution.explainString(FormattedMode).linesIterator.size)
    d.copy(planLines = 0)
  }

  private def aggregate: DataFrame =
    spark.range(1000).groupBy(($"id" % 7).as("g")).count()

  test("broadcast join: one broadcast exchange, one BroadcastHashJoin, no shuffle") {
    val facts = spark.range(1000).toDF("k")
    val dim = spark.range(10).select($"id".as("k"), ($"id" * 2).as("v"))
    // AdaptiveSparkPlan, Project, BroadcastHashJoin, Project, Range,
    // BroadcastExchange, Project, Range
    assert(counts(facts.join(broadcast(dim), "k")) == Digest(
      nodes = 8, planLines = 0, exchanges = SortedMap.empty, broadcasts = 1,
      reusedExchanges = 0, joins = SortedMap("BroadcastHashJoin" -> 1),
      inMemoryScans = 0, cachedScanJoins = 0))
  }

  test("shuffled aggregate: partial and final aggregate around one hash exchange") {
    // AdaptiveSparkPlan, HashAggregate, Exchange, HashAggregate, Project, Range
    assert(counts(aggregate) == Digest(
      nodes = 6, planLines = 0, exchanges = SortedMap("hash" -> 1), broadcasts = 0,
      reusedExchanges = 0, joins = SortedMap.empty, inMemoryScans = 0,
      cachedScanJoins = 0))
  }

  test("self-join of a cached frame: once filled, both scans feed the hash join with no exchange") {
    val cached = spark.range(1000).select(($"id" % 100).as("k"), $"id".as("v"))
      .repartition($"k").persist()
    def selfJoin =
      cached.as("a").join(cached.as("b").hint("shuffle_hash"), $"a.k" === $"b.k")
    try {
      // unfilled, the cache's partitioning is unknown to the join, which
      // shuffles both sides: 2 join-side exchanges + the cached plan's
      // repartition under each of the 2 scans
      assert(counts(selfJoin) == Digest(
        nodes = 16, planLines = 0, exchanges = SortedMap("hash" -> 4),
        broadcasts = 0, reusedExchanges = 0,
        joins = SortedMap("ShuffledHashJoin" -> 1), inMemoryScans = 2,
        cachedScanJoins = 0))
      cached.count()
      // filled, the join reads the scans' hash partitioning as is; each
      // scan's cached plan now shows its final and its initial plan, one
      // repartition each
      assert(counts(selfJoin) == Digest(
        nodes = 26, planLines = 0, exchanges = SortedMap("hash" -> 4),
        broadcasts = 0, reusedExchanges = 0,
        joins = SortedMap("ShuffledHashJoin" -> 1), inMemoryScans = 2,
        cachedScanJoins = 1))
    } finally cached.unpersist(blocking = true)
  }

  test("frame under AQE: the walk crosses the adaptive boundary into the executed plan") {
    val df = aggregate
    // the adaptive node is a leaf: a plain tree walk stops at it
    val root = df.queryExecution.executedPlan
    assert(root.isInstanceOf[AdaptiveSparkPlanExec])
    assert(root.collect { case e: ShuffleExchangeExec => e }.isEmpty)
    df.collect()
    // the executed plan: AdaptiveSparkPlan, then the final plan
    // (ResultQueryStage, codegen, HashAggregate, InputAdapter,
    // AQEShuffleRead, ShuffleQueryStage, Exchange, codegen, HashAggregate,
    // Project, Range) and the initial plan it replaced (5 operators)
    assert(counts(df) == Digest(
      nodes = 17, planLines = 0, exchanges = SortedMap("hash" -> 2),
      broadcasts = 0, reusedExchanges = 0, joins = SortedMap.empty,
      inMemoryScans = 0, cachedScanJoins = 0))
  }
}
