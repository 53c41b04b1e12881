package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
import graft.ops.{BpeTrainer, Dedup, FanOut, PlanGuard, ScratchCache}

/** `ScratchCache.cut`, the one lineage cut of the iterative operators:
  * what it keeps (the physical partitioning), what it frees (its blocks,
  * on release) and what it buys (plans that start at the cut rows). */
class LineageCutSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private def keyed = spark.range(0, 2000)
    .select((col("id") % 97).as("k"), col("id").as("v"))

  test("Dataset.localCheckpoint loses the hash partitioning under AQE; cut keeps it") {
    // the finding the bridge exists for: the adaptive root reports
    // UnknownPartitioning, so Spark's own checkpoint of a hash-partitioned
    // frame is shuffled again by an aggregation on the same key
    val n = spark.sessionState.conf.numShufflePartitions
    val plain = FanOut.byKey(keyed, col("k")).localCheckpoint(true)
    assert(PlanGuard.digest(plain.groupBy("k").count()).exchanges == Map("hash" -> 1))
    plain.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.unpersist()
    val cut = ScratchCache.cut(FanOut.byKey(keyed, col("k")))
    try {
      val scan = cut.queryExecution.executedPlan.collectLeaves().head
      assert(scan.isInstanceOf[RDDScanExec], scan)
      scan.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.numPartitions == n && h.expressions.size == 1, h)
        case other => fail(s"cut dropped the hash partitioning: $other")
      }
      val agg = cut.groupBy("k").agg(sum("v"))
      assert(PlanGuard.digest(agg).exchanges.isEmpty, agg.queryExecution.executedPlan)
      assert(agg.as[(Long, Long)].collect().toMap ==
        keyed.groupBy("k").agg(sum("v")).as[(Long, Long)].collect().toMap)
    } finally ScratchCache.free(cut)
  }

  test("cut of a hash aggregate keeps its (AQE-coalesced) key partitioning") {
    val cut = ScratchCache.cut(keyed.groupBy("k").agg(max("v").as("m")))
    try {
      // a second aggregation on the key reuses the layout: no exchange
      val again = cut.groupBy("k").agg(min("m"))
      assert(PlanGuard.digest(again).exchanges.isEmpty,
        again.queryExecution.executedPlan)
      assert(again.count() == 97)
    } finally ScratchCache.free(cut)
  }

  test("cut keeps the partitioning of a key the optimizer renamed (k + 0 AS k)") {
    // the optimizer folds `k + 0 AS k` into the input attribute, so the
    // executed plan partitions on an attribute the frame's output does not
    // name; unbound, the cut's partitioning is lost and the aggregation
    // below shuffles again
    val cut = ScratchCache.cut(keyed.withColumn("k", col("k") + 0L)
      .repartition(4, col("k")))
    try {
      val agg = cut.groupBy("k").agg(sum("v"))
      assert(PlanGuard.digest(agg).exchanges.isEmpty, agg.queryExecution.executedPlan)
      assert(agg.count() == 97)
    } finally ScratchCache.free(cut)
  }

  test("cut statistics carry the exact row count") {
    val cut = ScratchCache.cut(keyed.filter(col("k") < 10))
    try {
      val stats = cut.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(cut.count())), stats)
    } finally ScratchCache.free(cut)
  }

  test("release frees the blocks of cuts and persists: q162 and BpeTrainer leave no RDD behind") {
    // isolate from earlier suites' frames in the shared session
    ScratchCache.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SparkEntry.queries("q162_streamed_sink")(spark, sfSmoke).collect()
    val merges = BpeTrainer.train(Tables.documents(spark, sfSmoke).limit(40), "text", 5)
    assert(merges.nonEmpty)
    Harness.release(spark)
    assert(ScratchCache.registered == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.toDebugString).mkString("\n"))
  }

  test("dedup plans start at the cut edge rows: q51 and q128 digests stay small") {
    // a persist() of the edge frame nests the whole pair generator's plan
    // (DupGroups, band and verify caches) under every later plan: q51 and
    // q128 then print ~16k and ~31k lines at sf0.1. Cut, they print 28 and
    // 148 here; the bounds are ~3x that
    for ((q, bound) <- Seq("q51_dedup_groups" -> 90, "q128_cluster_sizes" -> 450)) {
      val d = PlanGuard.digest(SparkEntry.queries(q)(spark, sfSmoke))
      assert(d.planLines < bound, s"$q: $d")
      Harness.release(spark)
    }
  }

  test("connected components' result holds no cached frame of the pair generator") {
    val docs = Tables.documents(spark, sfSmoke)
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val d = PlanGuard.digest(comp)
    assert(d.inMemoryScans == 0 && d.nodes < 10, comp.queryExecution.executedPlan)
    assert(comp.count() > 0)
    Harness.release(spark)
  }
}
