package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** A local checkpoint that keeps the physical partitioning of the rows it
  * holds. `Dataset.localCheckpoint` reads the partitioning off the
  * executed plan's root, which under AQE is the adaptive node: it reports
  * `UnknownPartitioning`, so a frame checkpointed after a hash aggregation
  * or a `repartition(n, key)` is shuffled again by the next join or
  * aggregation on that key. This one reads it off the adaptive node's
  * FINAL plan — the plan whose `execute()` produced the rows — so a
  * `HashPartitioning` (or the `CoalescedHashPartitioning` of an
  * AQE-coalesced read) is carried into the `LogicalRDD`. */
object Checkpoint {

  /** Eagerly materializes `ds` (one job, run as a SQL execution so the
    * plan's observations complete) into local-checkpointed blocks, and
    * returns a frame over them with the final plan's output partitioning
    * and ordering, plus the RDD that holds the blocks ([[free]] frees
    * them). The frame's statistics are the exact row count times Spark's
    * per-row size estimate, the convention of a `LocalRelation`. */
  def local(ds: Dataset[_]): (DataFrame, RDD[InternalRow]) = {
    val cds = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = cds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val rows = rdd.count()
      val last = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // a PartitioningCollection (join outputs) grows with every join
      // above it; its first leaf is as true and stays small
      def leaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => leaf(c.partitionings.head)
        case other => other
      }
      val output = cds.logicalPlan.output
      // the optimizer may rename the attributes the partitioning and
      // ordering name (`x + 0 AS y` becomes `x`): rebind them to the
      // frame's output by position, as Spark's own checkpoint does
      val rebind = AttributeMap(last.output.zip(output))
      def bound[T <: Expression](e: T): T =
        e.transform { case a: Attribute => rebind.getOrElse(a, a) }.asInstanceOf[T]
      val partitioning = leaf(last.outputPartitioning) match {
        case e: Expression => bound(e).asInstanceOf[Partitioning]
        case p => p
      }
      val stats = Statistics(
        sizeInBytes = EstimationUtils.getSizePerRow(output) * rows,
        rowCount = Some(BigInt(rows)))
      val plan = LogicalRDD(output, rdd, partitioning, last.outputOrdering.map(bound),
        isStreaming = false)(cds.sparkSession, Some(stats), None)
      (org.apache.spark.sql.classic.Dataset.ofRows(cds.sparkSession, plan), rdd)
    }
  }

  /** Drops the blocks of a [[local]] checkpoint without `RDD.unpersist`'s
    * warning that a checkpointed RDD cannot be recomputed: a cut is freed
    * once nothing reads it any more, so the warning would only be noise. */
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
