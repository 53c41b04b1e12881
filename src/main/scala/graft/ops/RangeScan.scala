package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Two-pass distributed prefix scan over a total order — the shape of
  * [[SizeBatch]], [[PrefixSum]], [[GlobalIndex]], [[Skyline]] and
  * [[Sweep]]. It replaces a global window (`... OVER (ORDER BY key)`),
  * which moves EVERY row to one reducer, with parallelism P throughout:
  *
  *   1. Range-partition the rows by the order columns into `parts`
  *      partitions and sort within each — one shuffle, the exchange a
  *      global sort needs anyway. Range partition i holds strictly earlier
  *      rows than partition i+1, so partition order IS key order.
  *   2. Pass 1 ([[summarize]]): one summary per partition (a count, a sum,
  *      a max, per-group subtotals), collected to the driver in partition
  *      order. O(P) metadata, never row data.
  *   3. Driver: the operator folds the summaries into one seed per
  *      partition — an exclusive prefix over the partitions before it.
  *   4. Pass 2 ([[walk]]): each partition is walked in order from its
  *      seed. The seeds travel in the task closure; Spark broadcasts the
  *      task binary once per stage.
  *
  * Both passes read the range exchange's shuffle output from one RDD
  * (`queryExecution.toRdd`): rows are shuffled once and read twice, and
  * nothing is persisted or registered. Both walks see `InternalRow`s; the
  * sorted iterator REUSES its row, so a walk that holds a row or a string
  * past the next one must `copy()` or `clone()` it.
  *
  * Both passes key the seeds on `mapPartitionsWithIndex`'s index, NOT
  * `TaskContext.getPartitionId()`: it must be THIS RDD's partition index.
  * When a downstream plan pipelines pass 2 into a UnionRDD (observed in
  * q235), the task's stage-level partition id is union-shifted — an
  * off-the-end id crashes, a small shift mis-seeds SILENTLY.
  */
final class RangeScan private (df: DataFrame, order: Seq[Column], parts: Int) {
  private val ranged = df.repartitionByRange(math.max(parts, 1), order: _*)
    .sortWithinPartitions(order: _*)

  /** The schema of the rows both passes walk: `df`'s. */
  val schema: StructType = ranged.schema

  private val qe = ranged.queryExecution
  // running the plan runs the range exchange
  private lazy val rows = qe.toRdd

  /** Pass 1: `f` of every partition's rows, in partition order. It runs
    * as one SQL execution, as an action would: Spark keys its cache of
    * generated classes by the thread's context class loader, which an
    * execution sets to the session's, so outside one every run of the
    * plan compiles its classes again. */
  def summarize[S: ClassTag](f: Iterator[InternalRow] => S): Array[S] =
    SQLExecution.withNewExecutionId(qe, Some("RangeScan")) {
      rows.mapPartitionsWithIndex((pid, it) => Iterator.single((pid, f(it))))
        .collect().sortBy(_._1).map(_._2)
    }

  /** Pass 2: `f` of each partition's seed and rows, as a frame of `out`
    * rows. `seeds` holds one seed per partition, in partition order (as
    * [[summarize]] returns them). Runs when the frame does. */
  def walk[T](seeds: Array[T], out: StructType)(
      f: (T, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame =
    Bridge.ofRows(df.sparkSession,
      rows.mapPartitionsWithIndex((pid, it) => f(seeds(pid), it)), out)
}

object RangeScan {

  /** Range-partition `df` on `order` into `parts` partitions, sorted
    * within each. The exchange runs with [[RangeScan.summarize]]. */
  def apply(df: DataFrame, order: Seq[Column], parts: Int): RangeScan =
    new RangeScan(df, order, parts)

  /** A schema of non-null BIGINT columns `names`. */
  def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** `rows` with the BIGINT `value(row)` appended to each — one reused
    * output row, as the consumer projects every row it is handed. */
  def appendLong(rows: Iterator[InternalRow])(value: InternalRow => Long)
      : Iterator[InternalRow] = {
    val cell = new GenericInternalRow(1)
    val joined = new JoinedRow
    rows.map { r =>
      cell.setLong(0, value(r))
      joined(r, cell)
    }
  }
}
