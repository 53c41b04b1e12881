package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Interval-overlap analytics: max concurrent intervals per group via a
  * DISTRIBUTED sweep line.
  *
  * The single-node form — `sum(delta) over (partition by g order by t)`
  * then `max` — funnels each group through one reducer: at 100 TB a hot
  * group (one event type, one tenant) is a straggler by construction.
  * This operator is a grouped [[RangeScan]] of the ±1 endpoint stream on
  * (g, t, delta): a group larger than a partition spans SEVERAL
  * consecutive partitions, which is what removes the one-reducer-per-group
  * bottleneck. Pass 1 takes each partition's per-group delta subtotals
  * (O(P + G) counters on the driver, never endpoints); pass 2 re-walks each
  * partition with per-group counters seeded at the exclusive prefix,
  * emitting each group run's local max; a final tiny groupBy takes the
  * global max over ≤ P rows per group. The null group is a group like any
  * other, as under `PARTITION BY g`.
  *
  * Endpoint convention is half-open [s, e): at equal t the −1 (close)
  * sorts before the +1 (open), so touching intervals do not overlap.
  */
object Sweep {

  /** @param points (g, t, delta) endpoint stream: +1 at interval start,
    *               −1 at interval end
    * @param parts  range-exchange partition count
    * @return (g STRING, max_concurrent BIGINT) — bit-identical to the
    *         windowed running-sum formulation */
  def maxConcurrent(points: Dataset[(String, Long, Long)], parts: Int): DataFrame = {
    val scan = RangeScan(points.toDF("g", "t", "delta").selectExpr(
      "CAST(g AS STRING) g", "CAST(t AS BIGINT) t", "CAST(delta AS BIGINT) delta"),
      Seq(col("g"), col("t"), col("delta")), parts)

    // Pass 1: (group, delta subtotal) per group run, in partition order
    val subtotals = scan.summarize { it =>
      val runs = new GroupRuns
      val groups = mutable.ArrayBuffer.empty[Option[String]]
      val sums = mutable.ArrayBuffer.empty[Long]
      it.foreach { r =>
        if (runs.starts(r)) { groups += runs.group; sums += 0L }
        sums(sums.length - 1) += r.getLong(2)
      }
      groups.zip(sums).toArray
    }
    // Driver: per-group exclusive prefix sums in partition order
    val carried = mutable.HashMap.empty[Option[String], Long].withDefaultValue(0L)
    val seeds = subtotals.map(_.map { case (g, sum) =>
      val before = carried(g)
      carried(g) = before + sum
      g -> before
    }.toMap)

    // Pass 2: seeded running counts; one (g, local max) row per group run
    val out = new StructType().add("g", StringType).add("m", LongType, nullable = false)
    scan.walk(seeds, out) { (seed, it) =>
      val runs = new GroupRuns
      val maxes = mutable.ArrayBuffer.empty[GenericInternalRow]
      var run = 0L
      it.foreach { r =>
        if (runs.starts(r)) {
          maxes += new GenericInternalRow(Array[Any](runs.key, Long.MinValue))
          run = seed(runs.group)
        }
        run += r.getLong(2)
        if (run > maxes.last.getLong(1)) maxes.last.setLong(1, run)
      }
      maxes.iterator
    }.groupBy("g").agg(max("m").as("max_concurrent"))
  }

  /** The runs of column 0 (the group) along a sorted walk. */
  private final class GroupRuns {
    private var started = false
    /** The current run's group: a clone (the sorted iterator reuses its
      * row), null for the null group. */
    var key: UTF8String = _
    /** Whether `r` starts a new run (and makes its group current). */
    def starts(r: InternalRow): Boolean = {
      val k = if (r.isNullAt(0)) null else r.getUTF8String(0)
      val start = !started || k != key
      if (start) { started = true; key = if (k == null) null else k.clone() }
      start
    }
    def group: Option[String] = Option(key).map(_.toString)
  }
}
