package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** 2-D Pareto frontier (skyline): keep every row for which no other row is
  * at-most-equal `cost` AND at-least-equal `gain` with at least one strict
  * inequality.
  *
  * The textbook plan — a NOT EXISTS self-join — is quadratic; the window
  * form (`max(gain) over (order by cost)`) moves every row through one
  * reducer. This operator is exact at O(n log n) as a [[RangeScan]] on
  * `cost` (equal costs co-locate: the range partitioner splits on value
  * boundaries). Pass 1 takes each partition's max gain; pass 2 walks a
  * partition in cost order from the best gain of every cheaper partition,
  * buffering one equal-cost group at a time: a row survives iff its gain
  * equals its group's max AND strictly exceeds the best of all cheaper
  * groups. Equal (cost, gain) ties all survive — none dominates another.
  * The frontier can be O(n), so it is emitted distributed, never collected.
  */
object Skyline {

  /** @param rows (id, cost, gain) triples; lower cost and higher gain are
    *             better
    * @param parts partition count for the range exchange — near
    *              `spark.sql.shuffle.partitions` at cluster scale
    * @return columns (id BIGINT, cost DOUBLE, gain BIGINT): the
    *         non-dominated rows, bit-identical to the NOT EXISTS form
    */
  def frontier(rows: Dataset[(Long, Double, Long)], parts: Int): DataFrame = {
    val scan = RangeScan(rows.toDF("id", "cost", "gain").selectExpr(
      "CAST(id AS BIGINT) id", "CAST(cost AS DOUBLE) cost", "CAST(gain AS BIGINT) gain"),
      Seq(col("cost")), parts)
    val maxes = scan.summarize(_.foldLeft(Long.MinValue)((m, r) => math.max(m, r.getLong(2))))
    val out = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("cost", DoubleType, nullable = false),
      StructField("gain", LongType, nullable = false)))
    scan.walk(maxes.scanLeft(Long.MinValue)(math.max), out) { (seed, rows) =>
      val it = rows.buffered
      var best = seed
      Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
        val cost = it.head.getDouble(1)
        val group = ArrayBuffer.empty[InternalRow]
        while (it.hasNext && it.head.getDouble(1) == cost) group += it.next().copy()
        val gm = group.map(_.getLong(2)).max
        if (gm > best) { best = gm; group.filter(_.getLong(2) == gm) } else Nil
      }
    }
  }
}
