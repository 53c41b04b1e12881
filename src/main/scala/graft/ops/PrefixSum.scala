package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** Distributed inclusive prefix sum over (key, value) rows ordered by key
  * ASC, as a [[RangeScan]]: pass 1 sums each partition's values, pass 2
  * runs a sum seeded at the exclusive prefix. Replaces the global
  * `sum() OVER (ORDER BY k)` window (single-reducer at scale, PlanGuard
  * error class) and the triangle self-join (quadratic in |keys|).
  */
object PrefixSum {

  /** @return columns (k BIGINT, v BIGINT, cum BIGINT) with
    *         cum = Σ v over rows with key ≤ k (inclusive; keys unique by
    *         caller contract). */
  def byKeyAsc(rows: Dataset[(Long, Long)], parts: Int): DataFrame = {
    val scan = RangeScan(rows.toDF("k", "v")
      .selectExpr("CAST(k AS BIGINT) k", "CAST(v AS BIGINT) v"), Seq(col("k")), parts)
    val offsets = scan.summarize(_.foldLeft(0L)(_ + _.getLong(1))).scanLeft(0L)(_ + _)
    scan.walk(offsets, RangeScan.longs("k", "v", "cum")) { (seed, it) =>
      var run = seed
      RangeScan.appendLong(it) { r => run += r.getLong(1); run }
    }
  }
}
