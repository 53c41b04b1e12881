package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** Dense global 0-based index over a total order — `row_number() - 1`
  * without the single-reducer global Window, which funnels the whole table
  * through ONE partition: the canonical 100 TB scale-killer for "assign
  * every training sample a stable position" (curriculum order, shard
  * offsets, resumable iteration). A [[RangeScan]]: pass 1 counts each
  * partition's rows, pass 2 runs a counter seeded at the exclusive prefix.
  */
object GlobalIndex {

  /** Index rows (score, id) by (score DESC, id ASC) — the curriculum
    * convention: best-scored first, id as the deterministic tiebreak.
    * @return columns (id BIGINT, score BIGINT, idx BIGINT), idx dense
    *         from 0, identical to
    *         `row_number() OVER (ORDER BY score DESC, id) - 1`. */
  def byScoreDesc(rows: Dataset[(Long, Long)], parts: Int): DataFrame =
    byScoreDescWithTotal(rows, parts)._1

  /** [[byScoreDesc]] plus the total row count — the offsets pass already
    * sums every partition's count, so callers needing the total (decile
    * divisors, shard math) get it without a second scan job. */
  def byScoreDescWithTotal(rows: Dataset[(Long, Long)],
                           parts: Int): (DataFrame, Long) = {
    val scan = RangeScan(rows.toDF("score", "id")
      .selectExpr("CAST(id AS BIGINT) id", "CAST(score AS BIGINT) score"),
      Seq(col("score").desc, col("id")), parts)
    val offsets = scan.summarize(_.foldLeft(0L)((n, _) => n + 1)).scanLeft(0L)(_ + _)
    val indexed = scan.walk(offsets, RangeScan.longs("id", "score", "idx")) { (seed, it) =>
      var i = seed - 1
      RangeScan.appendLong(it) { _ => i += 1; i }
    }
    (indexed, offsets.last)
  }
}
