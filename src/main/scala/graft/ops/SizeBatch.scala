package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Size-based batching (O7 — reference `flyte/scenes.py:60-70` packs work
  * into byte-budget batches): `batch_id = bytes_before / budget` in key
  * order, bit-identical to the single-reducer `sum(bytes) over (order by
  * key)` window, as a [[RangeScan]] — pass 1 sums each partition's bytes
  * (plus its row count and last row's bytes, for the batch count), pass 2
  * walks from the exclusive prefix sum. The rows carry every input column,
  * so no join puts the batch id back on them.
  */
object SizeBatch {

  /** Assign contiguous byte-budget batch ids in ascending key order.
    *
    * @param rows  (key, n_bytes) pairs; keys assumed distinct (the
    *              reference batches by URL, unique by construction)
    * @param budget bytes per batch (> 0)
    * @param parts  partition count for the range exchange — at cluster
    *               scale set this near `spark.sql.shuffle.partitions`
    * @return columns (key BIGINT, n_bytes BIGINT, batch_id BIGINT),
    *         batch_id = floor(preceding-bytes / budget), identical to the
    *         single-reducer `Window.orderBy(key)` formulation
    */
  def assign(rows: Dataset[(Long, Long)], budget: Long, parts: Int): DataFrame =
    // a Dataset[(Long, Long)] keeps its source column names: rename
    // positionally
    inPlace(rows.toDF("key", "n_bytes"), col("key"), col("n_bytes"), budget,
      parts, "batch_id")._1

  /** [[assign]] on the rows themselves: `rows` range-partitioned on `key`
    * (distinct, ascending) into `parts` partitions, sorted within each,
    * with `batchCol` (BIGINT) appended — the batch ids [[assign]] gives
    * the (key, weight) pairs — and the number of batches. `weight` is
    * evaluated once per row ahead of the exchange (a check in it, such
    * as `raise_error`, runs there). The range exchange and pass 1 run
    * now; pass 2 runs with the returned frame. */
  def inPlace(rows: DataFrame, key: Column, weight: Column, budget: Long,
              parts: Int, batchCol: String): (DataFrame, Long) = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = "_sizebatch_w"
    val scan = RangeScan(rows.withColumn(w, weight.cast(LongType)), Seq(key), parts)
    val wi = scan.schema.fieldIndex(w)
    // (rows, weight sum, last row's weight) per partition
    val stats = scan.summarize { it =>
      var n = 0L
      var total = 0L
      var last = 0L
      it.foreach { r => last = r.getLong(wi); total += last; n += 1 }
      (n, total, last)
    }
    val offsets = stats.scanLeft(0L)(_ + _._2)
    // the last row of the last non-empty partition starts the last batch
    val batches = stats.lastIndexWhere(_._1 > 0) match {
      case -1 => 0L
      case p => (offsets(p + 1) - stats(p)._3) / budget + 1L
    }
    val assigned = scan.walk(offsets, scan.schema.add(batchCol, LongType, nullable = false)) {
      (seed, it) =>
        var cum = seed
        RangeScan.appendLong(it) { r =>
          val batch = cum / budget
          cum += r.getLong(wi)
          batch
        }
    }
    (assigned.drop(w), batches)
  }
}
