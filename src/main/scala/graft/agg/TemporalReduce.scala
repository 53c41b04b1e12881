package graft.agg

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Temporal-reduction aggregates (SURVEY §2.4 A3/A4, §2.8 U1) — the
  * reference's per-dataset UDAF plug-point (protocols.py:228-242,
  * glad.py:259-282) re-expressed for Spark.
  *
  * Over table columns a masked mean is built-in `avg(when(ok, v))` (q19)
  * and the holistic median a typed `Aggregator`. Over chunk stacks both
  * run in `maskedReduce`, whose state is bounded by the temporal window
  * length (≈23 scenes in the reference): O(window) per group, not O(n).
  */
object TemporalReduce {

  /** A4: exact median over doubles — numpy semantics (mean of the two middle
    * values for even counts), matching DuckDB's `median`. Null inputs are
    * skipped (SQL aggregate semantics) — boxed input type, because a
    * primitive Double input would silently decode SQL NULL as 0.0. Holistic:
    * buffers all group values; intended for window-bounded groups. */
  object MedianAggregator
      extends Aggregator[java.lang.Double, Array[Double], java.lang.Double] {
    def zero: Array[Double] = Array.empty
    def reduce(b: Array[Double], v: java.lang.Double): Array[Double] =
      if (v == null) b else b :+ v.doubleValue
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = a ++ b
    def finish(b: Array[Double]): java.lang.Double = {
      if (b.isEmpty) return null
      val s = b.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    def bufferEncoder: Encoder[Array[Double]] = ExprEnc.doubleArray
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** Column form of the exact median (usable on untyped DataFrames). */
  val medianUdaf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(MedianAggregator, Encoders.DOUBLE)

  /** One time slice of a chunk stack: `t` orders a band's slices and pairs
    * each value slice with the QA slice of the same `t`. */
  final case class Slice(band: Int, t: Long, data: Array[Float])

  /** P4 + A3/A4 + U1 in one sorted group pass, like the reference's per-task
    * stack, mask and reduce (flyte/scenes.py:271-303). `slices` holds the
    * `groupBy` columns plus Slice's. A group's QA slices sort first and are
    * held; each value band then streams in `t` order through one
    * mask-and-accumulate loop and is emitted when done. A value slice with
    * no QA slice of its `t` is skipped; a band that keeps none emits
    * nothing; two slices of one band and `t` are refused. ONE shuffle, on
    * the group key, and no join; per-group state is O(window × cells), so
    * size the chunk for it (SURVEY §7 part 2). */
  def maskedReduce[K: Encoder](slices: DataFrame, groupBy: Seq[Column], qaBand: Int,
                               reduction: String, cells: Int): Dataset[(K, Int, Array[Float])] = {
    require(reduction == "mean" || reduction == "median", s"unknown reduction $reduction")
    val median = reduction == "median"
    implicit val out: Encoder[(K, Int, Array[Float])] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaInt, ExprEnc.floatArray)
    slices.groupBy(groupBy: _*).as[K, Slice](implicitly[Encoder[K]], Encoders.product[Slice])
      .flatMapSortedGroups((col("band") === qaBand).desc, col("band"), col("t")) {
        (key: K, group: Iterator[Slice]) =>
          val it = group.buffered
          def next(): Slice = { // sorted by t within a band: a repeat is adjacent
            val s = it.next()
            require(!(it.hasNext && it.head.band == s.band && it.head.t == s.t),
              s"group $key has two slices of band ${s.band} at t=${s.t}")
            s
          }
          val qa = scala.collection.mutable.LongMap.empty[Array[Float]]
          while (it.hasNext && it.head.band == qaBand) { val s = next(); qa(s.t) = s.data }
          Iterator.continually(it.hasNext).takeWhile(identity).flatMap { _ =>
            val band = it.head.band
            val kept = new KeptCells(cells, qa.size)
            var used = false
            while (it.hasNext && it.head.band == band) {
              val s = next()
              qa.get(s.t).foreach { q => kept.add(s.data, q); used = true }
            }
            if (used) Iterator.single((key, band, kept.finish(median))) else Iterator.empty
          }
      }
  }

  /** One band's kept values per cell, in slice order: a cell keeps a
    * slice's value when its QA is 1 and the value is not NaN (P4/P6). Each
    * cell owns `window` slots — one per QA slice, the most it can keep. */
  private final class KeptCells(n: Int, window: Int) {
    private val vals = new Array[Float](n * window)
    private val cnt = new Array[Int](n)
    def add(v: Array[Float], q: Array[Float]): Unit = {
      var i = 0
      while (i < n) {
        val x = v(i)
        if (q(i) == 1f && !x.isNaN) { vals(i * window + cnt(i)) = x; cnt(i) += 1 }
        i += 1
      }
    }
    /** A4 exact median (an even count averages the middle two in float32)
      * or A3 float32 mean (glad.py:259-282); NaN where a cell kept none. */
    def finish(median: Boolean): Array[Float] = {
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        val m = cnt(i); val b = i * window
        out(i) = if (m == 0) Float.NaN else if (median) {
          java.util.Arrays.sort(vals, b, b + m)
          if (m % 2 == 1) vals(b + m / 2) else (vals(b + m / 2 - 1) + vals(b + m / 2)) / 2.0f
        } else {
          var sum = 0.0; var j = b
          while (j < b + m) { sum += vals(j); j += 1 }
          (sum / m).toFloat
        }
        i += 1
      }
      out
    }
  }
}

/** Primitive-array encoders for aggregator buffers/outputs. */
private[graft] object ExprEnc {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders._
  val floatArray: Encoder[Array[Float]] =
    ExpressionEncoder(ArrayEncoder(PrimitiveFloatEncoder, containsNull = false))
  val doubleArray: Encoder[Array[Double]] =
    ExpressionEncoder(ArrayEncoder(PrimitiveDoubleEncoder, containsNull = false))
}
