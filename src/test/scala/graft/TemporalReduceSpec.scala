package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cube.{ChunkRow, ChunkTable}
import graft.model.{AnnualMeanDataset, AnnualMedianDataset, Envelope, GridDef}
import graft.pipelines.MosaicPipeline

/** The fused masked temporal reduce (`TemporalReduce.maskedReduce`) against
  * the three-part formulation it replaced — a QA self-join, a `zip_with`
  * mask, then a typed vector aggregator — kept here as the reference. Both
  * callers, both reducers, bit for bit, on seeded stacks with windows that
  * share a boundary period, a period without a QA slice, NaN data cells
  * and QA values other than 0/1.
  *
  * Data values are drawn from [1, 1000): every such float is a multiple of
  * 2^-23 and a window's sum stays below 2^16, so its double sum is exact
  * in any order. The reference aggregator's merge order is Spark's, the
  * kernel's is slice order; on these values neither can round. */
class TemporalReduceSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._
  import TemporalReduceSpec._

  private def sameBits[K](a: Map[K, Array[Float]], b: Map[K, Array[Float]]): Unit = {
    def bits(v: Array[Float]) = v.toSeq.map(java.lang.Float.floatToIntBits(_))
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(bits(v) == bits(b(k)), s"$k differs") }
  }

  /** value cell: NaN 10%, else uniform in [1, 1000); QA cell: 1 mostly,
    * else 0, 2 or NaN. */
  private def slice(rng: scala.util.Random, cells: Int, qa: Boolean): Array[Float] =
    Array.fill(cells) {
      if (qa) rng.nextInt(8) match {
        case 0 => 0f
        case 1 => 2f
        case 2 => Float.NaN
        case _ => 1f
      }
      else if (rng.nextInt(10) == 0) Float.NaN
      else 1f + rng.nextFloat() * 999f
    }

  for (proto <- Seq(AnnualMeanDataset, AnnualMedianDataset))
    test(s"buildFeatures (${proto.reduction}) matches the join + zip_with + aggregator reference bit for bit") {
      val px = 3
      // the 2021 and 2022 windows share the period holding 2021-01-01
      val times = Seq("2021-06-15", "2022-03-01", "2021-11-30").map(d => Timestamp.valueOf(s"$d 00:00:00"))
      val cfg = MosaicPipeline.Config(Envelope(0, 0, 1, 1), times, proto, "unused", chunkPx = px)
      val periods = windowPeriods(cfg)
      val shared = periods(0).toSet.intersect(periods(1).toSet)
      assert(shared.size == 1, shared)
      val qaBand = proto.bands.length
      val rng = new scala.util.Random(7)
      val noQa = Set(("t0", shared.head), ("t1", periods(1)(5)))
      val rows = for {
        tile <- Seq("t0", "t1", "t2")
        p <- (periods.flatten.min - 2) to (periods.flatten.max + 2) // some outside every window
        b <- 0 to qaBand
        if !(b == qaBand && noQa((tile, p)))
      } yield {
        val d = slice(rng, px * px, b == qaBand)
        if (tile == "t2" && b == qaBand) d(0) = 0f // a cell masked in every period
        (tile, p, b, d)
      }
      val scenes = rows.toDF("tile_id", "period", "band", "data")
      def collect(df: DataFrame) = df.as[(String, Timestamp, Int, Array[Float])].collect()
        .map { case (tile, t, b, d) => (tile, t.getTime, b) -> d }.toMap
      val got = collect(MosaicPipeline.buildFeatures(spark, cfg, spark.emptyDataFrame, scenes))
      val want = collect(referenceFeatures(cfg, scenes))
      assert(want.size == 3 * 2 * qaBand)
      sameBits(got, want)
      val masked = got.collect { case ((tile, _, _), d) if tile == "t2" => d(0) }
      assert(masked.size == 2 * qaBand && masked.forall(_.isNaN))
    }

  for (reduction <- Seq("mean", "median"); qaBand <- Seq(3, 1))
    test(s"ChunkTable.temporalReduce ($reduction, QA band $qaBand) matches the reference bit for bit") {
      val grid = GridDef(nTime = 6, nBand = 4, nY = 4, nX = 6, chunkY = 2, chunkX = 2, itemBytes = 4)
      val rng = new scala.util.Random(11 + qaBand)
      val rows = for {
        t <- 0 until grid.nTime
        b <- 0 until grid.nBand
        cy <- 0 until grid.chunksY
        cx <- 0 until grid.chunksX
        if !(b == qaBand && t == 2 && cx == 1)        // a time with no QA slice
        if !(b == qaBand && cy == 1 && cx == 2)       // a chunk with no QA at all
      } yield ChunkRow(t, b, cy, cx, slice(rng, 4, b == qaBand))
      val ds = spark.createDataset(rows)
      def collect(d: Dataset[ChunkRow]) = d.collect().map(r => (r.time, r.band, r.cy, r.cx) -> r.data).toMap
      val got = collect(ChunkTable.temporalReduce(ds, grid, qaBand, reduction))
      val want = collect(referenceTemporalReduce(ds, grid, qaBand, reduction))
      assert(want.size == 3 * (grid.chunksY * grid.chunksX - 1))
      sameBits(got, want)
    }

  test("a repeated (band, t) slice is refused, not counted twice") {
    val grid = GridDef(1, 2, 1, 1, 1, 1, 4)
    for (band <- Seq(0, 1)) { // a value band, then the QA band
      val rows = Seq(ChunkRow(0, 0, 0, 0, Array(5f)), ChunkRow(0, 1, 0, 0, Array(1f)),
        ChunkRow(0, band, 0, 0, Array(if (band == 1) 1f else 7f)))
      val e = intercept[org.apache.spark.SparkException](
        ChunkTable.temporalReduce(spark.createDataset(rows), grid, 1, "mean").collect())
      assert(e.getMessage.contains(s"two slices of band $band at t=0"), e.getMessage)
    }
  }

  test("an unknown reduction is refused before any job runs") {
    val ds = spark.createDataset(Seq(ChunkRow(0, 0, 0, 0, Array(1f))))
    val grid = GridDef(1, 1, 1, 1, 1, 1, 4)
    intercept[IllegalArgumentException](ChunkTable.temporalReduce(ds, grid, 0, "mode"))
  }

  private def windowPeriods(cfg: MosaicPipeline.Config): Seq[Seq[Long]] =
    cfg.times.toDF("t")
      .select(cfg.dataset.windowPeriods(cfg.dataset.snapToTemporalGrid($"t")))
      .as[Seq[Long]].collect().toSeq

  /** The former `MosaicPipeline.buildFeatures`: window join, QA self-join,
    * `zip_with` mask, vector aggregator on (tile, time, band). */
  private def referenceFeatures(cfg: MosaicPipeline.Config, scenes: DataFrame): DataFrame = {
    val proto = cfg.dataset
    val snapped = cfg.times.toDF("t")
      .select(proto.snapToTemporalGrid($"t").as("time")).distinct()
    val windows = snapped.select($"time",
      explode(proto.windowPeriods($"time")).as("period"))
    val qaBand = proto.bands.length
    val stacked = scenes.join(windows, Seq("period"))
    val masked = stacked
      .filter($"band" =!= qaBand)
      .join(stacked.filter($"band" === qaBand)
          .select($"tile_id", $"period", $"time", $"data".as("qa")),
        Seq("tile_id", "period", "time"))
      .select($"tile_id", $"time", $"band", $"period",
        zip_with($"data", $"qa",
          (v, q) => when(q === 1.0f, v).otherwise(lit(Float.NaN))).as("data"))
    masked.as[(String, Timestamp, Int, Long, Array[Float])]
      .groupByKey(r => (r._1, r._2, r._3))
      .mapValues(_._5)(floatArray)
      .agg(vectorAgg(proto.reduction, cfg.chunkPx * cfg.chunkPx).name("data"))
      .map(kv => (kv._1._1, kv._1._2, kv._1._3, kv._2))
      .toDF("tile_id", "time", "band", "data")
  }

  /** The former `ChunkTable.temporalReduce`: QA join on (time, cy, cx),
    * `zip_with` mask, vector aggregator on (band, cy, cx). */
  private def referenceTemporalReduce(ds: Dataset[ChunkRow], grid: GridDef, qaBand: Int,
                                      reduction: String): Dataset[ChunkRow] = {
    val qa = ds.filter($"band" === qaBand)
      .select($"time", $"cy", $"cx", $"data".as("qa"))
    val masked = ds.filter($"band" =!= qaBand)
      .join(qa, Seq("time", "cy", "cx"))
      .select($"time", $"band", $"cy", $"cx",
        zip_with($"data", $"qa",
          (v, q) => when(q === 1.0f, v).otherwise(lit(Float.NaN))).as("data"))
      .as[ChunkRow]
    masked.groupByKey(r => (r.band, r.cy, r.cx))
      .mapValues(_.data)(floatArray)
      .agg(vectorAgg(reduction, grid.chunkY * grid.chunkX).name("data"))
      .map { kv => ChunkRow(0, kv._1._1, kv._1._2, kv._1._3, kv._2) }
  }
}

object TemporalReduceSpec {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders._
  private val floatArray: Encoder[Array[Float]] =
    ExpressionEncoder(ArrayEncoder(PrimitiveFloatEncoder, containsNull = false))
  private val doubleArray: Encoder[Array[Double]] =
    ExpressionEncoder(ArrayEncoder(PrimitiveDoubleEncoder, containsNull = false))
  private val intArray: Encoder[Array[Int]] =
    ExpressionEncoder(ArrayEncoder(PrimitiveIntEncoder, containsNull = false))

  private def vectorAgg(reduction: String, n: Int) = reduction match {
    case "mean"   => new VectorMeanAggregator(n).toColumn
    case "median" => new VectorMedianAggregator(n).toColumn
  }

  /** Element-wise mean over NaN-masked slices, summed in double. */
  class VectorMeanAggregator(n: Int)
      extends Aggregator[Array[Float], (Array[Double], Array[Int]), Array[Float]] {
    def zero: (Array[Double], Array[Int]) = (new Array[Double](n), new Array[Int](n))
    def reduce(b: (Array[Double], Array[Int]), v: Array[Float]): (Array[Double], Array[Int]) = {
      var i = 0
      while (i < n) {
        val x = v(i)
        if (!x.isNaN) { b._1(i) += x; b._2(i) += 1 }
        i += 1
      }
      b
    }
    def merge(a: (Array[Double], Array[Int]), b: (Array[Double], Array[Int])): (Array[Double], Array[Int]) = {
      var i = 0
      while (i < n) { a._1(i) += b._1(i); a._2(i) += b._2(i); i += 1 }
      a
    }
    def finish(b: (Array[Double], Array[Int])): Array[Float] = {
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        out(i) = if (b._2(i) == 0) Float.NaN else (b._1(i) / b._2(i)).toFloat
        i += 1
      }
      out
    }
    def bufferEncoder: Encoder[(Array[Double], Array[Int])] = Encoders.tuple(doubleArray, intArray)
    def outputEncoder: Encoder[Array[Float]] = floatArray
  }

  /** Element-wise exact median over NaN-masked slices. */
  class VectorMedianAggregator(n: Int)
      extends Aggregator[Array[Float], List[Array[Float]], Array[Float]] {
    def zero: List[Array[Float]] = Nil
    def reduce(b: List[Array[Float]], v: Array[Float]): List[Array[Float]] = v :: b
    def merge(a: List[Array[Float]], b: List[Array[Float]]): List[Array[Float]] = a ::: b
    def finish(slices: List[Array[Float]]): Array[Float] = {
      val out = new Array[Float](n)
      val buf = new Array[Float](slices.length)
      var i = 0
      while (i < n) {
        var m = 0
        slices.foreach { s => val x = s(i); if (!x.isNaN) { buf(m) = x; m += 1 } }
        out(i) = if (m == 0) Float.NaN else {
          java.util.Arrays.sort(buf, 0, m)
          if (m % 2 == 1) buf(m / 2) else (buf(m / 2 - 1) + buf(m / 2)) / 2.0f
        }
        i += 1
      }
      out
    }
    def bufferEncoder: Encoder[List[Array[Float]]] = Encoders.kryo[List[Array[Float]]]
    def outputEncoder: Encoder[Array[Float]] = floatArray
  }
}
