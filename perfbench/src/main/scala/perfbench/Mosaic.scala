package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.cube.ChunkRow
import graft.geo.Envelopes
import graft.model.{AnnualMeanDataset, Envelope}
import graft.pipelines.MosaicPipeline
import graft.plan.ScenePlanner
import graft.zarr.ArrayStore

/** The raster path: one op is one `MosaicPipeline.run` request followed by
  * a read-back of the whole cube with an aggregate. The request is
  * resubmitted against a store that already holds a seeded half of its
  * chunks; the half is restored (hard links, outside the timing) before
  * every request.
  */
final class MosaicWorkload(ctx: Ctx) extends Workload {
  import MosaicWorkload._
  val name = "mosaic_resume"
  val unit = "chunks"
  // requests keep getting faster (JIT) for about 14 requests; 6 is what
  // the run's time allows
  val warmup = 6

  private val rng = new scala.util.Random(ctx.seed)
  private val side = Side
  // seeded origin: whole degrees, so the envelope covers exactly side² tiles
  private val x0 = -170 + rng.nextInt(340 - side)
  private val y0 = -60 + rng.nextInt(130 - side)
  private val query = Envelope(x0 + 0.5, y0 + 0.5, x0 + side - 0.5, y0 + side - 0.5)
  private val times = Seq(2021, 2022, 2023).map(y => Timestamp.valueOf(s"$y-06-15 00:00:00"))
  private val nBands = AnnualMeanDataset.bands.length
  val work: Double = side.toDouble * side * times.size * nBands
  private val px = 16
  override val inputs: Map[String, Double] = Map("tiles" -> side * side, "times" -> times.size,
    "bands" -> nBands, "chunk_px" -> px).map { case (k, v) => k -> v.toDouble } ++
    Map("chunks" -> work, "bytes" -> work * px * px * 4)

  private def config(store: Path) =
    MosaicPipeline.Config(query, times, AnnualMeanDataset, store.toString, chunkPx = px)

  private val root = Files.createTempDirectory(ctx.workDir, name)
  private var storeSeq = 0
  private def freshStore(): Path = { storeSeq += 1; root.resolve(s"store-$storeSeq") }

  /** Chunk files (not metadata) of a store, keyed by their path below it. */
  private def chunkFiles(store: Path): Seq[Path] = {
    val s = Files.walk(store)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      ChunkKey.matches(p.getFileName.toString)).map(store.relativize).toSeq.sorted
    finally s.close()
  }

  /** The seeded half: built once, on first use. */
  private lazy val half: Path = {
    val full = freshStore()
    MosaicPipeline.run(ctx.spark, config(full))
    val files = chunkFiles(full)
    val keep = new scala.util.Random(ctx.seed * 31 + 7).shuffle(files).take(files.size / 2).toSet
    files.filterNot(keep).foreach(f => Files.delete(full.resolve(f)))
    full
  }

  /** A store in the workload's starting state, the seeded half (metadata
    * copied, chunk files hard-linked). */
  private def prepare(): Path = {
    val store = freshStore()
    val s = Files.walk(half)
    try s.iterator().asScala.toSeq.foreach { src =>
      val dst = store.resolve(half.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else if (ChunkKey.matches(src.getFileName.toString)) Files.createLink(dst, src)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
    store
  }

  def pass(i: Int, tracer: Option[Tracer]): Seq[OpRecord] =
    Seq(Workloads.timed(i)(Workloads.spanned(tracer, "mosaic.request")(request(i))))

  private def request(i: Int): OpRecord = {
    val store = prepare()
    val rec = ctx.runner.run(name, i) {
      val (cube, _, regions) = MosaicPipeline.run(ctx.spark, config(store))
      val agg = cube.agg(count(lit(1)), sum(aggregate(col("data"), lit(0.0),
        (a, x) => a + nanvl(x, lit(0.0f)).cast("double")))).head()
      (agg.getLong(0), regions.size)
    } { case (chunks, _) => check(store, chunks) }
    ctx.release()
    Workloads.deleteTree(store)
    rec
  }

  /** The chunk count must be tiles × times × bands, and a seeded sample of
    * chunks must equal an independent recomputation from the generator's
    * pixel rule. */
  private def check(store: Path, chunks: Long): Option[String] = {
    val tiles = side * side
    val want = tiles.toLong * times.size * nBands
    if (chunks != want) return Some(s"$chunks chunks, expected $want")
    val r = new scala.util.Random(ctx.seed ^ 0x5eed)
    val sample = Seq.fill(SampleChunks)(
      (r.nextInt(times.size), r.nextInt(nBands), r.nextInt(side), r.nextInt(side))).distinct
    val keyCol = concat_ws(".", col("time"), col("band"), col("cy"), col("cx"))
    val got = ArrayStore.read(ctx.spark, store.toString)
      .filter(keyCol.isin(sample.map { case (t, b, y, x) => s"$t.$b.$y.$x" }: _*))
      .collect().map(c => (c.time, c.band, c.cy, c.cx) -> c.data).toMap
    sample.collectFirst {
      case k if !got.contains(k) => s"chunk $k missing"
      case k @ (t, b, cy, cx) if !sameFloats(got(k), expectedChunk(t, b, cy, cx)) =>
        s"chunk $k differs from the recomputed pixels"
    }
  }

  private def sameFloats(a: Array[Float], b: Array[Float]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Float.floatToIntBits(a(i)) == java.lang.Float.floatToIntBits(b(i)))

  /** Feature chunk (time index, band, cy, cx), recomputed without the
    * engine: the masked mean over the year's 16-day periods of the
    * generator's pixels, where the QA band (last) is 1. */
  private[perfbench] def expectedChunk(t: Int, band: Int, cy: Int, cx: Int): Array[Float] = {
    val lon = x0 + cx
    val lat = y0 + cy
    val id = tileId(lon, lat + 1)
    val periods = windowPeriods(2021 + t)
    Array.tabulate(px * px) { cell =>
      var s = 0.0; var n = 0
      periods.foreach { p =>
        if (pixel(id, p, nBands, cell, nBands + 1) == 1f) {
          s += pixel(id, p, band, cell, nBands + 1); n += 1
        }
      }
      if (n == 0) Float.NaN else (s / n).toFloat
    }
  }

  /** The request's stages, each forced on its own. The staged run's wall
    * time is reported as `staged_pass_s`: it persists and counts every
    * stage, so it is different work from the request and not a measure of
    * the tracing overhead. */
  def layers(t: Tracer, replay: Seq[OpRecord]): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val store = prepare()
    val cfg = config(store)
    val bytesBefore = Workloads.dirStats(store)._2
    val t0 = System.nanoTime()
    def timed[A](span: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val out = t.span(span)(body)
      (out, (System.nanoTime() - t0) / 1e9)
    }
    // each stage's input is materialized before the stage's span opens, so
    // a span times its own stage (planning runs inside ingest, so ingest's
    // self time is its span minus the planning span)
    val grid = Envelopes.tileGrid(spark, cfg.query)
    val none = Seq.empty[String].toDF("url")
    val (_, planS) = timed("plan.required_scenes")(
      ScenePlanner.requiredScenes(spark, grid, cfg.query, cfg.times, cfg.dataset).count())
    val scenes = MosaicPipeline.ingestScenes(spark, cfg, grid, none).persist()
    val (_, ingestS) = timed("pipelines.ingest")(scenes.count())
    val features = MosaicPipeline.buildFeatures(spark, cfg, grid, scenes).persist()
    val (computed, reduceS) = timed("agg.temporal_reduce")(features.count())
    val (_, keysS) = timed("zarr.existing_keys")(
      ArrayStore.existingKeys(spark, store.toString).count())
    val ((_, regions), mosaicS) = timed("zarr.write")(
      MosaicPipeline.buildMosaic(spark, cfg, grid, features))
    features.unpersist()
    scenes.unpersist()
    val bytesAfter = Workloads.dirStats(store)._2
    val (_, readS) = timed("zarr.read")(ArrayStore.read(spark, store.toString)
      .agg(count(lit(1)), sum(aggregate(col("data"), lit(0.0),
        (a, x) => a + nanvl(x, lit(0.0f)).cast("double")))).head())
    val passS = (System.nanoTime() - t0) / 1e9
    val written = chunkFiles(store).size - chunkFiles(half).size
    val storeBytes = Workloads.dirStats(store)._2.toDouble
    ctx.release()
    Workloads.deleteTree(store)
    Map(
      "staged_pass_s" -> passS,
      "plan.required_scenes_s" -> planS, "plan.regions" -> regions.size.toDouble,
      "pipelines.ingest_s" -> math.max(0.0, ingestS - planS),
      "pipelines.chunks_computed" -> computed.toDouble,
      "pipelines.useful_ratio" -> (if (computed > 0) written.toDouble / computed else 0.0),
      "agg.temporal_reduce_s" -> reduceS,
      "zarr.existing_keys_s" -> keysS,
      "zarr.write_s" -> math.max(0.0, mosaicS - keysS),
      "zarr.read_s" -> readS,
      "zarr.chunks_written" -> written.toDouble,
      "zarr.write_mb" -> (bytesAfter - bytesBefore) / 1048576.0,
      "zarr.write_amp" -> storeBytes / (work * px * px * 4))
  }
}

object MosaicWorkload {
  /** Tiles per envelope side: 64 tiles x 3 times x 7 bands. */
  val Side = 8
  val SampleChunks = 24
  private val ChunkKey = "^\\d+\\.\\d+\\.\\d+\\.\\d+$".r.pattern
  private implicit class Matches(p: java.util.regex.Pattern) {
    def matches(s: String): Boolean = p.matcher(s).matches()
  }

  /** Tile id of the 1° tile with west edge `lon` and north edge `latTop`:
    * "005W_41N" (three-digit longitude, plain latitude). */
  def tileId(lon: Int, latTop: Int): String =
    f"${math.abs(lon)}%03d${if (lon < 0) "W" else "E"}_${math.abs(latTop)}${if (latTop < 0) "S" else "N"}"

  /** 16-day period index of a date: 23 periods a year from 1997 on. */
  def period(d: java.time.LocalDate): Long =
    392L + 23L * (d.getYear - 1997) + (d.getDayOfYear - 1) / 16

  /** Periods of the trailing 365-day window ending on Jan 1 of `year`,
    * clamped to the dataset's 2020-01-01 .. 2024-12-31 availability. */
  def windowPeriods(year: Int): Seq[Long] = {
    val end = java.time.LocalDate.of(year, 1, 1)
    val lo = Seq(end.minusDays(365), java.time.LocalDate.of(2020, 1, 1)).maxBy(_.toEpochDay)
    val hi = Seq(end, java.time.LocalDate.of(2024, 12, 31)).minBy(_.toEpochDay)
    period(lo) to period(hi)
  }

  /** The scene generator's documented pixel rule: a hash of (tile, period,
    * band, cell); the last band is QA, 0 on every third hash, else 1. */
  def pixel(tileId: String, period: Long, band: Int, cell: Int, nBandsWithQa: Int): Float = {
    val h = (tileId.hashCode.toLong & 0xffffL) + period * 31 + band * 7 + cell
    if (band == nBandsWithQa - 1) (if (h % 3 == 0) 0f else 1f) else (h % 1000).toFloat
  }
}
