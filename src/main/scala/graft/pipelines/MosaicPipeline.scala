package graft.pipelines

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cube.ChunkRow
import graft.geo.Envelopes
import graft.model._
import graft.ops.{Incremental, ScratchCache}
import graft.plan.RegionPlanner
import graft.zarr.{ArrayStore, ChunkFormat, ZarrStore}

/** End-to-end dataset-building pipeline — the engine's equivalent of the
  * reference's three workflows (SURVEY §3), each stage skipping what the
  * store already holds (J3: the request's chunks are listed once, on the
  * driver, before any scene is read):
  *
  *  plan:               snapped windows, tile cells, one store listing →
  *                      pending (tile, time, band) chunks → the scene
  *                      slices they need ([[RequestPlan]])
  *  E2 ingest_scenes:   planned scene slices → idempotent scene
  *                      materialization (S5/S6 stand-in)
  *  E3 scene_features:  each slice fed to its pending windows → window
  *                      stack + temporal reduce (U1/A3/A4)
  *  E1 mosaic build:    store init (S8) → region plan (O8) → parallel
  *                      idempotent writes of the pending chunks (S9)
  *
  * Two E2 forms with one output contract: `ingestScenes` synthesizes
  * deterministic scene chunks (fast correctness harness), and
  * `ingestSceneTiffs` fetches + decodes real tiled-GeoTIFF scene files
  * (raster.GeoTiff, S2/S5) — PipelineSpec asserts the two produce the
  * same store when the files carry the generator's pixels. One driver
  * program, lazy end-to-end: Flyte task boundaries collapse into Spark
  * stages (SURVEY §3 lifecycle note).
  */
object MosaicPipeline {

  final case class Config(
      query: Envelope,
      times: Seq[Timestamp],
      dataset: TemporalDatasetProtocol,
      storeRoot: String,
      chunkPx: Int = 16,          // px per tile side (test-scale; 2048/4004 in prod)
      regionBudgetBytes: Long = 1L << 20,
      // per-task download scratch (reference _EPHEMERAL_STORAGE = 32 GiB,
      // flyte/scenes.py:20); with dataset.maxBytesPerFile it sizes the
      // fetch fan-out so no task exceeds its scratch
      taskScratchBytes: Long = 32L << 30)

  /** Deterministic synthetic pixel: f(tile, period, band, cell). Plays the
    * role of the downloaded scene's content; QA band (last band) cycles a
    * mask pattern like the reference's QA==1 semantics. */
  private[graft] def pixel(tileId: String, period: Long, band: Int, cell: Int, nBands: Int): Float = {
    val h = (tileId.hashCode.toLong & 0xffffL) + period * 31 + band * 7 + cell
    if (band == nBands - 1) (if (h % 3 == 0) 0f else 1f)
    else (h % 1000).toFloat
  }

  /** One mosaic request, planned once on the driver before any scene is
    * read: the snapped times with their windows, the tiles' chunk cells
    * and the store grid, and — from one listing of the store — the
    * (tile, time, band) chunks still to write and the scene slices they
    * need. E2, E3 and E1 all take it, so a resume reads, reduces and
    * writes only the pending chunks. A store that lists no chunk leaves
    * everything pending. Built by [[MosaicPipeline.plan]]. */
  final class RequestPlan private[MosaicPipeline] (
      val cfg: Config,
      /** Snapped feature times, ascending, each with its window's periods. */
      val windows: Seq[(Timestamp, Seq[Long])],
      tiles: () => Seq[(String, Double, Double)],
      stored: Seq[graft.zarr.ChunkStoreSource.Key]) {

    private val nBand = cfg.dataset.bands.length
    require(nBand < 64, s"${cfg.dataset.name}: $nBand bands, at most 63 are supported")

    /** The store's time axis. */
    def times: Seq[Timestamp] = windows.map(_._1)

    /** (tile id → (cy, cx), grid): the distinct corners of the tiles the
      * query intersects, sorted, index the chunk rows and columns. The
      * tiles are collected on first use; E3 never needs them when nothing
      * is stored. */
    private lazy val layout: (Map[String, (Int, Int)], GridDef) = {
      val ts = tiles()
      val lons = ts.map(_._2).distinct.sorted
      val lats = ts.map(_._3).distinct.sorted
      val lonIdx = lons.zipWithIndex.toMap
      val latIdx = lats.zipWithIndex.toMap
      (ts.map { case (id, x, y) => id -> (latIdx(y), lonIdx(x)) }.toMap,
        GridDef(nTime = windows.length, nBand = nBand,
          nY = lats.length * cfg.chunkPx, nX = lons.length * cfg.chunkPx,
          chunkY = cfg.chunkPx, chunkX = cfg.chunkPx, itemBytes = 4))
    }
    def cells: Map[String, (Int, Int)] = layout._1
    def grid: GridDef = layout._2

    /** Value bands still to write at (tile, time index), as a bit mask
      * (bit b = band b). A plain function of driver-built maps, so E3 and
      * E1 ship it to the executors. */
    lazy val pendingBands: (String, Int) => Long = {
      val all = (1L << nBand) - 1
      val done: Map[(String, Int), Long] =
        if (stored.isEmpty) Map.empty
        else {
          val tileAt = cells.map(_.swap)
          stored.filter(k => k.time < windows.length && k.band < nBand)
            .flatMap(k => tileAt.get((k.cy, k.cx)).map(tile => (tile, k.time) -> (1L << k.band)))
            .groupMapReduce(_._1)(_._2)(_ | _)
        }
      (tile, t) => all & ~done.getOrElse((tile, t), 0L)
    }

    /** The time indices a scene slice (tile, period, band) feeds: the
      * times whose window holds the period and whose (tile, time) still
      * needs the band — any band, for the QA band (never stored, so a
      * resume always reads it). */
    lazy val feeds: (String, Long, Int) => Seq[Int] = {
      val timesOf = windows.zipWithIndex
        .flatMap { case ((_, periods), t) => periods.map(_ -> t) }
        .groupMap(_._1)(_._2)
      val pending = pendingBands
      val qa = nBand
      (tile, period, band) => timesOf.getOrElse(period, Nil).filter { t =>
        val m = pending(tile, t)
        if (band == qa) m != 0L else hasBand(m, band)
      }
    }

    /** The scene slices to read: per (tile, period), the bands whose slice
      * feeds a pending chunk, the QA band (index `bands.length`) wherever
      * a value band does. A (tile, period) feeding nothing is left out. */
    lazy val slices: Seq[(String, Long, Seq[Int])] = {
      val fed = feeds
      val periods = windows.flatMap(_._2).distinct.sorted
      for {
        tile <- cells.keys.toSeq.sorted
        period <- periods
        bands = (0 to nBand).filter(b => fed(tile, period, b).nonEmpty)
        if bands.nonEmpty
      } yield (tile, period, bands)
    }

    /** The planned slices as scene rows (tile_id, period, bands, url). */
    def scenes(spark: SparkSession): DataFrame = {
      import spark.implicits._
      slices.toDF("tile_id", "period", "bands")
        .withColumn("url", cfg.dataset.sceneUrl($"tile_id", $"period"))
    }
  }

  private def hasBand(mask: Long, band: Int): Boolean =
    band >= 0 && band < 64 && (mask >>> band & 1L) != 0L

  /** Plan one request: one collect of the windows, the tiles of `grid`
    * the query intersects (collected when first needed), and one listing
    * of the store. Take it before `ZarrStore.init` touches the store. */
  def plan(spark: SparkSession, cfg: Config, grid: DataFrame): RequestPlan = {
    import spark.implicits._
    val format = ChunkFormat.of(cfg.storeRoot)
    val stored = format.list().map(_.key)
    val p = new RequestPlan(cfg, windows(spark, cfg), () =>
      Envelopes.tilesIntersecting(grid, cfg.query)
        .select($"tile_id", $"xmin", $"ymin").as[(String, Double, Double)].collect().toSeq,
      stored)
    if (stored.nonEmpty) checkStore(p, format)
    p
  }

  /** A store built for another request must not pass for this one's
    * partial result: its chunk keys would name other cells, bands or
    * times. Refused, naming the field, before any chunk counts as
    * present. A store written before the time axis was recorded is
    * checked on grid and bands only. */
  private def checkStore(p: RequestPlan, format: ChunkFormat): Unit = {
    val root = p.cfg.storeRoot
    def refuse(field: String, stored: Any, wanted: Any): Nothing =
      throw new IllegalArgumentException(
        s"store $root was built for another request: its $field is $stored, this request's is $wanted")
    format match {
      case v2: ChunkFormat.V2 =>
        if (v2.grid != p.grid) refuse("grid", v2.grid, p.grid)
        val (bands, times) = ZarrStore.readAxes(root)
        if (bands != p.cfg.dataset.bands)
          refuse("band labels", bands.mkString("[", ",", "]"), p.cfg.dataset.bands.mkString("[", ",", "]"))
        val wanted = p.times.map(_.getTime)
        times.foreach(t => if (t != wanted)
          refuse("time axis (epoch ms)", t.mkString("[", ",", "]"), wanted.mkString("[", ",", "]")))
      case other => refuse("layout", other.getClass.getSimpleName, "Zarr v2")
    }
  }

  /** E2: "ingest" the planned scene slices, skipping scenes whose URL is
    * in `existingUrls`, as chunk rows (one chunk per (tile, period,
    * band)). Returns the scene cube table keyed by (tile_id, period,
    * band). */
  def ingestScenes(spark: SparkSession, cfg: Config, grid: DataFrame,
                   existingUrls: DataFrame): DataFrame =
    synthesize(cfg, Incremental.missing(plan(spark, cfg, grid).scenes(spark), existingUrls, "url"))

  /** E2 over a planned request: every planned slice. */
  def ingestScenes(spark: SparkSession, plan: RequestPlan): DataFrame =
    synthesize(plan.cfg, plan.scenes(spark))

  private def synthesize(cfg: Config, scenes: DataFrame): DataFrame = {
    import scenes.sparkSession.implicits._
    val nBands = cfg.dataset.bands.length + 1 // + QA band
    val px = cfg.chunkPx
    scenes.select($"tile_id", $"period", $"bands").as[(String, Long, Seq[Int])]
      .flatMap { case (tile, period, bands) =>
        bands.map(b => (tile, period, b, Array.tabulate(px * px)(c => pixel(tile, period, b, c, nBands))))
      }
      .toDF("tile_id", "period", "band", "data")
  }

  /** The snapped feature times, ascending, with their windows' periods —
    * the protocol's expressions run on the driver in the session zone, so
    * the features and the store's time axis agree on every snapped time. */
  private def windows(spark: SparkSession, cfg: Config): Seq[(Timestamp, Seq[Long])] = {
    import spark.implicits._
    cfg.times.toDF("t").select(cfg.dataset.snapToTemporalGrid($"t").as("time"))
      .select($"time", cfg.dataset.windowPeriods($"time"))
      .as[(Timestamp, Seq[Long])].collect().toSeq
      .distinctBy(_._1.getTime).sortBy(_._1.getTime)
  }

  /** E3: per (tile, snapped time), stack the trailing window of scenes and
    * apply the dataset's temporal reduction — the masked mean/median over
    * the time dimension (U1). Output: one feature chunk per pending
    * (tile, time, band) of the request planned from `cfg` and `grid`. */
  def buildFeatures(spark: SparkSession, cfg: Config, grid: DataFrame,
                    scenes: DataFrame): DataFrame =
    buildFeatures(plan(spark, cfg, grid), scenes)

  /** E3 over a planned request.
    *
    * Plan shape: the plan's driver-built `feeds` expands each scene row to
    * the pending windows holding it (a generator, not a join), then
    * `TemporalReduce.maskedReduce` groups on (tile, time), slices ordered
    * by period — ONE shuffle of the scene rows and no join over them. A
    * value slice reaches only the times still needing its band, so the
    * reduce emits exactly the pending chunks. */
  def buildFeatures(plan: RequestPlan, scenes: DataFrame): DataFrame = {
    import scenes.sparkSession.implicits._
    val cfg = plan.cfg
    val times = plan.times.toArray
    val feeds = plan.feeds
    val fedTimes = udf((tile: String, period: Long, band: Int) => feeds(tile, period, band).map(times(_)))
    val slices = scenes.select($"tile_id",
      explode(fedTimes($"tile_id", $"period", $"band")).as("time"),
      $"band", $"period".as("t"), $"data")
    graft.agg.TemporalReduce.maskedReduce[(String, Timestamp)](slices,
        Seq($"tile_id", $"time"), cfg.dataset.bands.length, cfg.dataset.reduction,
        cfg.chunkPx * cfg.chunkPx)
      .select($"_1._1".as("tile_id"), $"_1._2".as("time"), $"_2".as("band"), $"_3".as("data"))
  }

  /** E1: assemble features into the chunked store — tiles become the chunk
    * grid (tile (cy,cx) from its position in the covering grid), times
    * become the time axis; init writes metadata only, then one idempotent
    * parallel write pass of the chunks the store does not hold yet. */
  def buildMosaic(spark: SparkSession, cfg: Config, grid: DataFrame,
                  features: DataFrame): (GridDef, Seq[Region]) =
    buildMosaic(plan(spark, cfg, grid), features)

  /** E1 over a planned request. A request with nothing pending runs no
    * job. */
  def buildMosaic(plan: RequestPlan, features: DataFrame): (GridDef, Seq[Region]) = {
    val cfg = plan.cfg
    // the mosaic lands in the Zarr v2 layout — the reference's own store
    // contract (flyte/build.py:110: a store xarray reopens); the DSv2
    // source auto-detects it, so reads/pruning are unchanged
    ZarrStore.init(cfg.storeRoot, plan.grid, bands = cfg.dataset.bands,
      times = plan.times.map(_.getTime))
    if (plan.slices.nonEmpty) ZarrStore.write(pendingChunks(plan, features), cfg.storeRoot)
    val regions = RegionPlanner.planBandRange(
      plan.grid, cfg.regionBudgetBytes, 0, plan.grid.nBand)
    (plan.grid, regions)
  }

  /** E1's chunk rows: each feature at its (time index, band, cy, cx) key,
    * kept only while the plan has it pending, so a stored chunk is never
    * rewritten whatever `features` holds. A narrow filter, no join. */
  def pendingChunks(plan: RequestPlan, features: DataFrame): Dataset[ChunkRow] = {
    import features.sparkSession.implicits._
    val cells = plan.cells
    val timeIdx = plan.times.map(_.getTime).zipWithIndex.toMap
    val pending = plan.pendingBands
    features.as[(String, Timestamp, Int, Array[Float])]
      .flatMap { case (tile, time, band, data) =>
        val t = timeIdx(time.getTime)
        if (!hasBand(pending(tile, t), band)) None
        else { val (cy, cx) = cells(tile); Some(ChunkRow(t, band, cy, cx, data)) }
      }
  }

  /** E2 (real-raster form, S2+S5): fetch each planned scene's GeoTIFF
    * whose URL is not in `existingUrls` with the bulk fetch operator,
    * decode with the tiled-TIFF reader, emit one chunk per planned
    * (tile, period, band) — the same output contract as the generator
    * form, so E3/E1 are unchanged. `localizeUrl` maps the protocol's
    * object-store URL to a reachable one (tests: a file:// fixture tree
    * laid out like the bucket; production: identity or a signing
    * rewrite). Scenes are one chunk tile per file at this scale; bigger
    * scenes would chunk each band plane here instead of requiring
    * equality. */
  def ingestSceneTiffs(spark: SparkSession, cfg: Config, grid: DataFrame,
                       existingUrls: DataFrame, localizeUrl: Column => Column,
                       workdir: String): DataFrame =
    fetchScenes(cfg, Incremental.missing(plan(spark, cfg, grid).scenes(spark), existingUrls, "url"),
      localizeUrl, workdir)

  private def fetchScenes(cfg: Config, scenes: DataFrame, localizeUrl: Column => Column,
                          workdir: String): DataFrame = {
    import scenes.sparkSession.implicits._
    // counted for batch sizing, then fetched and joined below; the lazy
    // result reads it, so its release is the caller's (`Harness.release`)
    val missing = ScratchCache.register(
      scenes.withColumn("src", localizeUrl($"url")).cache())
    // scratch-bounded fan-out (scenes.py:60-70 batching): each fetch task
    // downloads at most taskScratchBytes/4 even under worst-case file sizes
    // (the reference's 4x headroom — outputs/temp files share the disk)
    val nMissing = missing.count()
    val fetchParts = graft.ops.Fetch.boundedFetchParts(
      math.max(nMissing, 1L), cfg.dataset.maxBytesPerFile, cfg.taskScratchBytes)
    val fetched = graft.ops.Fetch.fetchToDir(
      missing.repartition(fetchParts), "src", workdir)()
    val px = cfg.chunkPx
    missing.join(fetched.select($"url".as("src"), $"dest"), Seq("src"))
      .select($"tile_id", $"period", $"bands", $"dest").distinct()
      .as[(String, Long, Seq[Int], String)]
      .flatMap { case (tile, period, bands, dest) =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dest))
        val fi = graft.raster.GeoTiff.info(bytes)
        require(fi.width == px && fi.height == px,
          s"scene tile must be ${px}x$px, got ${fi.width}x${fi.height}")
        bands.map { b =>
          require(b < fi.bands, s"scene $dest has ${fi.bands} bands, band $b is planned")
          (tile, period, b, graft.raster.GeoTiff.readBand(bytes, b))
        }
      }
      .toDF("tile_id", "period", "band", "data")
  }

  /** S6 (real form): write each (tile, time) feature group as a tiled
    * float32 GeoTIFF at its deterministic output path — the engine twin of
    * the reference's COG-ify + upload (scene_urls_to_cog,
    * datasets/utils.py:140-151; deterministic URL = F5 memoization key).
    * One file per task element inside foreachPartition, temp + atomic
    * rename, existing outputs skipped — the same idempotence contract as
    * every other sink here. Returns nothing; reopen with GeoTiff. */
  def writeFeatureCogs(features: DataFrame, outRoot: String, px: Int,
                       nodata: Double = Double.NaN): Unit = {
    import features.sparkSession.implicits._
    features
      .groupBy($"tile_id", $"time")
      .agg(sort_array(collect_list(struct($"band", $"data"))).as("bands"))
      .select($"tile_id", date_format($"time", "yyyyMMdd").as("ymd"), $"bands")
      .as[(String, String, Seq[(Int, Array[Float])])]
      .foreachPartition { (it: Iterator[(String, String, Seq[(Int, Array[Float])])]) =>
        it.foreach { case (tile, ymd, bands) =>
          val dst = java.nio.file.Paths.get(outRoot, "features", tile, s"$ymd.tif")
          if (!java.nio.file.Files.exists(dst)) {
            java.nio.file.Files.createDirectories(dst.getParent)
            // overviews on, like the reference's COG driver defaults
            // (datasets/utils.py:143-150: COG + BIGTIFF=IF_SAFER)
            val bytes = graft.raster.GeoTiffWriter.write(px, px,
              bands.map(_._2), nodata = Some(nodata), overviews = true)
            val tmp = dst.resolveSibling(
              s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
            java.nio.file.Files.write(tmp, bytes)
            try java.nio.file.Files.move(tmp, dst,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { // concurrent retry already landed the same bytes
              case _: java.nio.file.FileAlreadyExistsException =>
                java.nio.file.Files.delete(tmp)
            }
          }
        }
      }
  }

  /** One GTI manifest per distinct feature time — the reference's
    * build-GTIs loop (`flyte/build.py:37-68`: group the feature gdf by
    * datetime, one `build_recommended_gti` per group). `features` rows:
    * (time TIMESTAMP, location, minx, miny, maxx, maxy). The per-group
    * write is a driver loop like the reference's — times are the unit of
    * work and are few by construction (A1 group-per-task). Returns
    * (time, manifestDir) ascending, ready for `GtiMosaic.temporalMosaic`. */
  def writeGtis(features: DataFrame, outRoot: String,
                meta: graft.raster.GtiMosaic.Meta): Seq[(java.sql.Timestamp, String)] = {
    import features.sparkSession.implicits._
    val times = features.select($"time").distinct()
      .as[java.sql.Timestamp].collect()
      .sortBy(_.getTime)
    // UTC keys, never the JVM default zone (a local-zone yyyyMMdd maps two
    // distinct instants to one dir across midnight); day-keys only when
    // every time IS a UTC day boundary, else full timestamp keys — and the
    // keys must be distinct or a later write(mode=overwrite) would clobber
    // an earlier manifest while both returned entries point at it
    val dayFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC)
    val fullFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
    val dayAligned = times.forall(t => java.lang.Math.floorMod(t.getTime, 86400000L) == 0L)
    val fmt = if (dayAligned) dayFmt else fullFmt
    val keys = times.map(t => fmt.format(java.time.Instant.ofEpochMilli(t.getTime)))
    require(keys.distinct.length == keys.length,
      s"writeGtis: non-unique manifest keys (sub-second time collisions): ${keys.mkString(",")}")
    times.toSeq.zip(keys).map { case (t, key) =>
      val dst = s"$outRoot/gti/$key"
      graft.raster.GtiMosaic.write(
        features.filter($"time" === t)
          .select($"location", $"minx", $"miny", $"maxx", $"maxy"),
        dst, meta)
      (t, dst)
    }
  }

  /** Full E1∘E2∘E3 run, planned once; returns the reopened store as a
    * chunk table plus the planned regions (the unit of downstream parallel
    * work). */
  def run(spark: SparkSession, cfg: Config): (Dataset[ChunkRow], GridDef, Seq[Region]) = {
    val p = plan(spark, cfg, Envelopes.tileGrid(spark, cfg.query))
    val (gridDef, regions) = buildMosaic(p, buildFeatures(p, ingestScenes(spark, p)))
    (ArrayStore.read(spark, cfg.storeRoot), gridDef, regions)
  }

  /** Full run over REAL raster files: scene .tifs under `srcRoot` (laid
    * out as the URL path, host dropped — Fetch.destRel), fetched into
    * `workdir`, decoded, then the standard E3→E1 — only the scenes the
    * plan needs are fetched. */
  def runFromTiffs(spark: SparkSession, cfg: Config, srcRoot: String,
                   workdir: String): (Dataset[ChunkRow], GridDef, Seq[Region]) = {
    val p = plan(spark, cfg, Envelopes.tileGrid(spark, cfg.query))
    val localize = (u: Column) => concat(lit("file://" + srcRoot + "/"),
      regexp_replace(u, "^[a-z0-9]+://[^/]+/", ""))
    val scenes = fetchScenes(cfg, p.scenes(spark), localize, workdir)
    val (gridDef, regions) = buildMosaic(p, buildFeatures(p, scenes))
    (ArrayStore.read(spark, cfg.storeRoot), gridDef, regions)
  }
}
