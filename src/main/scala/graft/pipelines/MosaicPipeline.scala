package graft.pipelines

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cube.{ChunkRow, ChunkTable}
import graft.geo.Envelopes
import graft.model._
import graft.ops.Incremental
import graft.plan.{RegionPlanner, ScenePlanner}
import graft.zarr.ArrayStore

/** End-to-end dataset-building pipeline — the engine's equivalent of the
  * reference's three workflows (SURVEY §3):
  *
  *  E2 ingest_scenes:   required scenes (U4) → anti-join existing (J3) →
  *                      idempotent scene materialization (S5/S6 stand-in)
  *  E3 scene_features:  tile-date work units (F5) → anti-join (J3) →
  *                      window stack + temporal reduce (U1/A3/A4)
  *  E1 mosaic build:    store init (S8) → region plan (O8) → parallel
  *                      idempotent region writes (S9)
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

  /** E2: plan required scenes, skip existing, "ingest" the rest as chunk
    * rows (one chunk per (tile, period, band)). Returns the scene cube
    * table keyed by (tile_id, period, band). */
  def ingestScenes(spark: SparkSession, cfg: Config, grid: DataFrame,
                   existingUrls: DataFrame): DataFrame = {
    import spark.implicits._
    val required = ScenePlanner.requiredScenes(spark, grid, cfg.query, cfg.times, cfg.dataset)
    val missing = Incremental.missing(required, existingUrls, "url")
    val nBands = cfg.dataset.bands.length + 1 // + QA band
    val px = cfg.chunkPx
    missing
      .select($"tile_id", $"url",
        graft.time.TemporalGrid.datetimeToPeriod($"datetime").as("period"))
      .crossJoin(broadcast(spark.range(0, nBands).toDF("band")))
      .as[(String, String, Long, Long)]
      .map { case (tile, _, period, band) =>
        val data = Array.tabulate(px * px)(c => pixel(tile, period, band.toInt, c, nBands))
        (tile, period, band.toInt, data)
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
    * the time dimension (U1). Output: one feature chunk per
    * (tile, time, band).
    *
    * Plan shape: a literal period → times map expands each scene row to
    * the windows holding it (a generator, not a join), then
    * `TemporalReduce.maskedReduce` groups on (tile, time), slices ordered
    * by period — ONE shuffle of the scene rows and no join over them. */
  def buildFeatures(spark: SparkSession, cfg: Config, grid: DataFrame,
                    scenes: DataFrame): DataFrame = {
    import spark.implicits._
    val timesOf = windows(spark, cfg)
      .flatMap { case (time, periods) => periods.map(_ -> time) }
      .groupMap(_._1)(_._2)
    val slices = scenes.select($"tile_id",
      explode(element_at(typedLit(timesOf), $"period")).as("time"),
      $"band", $"period".as("t"), $"data")
    graft.agg.TemporalReduce.maskedReduce[(String, Timestamp)](slices,
        Seq($"tile_id", $"time"), cfg.dataset.bands.length, cfg.dataset.reduction,
        cfg.chunkPx * cfg.chunkPx)
      .select($"_1._1".as("tile_id"), $"_1._2".as("time"), $"_2".as("band"), $"_3".as("data"))
  }

  /** E1: assemble features into the chunked store — tiles become the chunk
    * grid (tile (cy,cx) from its position in the covering grid), times
    * become the time axis; init writes metadata only, then one idempotent
    * parallel write pass, incremental via chunk-key anti-join. */
  def buildMosaic(spark: SparkSession, cfg: Config, grid: DataFrame,
                  features: DataFrame): (GridDef, Seq[Region]) = {
    import spark.implicits._
    val times = windows(spark, cfg).map(_._1)
    val tiles = Envelopes.tilesIntersecting(grid, cfg.query)
      .select($"tile_id", $"xmin", $"ymin").collect()
    val lons = tiles.map(_.getDouble(1)).distinct.sorted
    val lats = tiles.map(_.getDouble(2)).distinct.sorted
    val lonIdx = lons.zipWithIndex.toMap
    val latIdx = lats.zipWithIndex.toMap
    val tileCell = tiles.map(r =>
      r.getString(0) -> (latIdx(r.getDouble(2)), lonIdx(r.getDouble(1)))).toMap
    val gridDef = GridDef(
      nTime = times.length, nBand = cfg.dataset.bands.length,
      nY = lats.length * cfg.chunkPx, nX = lons.length * cfg.chunkPx,
      chunkY = cfg.chunkPx, chunkX = cfg.chunkPx, itemBytes = 4)

    // the mosaic lands in the Zarr v2 layout — the reference's own store
    // contract (flyte/build.py:110: a store xarray reopens); the DSv2
    // source auto-detects it, so reads/pruning are unchanged
    graft.zarr.ZarrStore.init(cfg.storeRoot, gridDef, bands = cfg.dataset.bands)

    val bTile = spark.sparkContext.broadcast(tileCell)
    val bTime = spark.sparkContext.broadcast(times.map(_.getTime).zipWithIndex.toMap)
    val chunks: Dataset[ChunkRow] = features
      .as[(String, Timestamp, Int, Array[Float])]
      .map { case (tile, time, band, data) =>
        val (cy, cx) = bTile.value(tile)
        ChunkRow(bTime.value(time.getTime), band, cy, cx, data)
      }
    // incremental: skip chunks already in the store (deterministic keys)
    val existing = ArrayStore.existingKeys(spark, cfg.storeRoot)
      .toDF("time", "band", "cy", "cx")
    val pending = chunks.toDF()
      .join(existing, Seq("time", "band", "cy", "cx"), "left_anti")
      .as[ChunkRow]
    graft.zarr.ZarrStore.write(pending, cfg.storeRoot)

    val regions = RegionPlanner.planBandRange(
      gridDef, cfg.regionBudgetBytes, 0, gridDef.nBand)
    (gridDef, regions)
  }

  /** E2 (real-raster form, S2+S5): fetch each missing scene's GeoTIFF with
    * the bulk fetch operator, decode with the tiled-TIFF reader, emit one
    * chunk per (tile, period, band) — the same output contract as the
    * generator form, so E3/E1 are unchanged. `localizeUrl` maps the
    * protocol's object-store URL to a reachable one (tests: a file://
    * fixture tree laid out like the bucket; production: identity or a
    * signing rewrite). Scenes are one chunk tile per file at this scale;
    * bigger scenes would chunk each band plane here instead of requiring
    * equality. */
  def ingestSceneTiffs(spark: SparkSession, cfg: Config, grid: DataFrame,
                       existingUrls: DataFrame, localizeUrl: Column => Column,
                       workdir: String): DataFrame = {
    import spark.implicits._
    val required = ScenePlanner.requiredScenes(spark, grid, cfg.query, cfg.times, cfg.dataset)
    val missing = Incremental.missing(required, existingUrls, "url")
      .select($"tile_id", $"url",
        graft.time.TemporalGrid.datetimeToPeriod($"datetime").as("period"))
      .withColumn("src", localizeUrl($"url"))
      .cache() // counted for batch sizing, then fetched and joined below
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
      .select($"tile_id", $"period", $"dest").distinct()
      .as[(String, Long, String)]
      .flatMap { case (tile, period, dest) =>
        val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dest))
        val fi = graft.raster.GeoTiff.info(bytes)
        require(fi.width == px && fi.height == px,
          s"scene tile must be ${px}x$px, got ${fi.width}x${fi.height}")
        (0 until fi.bands).map(b => (tile, period, b, graft.raster.GeoTiff.readBand(bytes, b)))
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

  /** Full E1∘E2∘E3 run; returns the reopened store as a chunk table plus
    * the planned regions (the unit of downstream parallel work). */
  def run(spark: SparkSession, cfg: Config): (Dataset[ChunkRow], GridDef, Seq[Region]) = {
    import spark.implicits._
    val grid = Envelopes.tileGrid(spark, cfg.query)
    val noExisting = Seq.empty[String].toDF("url")
    val scenes = ingestScenes(spark, cfg, grid, noExisting)
    val features = buildFeatures(spark, cfg, grid, scenes)
    val (gridDef, regions) = buildMosaic(spark, cfg, grid, features)
    (ArrayStore.read(spark, cfg.storeRoot), gridDef, regions)
  }

  /** Full run over REAL raster files: scene .tifs under `srcRoot` (laid
    * out as the URL path, host dropped — Fetch.destRel), fetched into
    * `workdir`, decoded, then the standard E3→E1. */
  def runFromTiffs(spark: SparkSession, cfg: Config, srcRoot: String,
                   workdir: String): (Dataset[ChunkRow], GridDef, Seq[Region]) = {
    import spark.implicits._
    val grid = Envelopes.tileGrid(spark, cfg.query)
    val noExisting = Seq.empty[String].toDF("url")
    val localize = (u: Column) => concat(lit("file://" + srcRoot + "/"),
      regexp_replace(u, "^[a-z0-9]+://[^/]+/", ""))
    val scenes = ingestSceneTiffs(spark, cfg, grid, noExisting, localize, workdir)
    val features = buildFeatures(spark, cfg, grid, scenes)
    val (gridDef, regions) = buildMosaic(spark, cfg, grid, features)
    (ArrayStore.read(spark, cfg.storeRoot), gridDef, regions)
  }
}
