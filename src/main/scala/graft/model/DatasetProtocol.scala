package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.time.TemporalGrid

/** Per-dataset protocol of the engine's named temporal datasets
  * (SURVEY §1.1; mirrors reference protocols.py:121-170). Everything a dataset declares is either plain
  * metadata or a Column-expression factory, so every protocol method stays
  * inside Catalyst codegen.
  */
/** URL column functions shared across protocols. */
object Urls {
  /** F1 — object-store URL → GDAL virtual-filesystem path
    * (mosaics.py:74-76: gs:// → /vsigs/, s3:// → /vsis3/; plain literal
    * replacement, all occurrences, like the reference's str.replace). */
  def gdalVsiLocation(url: Column): Column =
    replace(replace(url, lit("gs://"), lit("/vsigs/")),
      lit("s3://"), lit("/vsis3/"))
}

trait TemporalDatasetProtocol {
  def name: String
  def bands: Seq[String]
  def dtype: String
  def nodata: Double
  def earliest: Timestamp
  def latest: Timestamp
  def windowDays: Int

  /** Worst-case source scene size — the scrape-batch sizing input
    * (reference: max_bytes_per_file ≈ 8 bands × 4004² × 2 B ≈ 256 MiB,
    * glad.py:84-86). Default mirrors the reference's GLAD bound. */
  def maxBytesPerFile: Long = 8L * 4004 * 4004 * 2

  /** W1 — default annual snap (glad.py:233-234). */
  def snapToTemporalGrid(ts: Column): Column = TemporalGrid.snapToYear(ts)

  /** Temporal reduction over the window ("mean" | "median") — the U1
    * plug-point (protocols.py:228-242). Interpreted by agg.TemporalReduce. */
  def reduction: String

  /** F2 — source scene URL for (tile, period) (glad.py:25,54-57: lat suffix
    * is the last '_'-separated token of the tile id). */
  def sceneUrl(tileId: Column, period: Column): Column =
    format_string("s3://source.scenes/data/tiles/%s/%s/%d.tif",
      element_at(split(tileId, "_"), -1), tileId, period)

  /** F5 — deterministic feature URL (protocols.py:247-265:
    * bucket/features/{name}/{tile}/{yyyyMMdd}.tif). Determinism is the
    * memoization key for incremental compute + idempotent retries. */
  def featureUrl(bucket: String, tileId: Column, time: Column): Column =
    concat_ws("/", lit(bucket), lit("features"), lit(name), tileId,
      concat(date_format(time, "yyyyMMdd"), lit(".tif")))

  /** W2 — periods needed for one snapped time. */
  def windowPeriods(ts: Column): Column =
    TemporalGrid.windowPeriods(ts, windowDays, lit(earliest), lit(latest))
}

/** Annual masked-mean dataset (reference GladARDAnnualMean, glad.py:198-265). */
object AnnualMeanDataset extends TemporalDatasetProtocol {
  val name = "annual_mean"
  val bands: Seq[String] = (1 to 7).map(b => s"$name:B$b")
  val dtype = "float32"
  val nodata = Double.NaN
  val earliest = Timestamp.valueOf("2020-01-01 00:00:00")
  val latest   = Timestamp.valueOf("2024-12-31 00:00:00")
  val windowDays = 365
  val reduction = "mean"
}

/** Annual masked-median dataset (reference GladARDAnnualMedian, glad.py:268-282). */
object AnnualMedianDataset extends TemporalDatasetProtocol {
  val name = "annual_median"
  val bands: Seq[String] = (1 to 7).map(b => s"$name:B$b")
  val dtype = "float32"
  val nodata = Double.NaN
  val earliest = Timestamp.valueOf("2020-01-01 00:00:00")
  val latest   = Timestamp.valueOf("2024-12-31 00:00:00")
  val windowDays = 365
  val reduction = "median"
}
