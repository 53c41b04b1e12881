package graft.geo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Envelope

/** Envelope predicates + tile-grid generation (SURVEY §2.2 P2, §2.3 J1).
  *
  * The reference's only spatial predicate is bbox-intersects against an
  * axis-aligned 1°×1° tile grid (glad.py:236-239, grid at glad.py:39-47), so
  * envelopes as four DOUBLE columns make the predicate plain comparisons —
  * Catalyst pushes them to the scan, and a broadcast of the query envelope
  * makes the spatial semi-join a broadcast hash/NLJ with a tiny side.
  */
object Envelopes {

  /** P2/J1: axis-aligned envelope intersection as a pushdown-friendly
    * conjunction of comparisons. */
  def envIntersects(axmin: Column, aymin: Column, axmax: Column, aymax: Column,
                    bxmin: Column, bymin: Column, bxmax: Column, bymax: Column): Column =
    axmin <= bxmax && bxmin <= axmax && aymin <= bymax && bymin <= aymax

  def intersectsEnv(e: Envelope)(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    envIntersects(xmin, ymin, xmax, ymax, lit(e.xmin), lit(e.ymin), lit(e.xmax), lit(e.ymax))

  /** GLAD-style tile id: "077W_83N" = zero-padded |lon|+hemisphere, |lat|+N/S
    * (lat extractable via element_at(split(id,'_'),-1) — glad.py:52). The id
    * encodes the tile's **top-left** corner in the GLAD convention; here we
    * derive it from the envelope's (xmin, ymax). */
  def tileId(xmin: Column, ymax: Column): Column = {
    val lonAbs = abs(xmin).cast("int")
    val latAbs = abs(ymax).cast("int")
    val ew = when(xmin < 0, "W").otherwise("E")
    val ns = when(ymax < 0, "S").otherwise("N")
    concat(format_string("%03d", lonAbs), ew, lit("_"), latAbs.cast("string"), ns)
  }

  /** Generate the 1°×1° tile-grid dimension table covering an envelope —
    * the stand-in for the reference's 19k-row glad_tiling.parquet (S1).
    * Pure generation: one range over the nx × ny cells, lon-major (lon =
    * x0 + id div ny, lat = y0 + id mod ny) — no join, no shuffle; the
    * result is dimension-sized and meant to be broadcast. */
  def tileGrid(spark: SparkSession, cover: Envelope): DataFrame = {
    val x0 = math.floor(cover.xmin).toLong
    val y0 = math.floor(cover.ymin).toLong
    val nx = math.max(0L, math.ceil(cover.xmax).toLong - x0)
    val ny = math.max(0L, math.ceil(cover.ymax).toLong - y0)
    val lon = lit(x0) + expr(s"id div $ny")
    val lat = lit(y0) + col("id") % ny
    spark.range(nx * ny).select(
      lon.cast("double").as("xmin"),
      lat.cast("double").as("ymin"),
      (lon + 1).cast("double").as("xmax"),
      (lat + 1).cast("double").as("ymax"))
      .withColumn("tile_id", tileId(col("xmin"), col("ymax")))
  }

  /** J1: tiles of `grid` intersecting the query envelope (geo_to_tiles,
    * glad.py:236-239): a filter when the query is one envelope. */
  def tilesIntersecting(grid: DataFrame, query: Envelope): DataFrame =
    grid.filter(intersectsEnv(query)(
      col("xmin"), col("ymin"), col("xmax"), col("ymax")))
}
