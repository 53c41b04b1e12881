package graft.zarr

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.cube.{ChunkRow, ChunkTable}

/** Store preview — the engine twin of the reference's quick-look plot
  * (`flyte/utils.py:100-112`: open store → `coarsen(...).mean()` → plot).
  *
  * Spark shape: the coarsen is chunk-local (no shuffle, ChunkTable.coarsen
  * = A7), so only the coarsened plane — at most `maxPx²` floats — ever
  * reaches the driver; the full-resolution store is never collected. The
  * render is a binary PGM (P5), a public zero-dependency format any image
  * tool opens; NaN (fill) pixels map to 0 and valid data linearly
  * stretches over [1, 255], so coverage holes stay visibly black. */
object StorePreview {

  /** Render one (time, band) slice of any layout's store to `out` (PGM).
    * Coarsening factor = the smallest divisor of both chunk dims whose
    * result fits in maxPx×maxPx (falling back to the largest common
    * divisor). Returns (width, height, dataMin, dataMax) of the render. */
  def renderPgm(spark: SparkSession, root: String, out: String,
                time: Int = 0, band: Int = 0, maxPx: Int = 512)
      : (Int, Int, Double, Double) = {
    import spark.implicits._
    val grid = ChunkFormat.of(root).grid
    val common = (1 to math.min(grid.chunkY, grid.chunkX))
      .filter(f => grid.chunkY % f == 0 && grid.chunkX % f == 0)
    val fitting = common.filter(f =>
      (grid.nY + f - 1) / f <= maxPx && (grid.nX + f - 1) / f <= maxPx)
    val f = fitting.headOption.getOrElse(common.last)

    val slice = ArrayStore.read(spark, root)
      .filter(r => r.time == time && r.band == band)
    val coarse: Array[ChunkRow] = ChunkTable.coarsen(slice, grid, f).collect()

    val (ch, cw) = (grid.chunkY / f, grid.chunkX / f)
    val w = (grid.nX + f - 1) / f
    val h = (grid.nY + f - 1) / f
    val plane = Array.fill(w * h)(Float.NaN)
    coarse.foreach { r =>
      var y = 0
      while (y < ch) {
        val gy = r.cy * ch + y
        if (gy < h) {
          var x = 0
          while (x < cw) {
            val gx = r.cx * cw + x
            if (gx < w) plane(gy * w + gx) = r.data(y * cw + x)
            x += 1
          }
        }
        y += 1
      }
    }

    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    plane.foreach { v =>
      if (!v.isNaN) { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    val span = if (mx > mn) mx - mn else 1.0
    val px = plane.map { v =>
      if (v.isNaN) 0.toByte
      else (1 + math.round(254.0 * (v - mn) / span)).toByte
    }
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    val dst = Paths.get(out)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    Files.write(dst, header ++ px)
    (w, h, if (mn.isInfinity) Double.NaN else mn,
      if (mx.isInfinity) Double.NaN else mx)
  }
}
