package graft.cube

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{GridDef, Region}
import graft.agg.TemporalReduce

/** One chunk of the dense [time, band, y, x] cube in long format
  * (SURVEY §1.3): `data` is the row-major flattened chunkY×chunkX payload,
  * NaN = nodata/masked. The cube IS a DataFrame — concat/slice/reduce are
  * relational ops on the chunk keys, so Catalyst partition-prunes region
  * slices and temporal reduction shuffles the chunks once, on their
  * spatial key (cy, cx).
  */
final case class ChunkRow(time: Int, band: Int, cy: Int, cx: Int, data: Array[Float])

object ChunkTable {

  /** O4: concat along time — pure union with shifted keys
    * (xr.concat(dim="time"), mosaics.py:214-226). */
  def concatTime(a: Dataset[ChunkRow], b: Dataset[ChunkRow], nTimeA: Int): Dataset[ChunkRow] = {
    import a.sparkSession.implicits._
    a.union(b.map(r => r.copy(time = r.time + nTimeA)))
  }

  /** P7: region slice as chunk-key range predicates — the relational form
    * of ds.isel(region) (flyte/build.py:170-173). Regions from
    * RegionPlanner are chunk-aligned by construction. Pixel bounds are
    * folded to literal chunk-index bounds on the DRIVER so the filter is a
    * plain `attr ⋈ literal` conjunction Catalyst can translate to source
    * Filters — it reaches ChunkStoreSource's plan-time file pruning (a
    * typed lambda would be opaque and read the whole store). */
  def slice(ds: Dataset[ChunkRow], r: Region, grid: GridDef): Dataset[ChunkRow] = {
    import ds.sparkSession.implicits._
    def ceilDiv(a: Int, b: Int) = (a + b - 1) / b
    ds.filter(
      $"time" >= r.time0 && $"time" < r.time1 &&
      $"band" >= r.band0 && $"band" < r.band1 &&
      $"cy" >= ceilDiv(r.y0, grid.chunkY) && $"cy" < ceilDiv(r.y1, grid.chunkY) &&
      $"cx" >= ceilDiv(r.x0, grid.chunkX) && $"cx" < ceilDiv(r.x1, grid.chunkX))
  }

  /** A7: spatial coarsen (downsample by factor f with mean, NaN-skipping) —
    * chunk-local map, no shuffle (coarsen().mean(), flyte/utils.py:100-112). */
  def coarsen(ds: Dataset[ChunkRow], grid: GridDef, f: Int): Dataset[ChunkRow] = {
    require(grid.chunkY % f == 0 && grid.chunkX % f == 0,
      s"factor $f must divide chunk ${grid.chunkY}x${grid.chunkX}")
    import ds.sparkSession.implicits._
    val (h, w) = (grid.chunkY, grid.chunkX)
    ds.map { r =>
      val oh = h / f; val ow = w / f
      val out = new Array[Float](oh * ow)
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          var sum = 0.0; var n = 0
          var dy = 0
          while (dy < f) {
            var dx = 0
            while (dx < f) {
              val v = r.data((oy * f + dy) * w + (ox * f + dx))
              if (!v.isNaN) { sum += v; n += 1 }
              dx += 1
            }
            dy += 1
          }
          out(oy * ow + ox) = if (n == 0) Float.NaN else (sum / n).toFloat
          ox += 1
        }
        oy += 1
      }
      r.copy(data = out)
    }
  }

  /** Spatial rechunk — re-tile the cube from `grid`'s (chunkY, chunkX) to
    * (newChunkY, newChunkX): the reference's `array.chunk({"x": 512,
    * "y": 512})` (datasets/utils.py:128) as key arithmetic (SURVEY §7 hard
    * part 1).
    *
    * Plan shape: each input chunk SPLITS locally into the fragments that
    * land in each output chunk (flatMap, no shuffle), then ONE shuffle on
    * the output chunk key assembles fragments at their offsets. Shuffle
    * volume = the payload bytes, once; each output group holds at most
    * ⌈newChunkY/chunkY + 1⌉ × ⌈newChunkX/chunkX + 1⌉ fragments. Cells of
    * an output chunk beyond the grid extent (edge chunks) are NaN, the
    * same fill contract as the store. */
  def rechunk(ds: Dataset[ChunkRow], grid: GridDef,
              newChunkY: Int, newChunkX: Int): Dataset[ChunkRow] = {
    require(newChunkY > 0 && newChunkX > 0)
    val spark = ds.sparkSession
    import spark.implicits._
    val (h, w) = (grid.chunkY, grid.chunkX)
    val (nY, nX) = (grid.nY, grid.nX)
    ds.flatMap { r =>
      // global pixel bounds of this input chunk, clipped to the grid
      val gy0 = r.cy * h; val gy1 = math.min(gy0 + h, nY)
      val gx0 = r.cx * w; val gx1 = math.min(gx0 + w, nX)
      val oy0 = gy0 / newChunkY; val oy1 = (gy1 - 1) / newChunkY
      val ox0 = gx0 / newChunkX; val ox1 = (gx1 - 1) / newChunkX
      for (ocy <- oy0 to oy1; ocx <- ox0 to ox1) yield {
        val fy0 = math.max(gy0, ocy * newChunkY)
        val fy1 = math.min(gy1, (ocy + 1) * newChunkY)
        val fx0 = math.max(gx0, ocx * newChunkX)
        val fx1 = math.min(gx1, (ocx + 1) * newChunkX)
        val fh = fy1 - fy0; val fw = fx1 - fx0
        val frag = new Array[Float](fh * fw)
        var y = 0
        while (y < fh) {
          var x = 0
          while (x < fw) {
            frag(y * fw + x) = r.data((fy0 - gy0 + y) * w + (fx0 - gx0 + x))
            x += 1
          }
          y += 1
        }
        // (key..., offset-in-output, fragment dims, payload)
        (r.time, r.band, ocy, ocx,
          fy0 - ocy * newChunkY, fx0 - ocx * newChunkX, fh, fw, frag)
      }
    }
    .groupByKey(t => (t._1, t._2, t._3, t._4))
    .mapGroups { (key: (Int, Int, Int, Int), frags: Iterator[(Int, Int, Int, Int, Int, Int, Int, Int, Array[Float])]) =>
      val (time, band, ocy, ocx) = key
      val out = Array.fill(newChunkY * newChunkX)(Float.NaN)
      frags.foreach { case (_, _, _, _, oy, ox, fh, fw, frag) =>
        var y = 0
        while (y < fh) {
          var x = 0
          while (x < fw) {
            out((oy + y) * newChunkX + (ox + x)) = frag(y * fw + x)
            x += 1
          }
          y += 1
        }
      }
      ChunkRow(time, band, ocy, ocx, out)
    }
  }

  /** P4 + A3/A4 + U1: per-dataset temporal reduction over the cube.
    * Masks value chunks with the co-located QA chunk (`qa == 1` keeps the
    * pixel — glad.py:260-261), drops the QA band (P5), then reduces each
    * (band, cy, cx) cell block across time with the dataset's reducer.
    *
    * Plan shape: `TemporalReduce.maskedReduce` grouped on (cy, cx) with
    * time as the slice order — ONE shuffle of the chunks on (cy, cx), no
    * join, and the mask applied inside the reduce loop. */
  def temporalReduce(ds: Dataset[ChunkRow], grid: GridDef, qaBand: Int,
                     reduction: String): Dataset[ChunkRow] = {
    import ds.sparkSession.implicits._
    TemporalReduce.maskedReduce[(Int, Int)](ds.withColumn("t", $"time".cast("long")),
        Seq($"cy", $"cx"), qaBand, reduction, grid.chunkY * grid.chunkX)
      .select(lit(0).as("time"), $"_2".as("band"), $"_1._1".as("cy"), $"_1._2".as("cx"),
        $"_3".as("data"))
      .as[ChunkRow]
  }
}
