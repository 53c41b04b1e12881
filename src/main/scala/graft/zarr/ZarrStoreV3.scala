package graft.zarr

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Dataset
import graft.cube.ChunkRow
import graft.model.GridDef

/** Zarr v3 on-disk store — the CURRENT Zarr spec twin of [[ZarrStore]]
  * (v2), following the public core spec
  * (https://zarr-specs.readthedocs.io/en/latest/v3/core/index.html):
  *
  *   <root>/zarr.json            {"zarr_format":3,"node_type":"group"}
  *   <root>/<var>/zarr.json      array metadata: shape, data_type
  *                               "float32", regular chunk_grid, default
  *                               chunk_key_encoding ("/" separator),
  *                               fill_value "NaN", codecs
  *                               [bytes(little) → gzip], dimension_names
  *   <root>/<var>/c/<t>/<b>/<cy>/<cx>   gzip(RFC 1952) of C-order LE f32
  *
  * Differences from v2 worth naming: metadata consolidates into ONE
  * `zarr.json` per node (attributes live inside it — no .zattrs), chunk
  * keys are nested directories under `c/` (the default encoding), and the
  * compression codec is real gzip, not raw zlib. Any Zarr v3 reader
  * (zarr-python ≥ 2.17/3.x, tensorstore) opens the store with no custom
  * code. Write path keeps the S9 idempotence contract (deterministic
  * keys, temp + atomic rename); `ArrayStore.read` reads it through the
  * same DSv2 source as v2/raw, with identical key-filter pushdown and
  * byte-budget partitioning (layout detected from `zarr.json`).
  */
object ZarrStoreV3 {

  private val DimNames = Seq("time", "band", "y", "x")

  /** Array metadata. A sharded array (the v3 `sharding_indexed` codec,
    * public spec
    * https://zarr-specs.readthedocs.io/en/latest/v3/codecs/sharding-indexed)
    * advertises SHARD-sized chunks in its chunk grid; the sharding codec's
    * configuration carries the inner chunk shape, the inner codec chain
    * (identical to the unsharded store's), the index codecs (bytes LE →
    * crc32c), and index_location "end". */
  private def arrayJson(g: GridDef, bands: Seq[String], xMajor: Boolean,
                        shard: Option[(Int, Int)]): String = {
    val labels =
      if (bands.isEmpty) ""
      else bands.mkString(""""band_labels":["""", "\",\"", "\"],")
    val dims = DimNames.mkString("\"", "\",\"", "\"")
    val (sy, sx) = shard.getOrElse((1, 1))
    val elements =
      (if (xMajor) """{"name":"transpose","configuration":{"order":[0,1,3,2]}},""" else "") +
        """{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"gzip","configuration":{"level":1}}"""
    val codecs =
      if (shard.isEmpty) elements
      else """{"name":"sharding_indexed","configuration":{""" +
        s""""chunk_shape":[1,1,${g.chunkY},${g.chunkX}],"codecs":[$elements],""" +
        """"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"crc32c"}],"index_location":"end"}}"""
    s"""{"zarr_format":3,"node_type":"array",""" +
      s""""shape":[${g.nTime},${g.nBand},${g.nY},${g.nX}],""" +
      """"data_type":"float32",""" +
      s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[1,1,${sy * g.chunkY},${sx * g.chunkX}]}},""" +
      """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
      """"fill_value":"NaN",""" +
      s""""codecs":[$codecs],""" +
      s""""attributes":{$labels"_ARRAY_DIMENSIONS":[$dims]},""" +
      s""""dimension_names":[$dims]}"""
  }

  private def writeMeta(root: String, varName: String, arrayJson: String): Unit = {
    val dir = Paths.get(root, varName)
    Files.createDirectories(dir)
    Files.writeString(Paths.get(root, "zarr.json"),
      """{"zarr_format":3,"node_type":"group"}""")
    Files.writeString(dir.resolve("zarr.json"), arrayJson)
  }

  /** S8 metadata-only init: one zarr.json per node, no data bytes. */
  def init(root: String, grid: GridDef, varName: String = "data",
           bands: Seq[String] = Nil, xMajor: Boolean = false): Unit =
    writeMeta(root, varName, arrayJson(grid, bands, xMajor, None))

  /** S8 init for a SHARDED store: `shardChunksY/X` inner chunks per shard
    * along y/x. Sharding is the object-count lever at 100 TB: a store of a
    * billion 1 MiB chunks becomes ~16M shard objects at 8×8 — listing,
    * request count, and small-object overhead all drop by the shard factor
    * while inner chunks stay individually addressable via the shard index. */
  def initSharded(root: String, grid: GridDef, shardChunksY: Int,
                  shardChunksX: Int, varName: String = "data",
                  bands: Seq[String] = Nil): Unit = {
    require(shardChunksY > 0 && shardChunksX > 0)
    writeMeta(root, varName,
      arrayJson(grid, bands, xMajor = false, Some((shardChunksY, shardChunksX))))
  }

  /** Parsed array layout: logical (INNER-chunk) grid + chunks-per-shard
    * factors when the array is sharded + whether chunk elements are
    * stored x-major (a `transpose` codec with order [0,1,3,2]). */
  final case class V3Layout(grid: GridDef, shard: Option[(Int, Int)],
                            transposeYX: Boolean = false)

  /** Parsed and checked by [[ChunkFormat.v3]], which refuses metadata the
    * decoder cannot read exactly. */
  def readLayout(root: String, varName: String = "data"): V3Layout = {
    val f = ChunkFormat.v3(root, varName)
    V3Layout(f.grid, f.shard, f.xMajor)
  }

  /** Logical (inner-chunk) grid — what writers/readers address. */
  def readGrid(root: String, varName: String = "data"): GridDef =
    ChunkFormat.v3(root, varName).grid

  /** S9-idempotent parallel chunk writes in Zarr v3 encoding (ChunkWriter
    * over the array's ChunkFormat: NaN edge-pad, LE float32, gzip, nested
    * keys). Read the store back with `ArrayStore.read`. */
  def write(ds: Dataset[ChunkRow], root: String, varName: String = "data"): Unit = {
    val f = ChunkFormat.v3(root, varName)
    // plain chunk files in a sharded-metadata store would be unreadable
    // (readers expect shard indexes) — route to writeSharded instead
    require(f.shard.isEmpty, s"$root/$varName is a sharded array: use writeSharded")
    ChunkWriter.write(ds, f)
  }

  /** S9 parallel writes for a SHARDED store: rows group by shard key (one
    * shuffle — the write-layout shuffle every resharding store pays), each
    * task assembles its whole shard file (ChunkFormat.encodeShard: inner
    * chunks, then the crc32c-checked index at the end) and writes it with
    * the same temp + atomic rename as the unsharded path. */
  def writeSharded(ds: Dataset[ChunkRow], root: String,
                   varName: String = "data"): Unit = {
    val f = ChunkFormat.v3(root, varName)
    val (sy, sx) = f.shard.getOrElse(throw new IllegalArgumentException(
      s"$root/$varName is not sharded: use write (or initSharded first)"))
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(r => (r.time, r.band, r.cy / sy, r.cx / sx))
      .mapGroups { (key: (Int, Int, Int, Int), rows: Iterator[ChunkRow]) =>
        val (t, b, scy, scx) = key
        val dst = f.path(ChunkStoreSource.Key(t, b, scy, scx))
        ChunkWriter.put(dst, f.encodeShard(rows.map(r =>
          ChunkStoreSource.Key(r.time, r.band, r.cy, r.cx) -> r.data)))
        dst.toString
      }
      .foreach((_: String) => ()) // side-effecting write, one pass
  }
}
