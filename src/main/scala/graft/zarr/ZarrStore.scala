package graft.zarr

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Dataset
import graft.cube.ChunkRow
import graft.model.{GridDef, Json}

/** Zarr v2 on-disk store — the externally-readable array sink
  * (SURVEY §2.1 S7/S8; reference contract: flyte/build.py:110 writes a
  * store xarray reopens, flytemosaic/flyte/build.py region writes).
  *
  * Layout follows the PUBLIC Zarr v2 spec
  * (https://zarr.readthedocs.io/en/stable/spec/v2.html):
  *
  *   <root>/.zgroup                    {"zarr_format": 2}
  *   <root>/<var>/.zarray              shape/chunks/dtype "<f4"/zlib/C-order
  *   <root>/<var>/.zattrs              xarray _ARRAY_DIMENSIONS convention
  *   <root>/<var>/<t>.<b>.<cy>.<cx>    zlib(deflate) of C-order LE float32
  *
  * so any Zarr v2 reader (zarr-python / xarray) opens it with no custom
  * code: dtype, grid, and compressor are declared in `.zarray`, chunk keys
  * use the default "." dimension separator, and edge chunks are padded to
  * the full chunk shape with the NaN fill value, all per spec. The write
  * path keeps ArrayStore's S9 idempotence contract (deterministic keys,
  * temp + atomic rename). ZarrSpec round-trips the metadata and validates
  * chunk bytes with an independent zlib decode.
  */
object ZarrStore {

  private val DimNames = Seq("time", "band", "y", "x")
  private val TimeAttr = "time_epoch_ms"

  private def zarrayJson(g: GridDef): String =
    s"""{"zarr_format":2,"shape":[${g.nTime},${g.nBand},${g.nY},${g.nX}],""" +
      s""""chunks":[1,1,${g.chunkY},${g.chunkX}],"dtype":"<f4",""" +
      """"compressor":{"id":"zlib","level":1},"fill_value":"NaN",""" +
      """"order":"C","filters":null,"dimension_separator":"."}"""

  /** S8 metadata-only init: group + array metadata, no data bytes. Band
    * labels and the time axis (epoch ms) ride in `.zattrs` beside the
    * xarray dimension convention. Init overwrites the array's metadata;
    * whether a store may be resumed is the caller's check (a second
    * variable may join an existing root). */
  def init(root: String, grid: GridDef, varName: String = "data",
           bands: Seq[String] = Nil, times: Seq[Long] = Nil): Unit = {
    val dir = Paths.get(root, varName)
    Files.createDirectories(dir)
    Files.writeString(Paths.get(root, ".zgroup"), """{"zarr_format":2}""")
    Files.writeString(dir.resolve(".zarray"), zarrayJson(grid))
    val dims = DimNames.mkString("\"_ARRAY_DIMENSIONS\":[\"", "\",\"", "\"]")
    val labels =
      if (bands.isEmpty) ""
      else bands.mkString(""","band_labels":["""", "\",\"", "\"]")
    val axis = if (times.isEmpty) "" else times.mkString(s",\"$TimeAttr\":[", ",", "]")
    Files.writeString(dir.resolve(".zattrs"), s"{$dims$labels$axis}")
    consolidate(root)
  }

  /** The array's band labels and recorded time axis (epoch ms; None when
    * init recorded none), from `.zattrs` (optional in the spec). */
  def readAxes(root: String, varName: String = "data"): (Seq[String], Option[Seq[Long]]) = {
    val file = Paths.get(root, varName, ".zattrs")
    val attrs = if (Files.exists(file)) Json.parseObject(Files.readString(file)) else Map.empty[String, Any]
    def list(k: String): Option[Vector[Any]] = attrs.get(k).collect { case v: Vector[_] => v }
    (list("band_labels").getOrElse(Vector.empty).map(_.toString),
      list(TimeAttr).map(_.map(_.asInstanceOf[Double].toLong)))
  }

  /** Zarr v2 consolidated metadata (`.zmetadata`, the `zarr.consolidate_
    * metadata` convention xarray's `open_zarr(consolidated=True)` reads):
    * every .zgroup/.zarray/.zattrs inlined into ONE root object, so an
    * object-store open costs one GET instead of one per metadata file.
    * Idempotent; re-run after adding more variables to the group. */
  def consolidate(root: String): Unit = {
    val rootPath = Paths.get(root)
    val names = Set(".zgroup", ".zarray", ".zattrs")
    val stream = Files.walk(rootPath)
    val entries =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => names.contains(p.getFileName.toString))
          .map(p => rootPath.relativize(p).toString.replace('\\', '/') -> p)
          .toSeq.sortBy(_._1)
          .map { case (rel, p) => s""""$rel":${Files.readString(p)}""" }
      } finally stream.close()
    Files.writeString(rootPath.resolve(".zmetadata"),
      s"""{"metadata":{${entries.mkString(",")}},"zarr_consolidated_format":1}""")
  }

  /** The array's grid, from `.zarray` parsed and checked by
    * [[ChunkFormat.v2]] (which refuses what the decoder cannot read). */
  def readGrid(root: String, varName: String = "data"): GridDef =
    ChunkFormat.v2(root, varName).grid

  /** S9-idempotent parallel chunk writes in Zarr v2 encoding (ChunkWriter
    * over the array's ChunkFormat: NaN edge-pad, LE float32, zlib). Read
    * the store back with `ArrayStore.read`, which detects the layout. */
  def write(ds: Dataset[ChunkRow], root: String, varName: String = "data"): Unit =
    ChunkWriter.write(ds, ChunkFormat.v2(root, varName))
}
