package graft.zarr

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.cube.ChunkRow
import graft.model.GridDef

/** Chunked-array store — the engine's Zarr-shaped sink/source
  * (SURVEY §2.1 S4/S8/S9).
  *
  * Layout: `<root>/meta.json` (schema: dims, chunk grid, dtype, band
  * labels) + `<root>/c/<t>.<b>.<cy>.<cx>` raw little-endian float32 chunk
  * payloads — the same two-phase contract as the reference's Zarr path:
  *
  *  1. `init` = metadata-only store creation (`to_zarr(compute=False)`,
  *     flyte/build.py:110): one driver-side write, no data;
  *  2. `write` = massively parallel region writes (`to_zarr(region=…)`,
  *     flyte/build.py:156-176): every executor writes only chunks it owns,
  *     to a deterministic key, via temp-file + atomic rename — so task
  *     retries AND speculative duplicates are idempotent (SURVEY §7 hard
  *     part 4), with no commit coordination.
  *
  * Local-FS paths here; on a cluster the same layout goes through the
  * Hadoop FS API (s3a/gs) — only `put`/`readFully` change.
  */
object ArrayStore {

  final case class Meta(grid: GridDef, bands: Seq[String])

  private def metaJson(m: Meta): String = {
    val b = m.bands.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val g = m.grid
    s"""{"nTime":${g.nTime},"nBand":${g.nBand},"nY":${g.nY},"nX":${g.nX},
       |"chunkY":${g.chunkY},"chunkX":${g.chunkX},"itemBytes":${g.itemBytes},
       |"dtype":"float32","bands":$b}""".stripMargin.replace("\n", "")
  }

  private def parseMeta(s: String): Meta = {
    // real tokenizing parse (graft.model.Json) — robust against band
    // names containing brackets/commas/quotes, unlike string splitting
    val m = graft.model.Json.parseObject(s)
    def num(k: String): Int = m(k).asInstanceOf[Double].toInt
    val bands = m("bands").asInstanceOf[Vector[Any]].map(_.asInstanceOf[String])
    Meta(GridDef(num("nTime"), num("nBand"), num("nY"), num("nX"),
      num("chunkY"), num("chunkX"), num("itemBytes")), bands)
  }

  /** S8: metadata-only store init. */
  def init(root: String, meta: Meta): Unit = {
    val dir = Paths.get(root)
    Files.createDirectories(dir.resolve("c"))
    Files.writeString(dir.resolve("meta.json"), metaJson(meta))
  }

  def readMeta(root: String): Meta =
    parseMeta(Files.readString(Paths.get(root, "meta.json")))

  /** S9: idempotent parallel chunk writes. Deterministic output keys +
    * write-temp-then-atomic-rename ⇒ safe under retry and speculation. */
  def write(ds: Dataset[ChunkRow], root: String): Unit =
    ChunkWriter.write(ds, ChunkFormat.Raw(root))

  /** S4: re-open the store as a chunk table via the DataSourceV2 source —
    * chunk keys live in file names, so key predicates push down and prune
    * the file list at plan time (see ChunkStoreSource); payloads stream
    * through the executors. */
  def read(spark: SparkSession, root: String): Dataset[ChunkRow] = {
    import spark.implicits._
    spark.read.format("graft.zarr.ChunkStoreSource").load(root).as[ChunkRow]
  }

  /** Chunk-level existence listing for incremental writes (J3 over the
    * store: list once, anti-join, write only missing). Layout-independent:
    * works for every layout `ChunkFormat.of` detects. */
  def existingKeys(spark: SparkSession, root: String): Dataset[(Int, Int, Int, Int)] = {
    import spark.implicits._
    ChunkFormat.of(root).list()
      .map { f => (f.key.time, f.key.band, f.key.cy, f.key.cx) }.toDS()
  }

  /** S10: usage accounting — per top-level entry under `root`, recursive
    * (file count, total bytes): the store-utilities twin of the reference's
    * `default_bucket_usage_task` (flyte/utils.py:44-57, fs.du per subdir).
    * Driver-side listing: the reference's is too, and the result is one row
    * per top-level prefix. */
  def du(root: String): Map[String, (Long, Long)] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Map.empty
    def walk(p: Path): (Long, Long) =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asInstanceOf[java.util.Iterator[Path]].asScala()
          .map(walk).foldLeft((0L, 0L)) { case ((c1, b1), (c2, b2)) =>
            (c1 + c2, b1 + b2)
          }
        finally s.close()
      } else (1L, Files.size(p))
    val top = Files.list(rootPath)
    try top.iterator().asInstanceOf[java.util.Iterator[Path]].asScala()
      .map(p => p.getFileName.toString -> walk(p)).toMap
    finally top.close()
  }

  /** S10: recursive store removal, guarded like the reference's
    * password-gated `rm_project_bucket_task` (flyte/utils.py:58-62) —
    * deleting a whole store must be an explicit, two-token act. */
  def rm(root: String, force: Boolean): Unit = {
    require(force, s"refusing to delete store at $root: pass force = true")
    def del(p: Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asInstanceOf[java.util.Iterator[Path]].asScala()
          .foreach(del)
        finally s.close()
      }
      Files.deleteIfExists(p): Unit
    }
    del(Paths.get(root))
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala(): Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext
      def next() = it.next()
    }
  }
}
