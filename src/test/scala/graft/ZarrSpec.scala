package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.cube.ChunkRow
import graft.model.GridDef
import graft.zarr.ZarrStore

/** Zarr v2 on-disk compatibility: metadata round-trip, spec-mandated
  * fields, and an INDEPENDENT decode of the chunk payloads (plain
  * java.util.zip, no ZarrStore code) standing in for an external reader. */
class ZarrSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private val grid = GridDef(2, 1, 6, 6, 4, 4, 4) // 6x6 with 4x4 chunks → edge pads

  private def freshStore(): String = {
    val root = Files.createTempDirectory("graft-zarr").toString
    ZarrStore.init(root, grid)
    root
  }

  test(".zgroup/.zarray/.zattrs carry the v2 spec fields") {
    val root = freshStore()
    assert(Files.readString(Paths.get(root, ".zgroup")).contains("\"zarr_format\":2"))
    val za = Files.readString(Paths.get(root, "data", ".zarray"))
    for (frag <- Seq("\"zarr_format\":2", "\"shape\":[2,1,6,6]",
        "\"chunks\":[1,1,4,4]", "\"dtype\":\"<f4\"",
        "\"compressor\":{\"id\":\"zlib\",\"level\":1}", "\"fill_value\":\"NaN\"",
        "\"order\":\"C\"", "\"filters\":null", "\"dimension_separator\":\".\""))
      assert(za.contains(frag), s"missing $frag in $za")
    assert(Files.readString(Paths.get(root, "data", ".zattrs"))
      .contains("\"_ARRAY_DIMENSIONS\":[\"time\",\"band\",\"y\",\"x\"]"))
    assert(ZarrStore.readGrid(root) == grid)
  }

  test("write/read round-trip preserves chunk payloads; edge chunks pad with NaN") {
    val root = freshStore()
    val fullData = Array.tabulate(16)(_.toFloat)
    val edgeData = Array.tabulate(8)(i => 100f + i) // partial: pads to 16
    ZarrStore.write(Seq(
      ChunkRow(0, 0, 0, 0, fullData),
      ChunkRow(1, 0, 1, 1, edgeData)).toDS(), root)
    val back = graft.zarr.ArrayStore.read(spark, root).collect()
      .map(r => (r.time, r.band, r.cy, r.cx) -> r.data).toMap
    assert(back((0, 0, 0, 0)).toSeq == fullData.toSeq)
    val edge = back((1, 0, 1, 1))
    assert(edge.take(8).toSeq == edgeData.toSeq)
    assert(edge.drop(8).forall(_.isNaN))
  }

  test("Zarr layout reads through DSv2 with key pushdown pruning files") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    val root = freshStore()
    val rows = for (t <- 0 to 1; cy <- 0 to 1; cx <- 0 to 1)
      yield ChunkRow(t, 0, cy, cx, Array.fill(16)((t * 100 + cy * 10 + cx).toFloat))
    ZarrStore.write(rows.toDS(), root)
    val df = spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      .filter(col("time") === 1 && col("cx") === 0)
    assert(df.count() == 2)
    val b = df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    assert(b.nonEmpty)
    val nFiles = b.head.inputPartitions.map(
      _.asInstanceOf[graft.zarr.ChunkInputPartition].files.length).sum
    assert(nFiles == 2, s"pushdown should plan exactly 2 zlib files, got $nFiles")
    val got = df.collect().map(r => r.getSeq[Float](4).head).toSet
    assert(got == Set(100f, 110f))
  }

  test("chunk files decode with plain zlib to little-endian C-order float32") {
    val root = freshStore()
    val data = Array.tabulate(16)(i => i * 1.5f)
    ZarrStore.write(Seq(ChunkRow(0, 0, 0, 0, data)).toDS(), root)
    // independent decode: java.util.zip.Inflater directly on the file
    val raw = Files.readAllBytes(Paths.get(root, "data", "0.0.0.0"))
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new Array[Byte](64)
    var off = 0
    while (!inf.finished() && off < 64) off += inf.inflate(out, off, 64 - off)
    assert(off == 64, s"expected 64 decompressed bytes, got $off")
    val floats = new Array[Float](16)
    ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(floats)
    assert(floats.toSeq == data.toSeq)
    // double-write idempotence (S9 contract holds in the Zarr encoding)
    ZarrStore.write(Seq(ChunkRow(0, 0, 0, 0, data)).toDS(), root)
    assert(graft.zarr.ArrayStore.read(spark, root).collect().length == 1)
  }

  test("store preview renders a PGM quick-look without collecting full res") {
    val root = Files.createTempDirectory("graft-preview").toString
    // 8x8, 4x4 chunks, one time/band: left half = 10, right half = 30,
    // bottom-right chunk left unwritten (fill NaN -> black)
    val g = GridDef(1, 1, 8, 8, 4, 4, 4)
    ZarrStore.init(root, g)
    val rows = Seq(
      ChunkRow(0, 0, 0, 0, Array.fill(16)(10f)),
      ChunkRow(0, 0, 0, 1, Array.fill(16)(30f)),
      ChunkRow(0, 0, 1, 0, Array.fill(16)(10f)))
    ZarrStore.write(rows.toDS(), root)
    val out = Files.createTempDirectory("graft-preview-out").resolve("p.pgm").toString
    // maxPx 2 forces coarsen factor 4 -> a 2x2 preview
    val (w, h, mn, mx) = graft.zarr.StorePreview.renderPgm(spark, root, out, maxPx = 2)
    assert((w, h) == ((2, 2)) && mn == 10.0 && mx == 30.0)
    val bytes = Files.readAllBytes(Paths.get(out))
    val header = new String(bytes.take(9), "US-ASCII")
    assert(header == "P5\n2 2\n255\n".replace("\\n", "\n") || header.startsWith("P5"))
    val px = bytes.takeRight(4).map(b => java.lang.Byte.toUnsignedInt(b))
    // (0,0)=10 -> 1; (0,1)=30 -> 255; (1,0)=10 -> 1; (1,1)=NaN -> 0
    assert(px.toSeq == Seq(1, 255, 1, 0), px.toSeq.toString)
  }

  test(".zmetadata consolidates group+array+attrs per the v2 convention") {
    val root = freshStore()
    val zm = Files.readString(Paths.get(root, ".zmetadata"))
    assert(zm.contains("\"zarr_consolidated_format\":1"), zm)
    // inlined copies equal the individual files
    for ((rel, f) <- Seq(".zgroup" -> Paths.get(root, ".zgroup"),
        "data/.zarray" -> Paths.get(root, "data", ".zarray"),
        "data/.zattrs" -> Paths.get(root, "data", ".zattrs")))
      assert(zm.contains("\"" + rel + "\":" + Files.readString(f)), rel)
    // adding a second variable and re-consolidating picks it up
    graft.zarr.ZarrStore.init(root, grid, varName = "qa")
    val zm2 = Files.readString(Paths.get(root, ".zmetadata"))
    assert(zm2.contains("\"qa/.zarray\":"), zm2)
  }
}
