package graft

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.cube.ChunkRow
import graft.model.GridDef
import graft.zarr.{ArrayStore, StorePreview, ZarrStore, ZarrStoreV3}

/** The store layouts against each other and against the bytes other tools
  * write: one chunk set through every layout, exact decoded lengths, and
  * metadata the decoder cannot read refused when the store is opened. */
class ChunkFormatSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  // 3x2 chunk grid whose bottom row (cy = 2) is an edge: 2 of 4 rows
  private val grid = GridDef(2, 2, 10, 8, 4, 4, 4)
  private val full = grid.chunkY * grid.chunkX

  private def cell(t: Int, b: Int, cy: Int, cx: Int, i: Int): Float = i match {
    case 1 => -0.0f
    case 2 => Float.NaN
    case _ => t * 1000 + b * 100 + cy * 10 + cx + i / 64f
  }

  // every key but one, so a shard holds an absent slot
  private val rows: Seq[ChunkRow] =
    for (t <- 0 until 2; b <- 0 until 2; cy <- 0 until 3; cx <- 0 until 2
         if (t, b, cy, cx) != ((0, 1, 1, 0))) yield {
      val n = if (cy == 2) 2 * grid.chunkX else full
      ChunkRow(t, b, cy, cx, Array.tabulate(n)(cell(t, b, cy, cx, _)))
    }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** (layout name, whether chunks are NaN-padded, writer into a fresh store). */
  private val layouts: Seq[(String, Boolean, String => Unit)] = Seq(
    ("raw", false, { r =>
      ArrayStore.init(r, ArrayStore.Meta(grid, Seq("B1", "B2")))
      ArrayStore.write(rows.toDS(), r)
    }),
    ("v2", true, { r => ZarrStore.init(r, grid); ZarrStore.write(rows.toDS(), r) }),
    ("v3", true, { r => ZarrStoreV3.init(r, grid); ZarrStoreV3.write(rows.toDS(), r) }),
    ("v3 x-major", true, { r =>
      ZarrStoreV3.init(r, grid, xMajor = true); ZarrStoreV3.write(rows.toDS(), r)
    }),
    ("v3 sharded 2x2", true, { r =>
      ZarrStoreV3.initSharded(r, grid, 2, 2); ZarrStoreV3.writeSharded(rows.toDS(), r)
    }))

  private def bits(a: Array[Float]): Seq[Int] =
    a.toSeq.map(java.lang.Float.floatToRawIntBits)

  private type K = (Int, Int, Int, Int)

  test("every layout reads back the same chunks, keys and filtered keys") {
    val filters: Seq[(String, Column, K => Boolean)] = Seq(
      ("none", null, _ => true),
      ("time = 1 and cx >= 1", col("time") === 1 && col("cx") >= 1,
        k => k._1 == 1 && k._4 >= 1),
      ("cy in (0, 2) or band = 0", col("cy").isin(0, 2) || col("band") === 0,
        k => (k._3 == 0 || k._3 == 2) || k._2 == 0),
      ("not cy = 1", !(col("cy") === 1), k => k._3 != 1))
    val keysOf = rows.map(r => (r.time, r.band, r.cy, r.cx))
    for ((name, padded, write) <- layouts) {
      val root = tmp("graft-format")
      write(root)
      val load = spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      val back = load.as[ChunkRow].collect()
        .map(r => (r.time, r.band, r.cy, r.cx) -> r.data).toMap
      assert(back.keySet == keysOf.toSet, name)
      rows.foreach { r =>
        val want =
          if (padded) r.data ++ Array.fill(full - r.data.length)(Float.NaN)
          else r.data
        assert(bits(back((r.time, r.band, r.cy, r.cx))) == bits(want),
          s"$name: chunk ${(r.time, r.band, r.cy, r.cx)}")
      }
      for ((fname, f, keep) <- filters) {
        val df = if (f == null) load else load.filter(f)
        val withData = df.collect().map(x => (x.getInt(0), x.getInt(1), x.getInt(2), x.getInt(3)))
        val keyOnly = df.select("time", "band", "cy", "cx").as[K].collect()
        val want = keysOf.filter(keep).sorted
        assert(withData.toSeq.sorted == want, s"$name, $fname")
        assert(keyOnly.toSeq.sorted == want, s"$name, $fname (key-only)")
      }
    }
  }

  /** Runs `body` under a bounded wait: a read that never finishes fails the
    * test and its Spark job is cancelled, instead of hanging the suite. */
  private def bounded[A](body: => A): A = {
    val group = s"chunk-format-${java.util.UUID.randomUUID}"
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val f = Future {
      spark.sparkContext.setJobGroup(group, "bounded read", interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    }
    try Await.result(f, 60.seconds)
    catch {
      case e: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        fail("read did not finish within 60 s", e)
    }
  }

  test("a truncated, appended-to or oversized v2 chunk fails naming its path") {
    def zlib(bytes: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.DeflaterOutputStream(bos)
      out.write(bytes); out.close()
      bos.toByteArray
    }
    val damage: Seq[(String, Array[Byte] => Array[Byte])] = Seq(
      "truncated" -> (b => b.take(b.length / 2)),
      "appended" -> (b => b ++ Array[Byte](1, 2, 3, 4)),
      "inflates to twice the chunk" -> (_ => zlib(new Array[Byte](2 * full * 4))))
    for ((what, f) <- damage) {
      val root = tmp("graft-format-bad")
      ZarrStore.init(root, grid)
      ZarrStore.write(rows.filter(r => r.time == 0 && r.band == 0).toDS(), root)
      val bad = Paths.get(root, "data", "0.0.1.1")
      Files.write(bad, f(Files.readAllBytes(bad)))
      val e = intercept[Exception] {
        bounded(ArrayStore.read(spark, root).collect())
      }
      assert(e.getMessage.contains(bad.toString), s"$what: ${e.getMessage}")
    }
  }

  private val zarrPythonZarray =
    """{
      |    "chunks": [
      |        1,
      |        1,
      |        4,
      |        4
      |    ],
      |    "compressor": {
      |        "id": "zlib",
      |        "level": 1
      |    },%s
      |    "dtype": "<f4",
      |    "fill_value": "NaN",
      |    "filters": null,
      |    "order": "C",
      |    "shape": [
      |        2,
      |        2,
      |        10,
      |        8
      |    ],
      |    "zarr_format": 2
      |}""".stripMargin

  test("indented, key-sorted zarr-python .zarray reads back") {
    for (sep <- Seq("\n    \"dimension_separator\": \".\",", "")) {
      val root = tmp("graft-format-zp")
      ZarrStore.init(root, grid)
      ZarrStore.write(rows.toDS(), root)
      Files.writeString(Paths.get(root, "data", ".zarray"), zarrPythonZarray.format(sep))
      assert(ZarrStore.readGrid(root) == grid)
      assert(ArrayStore.read(spark, root).collect().length == rows.size)
    }
  }

  test("metadata the decoder cannot read is refused at load, naming the field") {
    def v2(field: String, from: String, to: String): (String, String) = {
      val root = tmp("graft-format-v2")
      ZarrStore.init(root, grid)
      val za = Paths.get(root, "data", ".zarray")
      val s = Files.readString(za)
      assert(s.contains(from))
      Files.writeString(za, s.replace(from, to))
      root -> field
    }
    def v3(field: String, from: String, to: String): (String, String) = {
      val root = tmp("graft-format-v3")
      ZarrStoreV3.init(root, grid)
      val zj = Paths.get(root, "data", "zarr.json")
      val s = Files.readString(zj)
      assert(s.contains(from))
      Files.writeString(zj, s.replace(from, to))
      root -> field
    }
    val stores = Seq(
      v2("compressor", """{"id":"zlib","level":1}""",
        """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1,"blocksize":0}"""),
      v2("dtype", "\"<f4\"", "\"<i4\""),
      v3("data_type", "\"float32\"", "\"int32\""))
    for ((root, field) <- stores) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      }
      assert(e.getMessage.contains(field), e.getMessage)
    }
  }

  test("store preview renders the same PGM from v2, v3 and raw stores") {
    // ZarrSpec's preview chunks: left half 10, right half 30, bottom-right
    // chunk unwritten
    val g = GridDef(1, 1, 8, 8, 4, 4, 4)
    val chunks = Seq(
      ChunkRow(0, 0, 0, 0, Array.fill(16)(10f)),
      ChunkRow(0, 0, 0, 1, Array.fill(16)(30f)),
      ChunkRow(0, 0, 1, 0, Array.fill(16)(10f)))
    def render(write: String => Unit): Seq[Byte] = {
      val root = tmp("graft-format-preview")
      write(root)
      val out = Files.createTempDirectory("graft-format-pgm").resolve("p.pgm")
      StorePreview.renderPgm(spark, root, out.toString, maxPx = 2)
      Files.readAllBytes(out).toSeq
    }
    val v2 = render { r => ZarrStore.init(r, g); ZarrStore.write(chunks.toDS(), r) }
    assert(v2.takeRight(4).map(java.lang.Byte.toUnsignedInt) == Seq(1, 255, 1, 0))
    assert(render { r => ZarrStoreV3.init(r, g); ZarrStoreV3.write(chunks.toDS(), r) } == v2)
    assert(render { r =>
      ArrayStore.init(r, ArrayStore.Meta(g, Seq("B1"))); ArrayStore.write(chunks.toDS(), r)
    } == v2)
  }

  test("under graft/zarr only ChunkFormat.scala names the codec classes") {
    val dir = Paths.get("src/main/scala/graft/zarr")
    val codec = """\b(Deflater|Inflater|GZIPInputStream|GZIPOutputStream|CRC32C)""".r
    val sources: List[Path] = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.exists(_.getFileName.toString == "ChunkFormat.scala"),
      s"no ChunkFormat.scala under ${dir.toAbsolutePath}")
    val naming = sources.filter(p => codec.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString)
    assert(naming == List("ChunkFormat.scala"), naming.mkString(", "))
  }
}
