package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.cube.ChunkRow
import graft.model.GridDef
import graft.zarr.ZarrStoreV3

/** Zarr v3 on-disk compatibility: spec-mandated zarr.json fields, nested
  * default chunk keys, gzip codec decoded INDEPENDENTLY (plain
  * java.util.zip.GZIPInputStream, no store code), and the shared DSv2
  * pushdown path over the v3 layout. */
class ZarrV3Spec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private val grid = GridDef(2, 1, 6, 6, 4, 4, 4) // edge chunks pad

  private def freshStore(): String = {
    val root = Files.createTempDirectory("graft-zarr3").toString
    ZarrStoreV3.init(root, grid, bands = Seq("b0"))
    root
  }

  test("zarr.json carries the v3 core-spec fields") {
    val root = freshStore()
    val group = Files.readString(Paths.get(root, "zarr.json"))
    assert(group.contains("\"zarr_format\":3") && group.contains("\"node_type\":\"group\""))
    val za = Files.readString(Paths.get(root, "data", "zarr.json"))
    for (frag <- Seq("\"zarr_format\":3", "\"node_type\":\"array\"",
        "\"shape\":[2,1,6,6]", "\"data_type\":\"float32\"",
        "\"chunk_grid\":{\"name\":\"regular\",\"configuration\":{\"chunk_shape\":[1,1,4,4]}}",
        "\"chunk_key_encoding\":{\"name\":\"default\",\"configuration\":{\"separator\":\"/\"}}",
        "\"fill_value\":\"NaN\"",
        "{\"name\":\"bytes\",\"configuration\":{\"endian\":\"little\"}}",
        "{\"name\":\"gzip\",\"configuration\":{\"level\":1}}",
        "\"dimension_names\":[\"time\",\"band\",\"y\",\"x\"]"))
      assert(za.contains(frag), s"missing $frag in $za")
    assert(ZarrStoreV3.readGrid(root) == grid)
  }

  test("write/read round-trip: nested keys, NaN edge padding, idempotence") {
    val root = freshStore()
    val fullData = Array.tabulate(16)(_.toFloat)
    val edgeData = Array.tabulate(8)(i => 100f + i)
    ZarrStoreV3.write(Seq(
      ChunkRow(0, 0, 0, 0, fullData),
      ChunkRow(1, 0, 1, 1, edgeData)).toDS(), root)
    // default chunk-key encoding: c/<t>/<b>/<cy>/<cx> nested dirs
    assert(Files.exists(Paths.get(root, "data", "c", "0", "0", "0", "0")))
    assert(Files.exists(Paths.get(root, "data", "c", "1", "0", "1", "1")))
    val back = graft.zarr.ArrayStore.read(spark, root).collect()
      .map(r => (r.time, r.band, r.cy, r.cx) -> r.data).toMap
    assert(back((0, 0, 0, 0)).toSeq == fullData.toSeq)
    val edge = back((1, 0, 1, 1))
    assert(edge.take(8).toSeq == edgeData.toSeq)
    assert(edge.drop(8).forall(_.isNaN))
    // double-write idempotence (S9 contract holds in the v3 encoding)
    ZarrStoreV3.write(Seq(ChunkRow(0, 0, 0, 0, fullData)).toDS(), root)
    assert(graft.zarr.ArrayStore.read(spark, root).collect().length == 2)
  }

  test("chunk files decode with plain gzip to little-endian C-order float32") {
    val root = freshStore()
    val data = Array.tabulate(16)(i => i * 1.5f)
    ZarrStoreV3.write(Seq(ChunkRow(0, 0, 0, 0, data)).toDS(), root)
    val raw = Files.readAllBytes(Paths.get(root, "data", "c", "0", "0", "0", "0"))
    assert((raw(0) & 0xFF) == 0x1f && (raw(1) & 0xFF) == 0x8b, "RFC 1952 magic")
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw))
    val out = try in.readAllBytes() finally in.close()
    assert(out.length == 64)
    val floats = new Array[Float](16)
    ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(floats)
    assert(floats.toSeq == data.toSeq)
  }

  test("v3 layout reads through DSv2 with key pushdown pruning files") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    val root = freshStore()
    val rows = for (t <- 0 to 1; cy <- 0 to 1; cx <- 0 to 1)
      yield ChunkRow(t, 0, cy, cx, Array.fill(16)((t * 100 + cy * 10 + cx).toFloat))
    ZarrStoreV3.write(rows.toDS(), root)
    val df = spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      .filter(col("time") === 1 && col("cx") === 0)
    assert(df.count() == 2)
    val b = df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    assert(b.nonEmpty)
    val nFiles = b.head.inputPartitions.map(
      _.asInstanceOf[graft.zarr.ChunkInputPartition].files.length).sum
    assert(nFiles == 2, s"pushdown should plan exactly 2 gzip files, got $nFiles")
    val got = df.collect().map(r => r.getSeq[Float](4).head).toSet
    assert(got == Set(100f, 110f))
  }

  test("sharded store: metadata, round-trip, partial shards, idempotence") {
    val root = Files.createTempDirectory("graft-zarr3-shard").toString
    // 6x6 grid of 2x2 inner chunks (3x3 inner grid), 2x2 chunks per shard
    val g = GridDef(1, 1, 6, 6, 2, 2, 4)
    ZarrStoreV3.initSharded(root, g, shardChunksY = 2, shardChunksX = 2)
    val za = Files.readString(Paths.get(root, "data", "zarr.json"))
    for (frag <- Seq(
        "\"chunk_grid\":{\"name\":\"regular\",\"configuration\":{\"chunk_shape\":[1,1,4,4]}}",
        "\"name\":\"sharding_indexed\"",
        "\"chunk_shape\":[1,1,2,2]",
        "{\"name\":\"crc32c\"}",
        "\"index_location\":\"end\""))
      assert(za.contains(frag), s"missing $frag in $za")
    assert(ZarrStoreV3.readLayout(root) ==
      ZarrStoreV3.V3Layout(g, Some((2, 2))))
    // inner grid is 3x3: shard (0,0) holds inner (0..1)x(0..1) fully;
    // shards (0,1)/(1,0)/(1,1) are PARTIAL (inner row/col 2 only)
    val rows = for (cy <- 0 to 2; cx <- 0 to 2; if (cy, cx) != ((1, 1)))
      yield ChunkRow(0, 0, cy, cx, Array.fill(4)((cy * 10 + cx).toFloat))
    ZarrStoreV3.writeSharded(rows.toDS(), root)
    // shard files keyed by SHARD coords
    assert(Files.exists(Paths.get(root, "data", "c", "0", "0", "0", "0")))
    assert(Files.exists(Paths.get(root, "data", "c", "0", "0", "1", "1")))
    assert(!Files.exists(Paths.get(root, "data", "c", "0", "0", "2", "2")))
    val back = graft.zarr.ArrayStore.read(spark, root).collect()
      .map(r => (r.cy, r.cx) -> r.data.head).toMap
    assert(back.size == 8) // (1,1) was never written, absent not NaN-filled
    assert(rows.forall(r => back((r.cy, r.cx)) == (r.cy * 10 + r.cx).toFloat))
    assert(!back.contains((1, 1)))
    // idempotent rewrite of one shard
    ZarrStoreV3.writeSharded(rows.filter(r => r.cy < 2 && r.cx < 2).toDS(), root)
    assert(graft.zarr.ArrayStore.read(spark, root).collect().length == 8)
  }

  test("sharded store: external decode per the sharding-indexed spec") {
    val root = Files.createTempDirectory("graft-zarr3-shardx").toString
    val g = GridDef(1, 1, 4, 4, 2, 2, 4)
    ZarrStoreV3.initSharded(root, g, 2, 2)
    // write 3 of the 4 inner chunks of the single shard
    val rows = Seq(
      ChunkRow(0, 0, 0, 0, Array(1f, 2f, 3f, 4f)),
      ChunkRow(0, 0, 0, 1, Array(5f, 6f, 7f, 8f)),
      ChunkRow(0, 0, 1, 1, Array(9f, 10f, 11f, 12f)))
    ZarrStoreV3.writeSharded(rows.toDS(), root)
    val raw = Files.readAllBytes(Paths.get(root, "data", "c", "0", "0", "0", "0"))
    // index: 4 inner slots x 16 bytes + 4-byte crc32c, at the END
    val idxOff = raw.length - (4 * 16 + 4)
    val bb = ByteBuffer.wrap(raw, idxOff, 4 * 16 + 4).order(ByteOrder.LITTLE_ENDIAN)
    val slots = Array.fill(4)((bb.getLong(), bb.getLong()))
    val crc = new java.util.zip.CRC32C()
    crc.update(raw, idxOff, 4 * 16)
    assert(bb.getInt() == crc.getValue.toInt, "crc32c of the index bytes")
    // inner order is lexicographic (iy, ix): slots 0,1,3 present, 2 absent
    assert(slots(2) == ((-1L, -1L)), "missing chunk = u64-max pair")
    for ((slot, expect) <- Seq(slots(0) -> Seq(1f, 2f, 3f, 4f),
        slots(1) -> Seq(5f, 6f, 7f, 8f), slots(3) -> Seq(9f, 10f, 11f, 12f))) {
      val (off, len) = slot
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw, off.toInt, len.toInt))
      val out = try in.readAllBytes() finally in.close()
      val fs = new Array[Float](4)
      ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(fs)
      assert(fs.toSeq == expect, s"slot $slot")
    }
  }

  test("sharded store: shard-level pruning + exact inner filtering") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-zarr3-shardp").toString
    val g = GridDef(1, 1, 8, 8, 2, 2, 4) // 4x4 inner grid, 2x2 shards
    ZarrStoreV3.initSharded(root, g, 2, 2)
    val rows = for (cy <- 0 to 3; cx <- 0 to 3)
      yield ChunkRow(0, 0, cy, cx, Array.fill(4)((cy * 10 + cx).toFloat))
    ZarrStoreV3.writeSharded(rows.toDS(), root)
    // cy==3 && cx==0 lives in shard (1,0): exactly ONE shard file planned,
    // and exactly one ROW survives (reader re-applies filters per inner)
    val df = spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      .filter(col("cy") === 3 && col("cx") === 0)
    val b = df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    val parts = b.head.inputPartitions.map(_.asInstanceOf[graft.zarr.ChunkInputPartition])
    assert(parts.map(_.files.length).sum == 1,
      s"shard pruning should plan 1 shard file, got ${parts.map(_.files.length).sum}")
    val got = df.collect()
    assert(got.length == 1 && got.head.getInt(2) == 3 && got.head.getInt(3) == 0)
    assert(got.head.getSeq[Float](4).head == 30f)
    // cy>=2 && cx<=1 is exactly shard (1,0): one file, all 4 inner rows
    val df2 = spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      .filter(col("cy") >= 2 && col("cx") <= 1)
    val b2 = df2.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    assert(b2.head.inputPartitions.map(
      _.asInstanceOf[graft.zarr.ChunkInputPartition].files.length).sum == 1)
    assert(df2.count() == 4)
    // a predicate crossing the shard boundary (cy 1..2) touches BOTH shard
    // rows in cx<=1: two files planned, exactly 4 inner rows survive
    val df3 = spark.read.format("graft.zarr.ChunkStoreSource").load(root)
      .filter(col("cy") >= 1 && col("cy") <= 2 && col("cx") <= 1)
    val b3 = df3.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    assert(b3.head.inputPartitions.map(
      _.asInstanceOf[graft.zarr.ChunkInputPartition].files.length).sum == 2)
    assert(df3.count() == 4)
  }

  test("transpose codec: x-major external store reads back row-major") {
    // hand-built store (as an external writer with transpose would emit):
    // 1x1 grid of one 2x3 chunk, elements stored x-major [0,1,3,2]
    val root = Files.createTempDirectory("graft-zarr3t").toString
    Files.writeString(Paths.get(root, "zarr.json"),
      """{"zarr_format":3,"node_type":"group"}""")
    Files.createDirectories(Paths.get(root, "data"))
    Files.writeString(Paths.get(root, "data", "zarr.json"),
      """{"zarr_format":3,"node_type":"array","shape":[1,1,2,3],""" +
        """"data_type":"float32",""" +
        """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[1,1,2,3]}},""" +
        """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
        """"fill_value":"NaN",""" +
        """"codecs":[{"name":"transpose","configuration":{"order":[0,1,3,2]}},""" +
        """{"name":"bytes","configuration":{"endian":"little"}},""" +
        """{"name":"gzip","configuration":{"level":1}}],""" +
        """"dimension_names":["time","band","y","x"]}""")
    // logical row-major chunk [[1,2,3],[4,5,6]] → x-major storage
    // order walks columns: 1,4,2,5,3,6
    val stored = Array(1f, 4f, 2f, 5f, 3f, 6f)
    val bb = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    stored.foreach(bb.putFloat)
    val chunkDir = Paths.get(root, "data", "c", "0", "0", "0")
    Files.createDirectories(chunkDir)
    val gz = new java.io.ByteArrayOutputStream()
    val gzs = new java.util.zip.GZIPOutputStream(gz)
    gzs.write(bb.array()); gzs.close()
    Files.write(chunkDir.resolve("0"), gz.toByteArray)
    val l = ZarrStoreV3.readLayout(root)
    assert(l.transposeYX && l.grid.chunkY == 2 && l.grid.chunkX == 3)
    val rows = graft.zarr.ArrayStore.read(spark, root).collect()
    assert(rows.length == 1)
    assert(rows.head.data.toSeq == Seq(1f, 2f, 3f, 4f, 5f, 6f)) // row-major
  }

  test("transpose codec: x-major WRITE round-trips and stores column-major") {
    val root = Files.createTempDirectory("graft-zarr3w").toString
    val g = GridDef(1, 1, 2, 3, 2, 3, 4)
    ZarrStoreV3.init(root, g, xMajor = true)
    assert(ZarrStoreV3.readLayout(root).transposeYX)
    val rows = Seq(ChunkRow(0, 0, 0, 0, Array(1f, 2f, 3f, 4f, 5f, 6f))).toDS()
    ZarrStoreV3.write(rows, root)
    // read back: logical row-major restored
    val got = graft.zarr.ArrayStore.read(spark, root).collect()
    assert(got.length == 1 && got.head.data.toSeq == Seq(1f, 2f, 3f, 4f, 5f, 6f))
    // on-disk bytes really ARE x-major (independent gunzip)
    val raw = new java.util.zip.GZIPInputStream(
      Files.newInputStream(Paths.get(root, "data", "c", "0", "0", "0", "0")))
      .readAllBytes()
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val stored = Array.tabulate(6)(i => bb.getFloat(i * 4))
    assert(stored.toSeq == Seq(1f, 4f, 2f, 5f, 3f, 6f))
  }

  test("transpose codec: identity accepted, other orders rejected") {
    def store(order: String): String = {
      val root = Files.createTempDirectory("graft-zarr3o").toString
      Files.writeString(Paths.get(root, "zarr.json"),
        """{"zarr_format":3,"node_type":"group"}""")
      Files.createDirectories(Paths.get(root, "data"))
      Files.writeString(Paths.get(root, "data", "zarr.json"),
        """{"zarr_format":3,"node_type":"array","shape":[1,1,2,2],""" +
          """"data_type":"float32",""" +
          """"chunk_grid":{"name":"regular","configuration":{"chunk_shape":[1,1,2,2]}},""" +
          """"chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
          """"fill_value":"NaN",""" +
          s""""codecs":[{"name":"transpose","configuration":{"order":[$order]}},""" +
          """{"name":"bytes","configuration":{"endian":"little"}},""" +
          """{"name":"gzip","configuration":{"level":1}}],""" +
          """"dimension_names":["time","band","y","x"]}""")
      root
    }
    assert(!ZarrStoreV3.readLayout(store("0,1,2,3")).transposeYX) // identity
    val ex = intercept[IllegalArgumentException] {
      ZarrStoreV3.readLayout(store("3,2,1,0"))
    }
    assert(ex.getMessage.contains("transpose order"))
  }
}
