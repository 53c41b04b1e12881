package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{AnnualMeanDataset, AnnualMedianDataset, Envelope}
import graft.pipelines.MosaicPipeline
import graft.time.TemporalGrid
import graft.zarr.ArrayStore

/** End-to-end golden test for the E2→E3→E1 pipeline (SURVEY §3):
  * hand-computes the masked temporal reduction for a known cell from the
  * deterministic scene generator and checks the value that landed in the
  * store, plus idempotent re-run behavior. */
class PipelineSpec extends AnyFunSuite with SparkSpecBase {

  private val query = Envelope(-1.5, 40.2, 0.3, 41.8) // 3 lon x 2 lat tiles
  private val t0 = Timestamp.valueOf("2021-06-15 00:00:00")

  test("streaming Misra-Gries state carries across REAL trigger boundaries") {
    // q121's gate runs AvailableNow over one file = one drain; this spec
    // forces TWO micro-batches (maxFilesPerTrigger=1 over two files) so
    // the sketch state provably merges across trigger boundaries, then
    // asserts the recounted heavy hitters EQUAL the exact batch answer —
    // merge-order freedom under real trigger slicing, not just one drain.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = graft.Tables.documents(spark, sfSmoke)
    val base = java.nio.file.Files.createTempDirectory("graft-mg-mt")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    def writeHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = base.resolve(name + "-tmp")
      docs.filter(pred).coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, in.resolve(name + ".parquet"))
    }
    writeHalf($"doc_id" % 2 === 0, "a")
    writeHalf($"doc_id" % 2 =!= 0, "b")
    val k = 512; val phi = 0.005
    val mg = udaf(new graft.ops.Sketches.MisraGriesAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    val out = base.resolve("out").toString
    val ck = base.resolve("ck").toString
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .select(explode(TextFunctions.tokens($"text")).as("w"))
      .agg(mg($"w").as("mg"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val snaps = spark.read.parquet(out)
    // two real trigger boundaries, each emitting an updated state snapshot
    assert(snaps.select($"batch_id").distinct().count() == 2)
    val (n, cands) = snaps.orderBy($"batch_id".desc).limit(1)
      .select($"mg._1", $"mg._2").as[(Long, Seq[(String, Long)])].head()
    val allToks = docs.select(explode(TextFunctions.tokens($"text")).as("w"))
    assert(n == allToks.count()) // state counted BOTH batches
    // recounted heavy hitters from the carried state == exact batch answer
    val exact = allToks.groupBy($"w").agg(count(lit(1)).as("c"))
      .filter($"c" > lit(n) * phi)
      .orderBy($"c".desc, $"w").as[(String, Long)].collect().toSeq
    val viaState = allToks.filter($"w".isInCollection(cands.map(_._1)))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .filter($"c" > lit(n) * phi)
      .orderBy($"c".desc, $"w").as[(String, Long)].collect().toSeq
    assert(viaState == exact, s"state-derived hitters diverge: $viaState vs $exact")
    assert(exact.nonEmpty) // the fixture actually exercises the path
  }

  test("q191 dedup state suppresses a cross-trigger duplicate (two REAL batches)") {
    // the funnel's dropDuplicates state must survive a trigger boundary:
    // the same normalized text arrives in batch A and batch B; only the
    // first emission may land in the append sink
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-q191-mt")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    def writeDocs(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = base.resolve(name + "-tmp")
      rows.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("s1").as("source"), length($"text").cast("long").as("n_chars"))
        .coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, in.resolve(name + ".parquet"))
    }
    // all pass the gates (>=5 words, low stopword, no canary)
    writeDocs(Seq(
      (1L, "Hello, World! this is fine today"),
      (2L, "completely unique text number one ok")), "a")
    writeDocs(Seq(
      (3L, "hello   world this is fine today"), // same norm as doc 1
      (4L, "another unique text number two ok")), "b")
    val out = base.resolve("out").toString
    val ck = base.resolve("ck").toString
    import graft.functions.TextFunctions.{stopwordCount, tokens}
    val schema = spark.read.parquet(in.toString).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .filter($"lang" === "en")
      .select($"source", lower($"text").as("lt"), tokens($"text").as("ws"))
      .select($"source", $"lt", size($"ws").cast("bigint").as("n_words"),
        stopwordCount($"ws", Seq("the", "a", "of", "and")).as("n_stop"))
      .filter($"n_words" >= 5L && $"n_stop" * 5L <= $"n_words" * 3L)
      .filter(size(graft.functions.PhraseMatch
        .phraseMatches($"lt", Seq("merge", "quarantine"))) === 0)
      .select($"source", trim(regexp_replace(regexp_replace($"lt",
        "[^a-z0-9\\s]", ""), "\\s+", " ")).as("nrm"))
      .dropDuplicates("source", "nrm")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val landed = spark.read.parquet(out)
    assert(landed.select($"batch_id").distinct().count() == 2,
      "expected two real trigger boundaries")
    val survivors = landed.select($"nrm").as[String].collect().sorted
    // doc 3's normalized text equals doc 1's -> exactly 3 survivors
    assert(survivors.length == 3, survivors.mkString("; "))
    assert(survivors.count(_ == "hello world this is fine today") == 1)
  }

  test("q224 attribution min-state merges across two REAL triggers (later batch delivers an EARLIER purchase)") {
    // batch A: user 1 signup@10:00 + purchase@NEXT-DAY (d_ge_1d if A were
    // all there was); user 2 signup only. batch B: user 1's EARLIER
    // purchase@10:05 (state must take the min — a_lt_10m), user 2's
    // purchase@12:30 (cross-trigger signup/purchase pairing — b_10m_2h).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-q224-mt")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    def us(t: String): Long =
      java.sql.Timestamp.valueOf(t).getTime * 1000L
    def writeBatch(rows: Seq[(Long, String, Long)], name: String): Unit = {
      val tmp = base.resolve(name + "-tmp")
      rows.toDF("user_id", "event_type", "us")
        .coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, in.resolve(name + ".parquet"))
    }
    writeBatch(Seq(
      (1L, "signup", us("2024-01-01 10:00:00")),
      (1L, "purchase", us("2024-01-02 11:00:00")),
      (2L, "signup", us("2024-01-01 09:00:00"))), "a")
    writeBatch(Seq(
      (1L, "purchase", us("2024-01-01 10:05:00")),
      (2L, "purchase", us("2024-01-01 12:30:00"))), "b")
    val out = base.resolve("out").toString
    val ck = base.resolve("ck").toString
    val schema = spark.read.parquet(in.toString).schema
    val ev = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .as[(Long, String, Long)]
    val q = graft.queries.PipelineQueries.attributionFirsts(ev)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val landed = spark.read.parquet(out)
    assert(landed.select($"batch_id").distinct().count() == 2,
      "expected two real trigger boundaries")
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"batch_id".desc)
    val fin = landed.withColumn("rn", row_number().over(latest))
      .filter($"rn" === 1)
      .select($"user_id", $"sg", $"pu")
      .as[(Long, Long, Long)].collect()
      .map { case (u, sg, pu) => u -> ((pu - sg) / 60000000L) }.toMap
    assert(fin(1L) == 5L, s"user 1 latency ${fin(1L)}m — min-state must prefer the later-arriving EARLIER purchase")
    assert(fin(2L) == 210L, s"user 2 latency ${fin(2L)}m — purchase must pair with the prior trigger's signup")
  }

  test("watermark drops late data: closed windows exclude it, metric counts it") {
    // The piece the AvailableNow parity gates can't show (their fixture
    // arrives in event-time order): a row arriving AFTER the watermark
    // passed its window must be EXCLUDED from that window's finalized
    // (append-mode) result, and the engine must account for the drop.
    // Two real triggers: batch A advances the watermark past the first
    // window; batch B delivers one late row into it plus one on-time row.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-late")
    val in = base.resolve("in"); java.nio.file.Files.createDirectories(in)
    def ts(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    def writeBatch(rows: Seq[(Timestamp, Long)], name: String,
                   modMillis: Long): Unit = {
      val tmp = base.resolve(name + "-tmp")
      rows.toDF("ts", "user_id").coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = in.resolve(name + ".parquet")
      java.nio.file.Files.move(part, dst)
      // FileStreamSource orders batches by modification time — pin it so
      // batch A provably precedes batch B
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(modMillis))
    }
    // batch A: three rows in [10:00, 10:05) + one at 11:00 that pushes
    // the 10-minute watermark to 10:50, far past the first window.
    // batch B advances nothing much but lets the 10:50 watermark take
    // effect: the first window is EVICTED (emitted final) at its end.
    // batch C then delivers the late row — Spark's late-record filter
    // uses the PREVIOUS batch's committed watermark, so a row that is
    // late-but-state-still-live (arriving in B) would legally still be
    // aggregated; arriving in C, after eviction, it MUST drop.
    val now = java.lang.System.currentTimeMillis()
    writeBatch(Seq((ts("10:01"), 1L), (ts("10:02"), 2L), (ts("10:04"), 3L),
      (ts("11:00"), 4L)), "a", now - 60000)
    writeBatch(Seq((ts("11:01"), 5L)), "b", now - 30000)
    // batch C: one LATE row into the closed window + one on-time row
    writeBatch(Seq((ts("10:03"), 99L), (ts("11:02"), 6L)), "c", now)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val out = base.resolve("out").toString
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("win_start"), $"n")
      .writeStream.outputMode("append")
      .option("checkpointLocation", base.resolve("ck").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dropped = q.recentProgress
      .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped == 1L, s"expected exactly the late row dropped, got $dropped")
    val finalized = spark.read.parquet(out)
      .as[(Timestamp, Long)].collect().toSeq
    // the closed first window holds ONLY batch A's three rows, emitted
    // exactly once — the late arrival neither inflated nor resurrected it
    assert(finalized == Seq((ts("10:00"), 3L)),
      s"closed window must exclude the late row: $finalized")
  }

  private def refPeriods: Seq[Long] = {
    // snap(2021-06-15) = 2021-01-01; window 365d clamped [2020-01-01 ..]
    // = periods 921..944 (validated in TemporalGridSpec)
    (921L to 944L)
  }

  test("pipeline store value equals hand-computed masked mean") {
    val store = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val cfg = MosaicPipeline.Config(query, Seq(t0), AnnualMeanDataset, store, chunkPx = 4)
    val (cube, grid, regions) = MosaicPipeline.run(spark, cfg)
    assert(grid.nTime == 1 && grid.nBand == 7)
    assert(grid.nY == 2 * 4 && grid.nX == 3 * 4)
    val rows = cube.collect()
    assert(rows.length == 7 * 2 * 3) // bands x tile grid, 1 time

    // hand-compute cell 0 of band 0 for the tile at (cy, cx) = (0, 0):
    // lats sorted -> 40 is index 0; lons -> -2 index 0; that tile's id:
    val tileId = tileAt(-2.0, 40.0)
    val nBands = 8
    val kept = refPeriods.filter { p =>
      MosaicPipeline.pixel(tileId, p, nBands - 1, 0, nBands) == 1f
    }
    val expected = kept.map(p => MosaicPipeline.pixel(tileId, p, 0, 0, nBands))
      .map(_.toDouble).sum / kept.size
    val got = rows.find(r => r.band == 0 && r.cy == 0 && r.cx == 0).get.data(0)
    assert(math.abs(got - expected) < 1e-4, s"$got != $expected")

    // regions exactly tile the store grid
    assert(regions.map(_.cells).sum == grid.nTime.toLong * grid.nBand * grid.nY * grid.nX)

    // idempotent re-run: second pass writes nothing new, store unchanged
    val before = ArrayStore.existingKeys(spark, store).count()
    MosaicPipeline.run(spark, cfg)
    assert(ArrayStore.existingKeys(spark, store).count() == before)
  }

  private def tileAt(xmin: Double, ymin: Double): String = {
    import graft.geo.Envelopes
    import org.apache.spark.sql.functions.col
    Envelopes.tilesIntersecting(Envelopes.tileGrid(spark, query), query)
      .filter(col("xmin") === xmin && col("ymin") === ymin)
      .select("tile_id").collect().head.getString(0)
  }

  test("median dataset runs the holistic reducer end-to-end") {
    val store = java.nio.file.Files.createTempDirectory("graft-pipe-med").toString
    val cfg = MosaicPipeline.Config(query, Seq(t0), AnnualMedianDataset, store, chunkPx = 4)
    val (cube, _, _) = MosaicPipeline.run(spark, cfg)
    val r = cube.filter(c => c.band == 1 && c.cy == 0 && c.cx == 1).collect().head
    assert(r.data.length == 16)
    // cell 0 of band 1 for the tile at (cy, cx) = (0, 1): lat 40, lon -1
    val tileId = tileAt(-1.0, 40.0)
    val nBands = 8
    val kept = refPeriods
      .filter(p => MosaicPipeline.pixel(tileId, p, nBands - 1, 0, nBands) == 1f)
      .map(p => MosaicPipeline.pixel(tileId, p, 1, 0, nBands)).sorted
    val m = kept.size
    assert(m >= 2)
    val expected = if (m % 2 == 1) kept(m / 2) else (kept(m / 2 - 1) + kept(m / 2)) / 2.0f
    assert(r.data(0) == expected, s"${r.data(0)} != $expected over $kept")
  }

  test("the store's time axis follows the session zone, not the JVM default zone") {
    // 00:30 on Jan 1 in Tokyo is still the previous year in the UTC session:
    // the features snap to 2020 and the axis must hold that same time
    val saved = java.util.TimeZone.getDefault
    val (tokyo, t) =
      try {
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
        val t = Timestamp.valueOf("2021-01-01 00:30:00")
        val store = java.nio.file.Files.createTempDirectory("graft-pipe-tz").toString
        val (cube, grid, _) = MosaicPipeline.run(spark,
          MosaicPipeline.Config(query, Seq(t), AnnualMeanDataset, store, chunkPx = 4))
        assert(grid.nTime == 1)
        (cube.collect(), t)
      } finally java.util.TimeZone.setDefault(saved)
    // the same instant under the restored default zone builds the same store
    val store = java.nio.file.Files.createTempDirectory("graft-pipe-tz-ref").toString
    val (ref, _, _) = MosaicPipeline.run(spark,
      MosaicPipeline.Config(query, Seq(t), AnnualMeanDataset, store, chunkPx = 4))
    def bits(rows: Array[graft.cube.ChunkRow]) =
      rows.map(r => (r.time, r.band, r.cy, r.cx) -> r.data.map(java.lang.Float.floatToIntBits).toSeq).toMap
    assert(tokyo.length == 7 * 2 * 3)
    assert(bits(tokyo) == bits(ref.collect()))
  }

  private val twoYears = Seq("2021-06-15", "2022-06-15").map(d => Timestamp.valueOf(s"$d 00:00:00"))

  private def twoYearCfg(store: String) =
    MosaicPipeline.Config(query, twoYears, AnnualMeanDataset, store, chunkPx = 4)

  private def tmpStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def files(root: String): Seq[java.nio.file.Path] = {
    val r = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(r)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(r.relativize).toSeq.sorted
    finally s.close()
  }

  /** Every file of a store by relative path, with its bytes. */
  private def contents(root: String): Map[String, Seq[Byte]] =
    files(root).map(f => f.toString ->
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root).resolve(f)).toSeq).toMap

  /** Chunk files by path with their file identity: an atomic rewrite
    * replaces the file, so an unchanged identity means never rewritten. */
  private def chunkIds(root: String): Map[String, AnyRef] =
    files(root).filter(_.getFileName.toString.matches("""\d+\.\d+\.\d+\.\d+""")).map { f =>
      f.toString -> java.nio.file.Files.readAttributes(java.nio.file.Paths.get(root).resolve(f),
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    }.toMap

  private def copyStore(from: String, prefix: String): String = {
    val to = tmpStore(prefix)
    files(from).foreach { f =>
      val dst = java.nio.file.Paths.get(to).resolve(f)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(java.nio.file.Paths.get(from).resolve(f), dst)
    }
    to
  }

  private def planOf(cfg: MosaicPipeline.Config) =
    MosaicPipeline.plan(spark, cfg, graft.geo.Envelopes.tileGrid(spark, cfg.query))

  test("a resume reduces exactly the deleted chunks and ends bit-identical to a fresh build") {
    val fresh = tmpStore("graft-pipe-fresh")
    MosaicPipeline.run(spark, twoYearCfg(fresh))
    val resumed = copyStore(fresh, "graft-pipe-resume")
    // (time, cy, cx) = (0, 0, 0) loses some bands, (1, 1, 2) all of them;
    // every other (tile, time), (0, 0, 1) among them, keeps all bands
    val deleted = Seq(0, 2, 5).map(b => s"0.$b.0.0") ++ (0 until 7).map(b => s"1.$b.1.2")
    deleted.foreach(k => java.nio.file.Files.delete(java.nio.file.Paths.get(resumed, "data", k)))
    val kept = chunkIds(resumed)
    assert(kept.keys.exists(_.endsWith("0.3.0.1")))
    val cfg = twoYearCfg(resumed)
    val plan = planOf(cfg)
    assert(MosaicPipeline.buildFeatures(plan, MosaicPipeline.ingestScenes(spark, plan)).count() ==
      deleted.size)
    // QA is never stored: a (tile, period) feeding a pending chunk reads it
    assert(plan.slices.nonEmpty && plan.slices.forall(_._3.contains(7)))
    MosaicPipeline.run(spark, cfg)
    assert(contents(resumed) == contents(fresh))
    val after = chunkIds(resumed)
    kept.foreach { case (f, id) => assert(after(f) == id, s"$f was rewritten") }
  }

  test("resuming a complete store plans no scene slice and writes nothing") {
    val store = tmpStore("graft-pipe-complete")
    val cfg = twoYearCfg(store)
    MosaicPipeline.run(spark, cfg)
    val before = chunkIds(store)
    assert(before.size == 2 * 7 * 2 * 3)
    assert(planOf(cfg).slices.isEmpty)
    MosaicPipeline.run(spark, cfg)
    assert(chunkIds(store) == before)
  }

  test("an empty store plans every band of exactly the required scenes") {
    import org.apache.spark.sql.functions.col
    val cfg = twoYearCfg(tmpStore("graft-pipe-empty"))
    val grid = graft.geo.Envelopes.tileGrid(spark, query)
    val plan = MosaicPipeline.plan(spark, cfg, grid)
    val required = graft.plan.ScenePlanner.requiredScenes(spark, grid, query, twoYears, AnnualMeanDataset)
      .select(col("tile_id"), TemporalGrid.datetimeToPeriod(col("datetime")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(required.nonEmpty)
    assert(plan.slices.map(s => (s._1, s._2)).toSet == required)
    assert(plan.slices.size == required.size)
    assert(plan.slices.forall(_._3 == (0 to 7)))
  }

  test("a resume into a store built for another request is refused, naming the field") {
    val store = tmpStore("graft-pipe-other")
    MosaicPipeline.run(spark, twoYearCfg(store))
    java.nio.file.Files.delete(java.nio.file.Paths.get(store, "data", "1.0.0.0"))
    val before = contents(store)
    // same grid and bands, other times: key 0.* is 2021 here, 2022 there
    val later = Seq("2022-06-15", "2023-06-15").map(d => Timestamp.valueOf(s"$d 00:00:00"))
    val e = intercept[IllegalArgumentException](
      MosaicPipeline.run(spark, twoYearCfg(store).copy(times = later)))
    assert(e.getMessage.contains("time axis"), e.getMessage)
    val g = intercept[IllegalArgumentException](MosaicPipeline.run(spark,
      twoYearCfg(store).copy(query = Envelope(-1.5, 40.2, 1.3, 41.8))))
    assert(g.getMessage.contains("grid"), g.getMessage)
    assert(contents(store) == before)
    // a store without the recorded axis is checked on grid and bands only
    val attrs = java.nio.file.Paths.get(store, "data", ".zattrs")
    java.nio.file.Files.writeString(attrs,
      java.nio.file.Files.readString(attrs).replaceAll(",\"time_epoch_ms\":\\[[0-9,]*\\]", ""))
    assert(graft.zarr.ZarrStore.readAxes(store)._2.isEmpty)
    MosaicPipeline.run(spark, twoYearCfg(store))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(store, "data", "1.0.0.0")))
  }

  /** A fixture tree under a new temp dir: one 4×4-pixel GeoTIFF per scene
    * the two-year request needs, at its URL's path, holding the
    * generator's pixels. */
  private def twoYearSceneTiffs(prefix: String): String = {
    import org.apache.spark.sql.functions.col
    val px = 4; val nBands = 8
    val srcRoot = tmpStore(prefix)
    val grid = graft.geo.Envelopes.tileGrid(spark, query)
    graft.plan.ScenePlanner.requiredScenes(spark, grid, query, twoYears, AnnualMeanDataset)
      .select(col("tile_id"), col("url"), TemporalGrid.datetimeToPeriod(col("datetime")))
      .collect().foreach { r =>
        val (tile, url, period) = (r.getString(0), r.getString(1), r.getLong(2))
        val dst = java.nio.file.Paths.get(srcRoot, graft.ops.Fetch.destRel(url))
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.write(dst, graft.raster.GeoTiffWriter.write(px, px,
          (0 until nBands).map(b => Array.tabulate(px * px)(c => MosaicPipeline.pixel(tile, period, b, c, nBands))),
          nodata = Some(Double.NaN)))
      }
    srcRoot
  }

  test("a real-raster resume fetches only the scenes its pending chunks need") {
    val srcRoot = twoYearSceneTiffs("graft-tif-resume-src")
    val grid = graft.geo.Envelopes.tileGrid(spark, query)
    val store = tmpStore("graft-tif-resume")
    val cfg = twoYearCfg(store)
    MosaicPipeline.runFromTiffs(spark, cfg, srcRoot, tmpStore("graft-tif-resume-w0"))
    val full = contents(store)
    // one band of the tile at (cy, cx) = (1, 0) in the second year: its
    // window's scenes of that tile, and no other, are fetched again
    java.nio.file.Files.delete(java.nio.file.Paths.get(store, "data", "1.4.1.0"))
    val work = tmpStore("graft-tif-resume-w1")
    MosaicPipeline.runFromTiffs(spark, cfg, srcRoot, work)
    assert(contents(store) == full)
    val fetched = files(work).map(_.toString)
    val window = MosaicPipeline.plan(spark, twoYearCfg(tmpStore("graft-tif-resume-empty")), grid)
      .windows(1)._2
    assert(fetched.size == window.size, fetched)
    assert(fetched.forall(_.contains(tileAt(-2.0, 41.0))), fetched)
  }

  test("a real-raster build leaves no frame cached once Harness.release has run") {
    spark.catalog.clearCache() // isolate from earlier tests' own caches
    graft.ops.ScratchCache.releaseAll()
    val srcRoot = twoYearSceneTiffs("graft-tif-release-src")
    MosaicPipeline.runFromTiffs(spark, twoYearCfg(tmpStore("graft-tif-release")), srcRoot,
      tmpStore("graft-tif-release-w"))
    assert(!spark.sharedState.cacheManager.isEmpty) // the fetched scene rows
    Harness.release(spark)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("feature COG sink writes reopenable tifs at deterministic paths, idempotently") {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files.createTempDirectory("graft-pipe-cog").toString
    val cfg = MosaicPipeline.Config(query, Seq(t0), AnnualMeanDataset, store, chunkPx = 4)
    val grid = graft.geo.Envelopes.tileGrid(spark, query)
    val scenes = MosaicPipeline.ingestScenes(spark, cfg, grid,
      spark.emptyDataFrame.selectExpr("'x' as url").limit(0))
    val features = MosaicPipeline.buildFeatures(spark, cfg, grid, scenes)
    val outRoot = java.nio.file.Files.createTempDirectory("graft-cogs").toString
    MosaicPipeline.writeFeatureCogs(features, outRoot, px = 4)
    val expected = features.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getInt(2)) -> r.getSeq[Float](3))
      .toMap
    assert(expected.nonEmpty)
    // reopen one tile's file and compare every band plane
    val (tile, time, _) = expected.keySet.head
    val ymd = new java.text.SimpleDateFormat("yyyyMMdd").format(time)
    val path = java.nio.file.Paths.get(outRoot, "features", tile, s"$ymd.tif")
    assert(java.nio.file.Files.exists(path), path.toString)
    val bytes = java.nio.file.Files.readAllBytes(path)
    val fi = graft.raster.GeoTiff.info(bytes)
    assert(fi.bands == 7 && fi.width == 4 && fi.nodata.exists(_.isNaN))
    for (b <- 0 until fi.bands) {
      val got = graft.raster.GeoTiff.readBand(bytes, b).toSeq
      val want = expected((tile, time, b)).toSeq
      // NaN-tolerant elementwise compare
      got.zip(want).foreach { case (g, w) =>
        assert((g.isNaN && w.isNaN) || g == w, s"band $b")
      }
    }
    // idempotent rerun leaves mtimes unchanged
    val mtime = java.nio.file.Files.getLastModifiedTime(path)
    MosaicPipeline.writeFeatureCogs(features, outRoot, px = 4)
    assert(java.nio.file.Files.getLastModifiedTime(path) == mtime)
  }

  test("real-raster ingest (GeoTIFF fixtures) produces the same store as the generator") {
    import org.apache.spark.sql.functions.col
    import graft.plan.ScenePlanner
    import graft.raster.GeoTiffWriter
    val px = 4; val nBands = 8 // 7 feature bands + QA
    val cfg0 = MosaicPipeline.Config(query, Seq(t0), AnnualMeanDataset,
      java.nio.file.Files.createTempDirectory("graft-pipe-gen").toString, chunkPx = px)

    // lay out one .tif per required scene under srcRoot, path = URL path,
    // pixels = exactly what the generator would synthesize
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-tif-src").toString
    val grid = graft.geo.Envelopes.tileGrid(spark, query)
    val scenes = ScenePlanner.requiredScenes(spark, grid, query, Seq(t0), AnnualMeanDataset)
      .select(col("tile_id"), col("url"),
        graft.time.TemporalGrid.datetimeToPeriod(col("datetime")).as("period"))
      .collect()
    assert(scenes.nonEmpty)
    scenes.foreach { r =>
      val (tile, url, period) = (r.getString(0), r.getString(1), r.getLong(2))
      val bands = (0 until nBands).map(b =>
        Array.tabulate(px * px)(c => MosaicPipeline.pixel(tile, period, b, c, nBands)))
      val dst = java.nio.file.Paths.get(srcRoot, graft.ops.Fetch.destRel(url))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.write(dst,
        GeoTiffWriter.write(px, px, bands, nodata = Some(Double.NaN)))
    }

    val (cubeGen, _, _) = MosaicPipeline.run(spark, cfg0)
    val cfgTif = cfg0.copy(storeRoot =
      java.nio.file.Files.createTempDirectory("graft-pipe-tif").toString)
    val work = java.nio.file.Files.createTempDirectory("graft-tif-work").toString
    val (cubeTif, _, _) = MosaicPipeline.runFromTiffs(spark, cfgTif, srcRoot, work)

    val a = cubeGen.collect().map(r => (r.time, r.band, r.cy, r.cx) -> r.data.toSeq).toMap
    val b = cubeTif.collect().map(r => (r.time, r.band, r.cy, r.cx) -> r.data.toSeq).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(v == b(k), s"chunk $k diverges") }
  }
}
