package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.cube.ChunkRow
import graft.model.GridDef
import graft.zarr.ArrayStore

class ChunkSourceSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private val grid = GridDef(3, 2, 4, 4, 2, 2, 4)
  private def rows = for {
    t <- 0 until 3; b <- 0 until 2; cy <- 0 until 2; cx <- 0 until 2
  } yield ChunkRow(t, b, cy, cx, Array.tabulate(4)(i => (t * 100 + b * 10 + i).toFloat))

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft-dsv2").toString
    ArrayStore.init(r, ArrayStore.Meta(grid, Seq("B1", "B2")))
    ArrayStore.write(spark.createDataset(rows), r)
    r
  }

  private def load = spark.read.format("graft.zarr.ChunkStoreSource").load(root)

  test("DSv2 scan reads every chunk with correct payloads") {
    val got = load.collect()
    assert(got.length == rows.size)
    val r = load.filter($"time" === 1 && $"band" === 1 && $"cy" === 0 && $"cx" === 1)
      .select($"data").as[Array[Float]].collect().head
    assert(r.toSeq == Seq(110f, 111f, 112f, 113f))
  }

  test("key predicates are pushed down and prune files at plan time") {
    val df = load.filter($"time" === 2 && $"cy" === 0)
    assert(df.count() == 2 * 1 * 2) // bands x cy=0 x cx
    val scan = df.queryExecution.sparkPlan.collectLeaves().head
    val desc = scan.toString
    assert(desc.contains("PushedFilters") &&
      (desc.contains("EqualTo(time,2)") || desc.contains("time")), desc)
    // pruning check: the scan's partitions only carry matching files
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val batch = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    // under AQE the BatchScanExec may be nested; fall back to sparkPlan
    val b = if (batch.nonEmpty) batch
      else df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(b.nonEmpty)
    val nFiles = b.head.inputPartitions.map(
      _.asInstanceOf[graft.zarr.ChunkInputPartition].files.length).sum
    assert(nFiles == 4, s"expected 4 pruned files, scan reads $nFiles")
  }

  test("aggregate pushdown: count/min/max answered from the listing alone") {
    // plan shape: the aggregate scan replaces the payload scan
    val cnt = load.count()
    assert(cnt == rows.size)
    val gdf = load.filter($"time" >= 1).groupBy($"band")
      .agg(count(lit(1)).as("n"), min($"cy").as("lo"), max($"cx").as("hi"))
    val got = gdf.orderBy($"band").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got == Seq((0, 8L, 0, 1), (1, 8L, 0, 1)), got.toSeq)
    val desc = gdf.queryExecution.sparkPlan.collectLeaves().head.toString
    assert(desc.contains("metadata-only aggregate"), desc)
    // the PROOF no payload is opened: corrupt every chunk file, aggregate
    // anyway — a payload-reading plan would fail to decode
    // Zarr v2 store: zlib decode VALIDATES payloads, so corruption is
    // guaranteed loud on any payload-reading path (raw float files would
    // silently decode anything)
    val r2 = java.nio.file.Files.createTempDirectory("graft-dsv2-agg").toString
    graft.zarr.ZarrStore.init(r2, grid)
    graft.zarr.ZarrStore.write(spark.createDataset(rows), r2)
    val dir = java.nio.file.Paths.get(
      graft.zarr.ChunkStoreSource.layout(r2).dir)
    java.nio.file.Files.list(dir).iterator()
      .forEachRemaining { f =>
        if (!f.getFileName.toString.startsWith("."))
          java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
      }
    val broken = spark.read.format("graft.zarr.ChunkStoreSource").load(r2)
    assert(broken.count() == rows.size)
    assert(broken.groupBy($"time").count().count() == 3)
    intercept[Exception] { broken.collect() } // full read must fail loudly
    // aggregates OUTSIDE the accept-list take the ordinary path (and so
    // fail on the corrupted payloads rather than answering wrongly)
    intercept[Exception] {
      broken.agg(sum(element_at($"data", 1))).collect()
    }
  }

  test("non-key filters stay residual and still apply") {
    val df = load.filter(element_at($"data", 1) === 110f)
    val got = df.collect()
    assert(got.length == 4) // t=1,b=1: all 4 spatial chunks share that payload
  }

  test("null-safe equality <=> on a key column returns correct rows") {
    val got = load.filter($"time" <=> 2).count()
    assert(got == 2 * 2 * 2, s"<=> must behave as = on non-null keys, got $got")
  }

  test("IsNull / IsNotNull on key columns are exact (keys are non-nullable)") {
    assert(load.filter($"time".isNull).count() == 0)
    assert(load.filter($"time".isNotNull).count() == rows.size)
  }

  test("Not over a shape the source can't evaluate must not prune everything") {
    // NOT(time IN (0,1)) where one In value is non-int after translation is
    // hard to synthesize; instead exercise Not over a residual-only filter:
    // startsWith on a cast — untranslatable, stays above the scan.
    val df = load.filter(!($"time".cast("string").startsWith("2")))
    assert(df.count() == 2 * 2 * 2 * 2, "t=0,1 rows must survive")
    // and Not over an evaluable filter still prunes exactly
    val scanDf = load.filter(!($"time" === 2))
    assert(scanDf.count() == 2 * 2 * 2 * 2)
  }

  test("region slice reaches source pruning with literal chunk bounds") {
    import graft.cube.ChunkTable
    import graft.model.Region
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val sliced = ChunkTable.slice(load.as[graft.cube.ChunkRow],
      Region(time0 = 1, time1 = 2, band0 = 0, band1 = 2, y0 = 0, y1 = 2, x0 = 2, x1 = 4),
      grid)
    assert(sliced.count() == 1 * 2 * 1 * 1) // t=1, both bands, cy=0, cx=1
    val b = sliced.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    assert(b.nonEmpty, "slice must stay a relational filter over the scan")
    val nFiles = b.head.inputPartitions.map(
      _.asInstanceOf[graft.zarr.ChunkInputPartition].files.length).sum
    assert(nFiles == 2, s"slice should plan exactly 2 files, planned $nFiles")
  }

  test("partition count follows the byte budget, not a fixed cap") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // 4*3*2*2 = 48 chunk files; a 1-byte budget packs one file per task
    val bigRoot = java.nio.file.Files.createTempDirectory("graft-dsv2-big").toString
    val bigGrid = GridDef(4, 3, 4, 4, 2, 2, 4)
    val big = for {
      t <- 0 until 4; b <- 0 until 3; cy <- 0 until 2; cx <- 0 until 2
    } yield ChunkRow(t, b, cy, cx, Array.fill(4)(1f))
    ArrayStore.init(bigRoot, ArrayStore.Meta(bigGrid, Seq("B1", "B2", "B3")))
    ArrayStore.write(spark.createDataset(big), bigRoot)
    val df = spark.read.format("graft.zarr.ChunkStoreSource")
      .option("maxPartitionBytes", "1").load(bigRoot)
    val b2 = df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
    assert(b2.head.inputPartitions.length == 48,
      s"48 files at a 1-byte budget must plan 48 tasks (no 32 cap), " +
        s"got ${b2.head.inputPartitions.length}")
    assert(df.count() == 48)
  }

  test("a store of sub-4 KiB chunks plans about cluster-width tasks, not one per open cost") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // each file costs max(size, 4 KiB); summing raw sizes instead would
    // plan about parallelism x 4096 / 16 B tasks here
    val par = spark.sparkContext.defaultParallelism
    val nT = 8 * par
    val smallRoot = java.nio.file.Files.createTempDirectory("graft-dsv2-small").toString
    val g = GridDef(nT, 2, 4, 4, 2, 2, 4)
    val small = for {
      t <- 0 until nT; b <- 0 until 2; cy <- 0 until 2; cx <- 0 until 2
    } yield ChunkRow(t, b, cy, cx, Array.fill(4)(1f))
    ArrayStore.init(smallRoot, ArrayStore.Meta(g, Seq("B1", "B2")))
    ArrayStore.write(spark.createDataset(small), smallRoot)
    val df = spark.read.format("graft.zarr.ChunkStoreSource").load(smallRoot)
    val n = df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
      .head.inputPartitions.length
    assert(n <= 2 * par, s"${small.size} files of 16 B planned $n tasks at parallelism $par")
    assert(df.count() == small.size)
  }

  test("column pruning: a key-only projection never opens a payload") {
    // corrupt EVERY payload in a zlib-validated store; key-only reads must
    // still succeed (keys live in file names), full reads must fail
    val r = java.nio.file.Files.createTempDirectory("graft-dsv2-prune").toString
    graft.zarr.ZarrStore.init(r, grid)
    graft.zarr.ZarrStore.write(spark.createDataset(rows), r)
    val dir = java.nio.file.Paths.get(graft.zarr.ChunkStoreSource.layout(r).dir)
    java.nio.file.Files.list(dir).iterator().forEachRemaining { f =>
      if (!f.getFileName.toString.startsWith("."))
        java.nio.file.Files.write(f, Array[Byte](9, 9, 9))
    }
    val broken = spark.read.format("graft.zarr.ChunkStoreSource").load(r)
    // non-aggregate key projection (an aggregate would take the agg-push path)
    val keys = broken.select($"time" * 100 + $"band" * 10 + $"cy" * 2 + $"cx")
      .as[Int].collect().sorted
    assert(keys.length == rows.size)
    assert(keys.take(4).toSeq == Seq(0, 1, 2, 3))
    intercept[Exception] { broken.select($"data").collect() }
    // pruned ReadSchema is visible in the plan
    val df = broken.select($"cy", $"time")
    val desc = df.queryExecution.sparkPlan.collectLeaves().head.toString
    assert(!desc.contains("data"), s"payload column must be pruned\n$desc")
    // field order follows the pruned schema, values stay correct
    val got = load.select($"cx", $"time").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == (for (t <- 0 until 3; cx <- 0 until 2) yield (cx, t)).toSet)
  }

  test("storage-partitioned join: two stores join on grouped keys with NO shuffle") {
    // second store, same grid, different payloads
    val r2 = java.nio.file.Files.createTempDirectory("graft-dsv2-spj").toString
    ArrayStore.init(r2, ArrayStore.Meta(grid, Seq("B1", "B2")))
    ArrayStore.write(spark.createDataset(rows.map(r =>
      r.copy(data = r.data.map(_ + 1000f)))), r2)
    def kg(path: String) = spark.read.format("graft.zarr.ChunkStoreSource")
      .option("keyGroupedBy", "time,band,cy,cx").load(path)
    val conf = spark.conf
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = kg(root).withColumnRenamed("data", "da")
      val b = kg(r2).withColumnRenamed("data", "db")
      val j = a.join(b, Seq("time", "band", "cy", "cx"))
        .select($"time", $"band", $"cy", $"cx",
          (element_at($"db", 1) - element_at($"da", 1)).as("diff"))
      val got = j.collect()
      assert(got.length == rows.size)
      assert(got.forall(_.getFloat(4) == 1000f))
      // string-match the FINAL plan: collect() stops at the AQE boundary
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"SPJ must plan zero shuffles\n$plan")
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join over co-partitioned scans\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("runtime filtering: a broadcast dim join prunes chunk FILES at execution") {
    // Zarr v2 store (zlib validates payloads) with every time != 0 chunk
    // corrupted: if the dim join's values reach the source as a runtime
    // In-filter, the corrupt files are never opened and the query succeeds;
    // any plan that reads them dies loudly in inflate.
    val r = java.nio.file.Files.createTempDirectory("graft-dsv2-rtf").toString
    graft.zarr.ZarrStore.init(r, grid)
    graft.zarr.ZarrStore.write(spark.createDataset(rows), r)
    val dir = java.nio.file.Paths.get(graft.zarr.ChunkStoreSource.layout(r).dir)
    java.nio.file.Files.list(dir).iterator().forEachRemaining { f =>
      val n = f.getFileName.toString
      if (!n.startsWith(".") && !n.startsWith("0."))
        java.nio.file.Files.write(f, Array[Byte](9, 9, 9))
    }
    val chunks = spark.read.format("graft.zarr.ChunkStoreSource").load(r)
    intercept[Exception] { chunks.collect() } // corruption is effective
    // selective predicate on the (broadcastable) dim side is what arms DPP;
    // a Range leaf (unlike a LocalRelation) keeps its Filter through
    // optimization, so the pruning rule can see the selectivity
    val dim = spark.range(0, 3).select($"id".cast("int").as("t"))
      .filter($"t" === 0)
    val joined = chunks.join(dim, $"time" === $"t")
      .select($"time", $"band", $"cy", $"cx", element_at($"data", 1).as("v"))
    val got = joined.collect()
    assert(got.length == 2 * 2 * 2, s"time=0 rows only, got ${got.length}")
    assert(got.forall(_.getInt(0) == 0))
    assert(got.map(r => (r.getInt(1), r.getFloat(4))).toSet ==
      Set((0, 0f), (1, 10f)))
    val plan = joined.queryExecution.executedPlan.toString
    assert("RuntimeFilters: \\[[^]]".r.findFirstIn(plan).isDefined,
      s"scan must carry a non-empty runtime filter\n$plan")
  }

  test("reported statistics let a small chunk store broadcast into a big join") {
    // direct stats contract: 24 raw chunks of 4 float32 = 16 payload bytes
    val scan = new graft.zarr.ChunkScan(root, Array.empty, 128L * 1024 * 1024)
    val st = scan.estimateStatistics()
    assert(st.numRows().getAsLong == rows.size)
    assert(st.sizeInBytes().getAsLong == rows.size * (16L + 16L))
    // static filters shrink the estimate (stats see the pruned listing)
    val st2 = new graft.zarr.ChunkScan(root,
      Array(org.apache.spark.sql.sources.EqualTo("time", 0)),
      128L * 1024 * 1024).estimateStatistics()
    assert(st2.numRows().getAsLong == 8)
    // plan-level effect: against a > autoBroadcastJoinThreshold fact frame
    // the chunk side must be the BROADCAST build side (the DSv2 no-stats
    // default would size it "unknown = huge" and fall back to SMJ/SHJ)
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val fact = spark.range(3 * 1000 * 1000).select(
      ($"id" % 3).cast("int").as("ft"), $"id".as("payload"))
    val j = fact.join(load, $"ft" === $"time")
    val bhj = j.queryExecution.sparkPlan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"expected broadcast join\n${j.queryExecution.sparkPlan}")
    val buildHasScan = bhj.exists(b => (if (b.buildSide.toString == "BuildRight")
      b.right else b.left).collect { case s: BatchScanExec => s }.nonEmpty)
    assert(buildHasScan, "the chunk-store scan must be the broadcast side")
  }
}
