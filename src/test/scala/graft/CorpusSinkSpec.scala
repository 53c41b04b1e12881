package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{CorpusSink, SizeBatch}

/** CorpusSink: shard files on disk must carry exactly the corpus, one
  * file per shard, and the writer's manifest must equal a manifest
  * recomputed from the files alone — the self-verifying-sink contract. */
class CorpusSinkSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private def rowHash = graft.functions.TextFunctions.polyHash(
    concat_ws("|", $"doc_id", $"text"))

  private def freshDir() = java.nio.file.Files
    .createTempDirectory("corpus-sink-spec").toString

  test("write -> reopen: manifest equals file-derived manifest; docs complete") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    val manifest = CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4).collect()
    assert(manifest.length > 1, "fixture should span multiple shards")
    val reread = CorpusSink.manifestOf(spark, dir, "n_chars", rowHash).collect()
    assert(manifest.map(_.toSeq).toSeq == reread.map(_.toSeq).toSeq)
    // every document lands exactly once
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").distinct().count() == docs.count())
    // one parquet file per shard (all rows of a shard in one task)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.length == manifest.length)
    shardDirs.foreach { sd =>
      val files = sd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${sd.getName}: ${files.length} files")
    }
  }

  test("double-write is idempotent: same manifest, same file count") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    def run() = CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4).collect().map(_.toSeq).toSeq
    val first = run()
    val second = run()
    assert(first == second)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard_id="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.length == first.length)
  }

  test("budget larger than the corpus -> one shard holding everything") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    // the largest legal budget (the 2^31-1 content-hash wrap guard caps
    // it) still dwarfs the smoke corpus's total weight → one shard
    val m = CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget = (1L << 31) - 2, dir = dir, parts = 4).collect()
    assert(m.length == 1 && m(0).getLong(0) == 0L)
    assert(m(0).getLong(1) == docs.count())
  }

  test("guards: over-limit budget and non-positive weights are refused") {
    val docs = Tables.documents(spark, sfSmoke)
    intercept[IllegalArgumentException] {
      CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
        budget = 1L << 31, dir = freshDir(), parts = 4)
    }
    // a zero weight would break the n_docs <= budget bound the hash-wrap
    // guard relies on: raise_error fires during assignment, not silently
    val bad = docs.withColumn("n_chars",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("doc_id") === 3L, 0L)
        .otherwise(org.apache.spark.sql.functions.col("n_chars")))
    val e = intercept[Exception] {
      CorpusSink.write(bad, "doc_id", "n_chars", rowHash,
        budget = 64000L, dir = freshDir(), parts = 4).collect()
    }
    assert(e.getMessage != null)
  }

  test("assignment equals the single-reducer window replay") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    val manifest = CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4).collect().map(_.toSeq).toSeq
    val replay = docs
      .withColumn("shard_id",
        (coalesce(sum($"n_chars".cast("long")).over(
          org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
            .rowsBetween(Long.MinValue, -1)), lit(0L)) / 16000L)
          .cast("long"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars".cast("long")).as("n_weight"),
        (sum(rowHash) % 4294967296L).as("content_hash"),
        min($"doc_id".cast("long")).as("min_id"),
        max($"doc_id".cast("long")).as("max_id"))
      .orderBy($"shard_id").collect().map(_.toSeq).toSeq
    assert(manifest == replay)
  }

  test("zone maps: readRange prunes to overlapping shards, result exact") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    val manifest = CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4).collect()
    // the persisted _manifest equals the writer's returned manifest
    val onDisk = CorpusSink.manifestFrame(spark, dir)
      .orderBy($"shard_id").collect()
    assert(manifest.map(_.toSeq).toSeq == onDisk.map(_.toSeq).toSeq)
    // _manifest stays invisible to a plain read of the sink root
    assert(spark.read.parquet(dir).columns.sorted.toSeq ==
      (docs.columns :+ "shard_id").sorted.toSeq)
    // a range covering ~one shard reads FEWER files than the full corpus
    val bounds = manifest.map(r => (r.getLong(4), r.getLong(5)))
    val (lo, hi) = bounds(1) // exactly the second shard's id range
    val pruned = CorpusSink.readRange(spark, dir, "doc_id", lo, hi)
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length,
      "range read must open fewer shard files than a full scan")
    // exactness: pruned read == plain filter over the whole corpus
    val expect = docs.filter($"doc_id".between(lo, hi))
      .select($"doc_id").orderBy($"doc_id").collect().map(_.getLong(0)).toSeq
    val got = pruned.select($"doc_id").orderBy($"doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == expect && got.nonEmpty)
    // a range past every shard is empty without error
    val top = bounds.map(_._2).max
    assert(CorpusSink.readRange(spark, dir, "doc_id", top + 1, top + 100)
      .count() == 0L)
  }

  test("isFresh: matches the written corpus, flips on any total change") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    assert(!CorpusSink.isFresh(spark, dir, 1, 1, 1), "no manifest yet")
    CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4)
    val st = docs.agg(count(lit(1)), sum($"n_chars".cast("long")),
      sum(rowHash) % 4294967296L).head()
    val (n, w, h) = (st.getLong(0), st.getLong(1), st.getLong(2))
    assert(CorpusSink.isFresh(spark, dir, n, w, h))
    assert(!CorpusSink.isFresh(spark, dir, n + 1, w, h))
    assert(!CorpusSink.isFresh(spark, dir, n, w - 1, h))
    assert(!CorpusSink.isFresh(spark, dir, n, w, (h + 1) % 4294967296L))
  }

  test("appendBatch: two appends hold the full corpus; manifest self-verifies") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    val (a, b) = (docs.filter($"doc_id" < 80), docs.filter($"doc_id" >= 80))
    val m1 = CorpusSink.appendBatch(a, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4).collect()
    val m2 = CorpusSink.appendBatch(b, "doc_id", "n_chars", rowHash,
      budget = 16000L, dir = dir, parts = 4).collect()
    assert(m1.nonEmpty && m2.nonEmpty)
    // batch-2 shard ids continue strictly after batch-1's
    val max1 = m1.map(_.getLong(0)).max
    assert(m2.map(_.getLong(0)).min == max1 + 1,
      "appended shards must continue after the existing max id")
    // shards are write-once: batch 1's files are untouched by batch 2
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").distinct().count() == docs.count())
    // the persisted manifest equals the file-derived manifest (self-verify)
    val persisted = CorpusSink.manifestFrame(spark, dir)
      .orderBy($"shard_id").collect().map(_.toSeq).toSeq
    val derived = CorpusSink.manifestOf(spark, dir, "n_chars", rowHash)
      .collect().map(_.toSeq).toSeq
    assert(persisted == derived)
    // zone-map range reads still prune correctly across appended shards
    val r = CorpusSink.readRange(spark, dir, "doc_id", 70, 90)
    assert(r.select("doc_id").as[Long].collect().sorted.toSeq ==
      docs.filter($"doc_id".between(70, 90)).select($"doc_id".cast("long"))
        .as[Long].collect().sorted.toSeq)
  }

  test("appendStreamBatch: a replayed micro-batch is a no-op (restart safety)") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    val (a, b) = (docs.filter($"doc_id" < 80), docs.filter($"doc_id" >= 80))
    CorpusSink.appendStreamBatch(a, 0L, "doc_id", "n_chars", rowHash,
      16000L, dir, 4)
    CorpusSink.appendStreamBatch(b, 1L, "doc_id", "n_chars", rowHash,
      16000L, dir, 4)
    val before = CorpusSink.manifestFrame(spark, dir)
      .orderBy($"shard_id").collect().map(_.toSeq).toSeq
    assert(CorpusSink.committedBatchId(dir) == 1L)
    // streaming restart replays the last batch — must not duplicate
    CorpusSink.appendStreamBatch(b, 1L, "doc_id", "n_chars", rowHash,
      16000L, dir, 4)
    val after = CorpusSink.manifestFrame(spark, dir)
      .orderBy($"shard_id").collect().map(_.toSeq).toSeq
    assert(after == before, "replayed batch must be ignored")
    assert(spark.read.parquet(dir).count() == docs.count())
    // and the full streamed corpus equals one batch write, content-wise
    val batchDir = freshDir()
    CorpusSink.write(docs, "doc_id", "n_chars", rowHash, 16000L, batchDir, 4)
    val sBack = spark.read.parquet(dir).select($"doc_id", $"text")
      .collect().map(_.toSeq).toSet
    val bBack = spark.read.parquet(batchDir).select($"doc_id", $"text")
      .collect().map(_.toSeq).toSet
    assert(sBack == bBack)
  }

  test("a shard straddling two range partitions: shard files and manifest equal the window replay") {
    val docs = Tables.documents(spark, sfSmoke)
    val (budget, parts) = (16000L, 7)
    // the assigned rows keep their range partition: some shard must span two
    val (assigned, nShards) = SizeBatch.inPlace(docs, $"doc_id".cast("long"),
      $"n_chars".cast("long"), budget, parts, "shard_id")
    val straddling = assigned.withColumn("p", spark_partition_id())
      .groupBy($"shard_id").agg(countDistinct($"p").as("np"))
      .filter($"np" > 1).count()
    assert(straddling > 0, s"no shard straddles two of $parts range partitions")
    val dir = freshDir()
    val manifest = CorpusSink.write(docs, "doc_id", "n_chars", rowHash,
      budget, dir, parts).collect().map(_.toSeq).toSeq
    // the single-reducer window formulation of the shard ids
    val replay = docs.withColumn("shard_id",
      (coalesce(sum($"n_chars".cast("long")).over(
        org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
          .rowsBetween(Long.MinValue, -1)), lit(0L)) / budget).cast("long"))
    assert(manifest.length == nShards)
    assert(manifest == replay.groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars".cast("long")).as("n_weight"),
        (sum(rowHash) % 4294967296L).as("content_hash"),
        min($"doc_id".cast("long")).as("min_id"),
        max($"doc_id".cast("long")).as("max_id"))
      .orderBy($"shard_id").collect().map(_.toSeq).toSeq)
    // each shard_id=N directory holds exactly the replay's rows of shard N,
    // in one file
    val cols = Seq("shard_id", "doc_id", "text", "lang", "source", "n_chars").map(col)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    assert(rows(spark.read.parquet(dir)) == rows(replay))
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard_id=")).foreach { sd =>
      assert(sd.listFiles().count(_.getName.endsWith(".parquet")) == 1, sd.getName)
    }
  }

  test("appendBatch onto an existing manifest runs at most 10 Spark jobs") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = freshDir()
    CorpusSink.appendBatch(docs.filter($"doc_id" < 80), "doc_id", "n_chars",
      rowHash, 16000L, dir, 4)
    // the top of the old manifest, the range exchange (its sample and map
    // jobs) and pass 1, the write exchange and its cut, the shard write,
    // the new rows' manifest cut, the rewritten manifest's cut and write
    val n = jobsOf(CorpusSink.appendBatch(docs.filter($"doc_id" >= 80),
      "doc_id", "n_chars", rowHash, 16000L, dir, 4))
    assert(n <= 10, s"one appendBatch ran $n Spark jobs")
    assert(CorpusSink.manifestFrame(spark, dir).count() ==
      CorpusSink.manifestOf(spark, dir, "n_chars", rowHash).count())
  }
}
