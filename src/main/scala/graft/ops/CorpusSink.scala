package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sharded training-corpus sink — the last mile of the curation funnel:
  * write a curated document set as SIZE-BOUNDED parquet shards with a
  * deterministic, self-verifying manifest. (The LLM-side sibling of the
  * COG/Zarr sinks; reference sinks are raster-only — its tabular
  * artifacts stay inside the orchestrator, `flyte/build.py:179-228`.)
  *
  * Design:
  *  - Shard assignment is [[SizeBatch]]'s two-pass distributed prefix
  *    sum over the ordering key — bit-identical to the single-reducer
  *    `sum(w) OVER (ORDER BY key)` formulation but with NO global
  *    window, so ids are stable across reruns, partitionings, and
  *    cluster layouts (a training run can cite "shard 17" forever).
  *    The rows themselves are range-partitioned and get their shard_id
  *    in the prefix-sum walk: no side table is joined back onto them.
  *  - One parquet file per shard: rows hash-repartition on shard_id
  *    (all rows of a shard land in one task), are cut once (one local
  *    checkpoint that keeps that partitioning), and `partitionBy` writes
  *    each shard to its own `shard_id=N/` directory via Spark's file
  *    committer (driver-coordinated temp + rename — the idempotence the
  *    Zarr writers hand-roll because they bypass the committer).
  *    `SaveMode.Overwrite` makes re-runs replace, not duplicate.
  *    The cut is a local checkpoint: its blocks live on the executors and
  *    lineage cannot recompute them, so an executor lost while a batch is
  *    written fails the batch where a persisted frame would recompute the
  *    lost rows. Lost before the shard write commits, nothing is on disk;
  *    lost after it and before the manifest write, the new shards are on
  *    disk but not in the manifest, the state any failed manifest write
  *    leaves (`manifestOf` re-derives the manifest from the shards).
  *  - The manifest — (shard_id, n_docs, weight sum, content_hash) — is
  *    aggregated from the SAME cut that fed the writes, with no exchange;
  *    content_hash is the order-independent sum-of-row-hashes mod 2³²
  *    (the q38 table-fingerprint form), so a reader can re-derive and
  *    check it from the shard files alone. Per-shard row counts are
  *    bounded by budget/min-weight; the int64 hash sum is safe below
  *    ~2³¹ rows per shard (raise `budget` granularity past that).
  */
object CorpusSink {

  /** Name of the hidden manifest directory under the sink root. The `_`
    * prefix keeps Spark's (and parquet's) path filters from reading it as
    * data, so `spark.read.parquet(dir)` still sees only the shards. */
  val ManifestDir = "_manifest"

  /** The persisted manifest's columns, all BIGINT: read with this schema a
    * manifest costs no schema-inference job. */
  val ManifestSchema: StructType = StructType(
    Seq("shard_id", "n_docs", "n_weight", "content_hash", "min_id", "max_id")
      .map(StructField(_, LongType)))

  /** Write-exchange width: ~one task per shard (each task writes whole
    * shard files — hash partitioning on shard_id never splits one), capped
    * at the session's shuffle width so a 100 TB sink (millions of shards)
    * doesn't schedule millions of tiny tasks — past the cap each task just
    * writes several shard files. Scale-adaptive via conf, never a
    * constant. */
  private def shardWriteParts(spark: SparkSession, nShards: Long): Int =
    math.max(1L, math.min(nShards,
      spark.sessionState.conf.numShufflePartitions.toLong)).toInt

  // content_hash is BIGINT sum(rowHash) with rowHash < 2³²: it wraps past
  // ~2³¹ rows per shard, where the DuckDB HUGEINT oracle would diverge.
  // ENFORCE the bound instead of documenting it: weights are checked ≥ 1
  // per row (runtime raise_error in the assignment scan, never pruned — it
  // feeds the prefix sum), so n_docs per shard ≤ shard weight ≤ budget +
  // w_max, and budget < 2³¹ − 1 keeps the sum exact.
  private def requireBudget(budget: Long): Unit =
    require(budget < (1L << 31) - 1,
      s"shard budget $budget must stay below 2^31-1 so sum(rowHash) cannot wrap")

  private def checkedWeight(idCol: String, weightCol: String): Column =
    when(col(weightCol).cast("long") >= 1L, col(weightCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"CorpusSink: weight '$weightCol' must be >= 1, got "),
        col(weightCol).cast("string"), lit(" for id "),
        col(idCol).cast("string"))).cast("long"))

  /** Write `docs` as budget-bounded shards under `dir`; return the
    * manifest (shard_id, n_docs, n_weight, content_hash, min_id, max_id),
    * ordered.
    *
    * @param docs     input frame; must contain `idCol` (distinct BIGINT
    *                 ordering key) and `weightCol` (BIGINT size proxy:
    *                 chars, bytes, token count)
    * @param rowHash  per-row content hash expression (BIGINT in [0,2³²))
    * @param budget   max total weight per shard (prefix-sum semantics:
    *                 a shard closes when cumulative weight crosses it)
    * @param parts    range-exchange width for the assignment pass
    */
  def write(docs: DataFrame, idCol: String, weightCol: String,
            rowHash: Column, budget: Long, dir: String,
            parts: Int): DataFrame = {
    requireBudget(budget)
    val (assigned, nShards) = SizeBatch.inPlace(docs, col(idCol).cast("long"),
      checkedWeight(idCol, weightCol), budget, parts, "shard_id")
    writeShards(assigned, nShards, idCol, weightCol, rowHash, dir,
      SaveMode.Overwrite, old = None)
  }

  /** The shard files and the manifest of `assigned` (the rows with their
    * `shard_id`, `nShards` distinct ids) under `dir`; the manifest written
    * is `old` ∪ the new shards' rows, and is returned as one sorted
    * partition. */
  private def writeShards(assigned: DataFrame, nShards: Long, idCol: String,
                          weightCol: String, rowHash: Column, dir: String,
                          mode: SaveMode, old: Option[DataFrame]): DataFrame = {
    // cut: the write and the manifest aggregate both read these rows,
    // hash-partitioned on shard_id (a shard can straddle two range
    // partitions; here all its rows are in one task, so it is one file)
    // and sorted, with no exchange. The explicit width also keeps AQE from
    // coalescing the exchange into one task that writes every shard file
    // serially.
    val rows = ScratchCache.cut(assigned
      .repartition(shardWriteParts(assigned.sparkSession, nShards), col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol)))
    rows.write.mode(mode).partitionBy("shard_id").parquet(dir)
    // cut: aggregated here in parallel (the coalesce below would
    // otherwise pull the whole aggregation into its one task)
    val newRows = ScratchCache.cut(rows
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("n_weight"),
        (sum(rowHash) % 4294967296L).as("content_hash"),
        min(col(idCol).cast("long")).as("min_id"),
        max(col(idCol).cast("long")).as("max_id")))
    ScratchCache.free(rows)
    // persist the manifest next to the shards (hidden dir): min_id/max_id
    // are ZONE MAPS — shard assignment is the prefix sum over idCol order,
    // so shards hold contiguous id ranges and a range predicate prunes to
    // the overlapping shards without touching the rest (readRange below).
    // One local sort of one partition orders old ∪ new: no range
    // exchange. Cut: the new manifest reads the old manifest files it
    // overwrites.
    val manifest = ScratchCache.cut(old.fold(newRows)(_.unionByName(newRows))
      .coalesce(1).sortWithinPartitions(col("shard_id")))
    ScratchCache.free(newRows)
    manifest.write.mode(SaveMode.Overwrite)
      .parquet(new java.io.File(dir, ManifestDir).toString)
    manifest
  }

  /** Cheap staleness test for an existing sink dir: the manifest's
    * totals (doc count, weight, content-hash sum mod 2³²) are compared
    * against the caller's freshly-computed corpus totals — one tiny
    * manifest aggregate, no shard file touched. Per-shard hash sums fold
    * to the corpus total under the modulus, so any row added, dropped, or
    * altered flips the comparison. Callers that re-run a pipeline over an
    * unchanged corpus can skip the rewrite entirely (write → read-many is
    * the economic shape of a training-corpus sink). */
  def isFresh(spark: SparkSession, dir: String,
              nDocs: Long, nWeight: Long, hashMod: Long): Boolean = {
    val m = new java.io.File(dir, ManifestDir)
    if (!m.isDirectory) return false
    try {
      val r = manifestFrame(spark, dir)
        .agg(sum(col("n_docs")), sum(col("n_weight")),
          sum(col("content_hash")) % 4294967296L)
        .head()
      !r.isNullAt(0) && r.getLong(0) == nDocs && r.getLong(1) == nWeight &&
        r.getLong(2) == hashMod
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** The persisted manifest, read with [[ManifestSchema]]. Read via an
    * explicit part-file glob: the `_`-prefixed dir as a TOP path trips
    * Spark's non-data filter into a spurious "all paths were ignored"
    * warning; the part files inside are ordinary names. */
  def manifestFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(ManifestSchema).parquet(
      new java.io.File(dir, ManifestDir).toString + "/*.parquet")

  /** Zone-map-pruned range read: open ONLY the shards whose [min_id,
    * max_id] manifest range overlaps [lo, hi], then apply the exact
    * residual filter. At 100 TB this is the difference between touching
    * the whole corpus and touching |range|/budget shard files — the same
    * file-skipping contract a lakehouse gets from parquet footer stats,
    * but driven by the sink's own manifest, so it holds on ANY object
    * store without footer round-trips. The collected shard list is
    * bounded by the RANGE width (range/budget entries), not corpus size. */
  def readRange(spark: SparkSession, dir: String,
                idCol: String, lo: Long, hi: Long): DataFrame = {
    val shards = manifestFrame(spark, dir)
      .filter(col("min_id") <= hi && col("max_id") >= lo)
      .select(col("shard_id").cast("long")).collect().map(_.getLong(0))
    if (shards.isEmpty)
      return spark.read.option("basePath", dir).parquet(dir)
        .filter(lit(false))
    spark.read.option("basePath", dir)
      .parquet(shards.map(s => s"$dir/shard_id=$s"): _*)
      .filter(col(idCol).cast("long").between(lo, hi))
  }

  /** Append a micro-batch of curated docs as NEW shards after the
    * existing ones — the STREAMING last mile: a crawl feed drains into
    * the same one-file-per-shard + self-verifying-manifest layout the
    * batch `write` produces, without ever rewriting a closed shard
    * (write-once shards are what lets a training run cite them forever).
    * Shard ids continue from the manifest's max; each batch closes its
    * final (possibly underfull) shard — the deliberate trade for
    * append-only (a compaction pass can rewrite tails offline). The
    * manifest is tiny and rewritten whole (old ∪ new) via the committer.
    * Returns the NEW manifest rows, ordered. */
  def appendBatch(batch: DataFrame, idCol: String, weightCol: String,
                  rowHash: Column, budget: Long, dir: String,
                  parts: Int): DataFrame = {
    val spark = batch.sparkSession
    requireBudget(budget)
    // test for manifest FILES, not the directory: an empty micro-batch's
    // commit marker (appendStreamBatch) creates _manifest/ without any
    // manifest parquet, and a directory-existence test would then send
    // every subsequent append into a failing manifest read — empty
    // triggers happen routinely on a live stream
    val hasManifest = {
      val m = new java.io.File(dir, ManifestDir)
      m.isDirectory && m.listFiles().exists(_.getName.endsWith(".parquet"))
    }
    val old = if (hasManifest) Some(manifestFrame(spark, dir)) else None
    // the top of the old manifest's ids: one job, no exchange
    val start = old.flatMap(_.select(col("shard_id"))
      .orderBy(col("shard_id").desc).take(1).headOption)
      .fold(0L)(_.getLong(0) + 1L)
    // pass 1 of the assignment reads off the batch's shard count, so an
    // empty batch stops here and the write exchange gets an explicit width
    val (assigned, nShards) = SizeBatch.inPlace(batch, col(idCol).cast("long"),
      checkedWeight(idCol, weightCol), budget, parts, "shard_id")
    if (nShards == 0L) return spark.emptyDataFrame
    writeShards(assigned.withColumn("shard_id", col("shard_id") + start),
        nShards, idCol, weightCol, rowHash, dir, SaveMode.Append, old)
      .filter(col("shard_id") >= start)
  }

  /** foreachBatch adapter with an at-most-once guard per micro-batch:
    * Structured Streaming REPLAYS the last uncommitted batch on restart,
    * so the sink records the highest appended batchId (temp + atomic
    * rename beside the manifest) and ignores batches at or below it —
    * append + commit-marker makes the replay a no-op instead of a
    * duplicate shard set.
    *
    * {{{
    * stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   CorpusSink.appendStreamBatch(b, id, "doc_id", "n_chars", h, 4096, dir, 8)
    * }
    * }}} */
  def appendStreamBatch(batch: DataFrame, batchId: Long, idCol: String,
                        weightCol: String, rowHash: Column, budget: Long,
                        dir: String, parts: Int): Unit = {
    if (batchId <= committedBatchId(dir)) return
    appendBatch(batch, idCol, weightCol, rowHash, budget, dir, parts)
    val f = new java.io.File(new java.io.File(dir, ManifestDir), "_committed_batch")
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(f.getParentFile, s"._committed_batch.tmp")
    java.nio.file.Files.write(tmp.toPath,
      batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Highest micro-batch id already appended to `dir` (−1 if none). */
  def committedBatchId(dir: String): Long = {
    val f = new java.io.File(new java.io.File(dir, ManifestDir), "_committed_batch")
    if (!f.isFile) -1L
    else new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** Recompute the manifest from an already-written shard directory —
    * the verification side of the contract: equality with the writer's
    * returned manifest proves the files on disk are complete and
    * uncorrupted (shard dirs recover shard_id from partition pruning's
    * directory layout; nothing is re-shuffled except the tiny per-shard
    * aggregate). */
  def manifestOf(spark: SparkSession, dir: String,
                 weightCol: String, rowHash: Column,
                 idCol: String = "doc_id"): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("long")).as("n_weight"),
        (sum(rowHash) % 4294967296L).as("content_hash"),
        min(col(idCol).cast("long")).as("min_id"),
        max(col(idCol).cast("long")).as("max_id"))
      .orderBy(col("shard_id"))
}
