package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted MinHash band index — the corpus half of incremental near-dup
  * detection, saved once and probed per batch.
  *
  * Re-running `Dedup.minhashDedupPairs` over corpus ∪ batch recomputes
  * the CORPUS signatures and self-joins the whole corpus on every batch:
  * the right answer for a one-shot job, O(N) wasted work per batch for a
  * growing corpus. This op factors the corpus pass out into two parquet
  * tables under `path`:
  *
  *   bands/   (doc_id, key)     — one row per (doc, band bucket); the
  *                                probe side of the candidate equi-join
  *   sets/    (doc_id, shingles)— the exact-verification universe
  *   index.json                 — (k, nHashes, rowsPerBand) so a probe
  *                                with mismatched parameters fails fast
  *                                instead of silently missing candidates
  *
  * Probe cost per batch of B docs: shingle+sign the BATCH only (O(B)),
  * one banded candidate join against the stored bands
  * (`Dedup.bandCandidates`, hot-band guard included), exact verification
  * of the candidates — the corpus text is never re-read. `append` then
  * folds the batch into the index (one O(B) write), keeping the index
  * current for the next batch: the corpus-growth flow of a 100 TB ingest
  * pipeline.
  * Both tables stay DataFrames end to end; nothing corpus-sized crosses
  * the driver.
  */
object BandIndex {

  final case class Ref(path: String, k: Int, nHashes: Int, rowsPerBand: Int)

  private def metaJson(r: Ref): String =
    s"""{"k":${r.k},"nHashes":${r.nHashes},"rowsPerBand":${r.rowsPerBand}}"""

  /** One pass over the corpus: shingle sets + banded signature keys →
    * parquet. Returns the reusable index handle. */
  def build(df: DataFrame, id: String, text: String, path: String,
            k: Int = 3, nHashes: Int = 64, rowsPerBand: Int = 2): Ref = {
    val ref = Ref(path, k, nHashes, rowsPerBand)
    // sets are written AND banded from one cached shingle pass
    val sets = ScratchCache.register(
      Dedup.shingleSets(df, id, text, k).persist())
    sets.write.mode("overwrite").parquet(path + "/sets")
    bandFrame(sets, ref).write.mode("overwrite").parquet(path + "/bands")
    Files.writeString(Paths.get(path, "index.json"), metaJson(ref))
    ref
  }

  def load(path: String): Ref = {
    val m = graft.model.Json.parseObject(
      Files.readString(Paths.get(path, "index.json")))
    Ref(path, m("k").asInstanceOf[Double].toInt,
      m("nHashes").asInstanceOf[Double].toInt,
      m("rowsPerBand").asInstanceOf[Double].toInt)
  }

  private def bandFrame(sets: DataFrame, ref: Ref): DataFrame =
    Dedup.bandKeys(Dedup.signatures(sets, ref.nHashes), ref.nHashes,
      ref.rowsPerBand)

  /** Near-dup pairs between `batch` and the indexed corpus (plus within
    * the batch itself) — output identical to `Dedup.minhashDedupPairs`
    * over corpus ∪ batch filtered to pairs touching the batch
    * (spec-asserted), but the corpus side reads the saved index: no
    * corpus re-shingling. Batch ids must be disjoint from corpus ids (the
    * ingest contract). */
  def probe(spark: SparkSession, ref: Ref, batch: DataFrame, id: String,
            text: String, threshold: Double): DataFrame = {
    val batchSets = ScratchCache.register(
      Dedup.shingleSets(batch, id, text, ref.k).persist())
    val newBands = bandFrame(batchSets, ref)
    // candidate = batch × (corpus ∪ batch) band collisions
    val cands = Dedup.minhashCandidatePairs(
      spark.read.parquet(ref.path + "/bands").unionByName(newBands),
      Dedup.Probe.New(newBands))
    // verification universe: stored corpus sets ∪ the batch's fresh sets
    val sets = spark.read.parquet(ref.path + "/sets").unionByName(batchSets)
    Dedup.verifyJaccard(cands, sets, threshold)
  }

  /** Fold a deduped batch into the index (append-only parquet writes) so
    * the next batch probes against the grown corpus. */
  def append(spark: SparkSession, ref: Ref, batch: DataFrame, id: String,
             text: String): Unit = {
    val batchSets = ScratchCache.register(
      Dedup.shingleSets(batch, id, text, ref.k).persist())
    batchSets.write.mode("append").parquet(ref.path + "/sets")
    bandFrame(batchSets, ref).write.mode("append").parquet(ref.path + "/bands")
  }

  /** Rewrite bands/ and sets/ into size-targeted files. `append` is
    * deliberately append-only (one cheap write per batch), so a steady
    * drip of small batches fragments the parquet into one-file-per-batch
    * slivers and probe-side scan planning degrades with file count.
    * Compaction is the standard log-structured answer: read each table,
    * coalesce to ceil(bytes / targetFileBytes) files, write beside the
    * live table, then swap directories — crash-safe in the rename-based
    * sense (the live table is replaced only after the rewrite completed;
    * a crash mid-rewrite leaves the original intact plus a stale *_tmp
    * to garbage-collect). Probe results are identical pre/post
    * (spec-asserted): compaction changes layout, never content. */
  def compact(spark: SparkSession, ref: Ref,
              targetFileBytes: Long = 64L << 20): Unit = {
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(q => Files.deleteIfExists(q))
    for (table <- Seq("sets", "bands")) {
      val dir = Paths.get(ref.path, table)
      val tmp = Paths.get(ref.path, table + "_tmp")
      val old = Paths.get(ref.path, table + "_old")
      // a previous crashed compaction may have left stale generations:
      // clear them first so the swap's moves cannot fail on residue
      rmTree(tmp); rmTree(old)
      val bytes = Files.walk(dir).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      spark.read.parquet(dir.toString)
        .repartition(nFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      Files.move(dir, old)
      Files.move(tmp, dir)
      rmTree(old) // best-effort GC of the replaced generation
    }
  }
}
