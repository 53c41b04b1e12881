package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.ops.ScratchCache

/** What every workload shares: the session, the generated inputs and the
  * checked op runner. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: Path,
                     expected: Map[String, Digest.Result], seed: Long, runner: Runner) {
  /** Drop operator scratch and cached frames between ops: both are
    * process-global, so one op's residue would otherwise tax the next. */
  def release(): Unit = {
    ScratchCache.releaseAll()
    spark.catalog.clearCache()
  }
}

trait Workload {
  def name: String
  /** Unit of `work` per pass: docs or chunks. */
  def unit: String
  def work: Double
  /** Untimed passes before the timed ones: first-touch codegen, JIT and
    * any per-workload state belong to set-up. */
  def warmup: Int
  /** Input sizes the harness itself generates, for the detail record. */
  def inputs: Map[String, Double] = Map.empty
  /** One pass over the workload's ops, each timed and checked. With a
    * tracer (the traced replay), each run of an op is inside its span. */
  def pass(i: Int, tracer: Option[Tracer] = None): Seq[OpRecord]
  /** The traced run's layer calls: every module call in a span, plus the
    * layer metrics only this workload can measure. `replay` is the traced
    * replay of a timed pass. */
  def layers(t: Tracer, replay: Seq[OpRecord]): Map[String, Double]
}

object Workloads {
  val Dedup: Seq[String] = Seq("q27_ngram_jaccard", "q51_dedup_groups", "q162_streamed_sink")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "dedup" =>
      val docs = graft.Tables.documents(ctx.spark, ctx.dataDir).count().toDouble
      new DedupWorkload(ctx, docs)
    case "mosaic_resume" => new MosaicWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Run one registered query, collect its rows, and compare their digest
    * with the oracle's. */
  def queryOp(ctx: Ctx, q: String, pass: Int): OpRecord = {
    val rec = ctx.runner.run(q, pass) {
      val df = SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
      (df.schema, df.collect().toSeq)
    } { case (schema: StructType, rows: Seq[Row]) =>
      ctx.expected.get(q) match {
        case None => Some("no oracle digest")
        case Some(want) =>
          val got = Digest.of(schema, rows)
          if (got == want) None
          else Some(s"digest ${got.digest.take(12)} (${got.rows} rows) != oracle " +
            s"${want.digest.take(12)} (${want.rows} rows)")
      }
    }
    ctx.release()
    rec
  }

  /** A timed op (pass >= 0) starts from a collected heap, outside its
    * timing, so one op's garbage is not another's GC pause. */
  def timed(pass: Int)(op: => OpRecord): OpRecord = {
    if (pass >= 0) System.gc()
    op
  }

  /** `op` inside the tracer's span `name`, or bare when untraced. */
  def spanned(tracer: Option[Tracer], name: String)(op: => OpRecord): OpRecord =
    tracer.fold(op)(_.span(name)(op))

  private[perfbench] def dirStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  private[perfbench] def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}

/** The curation queries; one op is one query over `documents`. The traced
  * run also calls each kernel and operator they are built from on its own. */
final class DedupWorkload(ctx: Ctx, val work: Double) extends Workload {
  import graft.functions.TextFunctions
  import graft.ops.{BandIndex, CorpusSink, Dedup}
  val name = "dedup"
  val unit = "docs"
  val warmup = 1

  def pass(i: Int, tracer: Option[Tracer]): Seq[OpRecord] = Workloads.Dedup.map { q =>
    Workloads.timed(i)(Workloads.spanned(tracer, "queries." + q)(Workloads.queryOp(ctx, q, i)))
  }

  def layers(t: Tracer, replay: Seq[OpRecord]): Map[String, Double] = {
    val spark = ctx.spark
    val d = graft.Tables.documents(spark, ctx.dataDir)
    var scratch = 0
    def timed[A](span: String)(body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val out = t.span(span)(body)
      scratch = math.max(scratch, ScratchCache.registered)
      (out, (System.nanoTime() - t0) / 1e9)
    }
    def checksum(df: DataFrame, c: org.apache.spark.sql.Column): Long =
      df.select(bit_xor(xxhash64(c))).head().getLong(0)

    val rows = d.count().toDouble
    val (_, tokS) = timed("functions.tokens")(checksum(d, TextFunctions.tokens(col("text"))))
    val (_, shS) = timed("functions.shingle_hashes")(
      checksum(d, TextFunctions.shingleHashes(col("text"), 3)))
    val hs = d.select(TextFunctions.shingleHashes(col("text"), 3).as("hs")).persist()
    hs.count()
    val (_, mhS) = timed("functions.minhash_sig")(
      checksum(hs, TextFunctions.minhashSignature(col("hs"), 64)))
    hs.unpersist()

    val (jac, jacS) = timed("ops.jaccard_pairs")(
      Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.7).collect())
    ctx.release()
    val (_, conS) = timed("ops.containment")(
      Dedup.containmentPairs(d, "doc_id", "text", 3, 0.8).collect())
    ctx.release()
    val (cands, _) = timed("ops.lsh_candidates")(
      Dedup.minhashCandidates(d, "doc_id", "text", 3, 64, 2).count())
    ctx.release()
    val (lsh, mhpS) = timed("ops.minhash_pairs")(
      Dedup.minhashDedupPairs(d, "doc_id", "text", 3, 0.7).collect())
    ctx.release()

    val pairs = spark.createDataFrame(spark.sparkContext.parallelize(jac.toSeq),
      jac.headOption.map(_.schema).getOrElse(
        Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.7).schema)).persist()
    pairs.count()
    val (cc, ccS) = timed("ops.cc")(
      Dedup.connectedComponents(pairs, "id_a", "id_b").collect())
    val components = cc.map(_.get(1)).distinct.length
    pairs.unpersist()
    ctx.release()

    val scratchDir = Files.createTempDirectory(ctx.workDir, "dedup-layers")
    val cut = (rows * 0.8).toLong
    val (ref, bibS) = timed("ops.band_index_build")(BandIndex.build(
      d.filter(col("doc_id") < cut), "doc_id", "text", scratchDir.resolve("index").toString))
    ctx.release()
    val (_, bipS) = timed("ops.band_index_probe")(BandIndex.probe(spark, ref,
      d.filter(col("doc_id") >= cut), "doc_id", "text", 0.7).collect())
    ctx.release()
    val sink = scratchDir.resolve("sink")
    val rowHash = graft.functions.TextFunctions.polyHash(
      concat_ws("|", col("doc_id"), col("text")))
    val (_, sinkS) = timed("ops.sink_append")(CorpusSink.appendBatch(
      d, "doc_id", "n_chars", rowHash, 16000L, sink.toString, 8).collect())
    ctx.release()
    val (sinkFiles, sinkBytes) = Workloads.dirStats(sink)
    Workloads.deleteTree(scratchDir)

    replay.map(r => s"queries.${r.name}_s" -> r.seconds.getOrElse(0.0)).toMap ++ Map(
      "functions.tokens_s" -> tokS, "functions.shingle_hashes_s" -> shS,
      "functions.minhash_sig_s" -> mhS, "functions.rows" -> rows,
      "ops.jaccard_pairs_s" -> jacS, "ops.minhash_pairs_s" -> mhpS,
      "ops.containment_s" -> conS, "ops.cc_s" -> ccS,
      "ops.band_index_build_s" -> bibS, "ops.band_index_probe_s" -> bipS,
      "ops.sink_append_s" -> sinkS,
      "ops.lsh_candidates" -> cands.toDouble, "ops.lsh_pairs" -> lsh.length.toDouble,
      "ops.lsh_precision" -> (if (cands > 0) lsh.length.toDouble / cands else 0.0),
      "ops.cc_components" -> components.toDouble,
      "ops.sink_files" -> sinkFiles.toDouble, "ops.sink_mb" -> sinkBytes / 1048576.0,
      "ops.scratch_frames" -> scratch.toDouble)
  }
}
