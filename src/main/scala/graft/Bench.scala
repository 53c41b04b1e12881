package graft

import scala.jdk.CollectionConverters._

/** Benchmark main — driver contract: ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * A warmup pass (flagship tables + one tiny query) runs before timing so
  * JVM/codegen/file-listing startup is not attributed to whichever query
  * happens to run first; queries then run in sorted-name order for
  * run-to-run comparability.
  *
  * Each query's time is the min of two passes. Data caches are dropped
  * between queries, but generated code is not: the JVM's codegen cache
  * holds the whole bench's classes (build.sbt), so pass 2 may find a
  * query's classes resident and compile none. BENCH_FULL's `codegen` map
  * holds the classes each query compiled in each pass.
  */
object Bench {
  /** 1-minute loadavg via the JVM's own OS bean (getloadavg(3)); -1.0 when
    * the platform can't report one. Emitted into the bench JSON so a run
    * taken under external host load is self-identifying (r12-r14 all had
    * judge-window runs 1.5-2x the quiet number with nothing in the
    * artifact to say why). */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** One run of a query: its wall seconds, or the message of what it
    * threw. A failed run is never a timing. */
  private[graft] def timeQuery(run: () => Any): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { run(); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e.toString) }
  }

  /** Passes → (timed, failed) in first-seen order: a query that ran in every
    * pass keeps its min time, one that failed in any keeps its first message. */
  private[graft] def merge(passes: Seq[Seq[(String, Either[String, Double])]])
      : (Seq[(String, Double)], Seq[(String, String)]) = {
    val byName = passes.flatten.groupMap(_._1)(_._2)
    val (ok, bad) = passes.flatten.map(_._1).distinct.map(n => n -> byName(n))
      .partition(_._2.forall(_.isRight))
    (ok.map { case (n, os) => n -> os.flatMap(_.toOption).min },
     bad.map { case (n, os) => n -> os.collectFirst { case Left(m) => m }.get })
  }

  /** `{"name":"message",...}` in first-seen order. */
  private[graft] def failedJson(failed: Seq[(String, String)]): String = {
    val m = new java.util.LinkedHashMap[String, String]()
    failed.foreach { case (k, v) => m.put(k, v) }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val loadStart = loadAvg()
    val spark = Harness.session()

    // warmup: touch every table (schema + listing caches) and run one
    // small query end-to-end (codegen + shuffle machinery)
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.load(spark, sfDir, t).count())
    graft.queries.Relational.q01PricingSummary(spark, sfDir).count()
    // streaming machinery warmup (micro-batch planner, state store,
    // checkpoint IO classes) over the tiny region table, so the one real
    // streaming query isn't billed for JVM-wide first-touch costs
    locally {
      val ck = java.nio.file.Files.createTempDirectory("graft_bench_wu").toString
      val wq = spark.readStream
        .schema(Tables.load(spark, sfDir, "region").schema)
        .option("pathGlobFilter", "region.parquet").parquet(sfDir)
        .groupBy("r_regionkey").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ck)
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      wq.awaitTermination()
    }

    // Two full passes, per-query MIN: a single-shot timing conflates engine
    // cost with whatever else the host is doing that second (observed >5x
    // inflation on individual queries under external load); the min of two
    // independent runs estimates steady-state cost while still paying every
    // query's real IO/shuffle work each pass (data caches are dropped
    // between queries, so pass 2 is not a warm-cache replay; generated
    // code stays resident, see above).
    // optional arg: comma-separated name substrings — bench a subset while
    // iterating locally (the driver invokes with no args)
    val only: Option[Seq[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSeq) else None
    // one timed run, then drop intra-query caches (dedup/similarity persist
    // intermediates consumed multiple times within one plan) so
    // storage-memory residue from query N can't distort query N+1's timing;
    // each run's compiled-class count goes to BENCH_FULL's "codegen" map
    val codegen = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    def timed(name: String)(run: () => Any): (String, Either[String, Double]) = {
      val c0 = Harness.compiledClasses()
      val outcome = timeQuery(run)
      codegen(name) = codegen.getOrElse(name, Nil) :+ (Harness.compiledClasses() - c0)
      Harness.release(spark)
      name -> outcome
    }
    def pass() =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.exists(name.contains)) }
        .map { case (name, fn) => timed(name)(() => fn(spark, sfDir).count()) }
    val passes = Seq(pass(), pass())
    // flagship raster pipeline (E2→E3→E1, ~110 synthetic 1° tiles,
    // 24 16-day periods × 7 bands): tracked like the queries so the
    // mosaic path has a bench number, not just specs. Fresh store per
    // run; min of two, like the query passes. Skipped under a subset
    // filter unless asked for by name.
    def mosaicRun() = {
      val cfg = graft.pipelines.MosaicPipeline.Config(
        graft.model.Envelope(-5.5, 40.2, 4.3, 50.8), // 10×11 = 110 tiles
        Seq(java.sql.Timestamp.valueOf("2021-06-15 00:00:00")),
        graft.model.AnnualMeanDataset,
        java.nio.file.Files.createTempDirectory("graft_bench_mosaic").toString, chunkPx = 16)
      timed("mosaic_pipeline_110tiles") { () =>
        val (cube, _, _) = graft.pipelines.MosaicPipeline.run(spark, cfg)
        require(cube.count() > 0, "mosaic pipeline produced no chunks")
      }
    }
    val mosaic = if (only.forall(_.exists("mosaic_pipeline".contains(_))))
      Seq.fill(2)(Seq(mosaicRun())) else Nil
    val (results, failed) = merge(passes ++ mosaic)
    failed.foreach { case (name, msg) => System.err.println(s"Bench: $name failed: $msg") }
    // The driver keeps only the LAST ~1.9 KB of stdout before parsing, so a
    // 235-key JSON line loses its head and records parsed:null (r06, r09).
    // Emit the FULL per-query map to BENCH_FULL.json in the repo, and print
    // a compact final line — total over ALL timed queries + a FIXED
    // headline subset (stable keys for round-over-round comparison) sized
    // well under the capture buffer. Failed queries carry no time: they
    // are listed with their messages under BENCH_FULL's "failed" only.
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // load indicator: 1-min loadavg at start/end plus this JVM's total CPU
    // seconds — wall >> cpu/cores on a quiet run is IO; wall inflated with
    // loadavg >> cores engaged by the bench means external contention and
    // the run should not be compared against quiet numbers
    // (SCALEBENCH threshold: loadavg beyond ~1.5x SPARK_GRAFT_CPUS at
    // either endpoint marks a run "loaded")
    val loadEnd = loadAvg()
    val cpuSec = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
    val loadJson =
      s""""load_start":${fmt(loadStart)},"load_end":${fmt(loadEnd)},"cpu_sec":${fmt(cpuSec)}"""
    // generated-code footprint: classes compiled per query and pass, and
    // the Metaspace the loaded classes hold at the end of the run
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.find(_.getName == "Metaspace").fold(-1.0)(_.getUsage.getUsed / 1048576.0)
    val codegenJson = codegen.map { case (k, ns) => "\"" + k + "\":" + ns.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},$loadJson,"metaspace_mb":${fmt(metaspaceMb)},"queries":${jsonMap(results)},"codegen":$codegenJson,"failed":${failedJson(failed)},"sf":"$sfDir"}"""
    // CWD-relative (or env-overridden) so any checkout gets the file, and
    // named by core count so a run at one width keeps another's record; a
    // failed write is logged, not swallowed — the stdout line advertises it
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", s"BENCH_FULL_c${Harness.cpus}.json"))
      .toAbsolutePath
    scala.util.Try(java.nio.file.Files.write(
      fullPath, (full + "\n").getBytes("utf-8"))) match {
      case scala.util.Failure(e) =>
        System.err.println(s"Bench: could not write $fullPath: $e")
      case _ => ()
    }
    // fixed headline set: the flagship relational/dedup/ANN/stream/curation
    // heavies plus the named perf-watch queries — 47 keys ≈ 1.2 KB.
    // q109/q116 watch the duplicate-collapse consumers; q225/q236 watch
    // the radix-percentile and BPE-training paths; q238-q244 watch the
    // model-training loops (the rows most sensitive to ScratchCache/
    // persist behavior changes) round-over-round.
    val headline = Set(
      "q238_quality_regression", "q239_kmeans_train", "q240_pca_spectrum",
      "q241_ols_probe", "q242_crossval", "q243_boosted_stumps",
      "q244_gmm_em",
      "q01_pricing_summary", "q16_required_scenes", "q21_coarsen",
      "q27_ngram_jaccard", "q28_minhash_lsh", "q29_simhash",
      "q30_embedding_neardup", "q34_stream_window", "q50_stream_join",
      "q51_dedup_groups", "q52_incremental_dedup", "q58_substring_dedup",
      "q62_cardinality", "q69_profile", "q74_tfidf", "q82_decile_stats",
      "q90_merge_upsert", "q93_pagerank", "q104_semdedup",
      "q106_max_concurrent", "q109_leakage_split", "q111_perplexity",
      "q113_curriculum", "q115_dedup_survivors", "q116_containment",
      "q119_bpe_pairs", "q122_curation_funnel",
      "q128_cluster_sizes", "q133_dedup_policy_impact", "q144_incremental_curation",
      "q148_stream_chunk_dedup", "q154_lm_filter", "q162_streamed_sink",
      "q166_matryoshka", "q173_ccnet_buckets", "q192_basket_lift",
      "q195_blame_supplier", "q225_rfm_segments", "q236_bpe_train",
      "mosaic_pipeline_110tiles")
    val head = results.filter { case (k, _) => headline(k) }
    // stop FIRST so Spark's shutdown chatter can't land after the JSON
    // line — the driver parses the last line of stdout; a throwing stop
    // must not suppress the result line
    scala.util.Try(spark.stop())
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"full":"$fullPath",$loadJson,"queries":${jsonMap(head)},"sf":"$sfDir"}""")
  }
}
