package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import graft.ops.PlanGuard
import graft.queries.{Relational, Temporal}

/** Shuffle-budget audit: the plan shapes that matter at 100 TB, asserted
  * on the pre-AQE physical plan. A regression that adds an Exchange to
  * these is a scale bug even when results stay correct. */
class PlanAuditSpec extends AnyFunSuite with SparkSpecBase {

  // sparkPlan predates EnsureRequirements (no Exchanges yet); match and
  // count on the executedPlan, which includes the AQE initial plan — counts
  // from its digest, whose walk covers every operator the rendering shows
  private def planStr(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
  // keyed and funnelling shuffles; round-robin repartitions are not counted
  private def shuffles(df: DataFrame): Int = {
    val exchanges = PlanGuard.digest(df).exchanges
    Seq("hash", "range", "single").map(exchanges.getOrElse(_, 0)).sum
  }
  private def broadcasts(df: DataFrame): Int = PlanGuard.digest(df).broadcasts

  test("q01 pricing summary: one shuffle (partial+final agg), ignoring the output sort") {
    // the ORDER BY adds a range exchange; the aggregation itself must be 1
    val noSort = Tables.lineitem(spark, sfSmoke)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(org.apache.spark.sql.functions.sum("l_quantity"))
    assert(shuffles(noSort) == 1, noSort.queryExecution.sparkPlan.toString)
  }

  test("q03 dim joins broadcast both dims; only the agg shuffles") {
    val df = Relational.q03BroadcastJoin(spark, sfSmoke)
    assert(broadcasts(df) == 2, df.queryExecution.sparkPlan.toString)
    assert(shuffles(df) <= 2, df.queryExecution.sparkPlan.toString) // agg + sort
  }

  test("scene planner is generation, not matching: broadcast only, <=2 shuffles") {
    val df = Temporal.q16RequiredScenes(spark, sfSmoke)
    // one distinct on the (tiny) period set + the output sort; the
    // tile-grid x periods expansion itself must not shuffle
    assert(shuffles(df) <= 2, df.queryExecution.sparkPlan.toString)
    assert(broadcasts(df) >= 1, df.queryExecution.sparkPlan.toString)
  }

  test("anti-join stays a broadcast/shuffle hash join, not nested loop") {
    val df = Relational.q04AntiJoin(spark, sfSmoke)
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q30 near-dup pairs: hash equi-joins only — no nested-loop, no cartesian") {
    val df = graft.queries.SimilarityQueries.q30NearDup(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup joins (q27/q28/q29) stay hash equi-joins — no nested-loop, no cartesian") {
    for (q <- Seq("q27NgramJaccard", "q28MinhashLsh", "q29Simhash")) {
      val df = q match {
        case "q27NgramJaccard" => graft.queries.DedupQueries.q27NgramJaccard(spark, sfSmoke)
        case "q28MinhashLsh"   => graft.queries.DedupQueries.q28MinhashLsh(spark, sfSmoke)
        case _                 => graft.queries.DedupQueries.q29Simhash(spark, sfSmoke)
      }
      val plan = planStr(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
    spark.catalog.clearCache() // dedup paths persist intermediates
  }

  test("q31 brute kNN ranks via partial-combining aggregate, not a window") {
    val df = graft.queries.SimilarityQueries.q31KnnBrute(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Window"), plan) // window = full corpus per query reducer
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("q42 salted aggregation: exactly the two agg shuffles plus the sort") {
    val df = graft.queries.AdvancedQueries.q42SaltedAgg(spark, sfSmoke)
    assert(shuffles(df) <= 3, df.queryExecution.sparkPlan.toString)
  }

  test("q43/q44 repetition+contamination: hash equi-joins, no nested-loop") {
    for ((n, df) <- Seq(
        "q43" -> graft.queries.TextQueries.q43Repetition(spark, sfSmoke),
        "q44" -> graft.queries.TextQueries.q44Contamination(spark, sfSmoke))) {
      val plan = planStr(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$n: $plan")
      assert(!plan.contains("CartesianProduct"), s"$n: $plan")
    }
  }

  test("q46 stratified sample: pure scan+filter — ZERO shuffles before the sort") {
    val df = graft.ops.Sampling.stratifiedSample(
      Tables.documents(spark, sfSmoke), "lang",
      org.apache.spark.sql.functions.col("text"), Map("en" -> 0.5), "s")
    assert(shuffles(df) == 0, planStr(df))
  }

  test("q58 substring dedup: linear aggregations, no index self-join") {
    val df = graft.ops.Dedup.substringPairs(
      Tables.documents(spark, sfSmoke), "doc_id", "text", 30,
      maxDf = Some(1000))
    val plan = planStr(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan) // semi-join hashes/broadcasts
    // df-count (partial+final over one exchange), semi-join probe, doc-set
    // agg (co-partitioned with the probe), pair agg — bounded exchanges
    assert(shuffles(df) <= 4, plan)
  }

  test("sketch aggregations plan as object aggregates with partial combine") {
    import spark.implicits._
    val toks = Tables.documents(spark, sfSmoke)
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text"))).as("w")).as[String]
    val mg = toks.select(
      new graft.ops.Sketches.MisraGriesAgg(64).toColumn.name("mg"))
    val plan = planStr(mg.toDF())
    // ObjectHashAggregate partial (map side) + final after one exchange:
    // each task ships ONE sketch, never the token stream
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(shuffles(mg.toDF()) == 1, plan)
  }

  test("q64 exact-k sample plans as TakeOrdered, not a global sort") {
    val df = graft.ops.Sampling.uniformSampleK(
      Tables.documents(spark, sfSmoke),
      org.apache.spark.sql.functions.col("text"),
      org.apache.spark.sql.functions.col("doc_id"), k = 100, salt = "uk1")
    val plan = planStr(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(shuffles(df) == 0, plan) // per-partition top-k + driver merge
  }

  test("q117 segment dedup: two hash shuffles + per-doc agg, no Window, no self-join") {
    val df = graft.queries.DedupQueries.q117SegmentDedup(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // hash(first-occurrence agg) + join-back + doc agg + output sort
    assert(shuffles(df) <= 5, plan)
  }

  test("q119 BPE pairs: one count shuffle then TakeOrdered — no global sort") {
    val df = graft.queries.CurationQueries.q119BpePairs(spark, sfSmoke)
    val plan = planStr(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(shuffles(df) == 1, plan)
  }

  test("q120 chunk retrieval: zero shuffles before the TakeOrdered top-k") {
    val df = graft.queries.CurationQueries.q120ChunkRetrieval(spark, sfSmoke)
    val plan = planStr(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(shuffles(df) == 0, plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q118 URL dedup: dedup-by-key aggregation + join back, hash joins only") {
    val df = graft.queries.CurationQueries.q118UrlNormalize(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q163 DSIR: literal-map lookups — the scoring pass has NO joins at all") {
    val df = graft.queries.CurationQueries.q163DsirWeights(spark, sfSmoke)
    val plan = planStr(df)
    // the 64-row bucket table folds back as element_at literal maps, so
    // the token stream never joins anything (stronger than the previous
    // broadcast-join assertion this audit replaced)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q165 phrase blocklist: fused automaton in-scan, agg + sort shuffles only") {
    val df = graft.queries.CurationQueries.q165PhraseBlocklist(spark, sfSmoke)
    val plan = planStr(df)
    assert(plan.contains("phrasematches"), plan)
    assert(shuffles(df) <= 2, plan)
  }

  test("novelty/type-loss/winnowing (q170/q174/q177): hash equi-joins only") {
    for (df <- Seq(
        graft.queries.CurationQueries.q170DocNovelty(spark, sfSmoke),
        graft.queries.CurationQueries.q174SourceTypeLoss(spark, sfSmoke),
        graft.queries.DedupQueries.q177Winnowing(spark, sfSmoke))) {
      val plan = planStr(df)
      assert(!plan.contains("CartesianProduct"), plan)
      // broadcast NLJ is fine only for the tiny totals cross join (q174)
      assert(!plan.contains("SortMergeJoin"), plan)
    }
    graft.ops.ScratchCache.releaseAll()
  }

  test("q178 growth curve: PrefixSum keeps the plan window-free") {
    val df = graft.queries.CurationQueries.q178GrowthCurve(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Window"), plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q181/q182/q184 single-scan audits: no joins, bounded shuffles") {
    for ((df, maxSh) <- Seq(
        (graft.queries.TextQueries.q181ScriptMix(spark, sfSmoke), 2),
        (graft.queries.TextQueries.q182NgramClassifier(spark, sfSmoke), 1),
        (graft.queries.DedupQueries.q184NormalizedDedup(spark, sfSmoke), 3))) {
      val plan = planStr(df)
      assert(!plan.contains("Join"), plan)
      assert(!plan.contains("Window"), plan)
      assert(shuffles(df) <= maxSh, plan) // agg (+ Expand re-agg) + sort
    }
  }

  test("q187 covariance: ONE object aggregate, no (vec,dim) self-join, no explode of data rows") {
    val df = graft.queries.SimilarityQueries.q187Covariance(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(shuffles(df) <= 2, plan) // partial->final agg + output sort
  }

  test("q188 mahalanobis: stats broadcast back, TakeOrdered tail, no dim shuffle per vector") {
    val df = graft.queries.SimilarityQueries.q188Mahalanobis(spark, sfSmoke)
    val plan = planStr(df)
    assert(broadcasts(df) >= 1, plan)
    assert(plan.contains("TakeOrdered"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(shuffles(df) <= 3, plan) // 64-group stats + 1-row assembly
  }

  test("q193 star join: dims broadcast, no cartesian, fact spine is the only wide join") {
    val df = graft.queries.Relational.q193StarJoin(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(broadcasts(df) >= 2, plan) // nation + region at minimum
  }

  test("q192 basket lift: in-row pair expansion — no self-join, freq tables broadcast") {
    val df = graft.queries.AdvancedQueries.q192BasketLift(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(broadcasts(df) >= 2, plan) // f_a, f_b (+1-row total)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q185/q186: pure aggregation pipelines — no joins at any size") {
    for (df <- Seq(
        graft.queries.CurationQueries.q185LabelModel(spark, sfSmoke),
        graft.queries.CorpusOpsQueries.q186LDiversity(spark, sfSmoke))) {
      val plan = planStr(df)
      assert(!plan.contains("Join"), plan)
      assert(!plan.contains("Window"), plan)
    }
  }

  test("q195 blame-supplier: ONE lineitem scan — the Q21 double self-join is folded into one aggregation") {
    val df = Relational.q195BlameSupplier(spark, sfSmoke)
    val plan = planStr(df)
    val factScans = "lineitem".r.findAllIn(plan).size
    assert(factScans >= 1 && "Scan parquet".r.findAllIn(plan).size <= 3,
      s"expected <=3 scans (lineitem+orders+supplier), plan:\n$plan")
    // exactly one scan may mention the lineitem path
    assert(plan.split('\n').count(l => l.contains("Scan parquet") && l.contains("lineitem")) == 1, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    // the r9 shape used two countDistincts in one agg: Spark's Expand
    // tripled every fact row before the shuffle; the (orderkey, suppkey)
    // pre-aggregate form must keep Expand out of the plan for good
    assert(!plan.contains("Expand"), plan)
  }

  test("q173 ccnet-buckets: no builtin Percentile buffer, no cut crossjoin — cuts are literals") {
    val df = graft.queries.TextQueries.q173CcnetBuckets(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.toLowerCase.contains("percentile"), plan)
    // above the cached nll frame (whose 1-row stats broadcast is a
    // deliberate NLJ) the census must be join-free: cuts arrive as
    // literals, not a crossjoined 1-row cuts frame
    val census = plan.split("InMemoryRelation").head
    assert(!census.contains("Join") && !census.contains("CartesianProduct"), plan)
  }

  test("q196 dormant-value: scalar stats broadcast + HASH anti-join") {
    val df = Relational.q196DormantValue(spark, sfSmoke)
    val plan = planStr(df)
    assert(broadcasts(df) >= 2, plan) // posStats 1-row + nation dim
    // the 1-ROW posStats broadcast is a deliberate NLJ (like q45's ADC
    // scan); the anti-join against the fact must be a hash join
    val anti = plan.split('\n').filter(_.contains("LeftAnti"))
    assert(anti.nonEmpty && anti.forall(_.contains("HashJoin")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q198 quantile-normalize: windows are source-PARTITIONED; pooled rank is the two-pass index, not a global window") {
    val df = graft.queries.TextQueries.q198QuantileNormalize(spark, sfSmoke)
    val plan = planStr(df)
    // any Window node must carry a non-empty partition spec (source)
    val winLines = plan.split('\n').filter(_.contains("Window"))
    assert(winLines.forall(_.contains("source")), winLines.mkString("\n"))
    graft.ops.ScratchCache.releaseAll()
  }

  test("q202 band join: the OR-of-ANDs hulls are INFERRED and pushed to both scans") {
    GraftExtensions.register(spark) // activates InferDisjunctionHulls
    val df = Relational.q202BandJoin(spark, sfSmoke)
    val plan = planStr(df)
    // quantity-band hull on the lineitem scan, brand/size hull on part —
    // derived by the optimizer rule, not written in the query
    assert(plan.contains("Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"lineitem hull not pushed:\n$plan")
    assert(plan.contains("Or(And(EqualTo(p_brand,Brand#1)"),
      s"part hull not pushed:\n$plan")
  }

  test("q207 product profit: all three dims broadcast; the only shuffle join is lineitem-orders") {
    val df = Relational.q207ProductProfit(spark, sfSmoke)
    val plan = planStr(df)
    assert(broadcasts(df) >= 3, plan) // part, supplier, nation
    assert(shuffles(df) <= 3, plan)   // li-orders join + agg + output sort
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q208 small-qty revenue: brand filter broadcasts into the fact BEFORE the per-part aggregate") {
    val df = Relational.q208SmallQtyRevenue(spark, sfSmoke)
    val plan = planStr(df)
    assert(broadcasts(df) >= 1, plan) // brandParts into both fact scans
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both lineitem scans must carry the broadcast-join reduction, so the
    // per-part agg runs over the brand slice, never the full fact
    val liScans = plan.split('\n').count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans == 2, s"expected the 2-scan decorrelated form:\n$plan")
  }

  test("q209 large orders: HAVING survivors broadcast into BOTH dim joins — zero join shuffles") {
    val df = Relational.q209LargeOrders(spark, sfSmoke)
    val plan = planStr(df)
    assert(broadcasts(df) >= 2, plan) // big→orders, withOrders→customer
    // only the orderkey agg (1) + TakeOrdered's single-partition gather
    assert(shuffles(df) <= 2, plan)
    assert(plan.contains("TakeOrdered"), plan) // top-100 is never a global sort
  }

  test("q210 supplier diversity: arrears anti-join is a broadcast hash join on the raw fact") {
    val df = Relational.q210SupplierDiversity(spark, sfSmoke)
    val plan = planStr(df)
    val anti = plan.split('\n').filter(_.contains("LeftAnti"))
    assert(anti.nonEmpty && anti.forall(_.contains("BroadcastHashJoin")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q211 blocking audit: truth pairs broadcast; candidate counts from block sizes (no pair join)") {
    val df = graft.queries.DedupQueries.q211BlockingAudit(spark, sfSmoke)
    val plan = planStr(df)
    // the dup-collapse window (if the corpus has duplicates) is _t- or
    // simhash-PARTITIONED — never global; on the duplicate-free smoke
    // corpus the sliver gate keeps Window out of the plan entirely
    val winLines = plan.split('\n').filter(_.contains("Window"))
    assert(winLines.forall(l => l.contains("_t") || l.contains("simhash")), plan)
    // the only NLJ allowed is the 1-row n_docs total (q196-style); every
    // other join is an equi hash join
    val nlj = plan.split('\n').filter(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj.length <= 1, plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q212 gap histogram: the lag window is user-PARTITIONED, never global") {
    val df = graft.queries.EventAnalytics.q212GapHistogram(spark, sfSmoke)
    val plan = planStr(df)
    val winLines = plan.split('\n').filter(_.contains("Window"))
    assert(winLines.nonEmpty && winLines.forall(_.contains("user_id")), plan)
  }

  test("q215 conversion latency: ONE events scan — firsts, bands, and the share total all fold into single aggregations") {
    val df = graft.queries.EventAnalytics.q215ConversionLatency(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Window"), plan)
    assert(plan.split('\n').count(l =>
      l.contains("Scan parquet") && l.contains("events")) == 1, plan)
    assert(!plan.contains("Join"), plan) // not even the 1-row total NLJ
  }

  test("q216 revenue concentration: the global total reads the PERSISTED per-part frame, not a second fact scan") {
    val df = Relational.q216RevenueConcentration(spark, sfSmoke)
    val plan = planStr(df)
    // both consumers (total + final rows) read the cached |parts| frame
    assert(PlanGuard.digest(df).inMemoryScans >= 2, plan)
    assert(!plan.contains("Window"), plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q217 spearman: every rank/tie window is source-PARTITIONED") {
    val df = graft.queries.TextQueries.q217SpearmanLenDiversity(spark, sfSmoke)
    val plan = planStr(df)
    val winLines = plan.split('\n').filter(_.contains("Window"))
    assert(winLines.nonEmpty && winLines.forall(_.contains("source")), plan)
  }

  test("q229 multitouch: touch counts are pid-PARTITIONED windows; the touch join is a hash join on user_id") {
    val df = graft.queries.EventAnalytics.q229Multitouch(spark, sfSmoke)
    val plan = planStr(df)
    val winLines = plan.split('\n').filter(_.contains("Window"))
    assert(winLines.forall(_.contains("pid")), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q226 join-view IVM: four equi hash joins, no cartesian, no window") {
    val df = graft.queries.StoreQueries.q226IvmJoin(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q174 source-type loss: the |t1|-row owner join is GONE — only source-keyed joins remain") {
    val df = graft.queries.CurationQueries.q174SourceTypeLoss(spark, sfSmoke)
    val plan = planStr(df)
    // the old plan joined t1 (corpus-shingle-sized) to owners on h; the
    // rewritten plan's only equi-join keys on source (20 rows a side)
    val joinLines = plan.split('\n').filter(l =>
      l.contains("HashJoin") && !l.contains("BroadcastNestedLoop"))
    assert(joinLines.forall(l => l.contains("source")), plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q176 label confusion: literal centroids — the scoring pass has NO joins at all") {
    val df = graft.queries.SimilarityQueries.q176LabelConfusion(spark, sfSmoke)
    val plan = planStr(df)
    // the |labels|-row centroid table folds back as literal vectors, so
    // the per-vector argmax is one greatest(struct...) projection — the
    // former |vectors|x|labels| crossJoin fan-out and its re-aggregation
    // must be gone
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    // confusion-cell agg + output sort only
    assert(shuffles(df) <= 2, plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q142 collocations: scalar total folded back — marginal joins stay hash equi-joins") {
    val df = graft.queries.TextQueries.q142Collocations(spark, sfSmoke)
    val plan = planStr(df)
    // nn is a literal now: the crossJoin(broadcast(n)) NLJ must be gone;
    // the |vocab|-keyed marginals legitimately remain as hash joins
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q240 PCA projection pass: literal eigenvector — no join, one agg shuffle plus sort") {
    val df = graft.queries.SimilarityQueries.q240PcaSpectrum(spark, sfSmoke)
    val plan = planStr(df)
    // the eigenvector folds back as a literal, so the projection scan
    // joins nothing and windows nothing; per-label agg + output sort only
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(shuffles(df) <= 2, plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q45 PQ ADC scan is the intended broadcast-NLJ; candidates rank via aggregate") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val idx = graft.ops.PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
    import spark.implicits._
    val df = graft.ops.PqIndex.knn(idx, "vec_id", "embedding", $"vec_id" < 3, 5)
    val plan = planStr(df)
    // the Q×N code scan is a deliberate broadcast NLJ over m-BYTE CODES
    // (like q31/q35 over vectors); what must NOT appear is a ranking
    // window or an unbroadcast cartesian
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q245 bootstrap CI: ONE explode scan, no join, no window — B+1 replica cells") {
    val df = graft.queries.InferenceQueries.q245BootstrapCi(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q247 nDCG: literal query fold-back — scoring pass joins nothing, ranks via aggregate") {
    val df = graft.queries.InferenceQueries.q247NdcgRetrieval(spark, sfSmoke)
    val plan = planStr(df)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    graft.ops.ScratchCache.releaseAll()
  }

  test("q250/q252: one bounded aggregation each — no join, no window") {
    for ((name, df) <- Seq(
        "q250" -> graft.queries.InferenceQueries.q250IsotonicCalibration(spark, sfSmoke),
        "q252" -> graft.queries.InferenceQueries.q252SimpsonAudit(spark, sfSmoke))) {
      val plan = planStr(df)
      assert(!plan.contains("Join"), s"$name: $plan")
      assert(!plan.contains("Window"), s"$name: $plan")
    }
    graft.ops.ScratchCache.releaseAll()
  }

  test("DP releases (q253/q254/q255): noise rides the bounded released frame — no join, no window, no cartesian") {
    for ((name, df) <- Seq(
        "q253" -> graft.queries.PrivacyQueries.q253DpHistogram(spark, sfSmoke),
        "q254" -> graft.queries.PrivacyQueries.q254DpConsistency(spark, sfSmoke),
        "q255" -> graft.queries.PrivacyQueries.q255DpVocab(spark, sfSmoke))) {
      val plan = planStr(df)
      // the mechanism is a per-row CASE over post-aggregation rows: any
      // Join/Window here would mean the noise path touches the corpus
      assert(!plan.contains("Join"), s"$name: $plan")
      assert(!plan.contains("Window"), s"$name: $plan")
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
    }
  }

  test("E3 buildFeatures: ONE shuffle of the scene rows, no join over them, no zip_with mask") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ZipWith // zip_with over arrays
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.pipelines.MosaicPipeline
    val cfg = MosaicPipeline.Config(graft.model.Envelope(-1.5, 40.2, 0.3, 41.8),
      Seq(java.sql.Timestamp.valueOf("2021-06-15 00:00:00")), graft.model.AnnualMeanDataset,
      "unused", chunkPx = 4)
    val grid = graft.geo.Envelopes.tileGrid(spark, cfg.query)
    val scenes = MosaicPipeline.ingestScenes(spark, cfg, grid, Seq.empty[String].toDF("url"))
    val df = MosaicPipeline.buildFeatures(spark, cfg, grid, scenes)
    // the AQE initial plan: physical, with its Exchanges placed
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // scene rows are the operators whose output carries the chunk payload;
    // planning scenes (tile x period x band metadata) may join freely
    def sceneRows(p: SparkPlan): Boolean = p.output.exists(_.name == "data")
    val joins = plan.collect { case j: BaseJoinExec if j.children.exists(sceneRows) => j }
    val shuffles = plan.collect { case e: ShuffleExchangeExec if sceneRows(e.child) => e }
    val zips = plan.collect {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[ZipWith])) => n
    }
    assert(joins.isEmpty, plan.toString)
    assert(shuffles.size == 1, plan.toString)
    assert(zips.isEmpty, plan.toString)
  }

  test("E2→E3→E1 planned resume: ONE shuffle of the payload, no join at all") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.pipelines.MosaicPipeline
    val store = java.nio.file.Files.createTempDirectory("graft-audit-resume").toString
    val cfg = MosaicPipeline.Config(graft.model.Envelope(-1.5, 40.2, 0.3, 41.8),
      Seq(java.sql.Timestamp.valueOf("2021-06-15 00:00:00")), graft.model.AnnualMeanDataset,
      store, chunkPx = 4)
    MosaicPipeline.run(spark, cfg)
    for (k <- Seq("0.0.0.0", "0.3.1.2", "0.6.0.1"))
      java.nio.file.Files.delete(java.nio.file.Paths.get(store, "data", k))
    val plan = MosaicPipeline.plan(spark, cfg, graft.geo.Envelopes.tileGrid(spark, cfg.query))
    // the chunk rows E1 writes: planned slices → fed windows → reduce → keys
    val chunks = MosaicPipeline.pendingChunks(plan,
      MosaicPipeline.buildFeatures(plan, MosaicPipeline.ingestScenes(spark, plan)))
    val physical = chunks.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    def payload(p: SparkPlan): Boolean = p.output.exists(_.name == "data")
    val shuffles = physical.collect { case e: ShuffleExchangeExec if payload(e.child) => e }
    val joins = physical.collect { case j: BaseJoinExec => j }
    assert(shuffles.size == 1, physical.toString)
    assert(joins.isEmpty, physical.toString)
    assert(chunks.count() == 3)
  }
}
