package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{documents, embeddings, events, lineitem}
import graft.functions.DotProductF32
import graft.functions.TextFunctions.{polyHash, roundp}
import graft.ops.Sessionize

/** Advanced operator coverage: native-codegen vector math, gap
  * sessionization, size-based batching (O7), content-hash table
  * fingerprints (F10/U6). */
object AdvancedQueries {

  /** q35: kNN through the native DotProductF32 Catalyst expression (fused
    * codegen loop) — accumulation order matches the HOF/oracle form, so
    * results stay hash-comparable while the hot loop is ~interpreter-free. */
  def q35KnnNative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, d)
    val q = emb.filter($"vec_id" >= 20 && $"vec_id" < 40)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val c = emb.select($"vec_id".as("cid"), $"embedding".as("cv"))
    val scored = c.join(broadcast(q), $"qid" =!= $"cid")
      .select($"qid", $"cid",
        roundp(DotProductF32.cosine($"qv", $"cv"), 6).as("cos"))
    // bounded top-k aggregator, not a window: partial combine keeps the
    // ranking shuffle at partitions x Q x k rows (ordering identical)
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(new graft.agg.TopKAgg(5).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((cid, cos), i) =>
          (qid, (i + 1).toLong, cid, cos)
        }
      }
      .toDF("qid", "rank", "cid", "cos")
      .orderBy($"qid", $"rank")
  }

  val q35Sql: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    ${DuckSql.roundpSql(DuckSql.cosineSql("q.embedding", "c.embedding", 64), 6)}
       |      AS cos
       |  FROM embeddings q JOIN embeddings c
       |    ON q.vec_id >= 20 AND q.vec_id < 40 AND c.vec_id <> q.vec_id)
       |SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid)
       |    AS rank, cid, cos
       |FROM scored QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin

  /** q36: gap-based sessionization (30-min inactivity).
    *
    * Round-1 postmortem: the driver hash-compare failed on rendering, not
    * logic — TIMESTAMP columns and DuckDB window-`sum` HUGEINTs (which
    * pandas renders as float64) diverge from Spark's µs timestamps /
    * BIGINTs even when the values agree. Both sides now emit pure BIGINTs:
    * epoch-µs bounds, and the oracle casts its running sum to BIGINT. */
  def q36Sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Sessionize.relational(events(s, d), gapMinutes = 30)
      .select($"user_id", $"session_id", $"n_events",
        unix_micros($"start_ts").as("start_us"),
        unix_micros($"end_ts").as("end_us"))
      .orderBy($"user_id", $"session_id")
  }

  val q36Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |m AS (SELECT user_id, us,
      |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us FROM e),
      |flags AS (SELECT user_id, us,
      |    CASE WHEN prev_us IS NULL
      |      OR us - prev_us > 30*60*1000000 THEN 1 ELSE 0 END
      |      AS new_session FROM m),
      |sess AS (SELECT user_id, us,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM flags)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(us) AS start_us, max(us) AS end_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** q37: size-based batching (O7, scenes.py:60-70): deterministic batch
    * ids from a byte budget — here 4 KiB of text per batch in doc order.
    * Executed as SizeBatch's two-pass distributed prefix sum: identical
    * ids to the `sum over (order by doc_id)` oracle, but no
    * single-partition WindowExec anywhere in the plan. */
  def q37SizeBatching(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = documents(s, d)
      .select($"doc_id", length($"text").cast("bigint").as("n_bytes"))
      .as[(Long, Long)]
    graft.ops.SizeBatch
      .assign(rows, budget = 4096L, parts = s.sparkContext.defaultParallelism)
      .toDF("doc_id", "n_bytes", "batch_id")
      .orderBy($"doc_id")
  }

  val q37Sql: String =
    """SELECT doc_id, len(text)::BIGINT AS n_bytes,
      |  (coalesce(sum(len(text)::BIGINT) OVER (ORDER BY doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096)::BIGINT
      |    AS batch_id
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q38: order-independent content fingerprint of a projected table
    * (F10/U6 — the reference's dataframe-hash cache key): sum of per-row
    * rolling hashes mod 2³².
    *
    * Two-level modular reduction: int64-summing raw 2³²-bounded hashes
    * overflows (ANSI-throws) past ~2³¹ rows, so partials are reduced mod
    * 2³² per 1024-way shard first — mod is a sum homomorphism, so the
    * result is identical and the capacity bound moves to ~2³¹ rows PER
    * SHARD (≈2⁴¹ ≈ 2.2e12 rows total; raise shards for more). The DuckDB
    * oracle sums exactly in HUGEINT then takes the same mod. */
  def q38TableHash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .select(polyHash(concat_ws("|",
        $"l_orderkey", $"l_linenumber",
        // double→string rendering differs across engines; hash exact cents
        round($"l_quantity" * 100).cast("bigint"), $"l_returnflag"))
        .as("row_hash"))
      .groupBy(pmod($"row_hash", lit(1024L)).as("_shard"))
      .agg((sum($"row_hash") % 4294967296L).as("_partial"),
        count(lit(1)).as("_n"))
      .agg((sum($"_partial") % 4294967296L).as("table_hash"),
        coalesce(sum($"_n"), lit(0L)).as("n_rows"))
  }

  val q38Sql: String = {
    val row = DuckSql.polyHashSql(
      "concat_ws('|', l_orderkey, l_linenumber, " +
        "CAST(round(l_quantity * 100) AS BIGINT), l_returnflag)")
    // CAST to BIGINT: DuckDB sum(BIGINT) is HUGEINT, which pandas renders
    // as float64 — rows/schema "match" after normalization but the hashed
    // rendering differs from Spark's int64 (round-1 q38 failure).
    s"""SELECT CAST(sum(row_hash) % 4294967296 AS BIGINT) AS table_hash,
       |  count(*) AS n_rows
       |FROM (SELECT $row AS row_hash FROM lineitem)""".stripMargin
  }

  /** q42: skew-mitigated aggregation (O2) — two-phase salted sum/count by
    * l_returnflag (3 hot keys over all rows: worst-case skew for a plain
    * groupBy). The salt breaks each key across 16 reducers; sum/count are
    * algebraic, so the oracle is the PLAIN group-by — identical results
    * prove the rewrite is semantics-preserving. */
  def q42SaltedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Rebalance.saltedSumCount(
        lineitem(s, d), Seq("l_returnflag"), "l_quantity")
      .select($"l_returnflag", round($"sum_l_quantity", 2).as("sum_qty"), $"n")
      .orderBy($"l_returnflag")
  }

  val q42Sql: String =
    """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q46: deterministic stratified sampling — rebalance the language mix
    * (downsample dominant English, keep rare strata whole) with a pure
    * hash-gate per row: reproducible, partitioning-independent, zero
    * shuffle. Oracle = the identical arithmetic in SQL. */
  def q46StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.stratifiedSample(
        graft.Tables.documents(s, d), "lang", $"text",
        rates = Map("en" -> 0.2, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.5, "zh" -> 1.0),
        salt = "mix1")
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  val q46Sql: String = {
    val gate = DuckSql.polyHashSql("(text || 'mix1')")
    s"""SELECT doc_id, lang FROM documents
       |WHERE ($gate % 10000) * 1.0 <
       |  (CASE lang WHEN 'en' THEN 0.2 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5
       |    WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 1.0 ELSE 0.0 END) * 10000
       |ORDER BY doc_id""".stripMargin
  }

  /** q47: pseudonymization — direct identifier (name) becomes a keyed-hash
    * token, the numeric quasi-identifier generalizes to a 1000-wide band;
    * stable join keys survive, raw identifiers don't. Pure codegen scan. */
  def q47Pseudonymize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = graft.Tables.customer(s, d)
    c.select($"c_custkey",
        graft.ops.Sampling.tokenize($"c_name", "pz1").as("name_token"),
        graft.ops.Sampling.band($"c_acctbal", 1000.0).as("acctbal_band"),
        $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q47Sql: String =
    s"""SELECT c_custkey,
       |  ${DuckSql.polyHashSql("(c_name || 'pz1')")} AS name_token,
       |  floor(c_acctbal / 1000.0) * 1000 AS acctbal_band,
       |  c_mktsegment
       |FROM customer ORDER BY c_custkey""".stripMargin

  /** q67: data-quality constraint audit — the build-gate report a corpus
    * pipeline runs on every snapshot: row-count floor, null budget, value
    * range, categorical domain (all fused into ONE aggregation job over
    * lineitem — Audit.aggregateChecks), plus primary-key uniqueness (one
    * hash aggregation) and referential integrity lineitem→orders (one
    * anti-join). Output = (check_name, observed metric, pass). */
  def q67ConstraintAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.ops.Audit
    val li = lineitem(s, d)
    val nullQty = sum(when($"l_quantity".isNull, 1L).otherwise(0L))
    val badFlag = sum(when(!$"l_returnflag".isin("A", "N", "R"), 1L)
      .otherwise(0L))
    // ONE lazy union instead of three serial driver actions (the old
    // Audit.aggregateChecks head() + dup.count() + orph.count() chain):
    // the whole report is one job at the caller's action — three 1-row
    // aggregate branches, no scalar passes through the driver. NULL
    // coalescing mirrors aggregateChecks' empty-table semantics (NaN
    // metric, false pass).
    def m(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("double"), lit(Double.NaN))
    def p(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
    val aggRows = li.agg(
        m(badFlag).as("m0"), p(badFlag === 0).as("p0"),
        m(nullQty).as("m1"), p(nullQty === 0).as("p1"),
        m(max($"l_quantity")).as("m2"),
        p(min($"l_quantity") >= 1 && max($"l_quantity") <= 50).as("p2"),
        m(count(lit(1))).as("m3"), p(count(lit(1)) > 0).as("p3"))
      .select(expr("stack(4, 'li_flag_domain', m0, p0, 'li_qty_nulls', m1, p1, " +
        "'li_qty_range', m2, p2, 'li_rowcount', m3, p3) " +
        "AS (check_name, metric, pass)"))
    val ord = graft.Tables.orders(s, d)
    val dupRow = Audit.duplicateKeys(ord, "o_orderkey")
      .agg(count(lit(1)).as("c"))
      .select(lit("ord_pk_unique").as("check_name"),
        $"c".cast("double").as("metric"), ($"c" === 0L).as("pass"))
    val orphRow = Audit.fkOrphans(li, "l_orderkey", ord, "o_orderkey")
      .agg(count(lit(1)).as("c"))
      .select(lit("li_fk_orders").as("check_name"),
        $"c".cast("double").as("metric"), ($"c" === 0L).as("pass"))
    aggRows.unionAll(orphRow).unionAll(dupRow)
      .orderBy($"check_name")
  }

  val q67Sql: String =
    """SELECT * FROM (
      |  SELECT 'li_flag_domain' AS check_name,
      |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0
      |      END) AS DOUBLE) AS metric,
      |    sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0
      |      END) = 0 AS pass FROM lineitem
      |  UNION ALL SELECT 'li_qty_nulls',
      |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
      |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) = 0
      |    FROM lineitem
      |  UNION ALL SELECT 'li_qty_range', CAST(max(l_quantity) AS DOUBLE),
      |    min(l_quantity) >= 1 AND max(l_quantity) <= 50 FROM lineitem
      |  UNION ALL SELECT 'li_rowcount', CAST(count(*) AS DOUBLE),
      |    count(*) > 0 FROM lineitem
      |  UNION ALL SELECT 'li_fk_orders',
      |    CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
      |      ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
      |      AS DOUBLE),
      |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
      |      ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0
      |  UNION ALL SELECT 'ord_pk_unique',
      |    CAST((SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |      GROUP BY 1 HAVING count(*) > 1)) AS DOUBLE),
      |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |      GROUP BY 1 HAVING count(*) > 1)) = 0
      |) ORDER BY check_name""".stripMargin

  /** q68: snapshot diff — corpus versioning's "what changed between
    * builds": full-outer join of two table versions on the key, rows
    * classified added/removed/changed by content hash, unchanged rows
    * never surface. The second snapshot is synthesized deterministically
    * from the fixture (drop doc_id≡0 mod 97, append " v2" to text for
    * doc_id≡0 mod 89, add re-keyed copies for doc_id≡0 mod 101), so both
    * engines diff the same pair of versions. */
  def q68SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
    val kept = docs.filter($"doc_id" % 97 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 89 === 0, concat($"text", lit(" v2")))
          .otherwise($"text").as("text"))
    val added = docs.filter($"doc_id" % 101 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    graft.ops.Audit.snapshotDiff(docs, kept.unionAll(added), "doc_id",
        graft.functions.TextFunctions.polyHash(col("text")))
      .orderBy($"doc_id")
  }

  val q68Sql: String = {
    val ph = DuckSql.polyHashSql("text")
    val ph2 = DuckSql.polyHashSql("(text || ' v2')")
    s"""WITH b AS (SELECT doc_id, $ph AS h FROM documents),
       |a AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 89 = 0 THEN $ph2 ELSE $ph END AS h
       |  FROM documents WHERE doc_id % 97 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, $ph FROM documents WHERE doc_id % 101 = 0)
       |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
       |  CASE WHEN b.doc_id IS NULL THEN 'added'
       |       WHEN a.doc_id IS NULL THEN 'removed'
       |       WHEN b.h <> a.h THEN 'changed' END AS change_type
       |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
       |WHERE (CASE WHEN b.doc_id IS NULL THEN 'added'
       |       WHEN a.doc_id IS NULL THEN 'removed'
       |       WHEN b.h <> a.h THEN 'changed' END) IS NOT NULL
       |ORDER BY doc_id""".stripMargin
  }

  /** q63: importance-weighted downsampling — keep probability ∝ n_chars
    * (stand-in for any per-doc quality/importance weight), expected sample
    * ≈ 150 docs. The gate is exact integer arithmetic on a deterministic
    * row hash (Sampling.weightedSample), so the oracle reproduces the
    * sample row-for-row — no RNG, no float boundary ambiguity, stable
    * under repartitioning. Σw is the only aggregate (one scalar). */
  def q63WeightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.weightedSample(
        graft.Tables.documents(s, d), $"text", $"n_chars",
        target = 150L, salt = "ws1")
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  val q63Sql: String = {
    val gate = DuckSql.polyHashSql("(text || 'ws1')")
    """SELECT doc_id, n_chars FROM documents
      |WHERE (GATE % 10000) * (SELECT sum(n_chars) FROM documents)
      |  < 150 * n_chars * 10000
      |ORDER BY doc_id""".stripMargin.replace("GATE", gate)
  }

  /** q64: uniform exact-k sample — the 100 docs with the smallest salted
    * row hash (deterministic reservoir). Physical plan is
    * TakeOrderedAndProject: per-partition top-k + driver merge of
    * partitions×k rows — no global sort (PlanAuditSpec asserts no
    * Exchange-then-Sort), which is what lets "give me exactly k rows"
    * run on a 100 TB corpus without a single-reducer ordering. */
  def q64UniformSampleK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.uniformSampleK(
        graft.Tables.documents(s, d), $"text", $"doc_id", k = 100, salt = "uk1")
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  val q64Sql: String = {
    val gate = DuckSql.polyHashSql("(text || 'uk1')")
    s"""SELECT doc_id, source FROM
       |  (SELECT doc_id, source FROM documents
       |   ORDER BY $gate, doc_id LIMIT 100)
       |ORDER BY doc_id""".stripMargin
  }

  /** q60: semi-structured extraction — pull a typed field out of a JSON
    * payload column and aggregate it relationally. `get_json_object` is a
    * codegen'd native expression evaluated inside the scan's projection (no
    * UDF, no whole-document parse materialized); the oracle is DuckDB's
    * own JSON path extraction — two independent JSON parsers agreeing on
    * the same typed result. */
  def q60JsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val q60Sql: String =
    // sum(BIGINT) is HUGEINT in DuckDB — cast back (q38 lesson)
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q72: as-of join — each click picks up the user's most recent purchase
    * at or before the click instant (feature-extraction staple: "state as
    * of event time"). `graft.ops.AsOfJoin` runs it as union + one keyed
    * window fill: ONE shuffle on user_id, linear in |clicks|+|purchases| —
    * vs the naive inequality join whose intermediate is every
    * (click, earlier purchase) pair. Oracle is DuckDB's native ASOF LEFT
    * JOIN — an independent engine's dedicated operator agreeing row-wise. */
  def q72AsOfJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"),
        unix_micros($"ts").as("click_us"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"),
        unix_micros($"ts").as("purchase_us"),
        roundp($"value", 6).as("purchase_value"))
    graft.ops.AsOfJoin.leftAsOf(clicks, purchases,
        keys = Seq("user_id"), leftTime = "click_us", rightTime = "purchase_us")
      .orderBy($"user_id", $"click_us")
  }

  val q72Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, event_id AS click_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
      |  FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us,
      |    round(value * 1e6) / 1e6 AS purchase_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, c.click_us,
      |  p.purchase_id, p.purchase_us, p.purchase_value
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND c.click_us >= p.purchase_us
      |ORDER BY c.user_id, c.click_us""".stripMargin

  /** q80: the CUSTOM-STATE sessionizer under the oracle gate — same
    * semantics as q36 but computed by `Sessionize.stateful`
    * (flatMapGroupsWithState, the KeyValueGroupedDataset path) in
    * batch-catchup mode (flushAll drains open sessions, exactly correct
    * when the invocation sees full history). q36 already proves the
    * relational form against DuckDB; this pins the stateful
    * implementation to the SAME SQL oracle, so the streaming code path's
    * session arithmetic is hash-checked, not just parity-tested. */
  def q80StatefulSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val typed = events(s, d)
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
    graft.ops.Sessionize.stateful(typed, gapMinutes = 30, flushAll = true)
      .toDF()
      .select($"user_id", $"session_id", $"n_events",
        unix_micros($"start_ts").as("start_us"),
        unix_micros($"end_ts").as("end_us"))
      .orderBy($"user_id", $"session_id")
  }

  /** q89: versioned-store time travel — build a two-version table through
    * the REAL CommitLog (v0 = short documents, v1 = v0 + the long tail
    * appended), then read BOTH snapshots back through the log and report
    * per-version stats. The store machinery (atomic version commits,
    * snapshot file resolution, time-travel reads) is on the oracle path:
    * DuckDB recomputes what each version must contain from the same base
    * table, so a wrong snapshot (missed file, leaked file, wrong version
    * resolution) hash-mismatches. */
  def q89TimeTravel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.ops.ScratchCache.tempDir(s, "graft-q89")
    val log = new graft.store.CommitLog(root)
    val docs = graft.Tables.documents(s, d)
    log.append(docs.filter($"n_chars" <= 300))   // v0
    log.append(docs.filter($"n_chars" > 300))    // v1 = full corpus
    val perVersion = Seq(0, 1).map { v =>
      log.read(s, v).agg(
        count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
        .withColumn("version", lit(v.toLong))
    }
    perVersion.reduce(_ unionByName _)
      .select($"version", $"n_docs", $"chars")
      .orderBy($"version")
  }

  val q89Sql: String =
    """SELECT 0 AS version, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents WHERE n_chars <= 300
      |UNION ALL
      |SELECT 1, count(*), CAST(sum(n_chars) AS BIGINT) FROM documents
      |ORDER BY version""".stripMargin

  /** q98: skew-salted shuffle join — lineitem (big, potentially hot
    * suppliers) joins supplier through [[graft.ops.SkewJoin]]: the fact
    * side salts on full-row hash, the dim side replicates buckets×, and
    * the hot key's rows spread over `buckets` reducers instead of one.
    * The oracle is the PLAIN join aggregate — salting must be invisible
    * in the result. */
  def q98SaltedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = graft.Tables.lineitem(s, d).select($"l_suppkey".as("s_suppkey"),
      ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    val sup = graft.Tables.supplier(s, d).select($"s_suppkey", $"s_name")
    graft.ops.SkewJoin.inner(li, sup, "s_suppkey", buckets = 8)
      .groupBy($"s_name")
      .agg(count(lit(1)).as("n_items"), QueryUtil.safeSum($"rev", 2).as("revenue"))
      .orderBy($"s_name")
  }

  val q98Sql: String =
    s"""SELECT s.s_name, count(*) AS n_items,
      |  ${QueryUtil.safeSumSql("l.l_extendedprice * (1.0 - l.l_discount)", 2)} AS revenue
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY s.s_name ORDER BY s.s_name""".stripMargin

  /** q105: 2-D skyline (Pareto frontier) of part — cheapest price for the
    * largest size; a part survives iff nothing is at-most-its-price AND
    * at-least-its-size with one strict. Runs through
    * [[graft.ops.Skyline.frontier]]: exact, one range exchange, two-pass
    * prefix max — no quadratic self-join, no single-reducer window. The
    * oracle is the INDEPENDENT NOT EXISTS dominance formulation. */
  def q105Skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = graft.Tables.part(s, d)
      .select($"p_partkey".cast("long").as("id"),
        $"p_retailprice".cast("double").as("cost"),
        $"p_size".cast("long").as("gain"))
      .as[(Long, Double, Long)]
    graft.ops.Skyline.frontier(pts, 32)
      .select($"id".as("p_partkey"), $"cost".as("price"), $"gain".as("size"))
      .orderBy($"p_partkey")
  }

  val q105Sql: String =
    """SELECT p.p_partkey::BIGINT AS p_partkey,
      |  p.p_retailprice::DOUBLE AS price, p.p_size::BIGINT AS size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  /** q158: EPOCH-mixture upsampling — the "repeat high-quality sources"
    * side of data mixing (the complement of q63's downsample and q137's
    * caps): each source gets a target repeat factor (src0×2.5, src1×1.5,
    * rest ×1.0), realized as floor(w) copies per doc plus one more when a
    * deterministic per-doc gate lands under the fractional part. Weights
    * are carried as integer TEN-THOUSANDTHS and the gate is the q63
    * exact-integer polyhash gate, so expected == realized mixture is
    * exactly replayable (no RNG, stable under repartitioning). Output:
    * per source, docs, realized sample count, realized char budget, and
    * the achieved ratio — the table a mixture plan is signed off on.
    *
    * Scale shape: one scan, one |sources|-row aggregate; the gate and
    * copy count are scan-projection expressions. The expansion itself is
    * NOT materialized (a training loader replays the copies column);
    * only the accounting aggregates. */
  def q158EpochMixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // per-source repeat weight in ten-thousandths: floor = w/10000 copies,
    // + 1 when gate < w%10000
    val w = when($"source" === "src0", lit(25000L))
      .when($"source" === "src1", lit(15000L))
      .otherwise(lit(10000L))
    val gate = pmod(polyHash(concat($"text", lit("em1"))), lit(10000L))
    // integer floor of the weight (Spark's / is double division; the
    // quotients here are exactly representable, so floor is exact)
    val copies = floor(w / 10000L).cast("long") +
      when(gate < w % 10000L, lit(1L)).otherwise(lit(0L))
    documents(s, d)
      .select($"source", $"n_chars", copies.as("copies"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"copies").as("n_samples"),
        sum($"copies" * $"n_chars").as("sample_chars"))
      .select($"source", $"n_docs", $"n_samples", $"sample_chars",
        roundp($"n_samples" * lit(1.0) / $"n_docs", 4).as("realized_ratio"))
      .orderBy($"source")
  }

  val q158Sql: String = {
    val gate = s"(${DuckSql.polyHashSql("(text || 'em1')")} % 10000)"
    s"""WITH wdocs AS (
       |  SELECT source, n_chars,
       |    CASE WHEN source = 'src0' THEN 25000
       |         WHEN source = 'src1' THEN 15000 ELSE 10000 END AS w,
       |    $gate AS gate
       |  FROM documents),
       |c AS (SELECT source, n_chars,
       |    w // 10000 + (CASE WHEN gate < w % 10000 THEN 1 ELSE 0 END)
       |      AS copies
       |  FROM wdocs)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(copies) AS BIGINT) AS n_samples,
       |  CAST(sum(copies * n_chars) AS BIGINT) AS sample_chars,
       |  ${DuckSql.roundpSql("sum(copies) * 1.0 / count(*)", 4)}
       |    AS realized_ratio
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  /** q159: KOLMOGOROV-SMIRNOV drift between two corpus snapshots
    * (deterministic hash halves) on the n_chars distribution, per source
    * — the
    * scalar-feature drift monitor beside q110's binned PSI and q145's
    * embedding-centroid shift. The KS statistic is computed EXACTLY in
    * integers: at each distinct value, |cumE·nO − cumO·nE| is an integer
    * numerator over the common denominator nE·nO, so max() is
    * reduction-order-free and both engines agree bit-for-bit; only the
    * final displayed ratio is float (rounded 6dp), and the drift flag
    * compares integers (ksNum·10 ≥ nE·nO ⟺ ks ≥ 0.1).
    *
    * Scale shape: counts collapse to one row per (source, distinct
    * value) BEFORE the window, so the cumulative sum runs over
    * vocabulary-sized frames partitioned by source — never over raw
    * docs. */
  def q159KsDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // halves via a deterministic text hash, NOT doc_id parity: synthetic
    // ids stride by |sources|, so per-source id parity is constant
    val v = documents(s, d).select($"source",
      (pmod(polyHash(concat($"text", lit("ks"))), lit(2L)) === 0).as("even"),
      $"n_chars")
    val cnt = v.groupBy($"source", $"n_chars").agg(
      sum(when($"even", 1L).otherwise(0L)).as("ce"),
      sum(when($"even", 0L).otherwise(1L)).as("co"))
    val tot = v.groupBy($"source").agg(
      sum(when($"even", 1L).otherwise(0L)).as("ne"),
      sum(when($"even", 0L).otherwise(1L)).as("no"))
    val win = Window.partitionBy($"source").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnt
      .withColumn("cume", sum($"ce").over(win))
      .withColumn("cumo", sum($"co").over(win))
      .join(broadcast(tot), "source")
      .groupBy($"source", $"ne", $"no")
      .agg(max(abs($"cume" * $"no" - $"cumo" * $"ne")).as("ksnum"))
      .select($"source", $"ne".as("n_even"), $"no".as("n_odd"),
        // a source whose docs all hash to one side has no two-sample KS
        // (ANSI also throws on the 0-denominator divide): NULL / 0
        when($"ne" > 0 && $"no" > 0,
          roundp($"ksnum" * lit(1.0) / ($"ne" * $"no"), 6)).as("ks"),
        when($"ne" > 0 && $"no" > 0 && $"ksnum" * 10L >= $"ne" * $"no",
          lit(1L)).otherwise(lit(0L)).as("drifted"))
      .orderBy($"source")
  }

  val q159Sql: String =
    s"""WITH v AS (SELECT source,
       |    ${DuckSql.polyHashSql("(text || 'ks')")} % 2 = 0 AS even, n_chars
       |  FROM documents),
       |cnt AS (SELECT source, n_chars,
       |    CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS ce,
       |    CAST(sum(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT) AS co
       |  FROM v GROUP BY 1, 2),
       |tot AS (SELECT source,
       |    CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS ne,
       |    CAST(sum(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT) AS no
       |  FROM v GROUP BY 1),
       |cum AS (SELECT source, n_chars,
       |    sum(ce) OVER (PARTITION BY source ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume,
       |    sum(co) OVER (PARTITION BY source ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumo
       |  FROM cnt)
       |SELECT source, ne AS n_even, no AS n_odd,
       |  ${DuckSql.roundpSql(
              "max(abs(cume * no - cumo * ne)) * 1.0 / (ne * no)", 6)} AS ks,
       |  CASE WHEN ne > 0 AND no > 0
       |      AND max(abs(cume * no - cumo * ne)) * 10 >= ne * no
       |    THEN 1::BIGINT ELSE 0::BIGINT END AS drifted
       |FROM cum JOIN tot USING (source)
       |GROUP BY source, ne, no ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q192

  /** q192: CO-OCCURRENCE lift (market-basket) — item pairs that appear
    * in the same order far more often than independence predicts:
    * lift = P(a,b) / (P(a)·P(b)), support ≥ 3, top 50. The association
    * primitive behind "documents that co-cite", "tags that co-occur",
    * template detection via co-occurring shingles. Scale shape: the
    * pair join is SELF-co-partitioned on the basket key, so its output
    * is Σ C(basket,2) — bounded by basket size (~7 here), linear in
    * orders, never |items|²; item frequencies broadcast back. All
    * counts exact BIGINT; lift's doubles derive from exact longs
    * (products < 2⁵³), so rounding is engine-identical. */
  def q192BasketLift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // basket-array form, TWO shuffles total — the co-occurrence minimum:
    // (1) ONE groupBy(ok) builds each order's item list; (2) the fused
    // graft_packed_pairs_singles kernel (codegen'd — it sorts, dedups,
    // packs pairs AND emits one diagonal key per item in-row), plus ONE
    // sentinel key per basket (hi=1,lo=0 — unreachable: pairs are
    // strictly hi<lo, diagonals hi==lo), explodes into a single
    // groupBy(count) that yields pair counts, item frequencies AND the
    // basket total together — the basket frame has exactly one consumer,
    // so nothing upstream of the small pair-key aggregate is persisted
    // or recomputed. Measured at sf0.1 (ProfQ192 per-stage): self-join
    // form 2.4-2.8 s, struct-pair HOF 2.8 s, packed-long HOF 1.94 s,
    // fused-kernel 1.8 s, this sentinel-fold ~1.5 s (one pipeline
    // scan→baskets→explode→agg job + the assembly job).
    val sentinel = 4294967296L // 1L << 32
    val agg = graft.ops.ScratchCache.register(lineitem(s, d)
      .select($"l_orderkey".cast("long").as("ok"),
        $"l_partkey".cast("long").as("item"))
      .groupBy($"ok").agg(collect_list($"item").as("its"))
      .select(explode(concat(
        graft.functions.GraphFunctions.packedPairsAndSingles($"its"),
        array(lit(sentinel)))).as("pk"))
      .groupBy($"pk").agg(count(lit(1)).as("f_ab"))
      .persist())
    val hi = shiftrightunsigned($"pk", 32)
    val lo = $"pk".bitwiseAND(lit(4294967295L))
    // ONE job fills the cache AND returns the bounded small side: the
    // diagonal keys (a == b — impossible for the strict a < b pairs)
    // carry the per-item basket-membership counts, the sentinel the
    // basket total — ≤ |items|+1 rows, the same boundedness the
    // frequency broadcast already assumes. Collecting them in the
    // cache-filling action replaces the r11 shape's eager count() plus
    // THREE broadcast-build jobs (which, unfilled, each re-ran the whole
    // scan→baskets→agg pipeline — measured 6 × ~1.9 s racing jobs at
    // sf1); the lookups fold back as a broadcast LOCAL relation and a
    // literal, so only the final assembly job ever touches the cluster
    // again.
    val small = agg.filter(hi === lo || $"pk" === sentinel)
      .select($"pk", $"f_ab").collect()
    val totN: Long = small.find(_.getLong(0) == sentinel)
      .map(_.getLong(1)).getOrElse(0L)
    val freqDf = broadcast(small.toSeq
      .filter(_.getLong(0) != sentinel)
      .map(r => (r.getLong(0) >>> 32, r.getLong(1)))
      .toDF("item", "f"))
    agg
      .filter(hi =!= lo && $"pk" =!= sentinel)
      .filter($"f_ab" >= 3L)
      .select(hi.as("item_a"), lo.as("item_b"), $"f_ab")
      .join(freqDf.as("fa"), $"item_a" === $"fa.item")
      .join(freqDf.as("fb"), $"item_b" === $"fb.item")
      .select($"item_a", $"item_b", $"f_ab",
        roundp(($"f_ab" * lit(totN)).cast("double") /
          ($"fa.f" * $"fb.f").cast("double"), 6).as("lift"))
      .orderBy($"lift".desc, $"item_a", $"item_b").limit(50)
  }

  val q192Sql: String =
    s"""WITH it AS (SELECT DISTINCT l_orderkey::BIGINT AS ok,
       |    l_partkey::BIGINT AS item FROM lineitem),
       |freq AS (SELECT item, count(*)::BIGINT AS f FROM it GROUP BY 1),
       |tot AS (SELECT count(DISTINCT ok)::BIGINT AS n FROM it),
       |p AS (SELECT a.item AS item_a, b.item AS item_b,
       |    count(*)::BIGINT AS f_ab
       |  FROM it a JOIN it b USING (ok) WHERE a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT item_a, item_b, f_ab,
       |  ${DuckSql.roundpSql(
            "(f_ab * n)::DOUBLE / (fa.f * fb.f)::DOUBLE", 6)} AS lift
       |FROM p JOIN freq fa ON fa.item = p.item_a
       |JOIN freq fb ON fb.item = p.item_b, tot
       |ORDER BY lift DESC, item_a, item_b LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- q213

  /** q213: join-skew PREFLIGHT — before launching a per-user self-join
    * (q50's stream-join shape, entity-resolution blocks, interval
    * matching), the audit that predicts its output size and skew: each
    * key's join multiplicity is n_k² (left and right counts are the same
    * frame here), so one count-by-key scan yields the exact output
    * cardinality, the top offenders, and each one's share of all output
    * rows. This is how a 100 TB pipeline decides between a plain join, a
    * salted join (q98), and a df-cap (q27's maxDf) BEFORE paying for the
    * wrong one. One shuffle (the key count); the top-10 is a TakeOrdered;
    * the total rides a broadcast 1-row frame. */
  def q213SkewPreflight(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // perKey feeds both the total and the top-10: persist the |keys|-row
    // frame so the total never re-scans the fact
    val perKey = graft.ops.ScratchCache.register(
      events(s, d).groupBy($"user_id")
        .agg(count(lit(1)).as("n_rows"))
        .select($"user_id", $"n_rows",
          ($"n_rows" * $"n_rows").as("out_rows")).persist())
    val tot = perKey.agg(sum($"out_rows").as("total_out"),
      count(lit(1)).as("n_keys"))
    perKey.crossJoin(broadcast(tot))
      .select($"user_id", $"n_rows", $"out_rows", $"total_out", $"n_keys",
        roundp($"out_rows" * lit(1.0) / $"total_out", 6).as("share"))
      .orderBy($"out_rows".desc, $"user_id")
      .limit(10)
  }

  val q213Sql: String =
    s"""WITH k AS (SELECT user_id, count(*)::BIGINT AS n_rows,
       |    (count(*) * count(*))::BIGINT AS out_rows
       |  FROM events GROUP BY 1),
       |t AS (SELECT sum(out_rows)::BIGINT AS total_out,
       |    count(*)::BIGINT AS n_keys FROM k)
       |SELECT user_id, n_rows, out_rows, total_out, n_keys,
       |  ${DuckSql.roundpSql("out_rows * 1.0 / total_out", 6)} AS share
       |FROM k CROSS JOIN t
       |ORDER BY out_rows DESC, user_id LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_skew_preflight" -> (q213SkewPreflight _),
    "q192_basket_lift" -> (q192BasketLift _),
    "q105_skyline"      -> (q105Skyline _),
    "q158_epoch_mixture" -> (q158EpochMixture _),
    "q159_ks_drift"     -> (q159KsDrift _),
    "q98_salted_join"   -> (q98SaltedJoin _),
    "q35_knn_native"    -> (q35KnnNative _),
    "q36_sessionize"    -> (q36Sessionize _),
    "q37_size_batching" -> (q37SizeBatching _),
    "q38_table_hash"    -> (q38TableHash _),
    "q42_salted_agg"    -> (q42SaltedAgg _),
    "q46_stratified_sample" -> (q46StratifiedSample _),
    "q47_pseudonymize"  -> (q47Pseudonymize _),
    "q60_json_extract"  -> (q60JsonExtract _),
    "q63_weighted_sample" -> (q63WeightedSample _),
    "q64_uniform_sample_k" -> (q64UniformSampleK _),
    "q67_constraint_audit" -> (q67ConstraintAudit _),
    "q68_snapshot_diff" -> (q68SnapshotDiff _),
    "q72_asof_join"     -> (q72AsOfJoin _),
    "q80_stateful_sessions" -> (q80StatefulSessions _),
    "q89_time_travel"   -> (q89TimeTravel _),
  )

  val oracles: Map[String, String] = Map(
    "q213_skew_preflight" -> q213Sql,
    "q192_basket_lift" -> q192Sql,
    "q158_epoch_mixture" -> q158Sql,
    "q159_ks_drift"     -> q159Sql,
    "q105_skyline"      -> q105Sql,
    "q98_salted_join"   -> q98Sql,
    "q35_knn_native"    -> q35Sql,
    "q36_sessionize"    -> q36Sql,
    "q37_size_batching" -> q37Sql,
    "q38_table_hash"    -> q38Sql,
    "q42_salted_agg"    -> q42Sql,
    "q46_stratified_sample" -> q46Sql,
    "q47_pseudonymize"  -> q47Sql,
    "q60_json_extract"  -> q60Sql,
    "q63_weighted_sample" -> q63Sql,
    "q64_uniform_sample_k" -> q64Sql,
    "q67_constraint_audit" -> q67Sql,
    "q68_snapshot_diff" -> q68Sql,
    "q72_asof_join"     -> q72Sql,
    "q80_stateful_sessions" -> q36Sql,
    "q89_time_travel"   -> q89Sql,
  )
}
