package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.store.CommitLog

/** Versioned-store (commit log) operator coverage: MERGE upsert, change
  * feed, Z-order clustering key. Each query routes REAL store machinery
  * (snapshot commits, copy-on-write file rewrites, version reads) onto
  * the oracle path: DuckDB recomputes what the final table state must be
  * from the same base table, so a store bug (lost row, double-applied
  * update, stale snapshot) hash-mismatches.
  */
object StoreQueries {

  /** q90: copy-on-write MERGE — v0 = the corpus laid out by source (so
    * the upsert's file pruning is real: only files holding `src0`/`src1`
    * keys rewrite, the rest carry over by name); batch = every `src0`
    * doc with n_chars bumped +1000 (update arm) ∪ `src1` clones under
    * fresh ids (insert arm). Reads back the merged head and aggregates
    * per source. */
  def q90MergeUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.ops.ScratchCache.tempDir(s, "graft-q90")
    val log = new CommitLog(root)
    val docs = documents(s, d)
    log.append(docs.repartition($"source")): Unit
    val updates = docs.filter($"source" === "src0")
      .withColumn("n_chars", $"n_chars" + 1000L)
    val inserts = docs.filter($"source" === "src1")
      .withColumn("doc_id", $"doc_id" + 10000000L)
    log.merge(s, updates.unionByName(inserts), "doc_id"): Unit
    log.read(s).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
      .orderBy($"source")
  }

  val q90Sql: String =
    """WITH merged AS (
      |  SELECT source,
      |    CASE WHEN source = 'src0' THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT source, n_chars FROM documents WHERE source = 'src1')
      |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM merged GROUP BY source ORDER BY source""".stripMargin

  /** q91: change feed — v0 = the corpus; v1 = overwrite applying an
    * update (src0: n_chars + 1000), a delete (src2 dropped), and inserts
    * (src1 clones under fresh ids). `changes(0, 1)` keys a full-row-hash
    * diff of the two snapshot READS, so a wrong version resolution or a
    * row lost in the overwrite surfaces as a wrong change row. */
  def q91ChangeFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.ops.ScratchCache.tempDir(s, "graft-q91")
    val log = new CommitLog(root)
    val docs = documents(s, d)
    log.append(docs): Unit
    val v1 = docs.filter($"source" =!= "src2")
      .withColumn("n_chars",
        when($"source" === "src0", $"n_chars" + 1000L).otherwise($"n_chars"))
      .unionByName(docs.filter($"source" === "src1")
        .withColumn("doc_id", $"doc_id" + 10000000L))
    log.overwrite(v1): Unit
    log.changes(s, 0, 1, "doc_id").orderBy($"doc_id", $"change_type")
  }

  val q91Sql: String =
    """SELECT * FROM (
      |  SELECT doc_id + 10000000 AS doc_id, 'insert' AS change_type
      |  FROM documents WHERE source = 'src1'
      |  UNION ALL
      |  SELECT doc_id, 'delete' FROM documents WHERE source = 'src2'
      |  UNION ALL
      |  SELECT doc_id, 'update' FROM documents WHERE source = 'src0')
      |ORDER BY doc_id, change_type""".stripMargin

  /** q92: Z-order clustering key — the 32-bit Morton interleave of
    * (n_chars, doc_id mod 2^16) computed with pure column bit math (the
    * same key `CommitLog.compact` clusters file layout by; DuckDB runs
    * the identical shift/mask cascade). First 1000 docs in Z order. */
  def q92ZOrderKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", graft.ops.ZOrder.interleave16(
        $"n_chars", $"doc_id".bitwiseAND(lit(65535L))).as("z"))
      .orderBy($"z", $"doc_id")
      .limit(1000)
  }

  val q92Sql: String =
    """WITH s0 AS (SELECT doc_id,
      |    least(greatest(n_chars, 0), 65535) AS x, doc_id & 65535 AS y
      |  FROM documents),
      |s1 AS (SELECT doc_id, (x | (x << 8)) & 16711935 AS x,
      |                      (y | (y << 8)) & 16711935 AS y FROM s0),
      |s2 AS (SELECT doc_id, (x | (x << 4)) & 252645135 AS x,
      |                      (y | (y << 4)) & 252645135 AS y FROM s1),
      |s3 AS (SELECT doc_id, (x | (x << 2)) & 858993459 AS x,
      |                      (y | (y << 2)) & 858993459 AS y FROM s2),
      |s4 AS (SELECT doc_id, (x | (x << 1)) & 1431655765 AS x,
      |                      (y | (y << 1)) & 1431655765 AS y FROM s3)
      |SELECT doc_id, x | (y << 1) AS z FROM s4
      |ORDER BY z, doc_id LIMIT 1000""".stripMargin

  /** q96: schema evolution — v0 files lack the `lang` column, v1 files
    * carry it; the head READ (mergeSchema over the snapshot's files)
    * surfaces `lang` as NULL for pre-evolution rows. A reader pinned to
    * whichever file the planner samples first would either miss the
    * column or fail — the aggregate proves the union schema is applied
    * row-accurately. */
  def q96SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.ops.ScratchCache.tempDir(s, "graft-q96")
    val log = new CommitLog(root)
    val docs = documents(s, d)
    log.append(docs.filter($"source" =!= "src0")
      .select($"doc_id", $"source", $"n_chars")): Unit
    log.append(docs.filter($"source" === "src0")
      .select($"doc_id", $"source", $"n_chars", $"lang")): Unit
    log.read(s)
      .groupBy($"source", coalesce($"lang", lit("none")).as("lang"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
      .orderBy($"source", $"lang")
  }

  val q96Sql: String =
    """WITH v AS (
      |  SELECT source, NULL AS lang, n_chars FROM documents WHERE source <> 'src0'
      |  UNION ALL
      |  SELECT source, lang, n_chars FROM documents WHERE source = 'src0')
      |SELECT source, coalesce(lang, 'none') AS lang,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM v GROUP BY source, coalesce(lang, 'none')
      |ORDER BY source, lang""".stripMargin

  /** q101: incremental view maintenance — the per-source aggregate of v1
    * is REBUILT from the v0 aggregate plus the change feed's deltas
    * (delete subtracts the old row, insert adds the new, update does
    * both) — the maintenance arithmetic touches only changed keys' row
    * images, fetched by keyed semi-joins. The oracle aggregates
    * the v1 state directly: if the delta algebra or the feed is wrong,
    * the maintained view diverges and hash-mismatches. */
  def q101IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = graft.ops.ScratchCache.tempDir(s, "graft-q101")
    val log = new CommitLog(root)
    val docs = documents(s, d)
    log.append(docs): Unit
    val v1 = docs.filter($"source" =!= "src2")
      .withColumn("n_chars",
        when($"source" === "src0", $"n_chars" + 1000L).otherwise($"n_chars"))
      .unionByName(docs.filter($"source" === "src1")
        .withColumn("doc_id", $"doc_id" + 10000000L))
    log.overwrite(v1): Unit
    val base = log.read(s, 0).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
    // per-key deltas carried by the feed: join each changed key to its
    // old (v0) and new (v1) row images, subtract/add
    val feed = log.changes(s, 0, 1, "doc_id")
    val old = log.read(s, 0).select($"doc_id", $"source", $"n_chars")
    val neu = log.read(s, 1).select($"doc_id", $"source", $"n_chars")
    val delta = feed.join(old, Seq("doc_id"), "left")
      .select($"source", lit(-1L).as("dn"), (-$"n_chars").as("dc"))
      .filter($"source".isNotNull)
      .unionByName(feed.join(neu, Seq("doc_id"), "left")
        .select($"source", lit(1L).as("dn"), $"n_chars".as("dc"))
        .filter($"source".isNotNull))
      .groupBy($"source").agg(sum($"dn").as("dn"), sum($"dc").as("dc"))
    base.join(delta, Seq("source"), "full_outer")
      .select($"source",
        (coalesce($"n_docs", lit(0L)) + coalesce($"dn", lit(0L))).as("n_docs"),
        (coalesce($"chars", lit(0L)) + coalesce($"dc", lit(0L))).as("chars"))
      .filter($"n_docs" > 0)
      .orderBy($"source")
  }

  val q101Sql: String =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM (
      |  SELECT source, CASE WHEN source = 'src0' THEN n_chars + 1000
      |                      ELSE n_chars END AS n_chars
      |  FROM documents WHERE source <> 'src2'
      |  UNION ALL
      |  SELECT source, n_chars FROM documents WHERE source = 'src1')
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q226

  /** q226: incremental maintenance of a JOIN view — the bilinear delta
    * rule V(A+ΔA, B+ΔB) = V(A,B) + V(ΔA,B) + V(A,ΔB) + V(ΔA,ΔB),
    * the identity every join-view maintainer (Materialize, DBSP,
    * Delta-of-Delta engines) is built on. q101 maintains an ADDITIVE
    * aggregate; this maintains a two-table join view (per-nation order
    * count + revenue over customer⋈orders) under simultaneous deltas on
    * BOTH sides. The engine computes the view as the four-term sum —
    * at scale the three Δ-terms broadcast the (small) delta side, so a
    * refresh costs |Δ| work, never a base-base re-join — and the
    * oracle recomputes the view from the full tables: if any delta
    * term is missing, double-counted, or mis-joined, the hash breaks.
    * Revenue folds in exact DECIMAL (re-aggregation of partial sums is
    * order-free). */
  def q226IvmJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.Tables.{customer, orders}
    val c = customer(s, d)
    val o = orders(s, d)
    // deterministic splits standing in for "yesterday's base + today's
    // delta" on both dimensions
    val (cb, cd) = ($"c_custkey" % 10 =!= 0, $"c_custkey" % 10 === 0)
    val (ob, od) = ($"o_orderkey" % 7 =!= 0, $"o_orderkey" % 7 === 0)
    def view(cs: DataFrame, os: DataFrame): DataFrame =
      cs.join(os, $"c_custkey" === $"o_custkey")
        .groupBy($"c_nationkey".cast("bigint").as("nation"))
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(28,6)")).as("rev"))
    val terms = Seq(
      view(c.filter(cb), o.filter(ob)), view(c.filter(cd), o.filter(ob)),
      view(c.filter(cb), o.filter(od)), view(c.filter(cd), o.filter(od)))
    terms.reduce(_ unionByName _)
      .groupBy($"nation")
      .agg(sum($"n_orders").as("n_orders"),
        graft.functions.TextFunctions.roundp(sum($"rev").cast("double"), 2)
          .as("revenue"))
      .orderBy($"nation")
  }

  val q226Sql: String =
    """SELECT c_nationkey::BIGINT AS nation, count(*)::BIGINT AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
      |    * 100.0) / 100.0 AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q226_ivm_join" -> (q226IvmJoin _),
    "q90_merge_upsert"     -> (q90MergeUpsert _),
    "q91_change_feed"      -> (q91ChangeFeed _),
    "q92_zorder_key"       -> (q92ZOrderKey _),
    "q96_schema_evolution" -> (q96SchemaEvolution _),
    "q101_incremental_agg" -> (q101IncrementalAgg _),
  )

  val oracles: Map[String, String] = Map(
    "q226_ivm_join" -> q226Sql,
    "q90_merge_upsert"     -> q90Sql,
    "q91_change_feed"      -> q91Sql,
    "q92_zorder_key"       -> q92Sql,
    "q96_schema_evolution" -> q96Sql,
    "q101_incremental_agg" -> q101Sql,
  )
}
