package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.ops.Dedup

/** Dedup operator coverage (exact, n-gram Jaccard, MinHash-LSH, SimHash) —
  * every variant oracle-checked: the LSH/banded paths are
  * candidate-generation + exact verification, so their output equals the
  * brute-force SQL oracle whenever recall at the threshold is ≈1 (argued
  * per-operator below and property-tested in DedupSpec).
  */
object DedupQueries {

  /** q26: exact dedup — canonical id per identical text. */
  def q26Exact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.exactCanonical(documents(s, d), "doc_id", "text")
      .select($"content_hash", $"canonical_id", $"n_copies")
      .orderBy($"canonical_id")
  }

  val q26Sql: String =
    s"""SELECT ${DuckSql.polyHashSql("lower(text)")} AS content_hash,
       |  min(doc_id) AS canonical_id, count(*) AS n_copies
       |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin

  /** Shared WITH-prefix ending in a `jpairs(id_a, id_b, jac)` relation —
    * the brute-force thresholded Jaccard pairs both q27/q28's oracles and
    * q51's component oracle build on (RECURSIVE for q51's reachability). */
  private[queries] def jaccardPairsCte(threshold: Double, maxDf: Option[Int]): String = {
    val capFilter = maxDf match {
      case Some(cap) =>
        s"""ex AS (SELECT doc_id, s FROM ex0
           |  WHERE s NOT IN (SELECT s FROM ex0 GROUP BY s HAVING count(*) > $cap)),""".stripMargin
      case None => "ex AS (SELECT doc_id, s FROM ex0),"
    }
    s"""WITH RECURSIVE toks AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |sh AS (SELECT doc_id, ${DuckSql.shinglesSql("ws", 3)} AS shingles
       |  FROM toks WHERE len(ws) >= 3),
       |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |$capFilter
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
       |jpairs AS (SELECT id_a, id_b,
       |    ${DuckSql.roundpSql("inter * 1.0 / (sa.n + sb.n - inter)", 6)} AS jac
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= $threshold)""".stripMargin
  }

  private def jaccardOracle(threshold: Double, maxDf: Option[Int] = None): String =
    jaccardPairsCte(threshold, maxDf) +
      "\nSELECT id_a, id_b, jac FROM jpairs ORDER BY id_a, id_b"

  /** Shingles appearing in more docs than this are dropped from q27's
    * comparison universe (both engines): the standard frequency cap that
    * keeps the inverted-index self-join from going quadratic on a hot
    * shingle. A no-op on the fixture (max df 25 at sf0.1) — the value is
    * the 100 TB bound, exercised directly in DedupSpec. */
  val Q27MaxDf = 1000

  /** q27: exhaustive word-3-gram Jaccard near-dup pairs (inverted-index
    * join), threshold 0.7, df-capped. */
  def q27NgramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.jaccardPairs(documents(s, d), "doc_id", "text", 3, 0.7,
        maxDf = Some(Q27MaxDf))
      .orderBy($"id_a", $"id_b")
  }

  val q27Sql: String = jaccardOracle(0.7, maxDf = Some(Q27MaxDf))

  /** q146: dedup-threshold SENSITIVITY — before committing a corpus to a
    * near-dup threshold, the tuning report: for each candidate threshold,
    * how many pairs fire and how many documents would drop (survivor =
    * smaller id, as everywhere in the dedup family). ONE exact
    * inverted-index jaccard pass at the loosest threshold feeds every
    * row — the per-threshold numbers are conditional aggregation over
    * the same pair frame, not one dedup run per threshold. Exact pairs
    * (not LSH candidates) so recall is 1 at every reported threshold and
    * the oracle is the plain SQL replay. */
  def q146ThresholdSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the thresholds are STATIC, so the whole sweep is ONE aggregation
    // over the pair frame — per-threshold conditional count + conditional
    // countDistinct — stack()ed out to rows. No per-threshold action, no
    // driver loop, no persist (single consumer), one jaccard pass.
    val pairs = Dedup.jaccardPairs(documents(s, d), "doc_id", "text", 3, 0.7,
      maxDf = Some(Q27MaxDf))
    val ts = Seq(0.7, 0.8, 0.9)
    // count(when(...)), not sum(when(...)): over an EMPTY pair frame the
    // ungrouped sum returns NULL where the oracle (and the pre-fold form)
    // returns 0 — count of a null-producing expression is 0 on empty
    val aggs = ts.zipWithIndex.flatMap { case (t, i) => Seq(
      count(when($"jac" >= t, 1L)).as(s"np_$i"),
      countDistinct(when($"jac" >= t, $"id_b")).as(s"nd_$i"))
    }
    val stackArgs = ts.zipWithIndex
      .map { case (t, i) => s"${t}D, np_$i, nd_$i" }.mkString(", ")
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${ts.size}, $stackArgs) " +
        "AS (threshold, n_pairs, n_dropped)"))
      .orderBy($"threshold")
  }

  val q146Sql: String =
    jaccardPairsCte(0.7, Some(Q27MaxDf)) +
      """
        |SELECT t.threshold::DOUBLE AS threshold,
        |  count(jp.id_a)::BIGINT AS n_pairs,
        |  count(DISTINCT jp.id_b)::BIGINT AS n_dropped
        |FROM (VALUES (0.7), (0.8), (0.9)) t(threshold)
        |LEFT JOIN jpairs jp ON jp.jac >= t.threshold
        |GROUP BY t.threshold ORDER BY threshold""".stripMargin

  /** q147: CONTENT-DEFINED chunking dedup — chunk boundaries cut AFTER
    * tokens whose hash falls in a fixed residue class (token-level CDC,
    * expected chunk ≈ 8 tokens), so an insertion or deletion only moves
    * the boundaries around it: unlike q117/q135's ALIGNED segments, the
    * chunks downstream of an edit still match across document versions —
    * the rsync/LBFS trick applied to corpus dedup. Per document: chunk
    * count, chunks shared with ≥1 OTHER doc, and the shared fraction.
    *
    * Scale shape: boundary selection and chunk hashing are per-row
    * array expressions inside the scan (no shuffle); the only
    * corpus-size exchanges are the chunk-hash frequency aggregation and
    * the join back. Both engines hash with the same polyHash, so parity
    * holds even under collision. */
  def q147CdcChunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.roundp
    // fused native kernel: tokenize → boundary cut → chunk hash in one
    // codegen'd pass. The staged HOF form (transform/filter lambdas
    // around polyHash) ran interpreted and measured 1.60 s at sf0.1;
    // the kernel runs 0.69 s — under its DuckDB twin's 1.16 s.
    // Arithmetic is identical (ShingleSpec pins kernel == HOF), so the
    // DuckDB list-lambda oracle is unchanged.
    val chunks = documents(s, d)
      .select($"doc_id",
        explode(graft.functions.ShingleExpressions
          .cdcChunkHashes($"text", 8)).as("h"))
    val counts = chunks.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd"))
    chunks.join(counts, Seq("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select($"doc_id", $"n_chunks", $"n_shared",
        roundp($"n_shared" * lit(1.0) / $"n_chunks", 6).as("shared_frac"))
      .orderBy($"doc_id")
  }

  val q147Sql: String = {
    val ph = DuckSql.polyHashSql("ws[i]")
    val chunkPh = DuckSql.polyHashSql("array_to_string(ws[s.a+1:s.b], ' ')")
    s"""WITH t AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |nz AS (SELECT doc_id, ws FROM t WHERE len(ws) > 0),
       |b AS (SELECT doc_id, ws, [0::BIGINT] ||
       |    list_filter(list_transform(range(1, len(ws) + 1),
       |      i -> CASE WHEN $ph % 8 = 0 THEN i ELSE -1 END), p -> p > 0)
       |    || [len(ws)::BIGINT] AS bounds FROM nz),
       |c AS (SELECT doc_id, unnest(list_transform(
       |    list_filter(list_transform(range(1, len(bounds)),
       |      j -> struct_pack(a := bounds[j], b := bounds[j+1])),
       |      s -> s.b > s.a),
       |    s -> $chunkPh)) AS h FROM b),
       |n AS (SELECT h, count(DISTINCT doc_id) AS nd FROM c GROUP BY h)
       |SELECT doc_id, count(*)::BIGINT AS n_chunks,
       |  (count(*) FILTER (nd >= 2))::BIGINT AS n_shared,
       |  ${DuckSql.roundpSql("(count(*) FILTER (nd >= 2)) * 1.0 / count(*)", 6)}
       |    AS shared_frac
       |FROM c JOIN n USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q168: MinHash-estimate FIDELITY — per near-dup pair (J ≥ 0.7), the
    * 64-hash signature estimate of Jaccard next to the exact value and
    * the absolute error. The estimator (matching components / 64) is what
    * a 100 TB pipeline would use in place of exact set intersection; this
    * table is the audit that justifies it. The oracle replays the WHOLE
    * estimator — permutation j: h ↦ ((2j+1)·h + j² + 7) mod 4294967291
    * over the distinct shingle-hash set, list_min per permutation — so
    * the driver hash-checks the signatures themselves, not just the
    * pair set. Estimates are dyadic rationals k/64 (exact in binary both
    * engines); pair recall at 0.7 via 2×32 bands misses with
    * p = (1−0.49)³² ≈ 4e-10 per pair — negligible. */
  def q168MinhashFidelity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.minhashFidelity(documents(s, d), "doc_id", "text", 3, 0.7)
      .orderBy($"id_a", $"id_b")
  }

  val q168Sql: String = {
    val sigExpr = "list_transform(range(0, 64), j -> list_min(" +
      "list_transform(hs, h -> ((2*j + 1)*h + j*j + 7) % 4294967291)))"
    val est = "(list_sum(list_transform(range(0, 64), " +
      "j -> CASE WHEN sa.sig[j+1] = sb.sig[j+1] THEN 1 ELSE 0 END)) / 64.0)"
    jaccardPairsCte(0.7, None) +
      s""",
        |sig AS (SELECT doc_id, $sigExpr AS sig FROM (
        |  SELECT doc_id, ${DuckSql.shingleHashesSql("ws", 3)} AS hs
        |  FROM toks WHERE len(ws) >= 3)),
        |SELECT_BASE AS (SELECT id_a, id_b, jac,
        |    ${DuckSql.roundpSql(est, 6)} AS est_jac,
        |    ${DuckSql.roundpSql(s"abs($est - jac)", 6)} AS abs_err
        |  FROM jpairs
        |  JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b)
        |SELECT * FROM SELECT_BASE ORDER BY id_a, id_b""".stripMargin
  }

  /** q28: MinHash-LSH dedup at J ≥ 0.8 (64 hashes, 2 rows × 32 bands →
    * miss probability ≤ (1−0.64)³² ≈ 6e-15, so output = brute force). */
  def q28MinhashLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.minhashDedupPairs(documents(s, d), "doc_id", "text", 3, 0.8)
      .orderBy($"id_a", $"id_b")
  }

  val q28Sql: String = jaccardOracle(0.8)

  /** q29: SimHash near-dup — 48-bit fingerprints, 4×12-bit bands (pigeonhole
    * ⇒ recall 1 for hamming ≤ 3), exact hamming verification. Oracle is the
    * brute-force fingerprint XOR popcount. */
  def q29Simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.simhashPairs(documents(s, d), "doc_id", "text", 3, maxHamming = 3)
      .orderBy($"id_a", $"id_b")
  }

  val q29Sql: String =
    s"""WITH toks AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |fp AS (SELECT doc_id,
       |  ${DuckSql.simhash48Sql(DuckSql.shingleHashesSql("ws", 3))} AS simhash
       |  FROM toks WHERE len(ws) >= 3)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** q51: dedup groups — MinHash pairs at J ≥ 0.8 (q28's generator) fed
    * through distributed connected components; each paired doc maps to
    * its component's min id (the canonical survivor). The oracle walks
    * the same brute-force pairs with a recursive reachability CTE —
    * iterative-fixpoint Spark vs recursive SQL, same answer. */
  def q51DedupGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashDedupPairs(documents(s, d), "doc_id", "text", 3, 0.8)
    Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select($"id".as("doc_id"), $"component_id")
      .orderBy($"doc_id")
  }

  val q51Sql: String =
    jaccardPairsCte(0.8, None) +
      """,
        |edges AS (SELECT id_a AS a, id_b AS b FROM jpairs
        |  UNION ALL SELECT id_b, id_a FROM jpairs),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT re.id, e.b FROM reach re JOIN edges e ON re.r = e.a)
        |SELECT id AS doc_id, min(r)::BIGINT AS component_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q128: near-dup CLUSTER-SIZE histogram — the shape-of-duplication
    * report run before choosing a dedup policy (a corpus of 2-doc pairs
    * needs different survivor rules than one with thousand-doc spam
    * clusters). q51's components aggregate to sizes, sizes to a
    * histogram; documents in no pair appear as the size-1 row via an
    * anti-join (never a driver-side subtraction). All steps are
    * aggregations on frames ≤ |paired docs| past the pair generator. */
  def q128ClusterSizes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
    // comp feeds BOTH the histogram and the singleton anti-join; it is
    // already materialized (connected components returns its last cut
    // generation), so the pair pipeline upstream runs once
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val hist = comp.groupBy($"component_id").agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = docs.select($"doc_id")
      .join(comp.select($"id".as("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), $"n_clusters")
    singles.unionByName(hist)
      .filter($"n_clusters" > 0)
      .orderBy($"cluster_size")
  }

  val q128Sql: String =
    jaccardPairsCte(0.8, None) +
      """,
        |edges AS (SELECT id_a AS a, id_b AS b FROM jpairs
        |  UNION ALL SELECT id_b, id_a FROM jpairs),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT re.id, e.b FROM reach re JOIN edges e ON re.r = e.a),
        |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |szs AS (SELECT c, count(*) AS sz FROM comp GROUP BY c),
        |hist AS (SELECT sz AS cluster_size, count(*) AS n_clusters
        |  FROM szs GROUP BY sz),
        |singles AS (SELECT 1::BIGINT AS cluster_size, count(*) AS n_clusters
        |  FROM documents WHERE doc_id NOT IN (SELECT id FROM comp))
        |SELECT cluster_size, n_clusters FROM
        |  (SELECT * FROM singles UNION ALL SELECT * FROM hist)
        |WHERE n_clusters > 0
        |ORDER BY cluster_size""".stripMargin

  /** q197: source-partition MODULARITY of the near-dup graph — Newman
    * modularity Q = Σ_s [L_s/m − (d_s/2m)²] where the partition is the
    * document SOURCE, not the connected component (a components
    * partition is degenerate: every edge is intra-component by
    * definition). High contribution = a source duplicates mostly
    * WITHIN itself (self-spam); a negative contribution = its near-dups
    * live in OTHER sources (two "different" slices are one corpus) —
    * the graph-theoretic sharpening of q132's cross-source rate. Edges
    * are q51's verified MinHash pairs, persisted once; everything
    * after is |pairs|-sized aggregation: intra counts from a source
    * equality flag, degree sums from a 2-row-per-edge incidence union,
    * m broadcast as a 1-row aggregate (never a driver scalar). All
    * inputs to the double arithmetic are exact BIGINTs, so both
    * engines run identical IEEE ops → identical 6dp rounding. */
  def q197SourceModularity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.roundp
    val docs = documents(s, d)
    val src = docs.select($"doc_id", $"source")
    val ends = graft.ops.ScratchCache.register(
      Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
        .select($"id_a", $"id_b")
        .join(src.select($"doc_id".as("id_a"), $"source".as("src_a")),
          Seq("id_a"))
        .join(src.select($"doc_id".as("id_b"), $"source".as("src_b")),
          Seq("id_b"))
        .persist())
    val m = ends.agg(count(lit(1)).as("m"))
    val incid = ends.select($"id_a".as("node"), $"src_a".as("source"))
      .unionByName(ends.select($"id_b".as("node"), $"src_b".as("source")))
    val deg = incid.groupBy($"source").agg(
      count(lit(1)).as("degree_sum"),
      countDistinct($"node").as("n_nodes"))
    val intra = ends.filter($"src_a" === $"src_b")
      .groupBy($"src_a".as("source")).agg(count(lit(1)).as("intra_edges"))
    deg.join(intra, Seq("source"), "left_outer")
      .na.fill(0L, Seq("intra_edges"))
      .join(broadcast(m))
      .select($"source", $"n_nodes", $"intra_edges", $"degree_sum",
        roundp(
          $"intra_edges".cast("double") / $"m".cast("double") -
            ($"degree_sum".cast("double") / (lit(2.0) * $"m".cast("double"))) *
            ($"degree_sum".cast("double") / (lit(2.0) * $"m".cast("double"))),
          6).as("contribution"))
      .orderBy($"source")
  }

  val q197Sql: String =
    jaccardPairsCte(0.8, None) +
      """,
        |ep AS (SELECT id_a, id_b, sa.source AS src_a, sb.source AS src_b
        |  FROM jpairs
        |  JOIN documents sa ON sa.doc_id = id_a
        |  JOIN documents sb ON sb.doc_id = id_b),
        |mm AS (SELECT count(*) AS m FROM ep),
        |incid AS (SELECT id_a AS node, src_a AS source FROM ep
        |  UNION ALL SELECT id_b, src_b FROM ep),
        |deg AS (SELECT source, count(*) AS degree_sum,
        |    count(DISTINCT node) AS n_nodes
        |  FROM incid GROUP BY source),
        |intra AS (SELECT src_a AS source, count(*) AS intra_edges
        |  FROM ep WHERE src_a = src_b GROUP BY src_a)
        |SELECT deg.source, n_nodes::BIGINT AS n_nodes,
        |  coalesce(intra_edges, 0)::BIGINT AS intra_edges,
        |  degree_sum::BIGINT AS degree_sum,
        |  round((coalesce(intra_edges, 0)::DOUBLE / m::DOUBLE
        |      - (degree_sum::DOUBLE / (2.0 * m::DOUBLE))
        |        * (degree_sum::DOUBLE / (2.0 * m::DOUBLE))) * 1000000.0)
        |    / 1000000.0 AS contribution
        |FROM deg LEFT OUTER JOIN intra ON deg.source = intra.source, mm
        |ORDER BY deg.source""".stripMargin

  /** q132: CROSS-SOURCE duplication rate — per source, how many of its
    * documents have a near-dup (J ≥ 0.8) in a DIFFERENT source, and the
    * rate against the source's size. The inter-source leakage view of the
    * q28 pair table: high cross-source duplication means two "different"
    * corpus slices are actually one. Pairs annotate with both sources via
    * two broadcast-able dimension joins; each direction contributes its
    * member, distinct per doc, then a size join — everything past the
    * pair generator is |pairs|-sized. */
  def q132CrossSourceDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.roundp
    val docs = documents(s, d)
    val src = docs.select($"doc_id", $"source")
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
      .join(src.select($"doc_id".as("id_a"), $"source".as("src_a")), "id_a")
      .join(src.select($"doc_id".as("id_b"), $"source".as("src_b")), "id_b")
      .filter($"src_a" =!= $"src_b")
    val dupDocs = pairs.select($"id_a".as("doc_id"), $"src_a".as("source"))
      .unionByName(pairs.select($"id_b".as("doc_id"), $"src_b".as("source")))
      .distinct()
      .groupBy($"source").agg(count(lit(1)).as("n_cross_dup"))
    docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(dupDocs, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"n_cross_dup", lit(0L)).as("n_cross_dup"),
        roundp(coalesce($"n_cross_dup", lit(0L)) * lit(1.0) / $"n_docs", 6)
          .as("rate"))
      .orderBy($"source")
  }

  val q132Sql: String =
    jaccardPairsCte(0.8, None) +
      s""",
        |xp AS (SELECT id_a, id_b, da.source AS src_a, db.source AS src_b
        |  FROM jpairs
        |  JOIN documents da ON da.doc_id = id_a
        |  JOIN documents db ON db.doc_id = id_b
        |  WHERE da.source <> db.source),
        |dup AS (SELECT source, count(*) AS n_cross_dup FROM (
        |  SELECT DISTINCT doc_id, source FROM (
        |    SELECT id_a AS doc_id, src_a AS source FROM xp
        |    UNION ALL SELECT id_b, src_b FROM xp))
        |  GROUP BY source),
        |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT t.source, t.n_docs,
        |  coalesce(dup.n_cross_dup, 0)::BIGINT AS n_cross_dup,
        |  ${DuckSql.roundpSql(
              "coalesce(dup.n_cross_dup, 0) * 1.0 / t.n_docs", 6)} AS rate
        |FROM tot t LEFT JOIN dup USING (source)
        |ORDER BY source""".stripMargin

  /** q133: dedup POLICY-IMPACT report — the docs/tokens a corpus keeps
    * under each of three policies (none, exact, near-dup), the table a
    * pipeline owner reads before picking one. Exact keeps the min-id doc
    * per identical lower(text); near-dup keeps the min-id doc per J ≥ 0.8
    * component plus every un-paired doc. Three aggregate rows from
    * frames the earlier stages already bound (component table ≤ paired
    * docs); token masses are BIGINT sums so the report is
    * reduction-order-free. */
  def q133DedupPolicyImpact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    // the tokenized doc frame feeds three policy aggregates and the
    // component table feeds two consumers — persist both (each ≤ corpus
    // rows of scalars) so the tokenize kernel and the whole minhash pair
    // pipeline run once, not once per consumer (3.5 s → ~2 s at sf0.1)
    val docs = graft.ops.ScratchCache.register(documents(s, d)
      .select($"doc_id", $"text", size(tokens($"text")).cast("long").as("n_tok"))
      .persist())
    val raw = docs.agg(count(lit(1)).as("n_docs_kept"),
        sum($"n_tok").as("n_tokens_kept"))
      .select(lit("0_none").as("policy"), $"n_docs_kept", $"n_tokens_kept")
    val exactKeep = docs.groupBy(lower($"text").as("lt"))
      .agg(min($"doc_id").as("keep_id"))
    val exact = docs.join(exactKeep.select($"keep_id".as("doc_id")), "doc_id")
      .agg(count(lit(1)).as("n_docs_kept"), sum($"n_tok").as("n_tokens_kept"))
      .select(lit("1_exact").as("policy"), $"n_docs_kept", $"n_tokens_kept")
    val pairs = Dedup.minhashDedupPairs(documents(s, d), "doc_id", "text", 3, 0.8)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    // survivors: min id per component; non-members survive by default —
    // expressed as an anti-join union, never a driver-side set difference
    val compKeep = comp.groupBy($"component_id").agg(min($"id").as("doc_id"))
      .select($"doc_id")
    val nonMembers = docs.select($"doc_id")
      .join(comp.select($"id".as("doc_id")), Seq("doc_id"), "left_anti")
    // no distinct: compKeep (one min-id row per component, ids that ARE
    // members) and nonMembers (anti-join of members) are disjoint and each
    // internally unique — the dedupe exchange was a no-op by construction
    val near = docs
      .join(compKeep.unionByName(nonMembers), "doc_id")
      .agg(count(lit(1)).as("n_docs_kept"), sum($"n_tok").as("n_tokens_kept"))
      .select(lit("2_near_dup").as("policy"), $"n_docs_kept", $"n_tokens_kept")
    raw.unionByName(exact).unionByName(near).orderBy($"policy")
  }

  val q133Sql: String =
    jaccardPairsCte(0.8, None) +
      s""",
        |edges AS (SELECT id_a AS a, id_b AS b FROM jpairs
        |  UNION ALL SELECT id_b, id_a FROM jpairs),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT re.id, e.b FROM reach re JOIN edges e ON re.r = e.a),
        |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |d AS (SELECT doc_id, text,
        |    len(${DuckSql.tokensSql})::BIGINT AS n_tok FROM documents),
        |raw AS (SELECT '0_none' AS policy, count(*) AS n_docs_kept,
        |  sum(n_tok)::BIGINT AS n_tokens_kept FROM d),
        |ek AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY lower(text)),
        |exact AS (SELECT '1_exact' AS policy, count(*) AS n_docs_kept,
        |  sum(n_tok)::BIGINT AS n_tokens_kept FROM d
        |  WHERE doc_id IN (SELECT doc_id FROM ek)),
        |ck AS (SELECT min(id) AS doc_id FROM comp GROUP BY c
        |  UNION SELECT doc_id FROM d
        |    WHERE doc_id NOT IN (SELECT id FROM comp)),
        |nr AS (SELECT '2_near_dup' AS policy, count(*) AS n_docs_kept,
        |  sum(n_tok)::BIGINT AS n_tokens_kept FROM d
        |  WHERE doc_id IN (SELECT doc_id FROM ck))
        |SELECT policy, n_docs_kept, n_tokens_kept FROM
        |  (SELECT * FROM raw UNION ALL SELECT * FROM exact
        |   UNION ALL SELECT * FROM nr)
        |ORDER BY policy""".stripMargin

  /** q52: incremental dedup — the `src0` documents stand in for a newly
    * ingested batch; emit near-dup pairs (J ≥ 0.8) touching the batch
    * only. The candidate join is new-bands × all-bands (O(B·N), with the
    * hot-band guard of the corpus self-join) instead of the corpus
    * self-join — the batch-ingest flow of a growing corpus. Oracle = the brute pairs restricted to
    * batch membership. */
  def q52IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the PERSISTED-index flow: corpus shingled+banded once into a saved
    // parquet band index, batch probes it (no corpus re-read). Output is
    // identical to minhashDedupPairs over corpus ∪ batch filtered to pairs
    // touching the batch (spec-asserted in DedupSpec).
    val docs = documents(s, d)
    val dir = graft.ops.ScratchCache.tempDir(s, "graft-band-index")
    val ref = graft.ops.BandIndex.build(
      docs.filter($"source" =!= "src0"), "doc_id", "text", dir)
    graft.ops.BandIndex.probe(s, ref, docs.filter($"source" === "src0"),
        "doc_id", "text", 0.8)
      .orderBy($"id_a", $"id_b")
  }

  val q52Sql: String =
    jaccardPairsCte(0.8, None) +
      """
        |SELECT id_a, id_b, jac FROM jpairs
        |WHERE id_a IN (SELECT doc_id FROM documents WHERE source = 'src0')
        |   OR id_b IN (SELECT doc_id FROM documents WHERE source = 'src0')
        |ORDER BY id_a, id_b""".stripMargin

  /** Windows shared by more docs than this leave q58's comparison universe
    * (both engines) — the boilerplate guard that keeps the window self-join
    * from going quadratic on a hot license header. A no-op on the fixture
    * (max window df is small); the value is the 100 TB bound. */
  val Q58MaxDf = 1000

  /** q58: exact-substring dedup — pairs of documents sharing ≥1 identical
    * 30-character window, with the count of distinct shared windows and
    * the lexicographically-first example. The distributed k-gram
    * formulation of suffix-array exact-substring dedup. */
  def q58SubstringDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.substringPairs(documents(s, d), "doc_id", "text", 30,
        maxDf = Some(Q58MaxDf))
      .orderBy($"id_a", $"id_b")
  }

  val q58Sql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, text,
       |    unnest(generate_series(1, greatest(length(text) - 29, 0))) AS i
       |  FROM documents),
       |w0 AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 30) AS sub
       |  FROM pos),
       |w AS (SELECT doc_id, sub FROM w0 WHERE sub NOT IN
       |  (SELECT sub FROM w0 GROUP BY sub HAVING count(*) > $Q58MaxDf))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  count(*) AS shared, min(a.sub) AS example
       |FROM w a JOIN w b ON a.sub = b.sub AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin

  /** Hot-fingerprint df cap for q177. Unlike Q58MaxDf this one BITES on
    * the fixture: the synthetic word-salad repeats the same 16-char runs
    * across hundreds of docs, so the cap is doing its real job —
    * discarding boilerplate fingerprints that identify nothing — not
    * just standing guard for 100 TB. Mirrored exactly in the oracle. */
  val Q177MaxDf = 25

  /** q177: WINNOWING fingerprint dedup (Schleimer et al. 2003 — the MOSS
    * algorithm): polyHash every 8-char gram, slide a 4-gram window,
    * select each window's minimum (rightmost tie — robust winnowing),
    * then pair documents sharing ≥ 3 distinct rare fingerprints. The
    * guarantee q58's every-window form lacks a size for: any shared run
    * of ≥ k+w−1 = 23 chars yields a shared fingerprint while only
    * ~2/(w+1) of the grams are kept — the index is ~2.5× smaller than
    * q58's at the same detection floor. The kernel
    * ([[graft.functions.WinnowHashes]]) fuses gram-hash + window-min +
    * dedup in one codegen pass; the oracle replays the selection with
    * list lambdas (rightmost-min via a `<=` list_reduce), so the
    * fingerprint SETS are hash-checked, not just the pairs. */
  def q177Winnowing(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w0 = documents(s, d).select($"doc_id",
      explode(graft.functions.ShingleExpressions
        .winnowHashes($"text", 16, 8)).as("h"))
    val fp = graft.ops.ScratchCache.register(w0.persist())
    val hot = fp.groupBy($"h").agg(count(lit(1)).as("df"))
      .filter($"df" > Q177MaxDf).select($"h")
    // cached pre-partitioned on h: the self-join below reuses the cached
    // partitioning on both sides instead of exchanging the fingerprint
    // frame twice (and the broadcast anti-join runs once, not per side)
    val w = graft.ops.ScratchCache.register(
      fp.join(broadcast(hot), Seq("h"), "left_anti")
        .transform(graft.ops.FanOut.byKey(_, $"h")).persist())
    w.count() // fill: expose HashPartitioning to the self-join planner
    w.as("a").join(w.as("b").hint("SHUFFLE_HASH"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
      .orderBy($"id_a", $"id_b")
  }

  val q177Sql: String = {
    val gramHash = DuckSql.polyHashSql("substr(text, CAST(i AS INT), 16)")
    s"""WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
       |gr AS (SELECT doc_id,
       |    list_transform(range(1, L - 16 + 2), i -> $gramHash) AS g
       |  FROM t WHERE L >= 23),
       |sel AS (SELECT doc_id, list_distinct(
       |    list_transform(range(1, len(g) - 8 + 2), j ->
       |      g[list_reduce(range(j, j + 8),
       |        (acc, i) -> CASE WHEN g[i] <= g[acc] THEN i ELSE acc END)]))
       |    AS fps
       |  FROM gr WHERE len(g) >= 8),
       |w0 AS (SELECT doc_id, unnest(fps) AS h FROM sel),
       |w AS (SELECT doc_id, h FROM w0 WHERE h NOT IN
       |  (SELECT h FROM w0 GROUP BY h HAVING count(*) > $Q177MaxDf))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  count(*)::BIGINT AS n_shared
       |FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY id_a, id_b""".stripMargin
  }

  /** q180: LSH BANDING-EFFICIENCY curve — for nested band budgets (8, 16,
    * 32 of the 2-row bands), candidate pairs generated, true near-dups
    * (exact J ≥ 0.8) among them, and precision: the (cost, recall)
    * table that justifies a banding scheme before a 100 TB run. One
    * banded self-join yields the MINIMUM colliding band per pair; the
    * nested budgets are conditional sums over that single frame
    * ([[graft.ops.Dedup.bandingEfficiency]]). The oracle replays the
    * signature permutations (q168's list replay) and finds colliding
    * bands over all pairs — same numbers from the opposite plan shape. */
  def q180LshEfficiency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.bandingEfficiency(documents(s, d), "doc_id", "text", 3, 0.8)
      .orderBy($"bands_used")
  }

  val q180Sql: String = {
    val sigExpr = "list_transform(range(0, 64), j -> list_min(" +
      "list_transform(hs, h -> ((2*j + 1)*h + j*j + 7) % 4294967291)))"
    s"""WITH toks AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |st AS (SELECT doc_id, ${DuckSql.shinglesSql("ws", 3)} AS sh,
       |    ${DuckSql.shingleHashesSql("ws", 3)} AS hs
       |  FROM toks WHERE len(ws) >= 3),
       |sig AS (SELECT doc_id, sh, $sigExpr AS sig FROM st),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sh AS sa, b.sh AS sb,
       |    list_min(list_transform(range(0, 32), b2 ->
       |      CASE WHEN a.sig[2*b2+1] = b.sig[2*b2+1]
       |            AND a.sig[2*b2+2] = b.sig[2*b2+2] THEN b2 ELSE 99 END))
       |      AS min_band
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
       |c2 AS (SELECT id_a, id_b, min_band,
       |    len(list_intersect(sa, sb)) AS inter,
       |    len(sa) AS na, len(sb) AS nb
       |  FROM cand WHERE min_band < 32),
       |j AS (SELECT id_a, id_b, min_band,
       |    ${DuckSql.roundpSql("inter * 1.0 / (na + nb - inter)", 6)} AS jac
       |  FROM c2),
       |bb AS (SELECT unnest([8, 16, 32]) AS bands_used)
       |SELECT CAST(bands_used AS BIGINT) AS bands_used,
       |  sum(CASE WHEN min_band < bands_used THEN 1 ELSE 0 END)::BIGINT
       |    AS n_candidates,
       |  sum(CASE WHEN min_band < bands_used AND jac >= 0.8 THEN 1 ELSE 0
       |    END)::BIGINT AS n_true,
       |  ${DuckSql.roundpSql(
            "sum(CASE WHEN min_band < bands_used AND jac >= 0.8 " +
              "THEN 1 ELSE 0 END) * 1.0 / " +
              "sum(CASE WHEN min_band < bands_used THEN 1 ELSE 0 END)", 6)}
       |    AS precision
       |FROM j, bb GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q73: edit-distance fuzzy near-dup join — classic record-linkage shape:
    * BLOCK on a cheap equality key (first 12 chars) so the self-join is a
    * plain hash join (shuffles |docs|, not |docs|²), then score survivors
    * with `levenshtein` over an 80-char window using Spark's THRESHOLDED
    * variant (3-arg levenshtein, Spark 3.5+): the DP bails out as soon as
    * the distance provably exceeds the cap, so per-pair cost is
    * O(len·cap) not O(len²). At 100 TB the block key is the only knob —
    * block sizes stay small (the prefix is high-entropy), so candidate
    * pairs grow linearly with planted dup density, not quadratically. */
  def q73FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val doc = documents(s, d)
      .select($"doc_id", substring($"text", 1, 12).as("blk"),
        substring($"text", 1, 80).as("w80"))
    // probe side fans out so the broadcast-join probe + per-pair edit
    // distance parallelize even off a single-row-group scan (ProfQ73:
    // the lev stage was single-task and dominated the query); identity
    // on any real-size corpus, where the scan has splits of its own
    val pairs = graft.ops.FanOut.cpu(doc).as("a").join(doc.as("b"),
        $"a.blk" === $"b.blk" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        levenshtein($"a.w80", $"b.w80", 30).as("d"))
      .filter($"d" =!= -1)
    pairs.orderBy($"doc_a", $"doc_b")
  }

  val q73Sql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  levenshtein(substr(a.text,1,80), substr(b.text,1,80)) AS d
      |FROM documents a JOIN documents b
      |  ON substr(a.text,1,12) = substr(b.text,1,12)
      | AND a.doc_id < b.doc_id
      |WHERE levenshtein(substr(a.text,1,80), substr(b.text,1,80)) <= 30
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q99: entity resolution end-to-end — blocked fuzzy matching (q73's
    * edit-distance pairs) fed through connected components, then EVERY
    * document mapped to its entity id (its component's min doc_id;
    * singletons resolve to themselves). The full record-linkage
    * composition: block → score → cluster → assign.
    *
    * Clustering exploits the blocking invariant: every match pair shares
    * the 12-char-prefix block, so components are block-local and
    * [[graft.ops.Dedup.blockLocalComponents]] resolves them in ONE
    * shuffle (per-block union-find) instead of one-job-per-diameter
    * iterative label propagation — same result, no driver round-trips. */
  def q99EntityResolution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val doc = documents(s, d)
      .select($"doc_id", substring($"text", 1, 12).as("blk"),
        substring($"text", 1, 80).as("w80"))
    // same probe-side fan-out as q73 (single-task lev stage otherwise)
    val pairs = graft.ops.FanOut.cpu(doc).as("a").join(doc.as("b"),
        $"a.blk" === $"b.blk" && $"a.doc_id" < $"b.doc_id")
      .select($"a.blk".as("blk"), $"a.doc_id".as("doc_a"),
        $"b.doc_id".as("doc_b"),
        levenshtein($"a.w80", $"b.w80", 30).as("dist"))
      .filter($"dist" =!= -1)
    val comp = Dedup.blockLocalComponents(pairs, "blk", "doc_a", "doc_b")
    documents(s, d).select($"doc_id")
      .join(comp.select($"id".as("doc_id"), $"component_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"component_id", $"doc_id").as("entity_id"))
      .orderBy($"doc_id")
  }

  val q99Sql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM documents a JOIN documents b
      |    ON substr(a.text, 1, 12) = substr(b.text, 1, 12)
      |   AND a.doc_id < b.doc_id
      |  WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 30),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT re.id, e.b FROM reach re JOIN edges e ON re.r = e.a),
      |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
      |SELECT d.doc_id, coalesce(comp.c, d.doc_id)::BIGINT AS entity_id
      |FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
      |ORDER BY d.doc_id""".stripMargin

  /** q109: leakage-safe train/validation split — the assignment unit is
    * the NEAR-DUP COMPONENT, not the document, so two near-duplicates can
    * never straddle the split (the classic eval-contamination bug when
    * splitting by row hash). Components come from the same MinHash-pair →
    * connected-components chain as q51; unpaired docs are their own
    * group. The gate is the deterministic keyed hash of the GROUP id
    * (q46's machinery), so the split is reproducible, rerun-stable, and
    * engine-independent.
    *
    * Scale shape: the component table is |paired docs|-sized (≪ corpus)
    * and broadcast to the left join; the gate is a per-row expression —
    * no extra shuffle beyond the component computation itself. */
  def q109LeakageSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.polyHash
    val pairs = Dedup.minhashDedupPairs(documents(s, d), "doc_id", "text", 3, 0.8)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    documents(s, d).select($"doc_id")
      .join(broadcast(comp), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce($"component_id", $"doc_id"))
      .select($"doc_id", $"group_id",
        when(pmod(polyHash(concat($"group_id".cast("string"), lit("split-v1"))),
            lit(100L)) < 90, "train").otherwise("val").as("split"))
      .orderBy($"doc_id")
  }

  val q109Sql: String = {
    val gate = DuckSql.polyHashSql("(group_id::VARCHAR || 'split-v1')")
    jaccardPairsCte(0.8, None) +
      s""",
         |edges AS (SELECT id_a AS a, id_b AS b FROM jpairs
         |  UNION ALL SELECT id_b, id_a FROM jpairs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT re.id, e.b FROM reach re JOIN edges e ON re.r = e.a),
         |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
         |grouped AS (
         |  SELECT d.doc_id, coalesce(comp.c, d.doc_id)::BIGINT AS group_id
         |  FROM documents d LEFT JOIN comp ON d.doc_id = comp.id)
         |SELECT doc_id, group_id,
         |  CASE WHEN $gate % 100 < 90 THEN 'train' ELSE 'val' END AS split
         |FROM grouped ORDER BY doc_id""".stripMargin
  }

  /** q115: dedup survivor selection — the ACTION step after clustering:
    * each near-dup component (q51's MinHash-pair connected components)
    * keeps exactly one representative, chosen by quality (longest text,
    * doc_id tiebreak), and reports how much it purged. The survivor rule
    * is argmax-by-struct — `max(struct(n_chars, -doc_id))` — one ordinary
    * hash aggregation, so selection costs one shuffle over the PAIRED
    * docs only (≪ corpus; unpaired docs trivially survive and are not
    * re-listed).
    *
    * Scale shape: components from banded LSH (no all-pairs), the member
    * join is |paired docs|, and the argmax aggregation is map-side
    * combinable — nothing here sees the full corpus after the pair
    * generation. */
  def q115DedupSurvivors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    comp.join(docs.select($"doc_id".as("id"), $"n_chars"), Seq("id"))
      .groupBy($"component_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"n_chars".as("c"), (-$"id").as("nid"))).as("best"))
      .select($"component_id".cast("long").as("component_id"),
        (-$"best.nid").cast("long").as("survivor_id"),
        $"best.c".cast("long").as("survivor_chars"),
        $"n_members")
      .orderBy($"component_id")
  }

  val q115Sql: String =
    jaccardPairsCte(0.8, None) +
      """,
        |edges AS (SELECT id_a AS a, id_b AS b FROM jpairs
        |  UNION ALL SELECT id_b, id_a FROM jpairs),
        |reach(id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT re.id, e.b FROM reach re JOIN edges e ON re.r = e.a),
        |comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        |m AS (SELECT comp.c AS component_id, d.doc_id, d.n_chars
        |  FROM comp JOIN documents d ON d.doc_id = comp.id),
        |ranked AS (SELECT component_id, doc_id, n_chars,
        |    count(*) OVER (PARTITION BY component_id) AS cnt,
        |    row_number() OVER (PARTITION BY component_id
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM m)
        |SELECT component_id::BIGINT AS component_id,
        |  doc_id::BIGINT AS survivor_id, n_chars::BIGINT AS survivor_chars,
        |  cnt::BIGINT AS n_members
        |FROM ranked WHERE rn = 1 ORDER BY component_id""".stripMargin

  /** q116: overlap-coefficient (containment) near-dup pairs — catches a
    * short document embedded in a longer one (|A∩B|/min(|A|,|B|) ≥ 0.9
    * over word-3-gram sets), the asymmetric criterion plain Jaccard
    * misses. Same inverted-index + df-cap plan as q27; only the scoring
    * differs ([[graft.ops.Dedup.containmentPairs]]). */
  def q116Containment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.containmentPairs(documents(s, d), "doc_id", "text", 3, 0.9,
        maxDf = Some(Q27MaxDf))
      .orderBy($"id_a", $"id_b")
  }

  val q116Sql: String =
    s"""WITH toks AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |sh AS (SELECT doc_id, ${DuckSql.shinglesSql("ws", 3)} AS shingles
       |  FROM toks WHERE len(ws) >= 3),
       |ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ex AS (SELECT doc_id, s FROM ex0 WHERE s NOT IN
       |  (SELECT s FROM ex0 GROUP BY s HAVING count(*) > $Q27MaxDf)),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id)
       |SELECT id_a, id_b,
       |  ${DuckSql.roundpSql("inter * 1.0 / least(sa.n, sb.n)", 6)} AS containment
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE inter * 1.0 / least(sa.n, sb.n) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  /** q117: segment-level (paragraph) dedup — the C4/Dolma granularity:
    * documents split into disjoint 10-token segments; a segment INSTANCE
    * is a duplicate when the same segment content occurred earlier in the
    * corpus (first occurrence = min (doc_id, seg_idx), the deterministic
    * scan-order dominance rule). Output per doc: segment count, duplicate
    * count, kept fraction — the inputs to boilerplate trimming.
    *
    * Scale shape: one shuffle keyed by the 32-bit segment hash for the
    * first-occurrence aggregate, one join back (both sides
    * |segments|-sized, hash-partitioned), one per-doc aggregate. No
    * windows, no self-join; the min-struct aggregate is map-side
    * combinable. */
  def q117SegmentDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.{polyHash, roundp, tokens}
    val segLen = 10
    val segs = documents(s, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .filter(size($"ws") > 0)
      .select($"doc_id",
        explode(sequence(lit(0), size($"ws") - 1, lit(segLen))).as("start"),
        $"ws")
      .select($"doc_id", ($"start" / segLen).cast("long").as("seg_idx"),
        polyHash(concat_ws(" ", slice($"ws", $"start" + 1, lit(segLen))))
          .as("h"))
    val firstSeen = segs.groupBy($"h")
      .agg(min(struct($"doc_id", $"seg_idx")).as("first"))
    segs.join(firstSeen, Seq("h"))
      .select($"doc_id", $"seg_idx",
        (struct($"doc_id", $"seg_idx") =!= $"first").as("is_dup"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when($"is_dup", 1L).otherwise(0L)).as("n_dup_segments"))
      .select($"doc_id", $"n_segments", $"n_dup_segments",
        roundp(($"n_segments" - $"n_dup_segments") * lit(1.0) / $"n_segments", 6)
          .as("kept_frac"))
      .orderBy($"doc_id")
  }

  val q117Sql: String =
    s"""WITH toks AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |nz AS (SELECT doc_id, ws FROM toks WHERE len(ws) > 0),
       |st AS (SELECT doc_id, ws,
       |    unnest(generate_series(0, len(ws) - 1, 10)) AS start FROM nz),
       |seg AS (SELECT doc_id, (start // 10)::BIGINT AS seg_idx,
       |    ${DuckSql.polyHashSql(
              "array_to_string(list_slice(ws, start + 1, start + 10), ' ')")}
       |      AS h
       |  FROM st),
       |marked AS (SELECT doc_id, seg_idx,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) > 1
       |      AS is_dup
       |  FROM seg)
       |SELECT doc_id, count(*)::BIGINT AS n_segments,
       |  count(*) FILTER (is_dup)::BIGINT AS n_dup_segments,
       |  ${DuckSql.roundpSql(
            "(count(*) - count(*) FILTER (is_dup)) * 1.0 / count(*)", 6)}
       |    AS kept_frac
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q184

  /** q184: NORMALIZED exact dedup — C4/Gopher-style canonicalization
    * (casefold, strip punctuation, collapse whitespace) before hashing,
    * vs the raw-text dedup of q26: per source, how many "distinct" docs
    * are really the same text wearing different punctuation/spacing.
    * This is the cheapest rung of the near-dup ladder (q26 exact →
    * q184 normalized → q28 MinHash) and in practice removes the bulk of
    * boilerplate mirrors before MinHash ever runs. One scan + one
    * two-key distinct aggregate (Expand×2); no joins, no window. */
  def q184NormalizedDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nrm = trim(regexp_replace(regexp_replace(lower($"text"),
      "[^a-z0-9\\s]", ""), "\\s+", " "))
    documents(s, d)
      .select($"source", lower($"text").as("raw"), nrm.as("nrm"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"raw").as("n_raw_distinct"),
        countDistinct($"nrm").as("n_norm_distinct"))
      .select($"source", $"n_docs", $"n_raw_distinct", $"n_norm_distinct",
        ($"n_raw_distinct" - $"n_norm_distinct").as("n_fuzzy_collapsed"))
      .orderBy($"source")
  }

  val q184Sql: String = {
    val nrm = "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"
    s"""SELECT source, count(*)::BIGINT AS n_docs,
       |  count(DISTINCT lower(text))::BIGINT AS n_raw_distinct,
       |  count(DISTINCT $nrm)::BIGINT AS n_norm_distinct,
       |  (count(DISTINCT lower(text)) - count(DISTINCT $nrm))::BIGINT
       |    AS n_fuzzy_collapsed
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q211

  /** q211: blocking-scheme audit — BEFORE running entity resolution /
    * near-dup verification at scale, score each candidate blocking key
    * on the two numbers that matter: reduction ratio (what fraction of
    * the n² comparison space the blocks eliminate) and pair
    * completeness (what fraction of TRUE near-dup pairs land in the
    * same block — the recall ceiling any blocked pipeline inherits).
    * Truth = the exact word-3-gram Jaccard ≥0.7 pair set (q27's, small
    * by construction). Candidate-pair counts come from block-size
    * aggregation alone — `Σ nb·(nb−1) div 2`, exact integer math, no
    * pair ever materialized; completeness joins the tiny truth frame
    * (broadcast) to the per-scheme keys. One corpus scan builds all
    * three schemes via a map+explode (rows ×3, then map-side combine);
    * nothing in the plan is quadratic in the corpus. */
  def q211BlockingAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.roundp
    val docs = documents(s, d)
    // the shared tokenizer, NOT an inline copy — its DuckDB twin
    // (DuckSql.tokensSql) is what the oracle's tok2 key builds on
    val toks = graft.functions.TextFunctions.tokens($"text")
    // keyed has THREE consumers (block stats + both truth-pair joins):
    // persist the (id, scheme, key) projection so they share one corpus scan
    val keyed = graft.ops.ScratchCache.register(
      docs.select($"doc_id", explode(map(
        lit("lang_lenb"), concat($"lang", lit("|"),
          floor($"n_chars" / 64.0).cast("bigint").cast("string")),
        lit("prefix8"), lower(substring($"text", 1, 8)),
        lit("tok2"), array_join(slice(toks, 1, 2), " "))))
        .toDF("doc_id", "scheme", "bkey").persist())
    // fill the cache NOW: the blocks map stage and both truth-join map
    // stages launch CONCURRENTLY (cf. q192) — unfilled, each races its
    // own corpus scan+explode
    keyed.count()
    val blocks = keyed.groupBy($"scheme", $"bkey")
      .agg(count(lit(1)).as("nb"))
      .groupBy($"scheme")
      .agg(count(lit(1)).as("n_blocks"), max($"nb").as("max_block"),
        expr("sum(nb * (nb - 1)) div 2").as("cand_pairs"))
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.7,
      maxDf = Some(Q27MaxDf)).select($"id_a", $"id_b")
    val audit = broadcast(truth)
      .join(keyed.toDF("id_a", "scheme", "ka"), Seq("id_a"))
      .join(keyed.toDF("id_b", "scheme", "kb"), Seq("id_b", "scheme"))
      .groupBy($"scheme")
      .agg(count(lit(1)).as("true_pairs"),
        sum(when($"ka" === $"kb", 1L).otherwise(0L)).as("caught_pairs"))
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    // LEFT join: block statistics are valid with ZERO truth pairs (a
    // corpus with no near-dups must still report reduction ratios)
    blocks.join(audit, Seq("scheme"), "left")
      .crossJoin(broadcast(tot))
      .select($"scheme", $"n_blocks", $"max_block", $"cand_pairs",
        coalesce($"true_pairs", lit(0L)).as("true_pairs"),
        coalesce($"caught_pairs", lit(0L)).as("caught_pairs"),
        // a 0/1-doc corpus has no pair universe — reduction undefined
        // (and ANSI throws on the 0-denominator divide)
        when($"n_docs" >= 2,
          roundp(lit(1.0) - $"cand_pairs" /
            ($"n_docs".cast("double") * ($"n_docs" - 1) / 2.0), 6))
          .as("reduction_ratio"),
        when($"true_pairs" > 0,
          roundp($"caught_pairs" * lit(1.0) / $"true_pairs", 6))
          .as("completeness"))
      .orderBy($"scheme")
  }

  val q211Sql: String =
    jaccardPairsCte(0.7, Some(Q27MaxDf)) + "," +
    s"""
       |keyed AS (
       |  SELECT doc_id, 'lang_lenb' AS scheme,
       |    lang || '|' || CAST(floor(n_chars / 64.0) AS BIGINT) AS bkey
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'prefix8', lower(substr(text, 1, 8)) FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'tok2', array_to_string(ws[1:2], ' ') FROM toks),
       |bs AS (SELECT scheme, bkey, count(*)::BIGINT AS nb
       |  FROM keyed GROUP BY 1, 2),
       |blocks AS (SELECT scheme, count(*)::BIGINT AS n_blocks,
       |    max(nb) AS max_block,
       |    (sum(nb * (nb - 1)) // 2)::BIGINT AS cand_pairs
       |  FROM bs GROUP BY 1),
       |pk AS (SELECT a.scheme, a.bkey AS ka, b.bkey AS kb
       |  FROM jpairs j
       |  JOIN keyed a ON a.doc_id = j.id_a
       |  JOIN keyed b ON b.doc_id = j.id_b AND b.scheme = a.scheme),
       |audit AS (SELECT scheme, count(*)::BIGINT AS true_pairs,
       |    sum(CASE WHEN ka = kb THEN 1 ELSE 0 END)::BIGINT AS caught_pairs
       |  FROM pk GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
       |SELECT scheme, n_blocks, max_block, cand_pairs,
       |  coalesce(true_pairs, 0)::BIGINT AS true_pairs,
       |  coalesce(caught_pairs, 0)::BIGINT AS caught_pairs,
       |  ${DuckSql.roundpSql(
            "1.0 - cand_pairs / (n_docs::DOUBLE * (n_docs - 1) / 2.0)", 6)}
       |    AS reduction_ratio,
       |  CASE WHEN true_pairs > 0 THEN
       |    ${DuckSql.roundpSql("caught_pairs * 1.0 / true_pairs", 6)}
       |  END AS completeness
       |FROM blocks LEFT JOIN audit USING (scheme) CROSS JOIN tot
       |ORDER BY scheme""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q211_blocking_audit" -> (q211BlockingAudit _),
    "q184_normalized_dedup" -> (q184NormalizedDedup _),
    "q168_minhash_fidelity" -> (q168MinhashFidelity _),
    "q177_winnowing"     -> (q177Winnowing _),
    "q180_lsh_efficiency" -> (q180LshEfficiency _),
    "q99_entity_resolution" -> (q99EntityResolution _),
    "q26_dedup_exact"    -> (q26Exact _),
    "q27_ngram_jaccard"  -> (q27NgramJaccard _),
    "q146_threshold_sweep" -> (q146ThresholdSweep _),
    "q147_cdc_chunks"    -> (q147CdcChunks _),
    "q28_minhash_lsh"    -> (q28MinhashLsh _),
    "q29_simhash"        -> (q29Simhash _),
    "q51_dedup_groups"   -> (q51DedupGroups _),
    "q128_cluster_sizes" -> (q128ClusterSizes _),
    "q197_source_modularity" -> (q197SourceModularity _),
    "q132_cross_source_dup" -> (q132CrossSourceDup _),
    "q133_dedup_policy_impact" -> (q133DedupPolicyImpact _),
    "q52_incremental_dedup" -> (q52IncrementalDedup _),
    "q58_substring_dedup" -> (q58SubstringDedup _),
    "q73_fuzzy_join"     -> (q73FuzzyJoin _),
    "q109_leakage_split" -> (q109LeakageSplit _),
    "q115_dedup_survivors" -> (q115DedupSurvivors _),
    "q116_containment"   -> (q116Containment _),
    "q117_segment_dedup" -> (q117SegmentDedup _),
  )

  val oracles: Map[String, String] = Map(
    "q211_blocking_audit" -> q211Sql,
    "q184_normalized_dedup" -> q184Sql,
    "q168_minhash_fidelity" -> q168Sql,
    "q177_winnowing"     -> q177Sql,
    "q180_lsh_efficiency" -> q180Sql,
    "q99_entity_resolution" -> q99Sql,
    "q26_dedup_exact"    -> q26Sql,
    "q27_ngram_jaccard"  -> q27Sql,
    "q146_threshold_sweep" -> q146Sql,
    "q147_cdc_chunks"    -> q147Sql,
    "q28_minhash_lsh"    -> q28Sql,
    "q29_simhash"        -> q29Sql,
    "q51_dedup_groups"   -> q51Sql,
    "q128_cluster_sizes" -> q128Sql,
    "q197_source_modularity" -> q197Sql,
    "q132_cross_source_dup" -> q132Sql,
    "q133_dedup_policy_impact" -> q133Sql,
    "q52_incremental_dedup" -> q52Sql,
    "q58_substring_dedup" -> q58Sql,
    "q73_fuzzy_join"     -> q73Sql,
    "q109_leakage_split" -> q109Sql,
    "q115_dedup_survivors" -> q115Sql,
    "q116_containment"   -> q116Sql,
    "q117_segment_dedup" -> q117Sql,
  )
}
