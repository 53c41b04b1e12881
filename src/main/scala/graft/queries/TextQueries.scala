package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents
import graft.functions.TextFunctions._

/** Text-analysis operators over the documents table (BASELINE north star):
  * language-ID heuristic, quality scoring, token counting, fingerprinting.
  * All pure codegen'd column expressions with exact DuckDB twins.
  */
object TextQueries {

  private val langWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "los", "de"),
    "fr" -> Seq("le", "les", "des", "et"))

  /** q22: stopword-profile language ID. Sequential argmax (first max wins
    * in lang-code order) keeps the prediction deterministic. */
  def q22LangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ws = tokens($"text")
    val scored = documents(s, d).select($"doc_id", ws.as("ws"))
      .select($"doc_id" +: langWords.map { case (lang, words) =>
        stopwordCount($"ws", words).cast("bigint").as(s"n_$lang") }: _*)
    val cols = langWords.map { case (lang, _) => col(s"n_$lang") }
    val best = cols.reduce((a, b) => greatest(a, b))
    // left-to-right argmax: first lang (de,en,es,fr order) hitting the max
    val predOrdered = langWords.foldLeft(lit(null).cast("string")) {
      case (acc, (lang, _)) =>
        coalesce(acc, when(col(s"n_$lang") === best && best > 0, lang))
    }
    scored.select($"doc_id",
        col("n_de"), col("n_en"), col("n_es"), col("n_fr"),
        coalesce(predOrdered, lit("unknown")).as("lang_pred"))
      .orderBy($"doc_id")
  }

  val q22Sql: String = {
    val ws = DuckSql.tokensSql
    def cnt(wordsSql: String) = s"len(list_filter(ws, w -> w IN ($wordsSql)))::BIGINT"
    val defs = Seq(
      "n_de" -> cnt("'der','die','das','und'"),
      "n_en" -> cnt("'the','a','of','and'"),
      "n_es" -> cnt("'el','la','los','de'"),
      "n_fr" -> cnt("'le','les','des','et'"))
    val sel = defs.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id, $ws AS ws FROM documents),
       |scored AS (SELECT doc_id, $sel FROM toks)
       |SELECT doc_id, n_de, n_en, n_es, n_fr,
       |  CASE
       |    WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'unknown'
       |    WHEN n_de = greatest(n_de, n_en, n_es, n_fr) THEN 'de'
       |    WHEN n_en = greatest(n_de, n_en, n_es, n_fr) THEN 'en'
       |    WHEN n_es = greatest(n_de, n_en, n_es, n_fr) THEN 'es'
       |    ELSE 'fr' END AS lang_pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** q23: document quality score — length/stopword-ratio heuristic, every
    * ratio an integer-over-integer division (engine-parity safe). */
  def q23Quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", tokens($"text").as("ws"), length($"text").as("n_chars"))
      .select($"doc_id",
        size($"ws").cast("bigint").as("n_words"),
        $"n_chars".cast("bigint").as("n_chars"),
        stopwordCount($"ws", Seq("the", "a", "of", "and")).as("n_stop"))
      .select($"doc_id", $"n_words", $"n_chars",
        roundp($"n_stop" * lit(1.0) / $"n_words", 6).as("stop_ratio"),
        roundp(least($"n_words", lit(100)) / lit(100.0) *
          (lit(1.0) - $"n_stop" * lit(1.0) / $"n_words"), 6).as("quality"))
      .orderBy($"doc_id")
  }

  val q23Sql: String = {
    val ws = DuckSql.tokensSql
    s"""WITH t AS (SELECT doc_id, $ws AS ws, len(text)::BIGINT AS n_chars FROM documents),
       |c AS (SELECT doc_id, len(ws)::BIGINT AS n_words, n_chars,
       |  len(list_filter(ws, w -> w IN ('the','a','of','and'))) AS n_stop FROM t)
       |SELECT doc_id, n_words, n_chars,
       |  ${DuckSql.roundpSql("n_stop * 1.0 / n_words", 6)} AS stop_ratio,
       |  ${DuckSql.roundpSql(
             "least(n_words, 100) / 100.0 * (1.0 - n_stop * 1.0 / n_words)", 6)} AS quality
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** q24: token counting — whitespace tokens vs BPE-ish regex tokens. */
  def q24TokenCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select($"doc_id",
        size(tokens($"text")).cast("bigint").as("ws_tokens"),
        tokenCountRegex($"text").cast("bigint").as("bpe_tokens"),
        length($"text").cast("bigint").as("n_chars"))
      .orderBy($"doc_id")
  }

  val q24Sql: String =
    s"""SELECT doc_id,
       |  len(${DuckSql.tokensSql})::BIGINT AS ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT
       |    AS bpe_tokens,
       |  len(text)::BIGINT AS n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q25: document fingerprints — whole-text rolling hash + min shingle
    * hash (the winnowing primitive). */
  def q25Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", polyHash(lower($"text")).as("content_hash"),
        tokens($"text").as("ws"))
      .select($"doc_id", $"content_hash", shingles($"ws", 3).as("sh"))
      .select($"doc_id", $"content_hash",
        array_min(transform($"sh", s => polyHash(s))).as("min_shingle_hash"))
      .orderBy($"doc_id")
  }

  val q25Sql: String =
    s"""WITH t AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws, lower(text) AS lt
       |  FROM documents)
       |SELECT doc_id, ${DuckSql.polyHashSql("lt")} AS content_hash,
       |  list_min(${DuckSql.shingleHashesSql("ws", 3)}) AS min_shingle_hash
       |FROM t ORDER BY doc_id""".stripMargin

  /** q43: Gopher-style word-repetition / diversity stats per document
    * (Rae et al. 2021 repetition-removal rules, re-keyed to word n-grams —
    * the fixture is single-line text, so line-based variants are
    * degenerate here; the n-gram forms are the rules' general shape):
    *  - distinct_word_ratio: type-token ratio (diversity signal);
    *  - top_word_frac / top_bigram_frac: fraction of occurrences claimed
    *    by the most frequent word / word-2-gram ("top n-gram fraction");
    *  - dup_trigram_frac: fraction of 3-gram occurrences that are repeats
    *    of an earlier occurrence ("duplicate n-gram fraction").
    *
    * Plan shape: one token projection fans into three explode→two-level
    * aggregation branches, joined back on doc_id. Each branch is a
    * map-side-combinable hash aggregation keyed by (doc_id, gram) — the
    * standard distributed shape for per-doc gram stats at corpus scale
    * (no per-row O(n²) HOF scans, no driver collection). */
  def q43Repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d).select($"doc_id", tokens($"text").as("ws"))
    // non-distinct k-grams (multiplicity matters here, unlike `shingles`)
    def grams(k: Int): Column =
      when(size($"ws") >= k,
        transform(sequence(lit(1), size($"ws") - (k - 1)),
          i => concat_ws(" ", slice($"ws", i, lit(k)))))
        .otherwise(array().cast("array<string>"))
    def gramStats(k: Int, aggCols: Seq[Column]): DataFrame = toks
      .select($"doc_id", explode(grams(k)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(aggCols.head, aggCols.tail: _*)
    val wordStats = gramStats(1, Seq(
      sum($"c").cast("bigint").as("n_words"),
      roundp(count(lit(1)) * lit(1.0) / sum($"c"), 6).as("distinct_word_ratio"),
      roundp(max($"c") * lit(1.0) / sum($"c"), 6).as("top_word_frac")))
    val bigramStats = gramStats(2, Seq(
      roundp(max($"c") * lit(1.0) / sum($"c"), 6).as("top_bigram_frac")))
    val trigramStats = gramStats(3, Seq(
      roundp(sum($"c" - 1) * lit(1.0) / sum($"c"), 6).as("dup_trigram_frac")))
    documents(s, d).select($"doc_id")
      .join(wordStats, Seq("doc_id"), "left")
      .join(bigramStats, Seq("doc_id"), "left")
      .join(trigramStats, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).as("n_words"),
        coalesce($"distinct_word_ratio", lit(0.0)).as("distinct_word_ratio"),
        coalesce($"top_word_frac", lit(0.0)).as("top_word_frac"),
        coalesce($"top_bigram_frac", lit(0.0)).as("top_bigram_frac"),
        coalesce($"dup_trigram_frac", lit(0.0)).as("dup_trigram_frac"))
      .orderBy($"doc_id")
  }

  val q43Sql: String = {
    def gramsSql(k: Int): String =
      if (k == 1) "ws"
      else s"CASE WHEN len(ws) >= $k THEN list_transform(" +
        s"range(1, len(ws) - ${k - 1} + 1), i -> array_to_string(ws[i:i+${k - 1}], ' ')) " +
        "ELSE [] END"
    def branch(k: Int, sel: String): String =
      s"""(SELECT doc_id, $sel
         | FROM (SELECT doc_id, g, count(*) AS c
         |   FROM (SELECT doc_id, unnest(${gramsSql(k)}) AS g
         |     FROM (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents))
         |   GROUP BY doc_id, g)
         | GROUP BY doc_id)""".stripMargin
    val w = branch(1, s"sum(c)::BIGINT AS n_words, " +
      s"${DuckSql.roundpSql("count(*) * 1.0 / sum(c)", 6)} AS distinct_word_ratio, " +
      s"${DuckSql.roundpSql("max(c) * 1.0 / sum(c)", 6)} AS top_word_frac")
    val b = branch(2, s"${DuckSql.roundpSql("max(c) * 1.0 / sum(c)", 6)} AS top_bigram_frac")
    val t = branch(3, s"${DuckSql.roundpSql("sum(c - 1) * 1.0 / sum(c)", 6)} AS dup_trigram_frac")
    s"""SELECT d.doc_id,
       |  coalesce(n_words, 0) AS n_words,
       |  coalesce(distinct_word_ratio, 0.0) AS distinct_word_ratio,
       |  coalesce(top_word_frac, 0.0) AS top_word_frac,
       |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
       |  coalesce(dup_trigram_frac, 0.0) AS dup_trigram_frac
       |FROM documents d
       |LEFT JOIN $w w USING (doc_id)
       |LEFT JOIN $b b USING (doc_id)
       |LEFT JOIN $t t USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q44: n-gram decontamination — for each doc of the held-out source
    * (`src0`, standing in for an eval/benchmark set), the fraction of its
    * distinct 5-grams that also appear in ANY other source's documents
    * (the 13-gram-overlap contamination check of GPT-3/PaLM reports, at a
    * fixture-sized n).
    *
    * Plan shape: grams are hashed to longs (polyHash) before the semi-join
    * so the shuffle carries 8-byte keys, not gram strings; the corpus side
    * is distinct-reduced BEFORE the join (map-side combine cuts it to
    * unique grams). One shuffle each side + one equi-join; never a
    * driver-side set. A 32-bit hash collision can only add a false hit —
    * the oracle hashes identically, so parity holds; production would use
    * xxhash64 (same plan, wider key). */
  def q44Contamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 5
    val toks = documents(s, d)
      .select($"doc_id", $"source", shingles(tokens($"text"), k).as("gs"))
    val bench = toks.filter($"source" === "src0")
      .select($"doc_id", explode($"gs").as("g"))
      .select($"doc_id", polyHash($"g").as("h"))
    val corpus = toks.filter($"source" =!= "src0")
      .select(explode($"gs").as("g"))
      .select(polyHash($"g").as("h")).distinct()
    val hits = bench.join(corpus, Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
    toks.filter($"source" === "src0")
      .select($"doc_id", size($"gs").cast("bigint").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        coalesce($"n_contaminated", lit(0L)).as("n_contaminated"),
        when($"n_grams" > 0, roundp(
            coalesce($"n_contaminated", lit(0L)) * lit(1.0) / $"n_grams", 6))
          .otherwise(lit(0.0)).as("contamination_frac"))
      .orderBy($"doc_id")
  }

  val q44Sql: String = {
    val gs = DuckSql.shinglesSql("ws", 5)
    s"""WITH toks AS (SELECT doc_id, source, $gs AS gs
       |    FROM (SELECT doc_id, source, ${DuckSql.tokensSql} AS ws FROM documents)),
       |bench AS (SELECT doc_id, ${DuckSql.polyHashSql("g")} AS h
       |  FROM (SELECT doc_id, unnest(gs) AS g FROM toks WHERE source = 'src0')),
       |corpus AS (SELECT DISTINCT ${DuckSql.polyHashSql("g")} AS h
       |  FROM (SELECT unnest(gs) AS g FROM toks WHERE source <> 'src0')),
       |hits AS (SELECT doc_id, count(*) AS n_contaminated
       |  FROM bench WHERE h IN (SELECT h FROM corpus) GROUP BY doc_id)
       |SELECT t.doc_id, len(t.gs)::BIGINT AS n_grams,
       |  coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       |  CASE WHEN len(t.gs) > 0 THEN
       |    ${DuckSql.roundpSql("coalesce(h.n_contaminated, 0) * 1.0 / len(t.gs)", 6)}
       |  ELSE 0.0 END AS contamination_frac
       |FROM toks t LEFT JOIN hits h USING (doc_id)
       |WHERE t.source = 'src0'
       |ORDER BY t.doc_id""".stripMargin
  }

  /** q54: the quality GATE — the keep/drop decision real pipelines apply,
    * composed from the operators above (q22's language ID + q43's
    * repetition/diversity stats) with a fixed rule order so every drop
    * carries its first failing reason. Both engines evaluate the same
    * rounded inputs, so thresholds compare identically. */
  def q54QualityGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lang = q22LangId(s, d).select($"doc_id", $"lang_pred")
    val rep = q43Repetition(s, d)
    lang.join(rep, Seq("doc_id"))
      .select($"doc_id",
        when($"lang_pred" === "unknown", "lang")
          .when($"n_words" < 20, "too_short")
          .when($"distinct_word_ratio" < 0.4, "low_diversity")
          .when($"top_word_frac" > 0.2, "repetitive_word")
          .when($"dup_trigram_frac" > 0.05, "repetitive_trigram")
          .otherwise("ok").as("verdict"))
      .withColumn("keep", $"verdict" === "ok")
      .orderBy($"doc_id")
  }

  val q54Sql: String =
    s"""SELECT doc_id, verdict, verdict = 'ok' AS keep
       |FROM (SELECT l.doc_id,
       |  CASE WHEN l.lang_pred = 'unknown' THEN 'lang'
       |       WHEN r.n_words < 20 THEN 'too_short'
       |       WHEN r.distinct_word_ratio < 0.4 THEN 'low_diversity'
       |       WHEN r.top_word_frac > 0.2 THEN 'repetitive_word'
       |       WHEN r.dup_trigram_frac > 0.05 THEN 'repetitive_trigram'
       |       ELSE 'ok' END AS verdict
       |  FROM ($q22Sql) l JOIN ($q43Sql) r USING (doc_id))
       |ORDER BY doc_id""".stripMargin

  /** q55: Bloom-filter decontamination — the SCALE direction of q44:
    * benchmark grams compress into a plan-embedded Bloom sketch, the
    * corpus (the 100 TB side) is tested map-side with zero shuffle, and
    * only sketch-positive docs enter the exact verification join. The
    * sketch is invisible to the output (verification removes false
    * positives; false negatives are impossible), so the oracle is the
    * plain exact SQL. */
  def q55BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Decontaminate.bloomContaminated(documents(s, d),
        isBench = $"source" === "src0", "doc_id", "text", k = 5)
      .orderBy($"doc_id")
  }

  val q55Sql: String =
    s"""WITH toks AS (SELECT doc_id, source, ${DuckSql.shingleHashesSql("ws", 5)} AS hs
       |    FROM (SELECT doc_id, source, ${DuckSql.tokensSql} AS ws FROM documents)),
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM toks WHERE source = 'src0'),
       |verified AS (SELECT doc_id, count(*) AS n_contaminated
       |  FROM (SELECT doc_id, unnest(hs) AS h FROM toks WHERE source <> 'src0')
       |  WHERE h IN (SELECT h FROM bench) GROUP BY doc_id)
       |SELECT t.doc_id, len(t.hs)::BIGINT AS n_grams, v.n_contaminated,
       |  ${DuckSql.roundpSql("v.n_contaminated * 1.0 / len(t.hs)", 6)}
       |    AS contamination_frac
       |FROM toks t JOIN verified v USING (doc_id)
       |WHERE t.source <> 'src0'
       |ORDER BY t.doc_id""".stripMargin

  /** q66 chunking geometry: 50-token chunks, stride 40 (10-token overlap
    * carries context across boundaries — the standard training-example
    * packing shape). Chunk starts are 0, S, 2S… while < n, so every chunk
    * is non-empty and the last may be short. */
  private val ChunkLen = 50
  private val ChunkStride = 40

  /** q66: document chunking — explode each doc into overlapping
    * fixed-token-count training chunks; emit per-chunk token counts and a
    * content hash (the chunk table IS the training-example manifest, and
    * hashing instead of re-emitting text keeps the result
    * oracle-comparable byte-for-byte). Pure per-row expressions: tokenize
    * once, `sequence` for chunk starts, `slice` per chunk — zero shuffle
    * before the output sort. */
  def q66Chunk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", tokens($"text").as("ws"))
      .filter(size($"ws") > 0)
      .select($"doc_id", $"ws",
        explode(sequence(lit(0), size($"ws") - 1, lit(ChunkStride))).as("start"))
      .select($"doc_id",
        ($"start" / ChunkStride).cast("long").as("chunk_id"),
        slice($"ws", $"start" + 1, lit(ChunkLen)).as("toks"))
      .select($"doc_id", $"chunk_id",
        size($"toks").cast("long").as("n_tokens"),
        polyHash(concat_ws(" ", $"toks")).as("chunk_hash"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val q66Sql: String =
    s"""WITH toks AS (SELECT doc_id, ${DuckSql.tokensSql} AS ws FROM documents),
       |nz AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0),
       |st AS (SELECT doc_id, ws,
       |    unnest(generate_series(0, n - 1, $ChunkStride)) AS start FROM nz)
       |SELECT doc_id, (start // $ChunkStride)::BIGINT AS chunk_id,
       |  len(list_slice(ws, start + 1, start + $ChunkLen))::BIGINT AS n_tokens,
       |  ${DuckSql.polyHashSql(
              s"array_to_string(list_slice(ws, start + 1, start + $ChunkLen), ' ')")}
       |    AS chunk_hash
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** q74: TF-IDF — the canonical corpus-relevance weighting. Three
    * map-side-combinable aggregations (tf per (doc,term), df per term,
    * corpus N) + one shuffle join on term + a per-doc top-3 ranking
    * window. N rides in as a literal (one tiny count job), NOT a
    * cross-joined scalar subquery. At 100 TB the (doc,term) explode is
    * the big intermediate — it's immediately hash-aggregated (partial
    * combine shrinks it map-side), and the df table is vocabulary-sized,
    * orders smaller than the corpus. ln-parity: both engines' IEEE-double
    * `ln` agreed on every (tf,df) combination in the data; ranking ties
    * (equal scores from equal (tf,df)) break on the term string. */
  def q74Tfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val doc = documents(s, d)
    val n = doc.count()
    // ONE explicit shuffle on term, whose layout every downstream step
    // reuses: hash(term) satisfies the (doc_id,term) tf aggregation, the
    // term df aggregation, AND the tf⋈df equi-join — Catalyst inserts no
    // further exchange (hash(term) ⊆ each required clustering).
    val toks = graft.ops.FanOut.cpu(doc)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .repartition($"term")
    // tf feeds BOTH the df aggregation and the scoring join. ReusedExchange
    // dedups the term shuffle; the hash aggregate recomputes once per
    // consumer, which measures ~0.6 s CHEAPER at sf0.1 than persisting tf
    // (ProfQ74: 1.52 s persisted vs 0.94 s recomputed — the MEMORY_AND_DISK
    // write+read of the posting table outweighs one extra codegen'd agg).
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("score", $"tf" * log(lit(n.toDouble) / $"df"))
    // bounded top-3-per-doc, all-native: per-doc collect_list of the
    // doc's posting structs (bounded by DOCUMENT LENGTH — the same
    // boundedness contract as chunking), sorted in-expression and
    // sliced. Stays inside Tungsten rows end to end — the previous typed
    // groupByKey + Aggregator tail paid encoder round-trips per posting
    // and benched ~2× slower at sf0.1. Sort key: (-score, term) — score
    // ≥ 0 always (df ≤ n ⇒ ln ≥ 0), so the negation can't mix ±0.0;
    // ties (equal (tf, df) ⇒ bit-equal doubles) break on the term.
    scored.select($"doc_id", $"term", $"score", $"tf", $"df")
      .groupBy($"doc_id")
      .agg(slice(array_sort(collect_list(struct(
        (-$"score").as("ns"), $"term", $"score", $"tf", $"df"))), 1, 3)
        .as("top"))
      .select($"doc_id", posexplode($"top"))
      .select($"doc_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.term".as("term"), roundp($"col.score", 6).as("score"),
        $"col.tf".as("tf"), $"col.df".as("df"))
      .orderBy($"doc_id", $"rank")
  }

  val q74Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${DuckSql.tokensSql}) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    tf.tf * ln(n.n::DOUBLE / df.df) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS BIGINT) AS rank,
       |  term, ${DuckSql.roundpSql("score", 6)} AS score, tf, df
       |FROM scored QUALIFY rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q75: BM25 ranking of the corpus against a fixed query term set —
    * the retrieval-side twin of q74 (saturating tf, length
    * normalization). The query terms are a LITERAL list, so the whole
    * tf/dl computation pivots into one conditional aggregation: ONE
    * token-explode pass, ONE shuffle (the per-doc groupBy), per-doc row
    * = (dl, tf_term1..tf_termK). Corpus stats (avgdl + per-term df) are
    * one tiny aggregate over that |docs|-sized frame; the score is then
    * a per-row expression — no posting-table join exists at all. The
    * previous tf⋈df⋈dl join form scanned the explode twice and ran two
    * extra stat actions — benched ~2.7× slower at sf0.1. Scales: the
    * pivoted frame is |docs| rows × K query terms (K literal-bounded,
    * the same contract as q71's pivot). */
  def q75Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qTerms = Seq("spark", "window", "shuffle")
    // constants appear as the same decimal literals as in the oracle SQL
    // (k1+1 precomputed: 1.2+1.0 in double is NOT the literal 2.2)
    val (k1, k1p1, oneMinusB, b) = (1.2, 2.2, 0.25, 0.75)
    val doc = documents(s, d)
    val n = doc.count() // parquet metadata count — no scan
    // empty corpus: no docs → no hits (the avgdl aggregate would be a
    // NULL the driver read below chokes on)
    if (n == 0L)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "bm25", "n_terms_hit")
    val tfCols = qTerms.map(t =>
      sum(when($"term" === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = graft.ops.ScratchCache.register(
      doc.select($"doc_id", explode(tokens($"text")).as("term"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("dl"), tfCols: _*)
        .persist())
    // one row: avgdl + df per query term (df = docs where tf_t > 0)
    val statsRow = perDoc.agg(avg($"dl").as("avgdl"),
      qTerms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
      .head()
    val avgdl = statsRow.getDouble(0)
    val dfMap = qTerms.zipWithIndex
      .map { case (t, i) => t -> statsRow.getLong(i + 1) }.toMap
    // per-term BM25 part as a literal-constant expression; summed in the
    // oracle's term order (tf join order = query-list order)
    def part(t: String): Column = {
      val df = dfMap(t)
      val idf = when(col(s"tf_$t") > 0,
        log(lit(1.0) + (lit(n.toDouble) - lit(df.toDouble) + lit(0.5)) /
          (lit(df.toDouble) + lit(0.5))))
      idf * (col(s"tf_$t") * lit(k1p1)) /
        (col(s"tf_$t") + lit(k1) * (lit(oneMinusB) + lit(b) * $"dl" / lit(avgdl)))
    }
    val hits = qTerms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    // DECIMAL-stabilized sum (the q98 lesson): each part truncates to
    // DECIMAL(28,6) before the add, so the literal-order engine sum and
    // the oracle's join-order sum can't diverge in the last ulp and flip
    // round(·, 6)
    perDoc.filter(hits > 0)
      .select($"doc_id",
        roundp(qTerms.map(t =>
            coalesce(part(t), lit(0.0)).cast("decimal(28,6)"))
          .reduce(_ + _).cast("double"), 6).as("bm25"),
        hits.as("n_terms_hit"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
  }

  val q75Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${DuckSql.tokensSql}) AS term
       |  FROM documents),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |  FROM toks GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |  (SELECT avg(dl) FROM dl) AS avgdl),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks WHERE term IN ('spark', 'window', 'shuffle')
       |  GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |parts AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5)) *
       |      (tf.tf * 2.2) /
       |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS part
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s)
       |SELECT doc_id, ${QueryUtil.safeSumSql("part", 6)} AS bm25,
       |  CAST(count(*) AS BIGINT) AS n_terms_hit
       |FROM parts GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** q111: unigram language-model perplexity scoring (the CCNet-style
    * quality filter, Wenzek et al. 2019: score each document by its
    * negative log-likelihood under a LM trained on the corpus itself;
    * outlier-NLL docs are gibberish or boilerplate). The LM here is the
    * add-one-smoothed unigram model — logp(w) = ln((c(w)+1)/(N+V)) — so
    * both engines can replay it exactly.
    *
    * Scale shape: the token explode is scanned twice (once to count the
    * model, once to score) — two map-side passes; the model table is
    * vocab-sized (Heaps' law: sublinear in corpus size) and broadcast to
    * the scoring join, so the only full-data shuffle is the per-doc
    * aggregate. N and V are scalars, cross-joined as a broadcast row. */
  def q111Perplexity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d)
      .select($"doc_id", explode(tokens($"text")).as("w"))
    // model IS persisted (vocab-sized) and filled eagerly: the model and
    // stats broadcast builds launch CONCURRENTLY (cf. q192) — unfilled,
    // each races its own corpus token pass, making the documented two
    // token scans three
    val model = graft.ops.ScratchCache.register(
      toks.groupBy($"w").agg(count(lit(1)).as("c")).persist())
    model.count()
    val stats = model.agg(sum($"c").as("n_tok"), count(lit(1)).as("vocab"))
    toks.join(broadcast(model), "w")
      .crossJoin(broadcast(stats))
      .groupBy($"doc_id")
      .agg(
        roundp(avg(-log(($"c" + lit(1.0)) / ($"n_tok" + $"vocab"))), 6)
          .as("nll"),
        count(lit(1)).as("n_toks"))
      .orderBy($"doc_id")
  }

  val q111Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(${DuckSql.tokensSql}) AS w
       |  FROM documents),
       |model AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
       |stats AS (SELECT sum(c) AS n_tok, count(*) AS vocab FROM model)
       |SELECT doc_id,
       |  ${DuckSql.roundpSql("avg(-ln((c + 1.0) / (n_tok + vocab)))", 6)}
       |    AS nll,
       |  CAST(count(*) AS BIGINT) AS n_toks
       |FROM toks JOIN model USING (w) CROSS JOIN stats
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q154: REFERENCE-LM bigram perplexity filter — the actual CCNet gate
    * (Wenzek et al. 2019): a language model trained on a REFERENCE slice
    * (here source 'src0', standing in for Wikipedia) scores every
    * document; low-cross-entropy docs "read like the reference" and pass,
    * high-ce docs are gibberish/boilerplate and fail. Distinct from
    * q111's self-perplexity on three axes: bigram context (so word ORDER
    * matters, not just vocabulary), strict train/score separation (the
    * score is an out-of-domain measure), and the filter DECISION is part
    * of the output (kept flag + unseen-bigram OOV count — the
    * explain-why-it-was-dropped columns a curation review needs).
    * Model: add-one-smoothed p(w2|w1) = (c12+1)/(c1+V), both engines
    * replay it exactly; ce = mean per-bigram NLL.
    *
    * Scale shape: bigrams are built in the ARRAY domain inside the scan
    * projection (one explode, no self-join on position); the bigram-count
    * join is a plain hash join on (w1,w2) — reference-slice bigram tables
    * are NOT broadcast (unlike q111's vocab-bounded unigram model they
    * grow with the reference corpus; AQE still broadcasts them when they
    * measure small). The unigram side IS broadcast (vocab-bounded,
    * Heaps' law) and V is a broadcast scalar. One full-data shuffle: the
    * per-doc aggregate. */
  def q154LmFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val doc = documents(s, d)
    // the tokenized frame is read THREE times (unigram model, bigram
    // model, scoring probe) — persist it so the regex tokenizer runs
    // once (profiled r14: each un-cached consumer re-paid the ~0.2 s
    // sf0.1 tokenize scan; the probe and model sides live in ONE plan,
    // so without the cache the lineage is computed twice inside it)
    val toks = graft.ops.ScratchCache.register(
      doc.select($"doc_id", $"source", tokens($"text").as("ws")).persist())
    val bg = toks.where(size($"ws") >= 2)
      .select($"doc_id", $"source", explode(expr(
        "transform(sequence(0, size(ws)-2), " +
          "i -> struct(ws[i] as w1, ws[i+1] as w2))")).as("b"))
      .select($"doc_id", $"source", $"b.w1".as("w1"), $"b.w2".as("w2"))
    // uni IS persisted (vocab-sized) and filled eagerly: its broadcast
    // build and the vocab broadcast build launch CONCURRENTLY with the
    // bg/big shuffle-map stages (cf. q192) — unfilled, uni's reference-
    // slice token pass runs twice; its fill doubles as toks' cache fill
    val uni = graft.ops.ScratchCache.register(
      toks.where($"source" === "src0")
        .select(explode($"ws").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c1")).persist())
    uni.count()
    val big = bg.where($"source" === "src0")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val scored = bg
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select($"doc_id",
        (-log((coalesce($"c12", lit(0L)) + lit(1.0)) /
          (coalesce($"c1", lit(0L)) + $"v"))).as("nll"),
        when($"c12".isNull, lit(1L)).otherwise(lit(0L)).as("unseen"))
    scored.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        roundp(avg($"nll"), 6).as("ce"),
        sum($"unseen").as("n_unseen"))
      // decide on the ROUNDED value so the gate can't flip on float noise
      .withColumn("kept",
        when($"ce" < lit(3.55), lit(1L)).otherwise(lit(0L)))
      .orderBy($"doc_id")
  }

  val q154Sql: String =
    s"""WITH toks AS (SELECT doc_id, source, ${DuckSql.tokensSql} AS ws
       |  FROM documents),
       |bi AS (SELECT doc_id, source,
       |    unnest(list_transform(range(1, len(ws)),
       |      i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
       |  FROM toks WHERE len(ws) >= 2),
       |bg AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bi),
       |uni AS (SELECT unnest(ws) AS w FROM toks WHERE source = 'src0'),
       |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
       |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM bg WHERE source = 'src0' GROUP BY 1, 2),
       |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
       |scored AS (
       |  SELECT bg.doc_id,
       |    -ln((coalesce(c12.c12, 0) + 1.0) / (coalesce(c1.c1, 0) + v.v))
       |      AS nll,
       |    CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS unseen
       |  FROM bg LEFT JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
       |          LEFT JOIN c1 ON bg.w1 = c1.w
       |          CROSS JOIN v)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  ${DuckSql.roundpSql("avg(nll)", 6)} AS ce,
       |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
       |  CASE WHEN ${DuckSql.roundpSql("avg(nll)", 6)} < 3.55
       |    THEN 1::BIGINT ELSE 0::BIGINT END AS kept
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q156: LEXICAL-DIVERSITY audit per source — type/token ratio and
    * hapax fraction at unigram AND bigram granularity. Template-generated
    * or looped text shows a collapsed bigram type space and a vanishing
    * hapax fraction long before any dedup pass fires; this is the
    * one-table signal a corpus review reads next to q131's entropy.
    * Everything is exact integer counting (sums/counts are associative,
    * so the result is reduction-order-free); the two ratios are final
    * per-row float expressions rounded at 6dp.
    *
    * Scale shape: two explode passes (unigram, bigram in the array
    * domain), each map-side combined into a (source, term)-keyed count —
    * the per-source rollup then touches only vocabulary-sized frames
    * (Heaps' law), and the final join is |sources| rows. */
  def q156LexicalDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d).select($"source", tokens($"text").as("ws"))
    val uni = toks.select($"source", explode($"ws").as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"source").agg(
        sum($"c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when($"c" === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
    val big = toks.where(size($"ws") >= 2)
      .select($"source", explode(expr(
        "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .as("bg"))
      .groupBy($"source", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"source").agg(
        sum($"c").as("n_bigrams"), count(lit(1)).as("n_bigram_types"),
        sum(when($"c" === 1, lit(1L)).otherwise(lit(0L))).as("n_bigram_hapax"))
    uni.join(big, "source")
      .select($"source", $"n_tokens", $"n_types",
        roundp($"n_types" * lit(1.0) / $"n_tokens", 6).as("ttr"),
        $"n_hapax",
        $"n_bigrams", $"n_bigram_types",
        roundp($"n_bigram_types" * lit(1.0) / $"n_bigrams", 6)
          .as("bigram_ttr"),
        roundp($"n_bigram_hapax" * lit(1.0) / $"n_bigram_types", 6)
          .as("bigram_hapax_frac"))
      .orderBy($"source")
  }

  val q156Sql: String =
    s"""WITH toks AS (SELECT source, ${DuckSql.tokensSql} AS ws
       |  FROM documents),
       |uc AS (SELECT source, w, count(*) AS c FROM
       |  (SELECT source, unnest(ws) AS w FROM toks) GROUP BY 1, 2),
       |uni AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM uc GROUP BY 1),
       |bc AS (SELECT source, bg, count(*) AS c FROM
       |  (SELECT source, unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i+1])) AS bg
       |    FROM toks WHERE len(ws) >= 2) GROUP BY 1, 2),
       |big AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) AS BIGINT) AS n_bigram_types,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bigram_hapax
       |  FROM bc GROUP BY 1)
       |SELECT source, n_tokens, n_types,
       |  ${DuckSql.roundpSql("n_types * 1.0 / n_tokens", 6)} AS ttr,
       |  n_hapax, n_bigrams, n_bigram_types,
       |  ${DuckSql.roundpSql("n_bigram_types * 1.0 / n_bigrams", 6)}
       |    AS bigram_ttr,
       |  ${DuckSql.roundpSql("n_bigram_hapax * 1.0 / n_bigram_types", 6)}
       |    AS bigram_hapax_frac
       |FROM uni JOIN big USING (source) ORDER BY source""".stripMargin

  /** q160: VOCAB-SIZE sweep — out-of-vocabulary rate per source when the
    * tokenizer keeps only the top-K corpus tokens, for K ∈ {8, 16, 24}:
    * the table that says what a vocabulary budget costs each slice
    * (non-English/minority sources degrade first — the per-slice view a
    * single corpus-wide OOV number hides). All candidate vocabularies
    * come from ONE count pass; per-K membership is a TakeOrdered limit
    * over the vocab-sized count frame (total order (count DESC, token),
    * so engine and oracle select identical boundary sets — and NO global
    * window, per the PlanGuard contract). The token stream expands ×|K|
    * map-side and hits one aggregate.
    */
  def q160VocabSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ks = Seq(8, 16, 24)
    val toks = documents(s, d)
      .select($"source", explode(tokens($"text")).as("w"))
    val counts = toks.groupBy($"w").agg(count(lit(1)).as("c"))
    val vocab = ks.map { k =>
      counts.orderBy($"c".desc, $"w").limit(k)
        .select($"w", lit(k.toLong).as("k"), lit(1L).as("inv"))
    }.reduce(_ unionByName _)
    toks.select($"source", $"w",
        explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"))
      .join(broadcast(vocab), Seq("w", "k"), "left")
      .groupBy($"k", $"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"inv".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"k", $"source", $"n_tokens", $"n_oov",
        roundp($"n_oov" * lit(1.0) / $"n_tokens", 6).as("oov_rate"))
      .orderBy($"k", $"source")
  }

  val q160Sql: String =
    s"""WITH toks AS (SELECT source, unnest(${DuckSql.tokensSql}) AS w
       |  FROM documents),
       |counts AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
       |ranked AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk
       |  FROM counts),
       |ks AS (SELECT unnest([8, 16, 24]) AS k),
       |j AS (SELECT ks.k, t.source,
       |    CASE WHEN r.rk IS NULL OR r.rk > ks.k THEN 1 ELSE 0 END AS oov
       |  FROM toks t CROSS JOIN ks LEFT JOIN ranked r ON r.w = t.w)
       |SELECT CAST(k AS BIGINT) AS k, source,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(oov) AS BIGINT) AS n_oov,
       |  ${DuckSql.roundpSql("sum(oov) * 1.0 / count(*)", 6)} AS oov_rate
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q161: PADDING-WASTE accounting — the length-bucketed batching view
    * of training efficiency (the alternative q114's greedy packing
    * replaces): docs bucket into width-32 token-length bins, every doc in
    * a bin pads to the bin cap, and the table reports what fraction of
    * the batch FLOPs would be padding. Exact integers throughout
    * (padding = n_docs·cap − Σ len); one scan, one |bins|-row aggregate.
    */
  def q161PaddingWaste(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = size(tokens($"text")).cast("long")
    documents(s, d).select(n.as("n"))
      .select($"n", floor($"n" / 32L).cast("long").as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"))
      .select($"bin", (($"bin" + 1L) * 32L).as("cap"), $"n_docs", $"n_tokens",
        ($"n_docs" * ($"bin" + 1L) * 32L - $"n_tokens").as("padding"),
        roundp(($"n_docs" * ($"bin" + 1L) * 32L - $"n_tokens") * lit(1.0) /
          ($"n_docs" * ($"bin" + 1L) * 32L), 6).as("padding_frac"))
      .orderBy($"bin")
  }

  val q161Sql: String =
    s"""WITH lens AS (SELECT len(${DuckSql.tokensSql}) AS n FROM documents),
       |b AS (SELECT n, n // 32 AS bin FROM lens),
       |agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n) AS BIGINT) AS n_tokens
       |  FROM b GROUP BY 1)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |  CAST((bin + 1) * 32 AS BIGINT) AS cap, n_docs, n_tokens,
       |  CAST(n_docs * (bin + 1) * 32 - n_tokens AS BIGINT) AS padding,
       |  ${DuckSql.roundpSql(
            "(n_docs * (bin + 1) * 32 - n_tokens) * 1.0 / (n_docs * (bin + 1) * 32)",
            6)} AS padding_frac
       |FROM agg ORDER BY bin""".stripMargin

  /** q142: COLLOCATION mining — top-50 bigram pairs by pointwise mutual
    * information, c(a,b) ≥ 5. PMI separates grammatical glue from real
    * multiword units (the phrase-vocabulary step of a tokenizer/data
    * pipeline); all masses are EXACT integer counts off ONE bigram
    * stream (pair counts + both marginals share the explode), so the
    * only float is the final log expression, written identically in both
    * engines and rounded to 6dp before the ordering.
    *
    * Scale shape: bigram explode → three hash aggregations (map-side
    * combined, the marginals are |vocab|-sized) → two token-keyed joins
    * linear in |pairs| → TakeOrdered(50). No self-join, no window. */
  def q142Collocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = documents(s, d)
      .select(tokens($"text").as("ws"))
      // size >= 2: Spark's sequence(1, size-1) DESCENDS for empty docs
      .filter(size($"ws") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(element_at(ws, i) AS a, element_at(ws, i + 1) AS b))"))
        .as("s"))
      .select($"s.a".as("a"), $"s.b".as("b"))
    // ONE corpus-size aggregation; marginals and the total derive from
    // the |distinct-bigram| count table (same exact integers as counting
    // the raw stream), which persists for its four consumers — the
    // standard LM count-table materialization
    val cab = graft.ops.ScratchCache.register(
      pairs.groupBy($"a", $"b").agg(count(lit(1)).as("c")).persist())
    // ONE job fills the cache AND returns the scalar total — the former
    // shape's separate n-broadcast build raced the ca/cb/probe stages on
    // the unfilled cache (cf. q192), each re-running the corpus bigram
    // explode+agg. The marginals stay as joins: they are |vocab|-keyed,
    // NOT a bounded category, so the q163-style literal-map fold-back
    // would not survive 100 TB
    val nnRow = cab.agg(sum($"c")).collect()(0)
    val nn = if (nnRow.isNullAt(0)) 0L else nnRow.getLong(0) // empty corpus
    val ca = cab.groupBy($"a").agg(sum($"c").as("cf"))
    val cb = cab.groupBy($"b").agg(sum($"c").as("cs"))
    cab.filter($"c" >= 5)
      .join(ca, Seq("a")).join(cb, Seq("b"))
      .select($"a", $"b", $"c",
        roundp(log($"c" * lit(1.0) * lit(nn) / ($"cf" * lit(1.0) * $"cs")), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"a", $"b")
      .limit(50)
  }

  val q142Sql: String = {
    val ws = DuckSql.tokensSql
    s"""WITH t AS (SELECT $ws AS ws FROM documents),
       |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
       |    i -> struct_pack(a := ws[i], b := ws[i+1]))) AS s FROM t),
       |p AS (SELECT s.a AS a, s.b AS b FROM bg),
       |cab AS (SELECT a, b, count(*)::BIGINT AS c FROM p GROUP BY 1, 2),
       |ca AS (SELECT a, count(*)::BIGINT AS cf FROM p GROUP BY a),
       |cb AS (SELECT b, count(*)::BIGINT AS cs FROM p GROUP BY b),
       |n AS (SELECT count(*)::BIGINT AS nn FROM p)
       |SELECT a, b, c,
       |  ${DuckSql.roundpSql("ln(c * 1.0 * nn / (cf * 1.0 * cs))", 6)}
       |    AS pmi
       |FROM cab JOIN ca USING (a) JOIN cb USING (b), n
       |WHERE c >= 5
       |ORDER BY pmi DESC, a, b LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------- q171

  /** q171: term BURSTINESS — variance-to-mean ratio (VMR) of per-document
    * counts for the top-10 corpus terms (Church & Gale: content words
    * burst, VMR ≫ 1; function words spread, VMR ≈ 1 — a
    * frequency-independent content-ness signal). Moments come from EXACT
    * integer sums (Σn, Σn² over per-doc counts; absent docs contribute
    * the implicit zero through the corpus-wide doc count), so the only
    * floats are the final two divisions, written identically in both
    * engines. Scale shape: one |vocab| count agg → TakeOrdered(10) →
    * broadcast term filter → per-(term, doc) agg → 10-row moments. */
  def q171Burstiness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docsDf = documents(s, d)
    val toks = docsDf.select($"doc_id", explode(tokens($"text")).as("w"))
    val top = toks.groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(10).select($"w")
    val stats = toks.join(broadcast(top), Seq("w"))
      .groupBy($"w", $"doc_id").agg(count(lit(1)).as("n"))
      .groupBy($"w").agg(sum($"n").as("s1"), sum($"n" * $"n").as("s2"))
    val dCount = docsDf.agg(count(lit(1)).as("d"))
    val mean = $"s1" * lit(1.0) / $"d"
    stats.crossJoin(broadcast(dCount))
      .select($"w", $"s1".as("n_occurrences"),
        roundp(mean, 6).as("mean_per_doc"),
        roundp(($"s2" * lit(1.0) / $"d" - mean * mean) / mean, 6).as("vmr"))
      .orderBy($"w")
  }

  val q171Sql: String = {
    val ws = DuckSql.tokensSql
    val mean = "(s1 * 1.0 / d)"
    s"""WITH toks AS (SELECT doc_id, unnest($ws) AS w FROM documents),
       |cnt AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY 1),
       |top AS (SELECT w FROM (SELECT w,
       |    row_number() OVER (ORDER BY c DESC, w) AS rk FROM cnt)
       |  WHERE rk <= 10),
       |pd AS (SELECT t.w, t.doc_id, count(*)::BIGINT AS n
       |  FROM toks t JOIN top USING (w) GROUP BY 1, 2),
       |st AS (SELECT w, sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
       |  FROM pd GROUP BY 1),
       |dc AS (SELECT count(*)::BIGINT AS d FROM documents)
       |SELECT w, s1 AS n_occurrences,
       |  ${DuckSql.roundpSql(mean, 6)} AS mean_per_doc,
       |  ${DuckSql.roundpSql(s"(s2 * 1.0 / d - $mean * $mean) / $mean", 6)}
       |    AS vmr
       |FROM st, dc ORDER BY w""".stripMargin
  }

  // ---------------------------------------------------------------- q172

  /** q172: ZIPF slope — least-squares fit of ln(count) on ln(rank) over
    * the top-30 token types (healthy natural corpora fit slope ≈ −1;
    * templated/boilerplate-heavy ones flatten — a one-number corpus
    * health check). The rank order is the shared (count DESC, token)
    * total order; ranks come from a 30×30 join on the TakeOrdered frame
    * (contract-bounded — NO global window, per the PlanGuard rule that
    * bans unpartitioned windows at corpus scale). Regression moments are
    * 30-element double sums — reduction-order drift ~1e-15, absorbed by
    * the 6dp rounding exactly as every avg-based query. */
  def q172ZipfSlope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val top = documents(s, d)
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(30)
    val ranked = top.as("x").join(top.as("y"),
        col("y.c") > col("x.c") ||
          (col("y.c") === col("x.c") && col("y.w") < col("x.w")), "left")
      .groupBy(col("x.w"), col("x.c"))
      .agg((count(col("y.w")) + lit(1L)).as("rank"))
    val pts = ranked.select(log(col("rank").cast("double")).as("x"),
      log(col("c").cast("double")).as("y"))
    val m = pts.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
      sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
      sum($"x" * $"y").as("sxy"))
    val slope = ($"n" * $"sxy" - $"sx" * $"sy") /
      ($"n" * $"sxx" - $"sx" * $"sx")
    m.select($"n".as("n_points"), roundp(slope, 6).as("slope"),
      roundp(($"sy" - slope * $"sx") / $"n", 6).as("intercept"))
  }

  val q172Sql: String = {
    val ws = DuckSql.tokensSql
    val slope = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
    s"""WITH toks AS (SELECT unnest($ws) AS w FROM documents),
       |cnt AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY 1),
       |top AS (SELECT w, c, rk FROM (SELECT w, c,
       |    row_number() OVER (ORDER BY c DESC, w) AS rk FROM cnt)
       |  WHERE rk <= 30),
       |pts AS (SELECT ln(rk * 1.0) AS x, ln(c * 1.0) AS y FROM top),
       |m AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy FROM pts)
       |SELECT n AS n_points, ${DuckSql.roundpSql(slope, 6)} AS slope,
       |  ${DuckSql.roundpSql(s"(sy - $slope * sx) / n", 6)} AS intercept
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------- q173

  /** q173: CCNet-style perplexity BUCKETING — every doc lands in
    * head/middle/tail by global NLL terciles (Wenzek et al. 2020: CCNet
    * keeps the head, samples the middle, drops the tail), reported as a
    * per-source × bucket census. Per-doc NLL is q111's smoothed-unigram
    * score, ROUNDED FIRST so both engines bucket identical doubles; the
    * tercile cuts are exact linear-interpolation percentiles (≡ DuckDB
    * `quantile_cont`, p computed as 1/3 and 2/3 in IEEE double on both
    * sides), computed by [[graft.ops.PercentileCut]] — a distributed
    * radix selection over cell histograms whose interpolation is
    * bit-identical to Spark's `percentile` builtin (spec-pinned) but
    * with NO aggregation buffer scaling with |docs|. A 1-ulp
    * interpolation difference cannot flip a bucket: cuts only coincide
    * with a doc's (6dp) NLL when the interpolation is exact on both
    * engines. Everything else is broadcast joins and one census
    * aggregation. */
  def q173CcnetBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT persisted: caching the |tokens|-row exploded frame was
    // measured SLOWER than re-running the tokenizer (3.6 s vs 1.4 s at
    // sf0.1 — the cache fill of millions of short string rows costs
    // more than the second codegen'd regex pass)
    val toks = documents(s, d)
      .select($"doc_id", $"source", explode(tokens($"text")).as("w"))
    // model IS persisted (|vocab|-sized, unlike toks) and filled
    // eagerly: the model and stats broadcast builds below launch
    // CONCURRENTLY (cf. q192), and without the cache each would race
    // its own corpus token pass — the 2nd documents explode+agg costs
    // far more than the vocab-sized cache
    val model = graft.ops.ScratchCache.register(
      toks.groupBy($"w").agg(count(lit(1)).as("c")).persist())
    model.count()
    val stats = model.agg(sum($"c").as("n_tok"), count(lit(1)).as("vocab"))
    // nll feeds BOTH the tercile cuts and the census — persist the
    // |docs|-row score frame so the token join runs once, not twice
    val nll = graft.ops.ScratchCache.register(
      toks.join(broadcast(model), Seq("w"))
        .crossJoin(broadcast(stats))
        .groupBy($"doc_id", $"source")
        .agg(roundp(avg(-log(($"c" + lit(1.0)) / ($"n_tok" + $"vocab"))), 6)
          .as("nll"))
        .persist())
    // nll is persisted above, so the 2 tiny PercentileCut histogram
    // jobs re-read the cached |docs|-row frame, not the token join
    val Seq(t1, t2) =
      graft.ops.PercentileCut.cutLits(nll, "nll", Seq(1.0 / 3, 2.0 / 3))
    nll
      .select($"source",
        when($"nll" <= t1, "0_head")
          .when($"nll" <= t2, "1_middle")
          .otherwise("2_tail").as("bucket"))
      .groupBy($"source", $"bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy($"source", $"bucket")
  }

  val q173Sql: String = {
    val ws = DuckSql.tokensSql
    s"""WITH toks AS (SELECT doc_id, source, unnest($ws) AS w
       |  FROM documents),
       |model AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY 1),
       |st AS (SELECT sum(c)::BIGINT AS n_tok, count(*)::BIGINT AS vocab
       |  FROM model),
       |nll AS (SELECT doc_id, source,
       |    ${DuckSql.roundpSql("avg(-ln((c + 1.0) / (n_tok + vocab)))", 6)}
       |      AS nll
       |  FROM toks JOIN model USING (w), st GROUP BY 1, 2),
       |cuts AS (SELECT quantile_cont(nll, 1::DOUBLE / 3) AS t1,
       |    quantile_cont(nll, 2::DOUBLE / 3) AS t2 FROM nll)
       |SELECT source,
       |  CASE WHEN nll <= t1 THEN '0_head'
       |       WHEN nll <= t2 THEN '1_middle'
       |       ELSE '2_tail' END AS bucket,
       |  count(*)::BIGINT AS n_docs
       |FROM nll, cuts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q181

  /** q181: SCRIPT-MIX audit — per source, the Unicode-script/char-class
    * composition of the text (Latin-script, digit, whitespace, other
    * fractions) plus the digit-heavy doc count (digit_frac > 0.2, the
    * classic table/serial-number page signal a quality gate drops).
    * Script detection is what language-ID leans on before any model
    * runs: a "French" doc that is 40% Han script is mislabeled or spam.
    * One scan, strip-length regex arithmetic (codegen, no tokenizer),
    * one |sources|-row aggregate — the audit costs a single pass at any
    * corpus size. Java `\p{IsLatin}` and RE2 `\p{Latin}` agree on ASCII
    * + BMP; TextFunctionsSpec pins Cyrillic/Han/Greek behavior on a
    * multilingual fixture. */
  def q181ScriptMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = documents(s, d)
      .select($"source", length($"text").cast("bigint").as("n"),
        charClassCount($"text", "\\p{IsLatin}").as("n_latin"),
        charClassCount($"text", "[0-9]").as("n_digit"),
        charClassCount($"text", "\\s").as("n_ws"))
      .filter($"n" > 0L)
    t.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        QueryUtil.safeAvg($"n_latin" * lit(1.0) / $"n", 6).as("latin_frac"),
        QueryUtil.safeAvg($"n_digit" * lit(1.0) / $"n", 6).as("digit_frac"),
        QueryUtil.safeAvg(($"n" - $"n_latin" - $"n_digit" - $"n_ws") *
          lit(1.0) / $"n", 6).as("other_frac"),
        sum(when($"n_digit" * 5L > $"n", 1L).otherwise(0L))
          .as("n_digit_heavy"))
      .orderBy($"source")
  }

  val q181Sql: String =
    s"""WITH t AS (SELECT source, len(text)::BIGINT AS n,
       |    (len(text) - len(regexp_replace(text, '\\p{Latin}', '', 'g')))::BIGINT AS n_latin,
       |    (len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digit,
       |    (len(text) - len(regexp_replace(text, '\\s', '', 'g')))::BIGINT AS n_ws
       |  FROM documents WHERE len(text) > 0)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  ${QueryUtil.safeAvgSql("n_latin * 1.0 / n", 6)} AS latin_frac,
       |  ${QueryUtil.safeAvgSql("n_digit * 1.0 / n", 6)} AS digit_frac,
       |  ${QueryUtil.safeAvgSql("(n - n_latin - n_digit - n_ws) * 1.0 / n", 6)} AS other_frac,
       |  sum(CASE WHEN n_digit * 5 > n THEN 1 ELSE 0 END)::BIGINT AS n_digit_heavy
       |FROM t GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q182

  /** q182: hashed-bigram LINEAR CLASSIFIER score — the fastText-style
    * quality/topic scorer every production curation stack runs after the
    * cheap heuristics: hash each distinct word bigram into a 2¹⁶-bucket
    * weight table, score the doc by the mean bucket weight, gate on the
    * sign. Weights here are the deterministic multiplicative-hash table
    * w(h) = ((h mod 2¹⁶)·40503 mod 2¹⁶) − 32768 (a trained model ships
    * as a broadcast float array in the same plan shape); keeping weights
    * INTEGER makes score_int an exact BIGINT both engines — the gate
    * decision (score_int > 0) is bit-deterministic, no float reduction
    * order anywhere. Scale shape: one scan, zero shuffles — the
    * tokenize/shingle/hash work runs in the fused codegen'd
    * [[graft.functions.ShingleExpressions.wordShingleHashes]] kernel and
    * only the 3-integer-op weight fold is an interpreted HOF (the
    * string-lambda form measured 3.75 s vs 0.5 s at sf0.1); the
    * explode+groupBy form would shuffle |grams| ≈ |tokens| rows. The
    * gram list is hash-distinct on both sides (kernel LinkedHashSet ≡
    * oracle list_distinct-of-hashes), so a 32-bit within-doc collision
    * cannot split the engines. */
  def q182NgramClassifier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", graft.functions.ShingleExpressions
        .wordShingleHashes($"text", 2).as("hs"))
      .filter(size($"hs") >= 1)
      .select($"doc_id", size($"hs").cast("bigint").as("n_grams"),
        aggregate(transform($"hs",
            h => ((h % 65536L) * 40503L % 65536L) - 32768L),
          lit(0L), (acc, x) => acc + x).as("score_int"))
      .select($"doc_id", $"n_grams", $"score_int",
        roundp($"score_int" / ($"n_grams" * lit(65536.0)), 6).as("mean_w"),
        when($"score_int" > 0L, 1L).otherwise(0L).as("keep"))
      .orderBy($"doc_id")
  }

  val q182Sql: String = {
    val ws = DuckSql.tokensSql
    s"""WITH toks AS (SELECT doc_id, $ws AS ws FROM documents),
       |g AS (SELECT doc_id, ${DuckSql.shingleHashesSql("ws", 2)} AS hs
       |  FROM toks WHERE len(ws) >= 2),
       |sc AS (SELECT doc_id, len(hs)::BIGINT AS n_grams,
       |    list_sum(list_transform(hs,
       |      h -> (h % 65536 * 40503 % 65536) - 32768
       |    ))::BIGINT AS score_int
       |  FROM g WHERE len(hs) >= 1)
       |SELECT doc_id, n_grams, score_int,
       |  ${DuckSql.roundpSql("score_int / (n_grams * 65536.0)", 6)} AS mean_w,
       |  (CASE WHEN score_int > 0 THEN 1 ELSE 0 END)::BIGINT AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q198

  /** q198: QUANTILE NORMALIZATION of per-source document lengths to the
    * pooled corpus distribution — the length-matching transform used
    * before cross-source mixture training (a source whose "p90 doc" is
    * 200 chars and one whose p90 is 20k chars get comparable length
    * percentiles; norm_len is the value a doc's within-source rank maps
    * to in the POOLED length distribution). Two scale-sensitive ranks,
    * two different tools: the within-source rank is a window PARTITIONED
    * by source (per-source sort, never global); the pooled rank is
    * [[graft.ops.GlobalIndex]]'s two-pass distributed index — a global
    * `row_number() OVER (ORDER BY ...)` here would funnel the corpus
    * through one reducer (PlanGuard error class). The rank→pooled-index
    * map is EXACT integer arithmetic (round-half-up a/b as
    * (2a+b) div 2b on BIGINTs), so no double division can flip an index
    * between engines; the final lookup is an equi-join on the dense
    * pooled index. */
  def q198QuantileNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
      .select($"doc_id", $"source", length($"text").cast("bigint").as("orig_len"))
    // pooled order: byScoreDesc sorts (score DESC, id ASC); feeding
    // score = -len makes that (len ASC, doc_id ASC), the same total
    // order as the oracle's row_number
    val (pooledIdx, total) = graft.ops.GlobalIndex.byScoreDescWithTotal(
      docs.select((-$"orig_len").as("s"), $"doc_id".as("i")).as[(Long, Long)],
      32)
    val pooled = pooledIdx.select($"idx".as("tidx"), (-$"score").as("norm_len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"orig_len", $"doc_id")
    val ranked = docs
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .withColumn("tidx",
        when($"ns" === 1L, 0L).otherwise(
          expr(s"(2 * (rn - 1) * (${total} - 1) + (ns - 1)) div (2 * (ns - 1))")))
    ranked.join(pooled, Seq("tidx"))
      .select($"doc_id", $"source", $"orig_len", $"norm_len")
      .orderBy($"doc_id")
  }

  val q198Sql: String =
    """WITH d AS (SELECT doc_id, source, len(text)::BIGINT AS orig_len
      |  FROM documents),
      |nn AS (SELECT count(*) AS n FROM d),
      |ranked AS (SELECT doc_id, source, orig_len,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY orig_len, doc_id)::BIGINT AS rn,
      |    count(*) OVER (PARTITION BY source)::BIGINT AS ns FROM d),
      |pooled AS (SELECT orig_len AS norm_len,
      |    row_number() OVER (ORDER BY orig_len, doc_id) - 1 AS idx FROM d),
      |tgt AS (SELECT doc_id, source, orig_len,
      |    CASE WHEN ns = 1 THEN 0
      |      ELSE (2 * (rn - 1) * (n - 1) + (ns - 1)) // (2 * (ns - 1))
      |    END AS tidx
      |  FROM ranked, nn)
      |SELECT t.doc_id, t.source, t.orig_len, p.norm_len
      |FROM tgt t JOIN pooled p ON p.idx = t.tidx
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q204

  /** q204: GATE AGREEMENT (Cohen's κ) — how much the cheap heuristic
    * gate (q54: lang/length/repetition rules) and the learned gate
    * (q182: hashed-bigram classifier sign) actually agree beyond
    * chance. The number a curation owner checks before swapping one
    * gate for the other: high raw agreement with low κ means the gates
    * only agree because most docs are easy. One |docs|⋈|docs| equi-join
    * of the two verdict frames, one contingency aggregation; κ's
    * arithmetic runs on exact BIGINT cell counts cast to double —
    * identical IEEE ops both engines. */
  def q204GateAgreement(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = q54QualityGate(s, d)
      .select($"doc_id", $"keep".cast("long").as("kh"))
    val c = q182NgramClassifier(s, d)
      .select($"doc_id", $"keep".as("kc"))
    val cells = h.join(c, Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when($"kh" === 1L && $"kc" === 1L, 1L).otherwise(0L)).as("n11"),
        sum(when($"kh" === 1L && $"kc" === 0L, 1L).otherwise(0L)).as("n10"),
        sum(when($"kh" === 0L && $"kc" === 1L, 1L).otherwise(0L)).as("n01"),
        sum(when($"kh" === 0L && $"kc" === 0L, 1L).otherwise(0L)).as("n00"))
    val po = ($"n11" + $"n00").cast("double") / $"n".cast("double")
    val pe = (($"n11" + $"n10").cast("double") * ($"n11" + $"n01").cast("double") +
      ($"n00" + $"n01").cast("double") * ($"n00" + $"n10").cast("double")) /
      ($"n".cast("double") * $"n".cast("double"))
    cells.select($"n", $"n11", $"n10", $"n01", $"n00",
      roundp(po, 6).as("po"), roundp(pe, 6).as("pe"),
      when(pe === 1.0, 1.0).otherwise(roundp((po - pe) / (lit(1.0) - pe), 6))
        .as("kappa"))
  }

  val q204Sql: String =
    s"""WITH h AS (SELECT doc_id, keep::BIGINT AS kh FROM ($q54Sql)),
       |c AS (SELECT doc_id, keep AS kc FROM ($q182Sql)),
       |cells AS (SELECT count(*)::BIGINT AS n,
       |    sum(CASE WHEN kh = 1 AND kc = 1 THEN 1 ELSE 0 END)::BIGINT AS n11,
       |    sum(CASE WHEN kh = 1 AND kc = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
       |    sum(CASE WHEN kh = 0 AND kc = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
       |    sum(CASE WHEN kh = 0 AND kc = 0 THEN 1 ELSE 0 END)::BIGINT AS n00
       |  FROM h JOIN c USING (doc_id))
       |SELECT n, n11, n10, n01, n00,
       |  round(((n11 + n00)::DOUBLE / n::DOUBLE) * 1000000.0) / 1000000.0 AS po,
       |  round((((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
       |      + (n00 + n01)::DOUBLE * (n00 + n10)::DOUBLE)
       |    / (n::DOUBLE * n::DOUBLE)) * 1000000.0) / 1000000.0 AS pe,
       |  CASE WHEN ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
       |      + (n00 + n01)::DOUBLE * (n00 + n10)::DOUBLE)
       |      / (n::DOUBLE * n::DOUBLE) = 1.0 THEN 1.0
       |    ELSE round((((n11 + n00)::DOUBLE / n::DOUBLE
       |        - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
       |          + (n00 + n01)::DOUBLE * (n00 + n10)::DOUBLE)
       |          / (n::DOUBLE * n::DOUBLE))
       |      / (1.0 - ((n11 + n10)::DOUBLE * (n11 + n01)::DOUBLE
       |          + (n00 + n01)::DOUBLE * (n00 + n10)::DOUBLE)
       |          / (n::DOUBLE * n::DOUBLE))) * 1000000.0) / 1000000.0
       |  END AS kappa
       |FROM cells""".stripMargin

  // ---------------------------------------------------------------- q205

  /** q205: CALIBRATION of the learned gate against the heuristic —
    * the reliability table: classifier mean-weight scores bucketed
    * into 10 equal-width bins over (−0.5, 0.5), each bin reporting its
    * doc count, mean (already-6dp-rounded) score, and the heuristic
    * keep-rate. A well-calibrated score should be monotone in the
    * heuristic rate; flat = the classifier learned nothing the rules
    * didn't. Bin ids come from the ROUNDED score (both engines bucket
    * identical doubles), clamped into [0,9]; one join + one census
    * aggregation. */
  def q205Calibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = q54QualityGate(s, d)
      .select($"doc_id", $"keep".cast("long").as("kh"))
    val c = q182NgramClassifier(s, d).select($"doc_id", $"mean_w")
    c.join(h, Seq("doc_id"))
      .select(least(greatest(floor(($"mean_w" + 0.5) * 10.0), lit(0.0)),
        lit(9.0)).cast("bigint").as("bin"), $"mean_w", $"kh")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        QueryUtil.safeAvg($"mean_w", 6).as("mean_score"),
        roundp(sum($"kh").cast("double") / count(lit(1)).cast("double"), 6)
          .as("heuristic_keep_rate"))
      .orderBy($"bin")
  }

  val q205Sql: String =
    s"""WITH h AS (SELECT doc_id, keep::BIGINT AS kh FROM ($q54Sql)),
       |c AS (SELECT doc_id, mean_w FROM ($q182Sql)),
       |b AS (SELECT least(greatest(floor((mean_w + 0.5) * 10.0), 0.0), 9.0)::BIGINT
       |    AS bin, mean_w, kh
       |  FROM c JOIN h USING (doc_id))
       |SELECT bin, count(*)::BIGINT AS n_docs,
       |  ${QueryUtil.safeAvgSql("mean_w", 6)} AS mean_score,
       |  ${DuckSql.roundpSql("sum(kh)::DOUBLE / count(*)::DOUBLE", 6)}
       |    AS heuristic_keep_rate
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q206

  /** q206: length-inequality GINI — how unequally document length is
    * distributed within each source and across the pooled corpus (the
    * '__all' row). A source with G ≈ 0.6+ is a few giant pages plus
    * stubs — a different cleaning/packing policy than a uniform one;
    * the pooled-vs-per-source gap shows whether inequality is within
    * sources or between them. Exact formula on the (len, doc_id)-sorted
    * order: G = Σ(2i−n−1)·x_i / (n·Σx). Ranks come from the same two
    * tools as q198 — per-source: a source-PARTITIONED window; pooled:
    * [[graft.ops.GlobalIndex]]'s two-pass index (never a global
    * window). The numerator folds in DECIMAL (rank·len products
    * overflow int64 near 10¹⁸); the final division is two exact
    * integers cast to double — identical IEEE both engines. */
  def q206LengthGini(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
      .select($"doc_id", $"source", length($"text").cast("bigint").as("len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"len", $"doc_id")
    val giniOf = (num: Column, n: Column, tot: Column) =>
      roundp(num.cast("double") / (n.cast("double") * tot.cast("double")), 6)
    val per = docs
      .withColumn("i", row_number().over(w).cast("bigint"))
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("total_len"),
        sum((lit(2L) * $"i" - $"ns" - lit(1L)).cast("decimal(19,0)") *
          $"len").as("num"))
      .select($"source", $"n_docs", $"total_len",
        giniOf($"num", $"n_docs", $"total_len").as("gini"))
    val (pooledIdx, n) = graft.ops.GlobalIndex.byScoreDescWithTotal(
      docs.select((-$"len").as("s"), $"doc_id".as("i")).as[(Long, Long)], 32)
    val pooled = pooledIdx
      .select((-$"score").as("len"), ($"idx" + 1L).as("i"))
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("total_len"),
        sum((lit(2L) * $"i" - lit(n) - lit(1L)).cast("decimal(19,0)") *
          $"len").as("num"))
      .select(lit("__all").as("source"), $"n_docs", $"total_len",
        giniOf($"num", $"n_docs", $"total_len").as("gini"))
    per.unionByName(pooled).orderBy($"source")
  }

  val q206Sql: String =
    """WITH d AS (SELECT doc_id, source, len(text)::BIGINT AS len
      |  FROM documents),
      |ranked AS (SELECT source, len,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY len, doc_id)::BIGINT AS i,
      |    count(*) OVER (PARTITION BY source)::BIGINT AS ns FROM d),
      |per AS (SELECT source, count(*)::BIGINT AS n_docs,
      |    sum(len)::BIGINT AS total_len,
      |    sum(CAST(2 * i - ns - 1 AS DECIMAL(19,0)) * len) AS num
      |  FROM ranked GROUP BY source),
      |pooled0 AS (SELECT len,
      |    row_number() OVER (ORDER BY len, doc_id)::BIGINT AS i,
      |    count(*) OVER ()::BIGINT AS n FROM d),
      |pooled AS (SELECT '__all' AS source, count(*)::BIGINT AS n_docs,
      |    sum(len)::BIGINT AS total_len,
      |    sum(CAST(2 * i - n - 1 AS DECIMAL(19,0)) * len) AS num
      |  FROM pooled0)
      |SELECT source, n_docs, total_len,
      |  round((num::DOUBLE / (n_docs::DOUBLE * total_len::DOUBLE))
      |    * 1000000.0) / 1000000.0 AS gini
      |FROM (SELECT * FROM per UNION ALL SELECT * FROM pooled)
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q214

  /** q214: context-length sweep — the packing/truncation tradeoff table
    * for choosing a training sequence length: for each candidate
    * context L, how many docs fit whole, how many sequences a
    * split-into-⌈n/L⌉-chunks policy emits, and the padding waste of
    * padding every final chunk to L. (q161 fixes bin width and reports
    * waste per bin; q114 packs greedily at ONE length — this is the
    * upstream decision of which L to run those at.) Exact integer math
    * (`(n + L − 1) div L`); one token-count scan exploded ×|L|, then a
    * |L|-row aggregate — map-side combine collapses the explode. */
  def q214ContextSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = size(tokens($"text")).cast("long")
    documents(s, d).filter($"text".isNotNull).select(n.as("n"))
      .select($"n", explode(array(lit(128L), lit(256L), lit(512L),
        lit(1024L))).as("l_ctx"))
      .groupBy($"l_ctx")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n" <= $"l_ctx", 1L).otherwise(0L)).as("n_fit_whole"),
        sum($"n").as("total_tokens"),
        sum(expr("(n + l_ctx - 1) div l_ctx")).as("n_seqs"))
      .select($"l_ctx", $"n_docs", $"n_fit_whole", $"total_tokens",
        $"n_seqs", ($"n_seqs" * $"l_ctx").as("padded_tokens"),
        roundp(($"n_seqs" * $"l_ctx" - $"total_tokens") * lit(1.0) /
          ($"n_seqs" * $"l_ctx"), 6).as("waste_frac"))
      .orderBy($"l_ctx")
  }

  val q214Sql: String =
    s"""WITH lens AS (SELECT len(${DuckSql.tokensSql})::BIGINT AS n
       |  FROM documents WHERE text IS NOT NULL),
       |e AS (SELECT n, unnest([128, 256, 512, 1024])::BIGINT AS l_ctx
       |  FROM lens),
       |agg AS (SELECT l_ctx, count(*)::BIGINT AS n_docs,
       |    sum(CASE WHEN n <= l_ctx THEN 1 ELSE 0 END)::BIGINT
       |      AS n_fit_whole,
       |    sum(n)::BIGINT AS total_tokens,
       |    sum((n + l_ctx - 1) // l_ctx)::BIGINT AS n_seqs
       |  FROM e GROUP BY 1)
       |SELECT l_ctx, n_docs, n_fit_whole, total_tokens, n_seqs,
       |  (n_seqs * l_ctx)::BIGINT AS padded_tokens,
       |  ${DuckSql.roundpSql(
            "(n_seqs * l_ctx - total_tokens) * 1.0 / (n_seqs * l_ctx)", 6)}
       |    AS waste_frac
       |FROM agg ORDER BY l_ctx""".stripMargin

  // ---------------------------------------------------------------- q217

  /** q217: Spearman rank correlation per source between document length
    * and lexical diversity (distinct-token ratio) — the monotone-
    * association audit behind "longer docs repeat themselves": rank-
    * based, so score-scale-free and robust to the heavy length tails
    * that break Pearson. Exact tie handling WITHOUT fractional ranks:
    * the tie-averaged rank doubled is the integer `2·rank + ties − 1`,
    * and Spearman is scale-invariant, so correlating the doubled ranks
    * IS the textbook statistic. Ranks come from source-PARTITIONED
    * windows (never global); the five sufficient sums fold exactly
    * (BIGINT products, DECIMAL accumulation), and the final formula is
    * one identical-IEEE double expression both engines round to 6dp
    * ([[graft.ops.RankCorr.spearman]] — tie-pinned in SketchSpec). */
  def q217SpearmanLenDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val base = documents(s, d)
      .select($"source", $"n_chars".cast("bigint").as("x"),
        (size(array_distinct(toks)) * lit(1.0) / size(toks)).as("y"))
      .filter(size(toks) > 0)
    graft.ops.RankCorr.spearman(base, $"source", $"x", $"y")
      .select($"g".as("source"), $"n_rows".as("n_docs"), $"spearman_rho")
      .orderBy($"source")
  }

  val q217Sql: String =
    s"""WITH t0 AS (SELECT source, n_chars, ${DuckSql.tokensSql} AS toks
       |  FROM documents),
       |base AS (SELECT source, n_chars::BIGINT AS x,
       |    len(list_distinct(toks)) * 1.0 / len(toks) AS y
       |  FROM t0 WHERE len(toks) > 0),
       |r AS (SELECT source,
       |    2 * rank() OVER (PARTITION BY source ORDER BY x)
       |      + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
       |    2 * rank() OVER (PARTITION BY source ORDER BY y)
       |      + count(*) OVER (PARTITION BY source, y) - 1 AS ry
       |  FROM base),
       |a AS (SELECT source, count(*)::BIGINT AS n,
       |    sum(CAST(rx AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(ry AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(rx * ry AS DECIMAL(38,0))) AS sxy,
       |    sum(CAST(rx * rx AS DECIMAL(38,0))) AS sxx,
       |    sum(CAST(ry * ry AS DECIMAL(38,0))) AS syy
       |  FROM r GROUP BY 1)
       |SELECT source, n AS n_docs,
       |  CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       |      * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0.0
       |    THEN ${DuckSql.roundpSql(
            "(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) / " +
            "sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
            "(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))", 6)}
       |  END AS spearman_rho
       |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q220

  /** q220: per-source exact AUC of the non-Latin-character fraction as
    * a CJK (zh) detector — the threshold-free evaluation a gate gets
    * BEFORE anyone picks its cutoff (q136/q146 tune cutoffs; this
    * scores the ranker itself). On THIS fixture the verdict is
    * ≈0.5 by construction — the synthetic lang labels are
    * content-independent (measured: non-Latin fraction is 0.177±0.002
    * for every lang) — which is the statistic doing its job: exposing
    * a ranker with no signal. The discriminative cases (separable → 1,
    * ties → 0.875, single-class → null) are hand-pinned in SketchSpec.
    * Exact tie-corrected Mann-Whitney form
    * via [[graft.ops.RankCorr.aucRank]]: doubled tie-averaged ranks
    * keep the statistic in integers until one final double division —
    * no pairwise positive×negative comparison is ever materialized
    * (the naive form is n₊·n₋ pairs per source; this is one rank
    * window + one aggregation). Null AUC where a source lacks either
    * class, rather than a fake 0.5. */
  def q220AucLatinEn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = documents(s, d)
      .filter(length($"text") > 0)
      .select($"source",
        ((length($"text") - charClassCount($"text", "\\p{IsLatin}")) *
          lit(1.0) / length($"text")).as("score"),
        ($"lang" === "zh").as("y"))
    graft.ops.RankCorr.aucRank(base, $"source", $"score", $"y")
      .select($"g".as("source"), $"n_pos", $"n_neg", $"auc")
      .orderBy($"source")
  }

  val q220Sql: String =
    s"""WITH t AS (SELECT source, (lang = 'zh') AS y,
       |    len(regexp_replace(text, '\\p{Latin}', '', 'g'))
       |      * 1.0 / len(text) AS score
       |  FROM documents WHERE len(text) > 0),
       |r AS (SELECT source, y,
       |    2 * rank() OVER (PARTITION BY source ORDER BY score)
       |      + count(*) OVER (PARTITION BY source, score) - 1 AS r2
       |  FROM t),
       |a AS (SELECT source,
       |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END)::BIGINT AS n_neg,
       |    sum(CASE WHEN y THEN CAST(r2 AS DECIMAL(38,0))
       |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS spos
       |  FROM r GROUP BY 1)
       |SELECT source, n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    ${DuckSql.roundpSql(
            "(spos::DOUBLE - n_pos::DOUBLE * (n_pos + 1)::DOUBLE) / " +
            "(2.0 * n_pos::DOUBLE * n_neg::DOUBLE)", 6)}
       |  END AS auc
       |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q223

  /** q223: vocabulary drift — rank-biased overlap (RBO@100) between the
    * token-frequency rankings of the corpus' two halves (doc_id parity
    * stands in for crawl generation): the top-weighted complement of
    * q159's KS / q178's growth curve for "did the head of the
    * vocabulary move between snapshots?". One token explode → per-half
    * counts; per-half top-100 ranks from GlobalIndex's two-pass index
    * ordered by (count DESC, fnv-of-token ASC) — the tiebreak hash is
    * the SAME polyHash both engines, so ranks agree exactly; the RBO
    * sum reuses q218's quantized tail-weight constants (exact BIGINT
    * fold). */
  def q223VocabDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.polyHash
    import SimilarityQueries.{RboD, RboP, rboSuffixQ}
    val counts = graft.ops.ScratchCache.register(documents(s, d)
      .select(($"doc_id" % 2).as("half"), explode(tokens($"text")).as("w"))
      .groupBy($"half", polyHash($"w").as("h"))
      .agg(count(lit(1)).as("cnt")).persist())
    val parts = s.sessionState.conf.numShufflePartitions
    def topRanks(half: Int, as: String): DataFrame =
      graft.ops.GlobalIndex.byScoreDesc(
        counts.filter($"half" === half)
          // score packs (cnt DESC, hash ASC) into one long: GlobalIndex
          // orders by (score DESC, id ASC), and id IS the hash, so the
          // hash tiebreak rides the id channel for free
          .select($"cnt", $"h").as[(Long, Long)], parts)
        .filter($"idx" < RboD)
        .select($"id".as("h"), ($"idx" + 1L).as(as))
    val ra = topRanks(0, "ra")
    val rb = topRanks(1, "rb")
    val sq = array(rboSuffixQ.map(lit(_)): _*)
    ra.join(rb, Seq("h"))
      .select(element_at(sq, greatest($"ra", $"rb").cast("int")).as("wq"))
      .agg(count(lit(1)).as("n_overlap"), sum($"wq").as("sumq"))
      .select(lit(RboD).cast("bigint").as("depth"), $"n_overlap",
        roundp($"n_overlap" * lit(1.0) / RboD, 6).as("overlap_frac"),
        roundp((lit(1.0) - RboP) * $"sumq" / lit(1e12), 6).as("rbo"))
  }

  val q223Sql: String = {
    import SimilarityQueries.{RboD, RboP, rboSuffixQ}
    val lst = rboSuffixQ.mkString("[", ", ", "]")
    val ph = DuckSql.polyHashSql("w")
    s"""WITH toks AS (SELECT doc_id % 2 AS half,
       |    unnest(${DuckSql.tokensSql}) AS w FROM documents),
       |c AS (SELECT half, $ph AS h, count(*)::BIGINT AS cnt
       |  FROM toks GROUP BY 1, 2),
       |ra AS (SELECT h, row_number() OVER
       |    (ORDER BY cnt DESC, h) AS ra FROM c WHERE half = 0),
       |rb AS (SELECT h, row_number() OVER
       |    (ORDER BY cnt DESC, h) AS rb FROM c WHERE half = 1),
       |j AS (SELECT greatest(ra, rb) AS m
       |  FROM ra JOIN rb USING (h)
       |  WHERE ra <= $RboD AND rb <= $RboD),
       |a AS (SELECT count(*)::BIGINT AS n_overlap,
       |    sum(($lst)[m])::BIGINT AS sumq FROM j)
       |SELECT $RboD::BIGINT AS depth, n_overlap,
       |  ${DuckSql.roundpSql(s"n_overlap * 1.0 / $RboD", 6)}
       |    AS overlap_frac,
       |  ${DuckSql.roundpSql(s"(1.0 - $RboP) * sumq / 1e12", 6)} AS rbo
       |FROM a""".stripMargin
  }

  // ---------------------------------------------------------------- q227

  /** q227: chi-square homogeneity — is the language mix independent of
    * source? (The intake audit that catches one crawl feeding you a
    * different language balance than the rest.) One (source × lang)
    * contingency aggregation; the margins re-aggregate the persisted
    * contingency frame (tiny) and broadcast back; χ² = Σ(o−e)²/e with
    * e = rowΣ·colΣ/N — every input an exact BIGINT, the statistic one
    * identical-IEEE double expression. Output is the statistic + dof
    * (the decision threshold lives in the caller's χ² table — no CDF
    * in either engine). */
  def q227Chi2Homogeneity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cont = graft.ops.ScratchCache.register(documents(s, d)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("o")).persist())
    // ONE job fills the cache AND returns the contingency table — it is
    // |sources|×|langs| rows, bounded by category cardinality. The
    // row/column marginals and totals fold back as literal maps/values,
    // so the r11 shape's three concurrent broadcast builds (which,
    // unfilled, each re-ran the documents scan+agg — the q192 race) are
    // gone by construction; only the final term aggregation over the
    // cached table touches the cluster again.
    val tbl = cont.collect()
    // null source/lang keys stay out of the literal maps (map() throws on
    // a null key); their rows then drop from the term sum via element_at
    // null propagation — the same rows the old inner joins dropped
    val rs = tbl.filter(_.getString(0) != null).groupBy(_.getString(0))
      .map { case (k, v) => k -> v.map(_.getLong(2)).sum }
    val cs = tbl.filter(_.getString(1) != null).groupBy(_.getString(1))
      .map { case (k, v) => k -> v.map(_.getLong(2)).sum }
    val nTot = tbl.map(_.getLong(2)).sum
    val (nr, nc) = (rs.size.toLong, cs.size.toLong)
    val rsMap = map(rs.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val csMap = map(cs.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val e = element_at(rsMap, $"source").cast("double") *
      element_at(csMap, $"lang").cast("double") / lit(nTot).cast("double")
    // per-term quantization to nano-units BEFORE the fold: each term is
    // an identical double in both engines, but a multi-row double sum is
    // reduction-order-sensitive (Spark's shuffle arrival order is per-run
    // nondeterministic) — integral doubles sum exactly below 2^53
    cont
      .filter($"source".isNotNull && $"lang".isNotNull)
      .select(round((($"o".cast("double") - e) * ($"o".cast("double") - e)
        / e) * lit(1e9)).as("term_q"))
      .agg(roundp(sum($"term_q") / lit(1e9), 6).as("chi2"))
      .select(lit((nr - 1) * (nc - 1)).as("dof"), $"chi2")
  }

  val q227Sql: String =
    s"""WITH c AS (SELECT source, lang, count(*)::BIGINT AS o
       |  FROM documents GROUP BY 1, 2),
       |r AS (SELECT source, sum(o)::BIGINT AS rs FROM c GROUP BY 1),
       |l AS (SELECT lang, sum(o)::BIGINT AS cs FROM c GROUP BY 1),
       |t AS (SELECT sum(o)::BIGINT AS n,
       |    count(DISTINCT source)::BIGINT AS nr,
       |    count(DISTINCT lang)::BIGINT AS nc FROM c),
       |terms AS (SELECT nr, nc,
       |    round(((o::DOUBLE - rs::DOUBLE * cs::DOUBLE / n::DOUBLE)
       |      * (o::DOUBLE - rs::DOUBLE * cs::DOUBLE / n::DOUBLE)
       |      / (rs::DOUBLE * cs::DOUBLE / n::DOUBLE)) * 1e9) AS term_q
       |  FROM c JOIN r USING (source) JOIN l USING (lang) CROSS JOIN t)
       |SELECT ((nr - 1) * (nc - 1))::BIGINT AS dof,
       |  ${DuckSql.roundpSql("sum(term_q) / 1e9", 6)} AS chi2
       |FROM terms GROUP BY nr, nc""".stripMargin

  // ---------------------------------------------------------------- q228

  /** q228: Chao1 vocabulary-richness estimate per source — from the
    * observed vocabulary and its singleton/doubleton counts, the
    * species-richness lower bound Ŝ = V + f₁(f₁−1)/(2(f₂+1)) (the
    * bias-corrected form, defined at f₂ = 0): "how much vocabulary is
    * this source still hiding?" — the saturation check before deciding
    * a crawl is exhausted. Two hash aggregations (token counts →
    * frequency-of-frequency), exact integers until the one output
    * division. */
  def q228VocabChao1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = documents(s, d)
      .select($"source", explode(tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    tf.groupBy($"source")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("v_obs"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("f1"),
        sum(when($"c" === 2, 1L).otherwise(0L)).as("f2"))
      .select($"source", $"n_tokens", $"v_obs", $"f1", $"f2",
        roundp($"v_obs" + $"f1".cast("double") * ($"f1" - 1).cast("double")
          / (lit(2.0) * ($"f2" + 1).cast("double")), 2).as("chao1"))
      .orderBy($"source")
  }

  val q228Sql: String =
    s"""WITH tf AS (SELECT source, w, count(*)::BIGINT AS c
       |  FROM (SELECT source, unnest(${DuckSql.tokensSql}) AS w
       |        FROM documents) GROUP BY 1, 2),
       |a AS (SELECT source, sum(c)::BIGINT AS n_tokens,
       |    count(*)::BIGINT AS v_obs,
       |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
       |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
       |  FROM tf GROUP BY 1)
       |SELECT source, n_tokens, v_obs, f1, f2,
       |  ${DuckSql.roundpSql(
            "v_obs + f1::DOUBLE * (f1 - 1)::DOUBLE / (2.0 * (f2 + 1)::DOUBLE)",
            2)} AS chao1
       |FROM a ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q235

  /** q235: TOKEN-WEIGHTED median document length — the honest "typical
    * document" when long docs carry most of the training mass (the
    * unweighted median over-represents stubs). Weighted quantile =
    * first row of the (len, doc_id)-ordered sequence whose cumulative
    * weight crosses half the total: per source that's a source-
    * PARTITIONED running window; the pooled '__all' row chains the two
    * window-free two-pass ops — [[graft.ops.GlobalIndex]] (dense rank)
    * into [[graft.ops.PrefixSum]] (cumulative weights) — never a
    * global ORDER BY window. Integer weights → the crossing row is
    * exact, no interpolation ambiguity between engines. */
  def q235WeightedMedian(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    // three consumers (per-source windows, the pooled rank, the weights
    // join): persist the 4-scalar projection so the tokenize kernel
    // runs once, not three times
    val docs = graft.ops.ScratchCache.register(documents(s, d)
      .select($"source", $"doc_id", length($"text").cast("bigint").as("len"),
        size(tokens($"text")).cast("bigint").as("w")).persist())
    val wSrc = W.partitionBy($"source")
    val wRun = wSrc.orderBy($"len", $"doc_id")
    val per = docs
      .withColumn("cum", sum($"w").over(
        wRun.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("tot", sum($"w").over(wSrc))
      .withColumn("nd", count(lit(1)).over(wSrc))
      .filter($"cum" * 2 >= $"tot")
      .withColumn("rn", row_number().over(wRun))
      .filter($"rn" === 1)
      .select($"source", $"nd".as("n_docs"), $"tot".as("total_tokens"),
        $"len".as("w_median_len"))
    val parts = s.sessionState.conf.numShufflePartitions
    val (idx, nDocs) = graft.ops.GlobalIndex.byScoreDescWithTotal(
      docs.select((-$"len").as("s"), $"doc_id").as[(Long, Long)], parts)
    // persisted: two consumers (the weights derivation and the final
    // median-row join) share one rank computation
    val ranked = graft.ops.ScratchCache.register(
      idx.select($"idx".as("k"), (-$"score").as("len"),
        $"id".as("doc_id")).persist())
    val weights = ranked
      .join(docs.select($"doc_id", $"w"), Seq("doc_id"))
      .select($"k", $"w").as[(Long, Long)]
    val cum = graft.ops.PrefixSum.byKeyAsc(weights, parts)
    val tot = cum.agg(max($"cum").as("tot"))
    val pooled = cum.crossJoin(broadcast(tot))
      .filter($"cum" * 2 >= $"tot")
      .orderBy($"k").limit(1)
      .join(ranked, Seq("k"))
      .select(lit("__all").as("source"), lit(nDocs).as("n_docs"),
        $"tot".as("total_tokens"), $"len".as("w_median_len"))
    per.unionByName(pooled).orderBy($"source")
  }

  val q235Sql: String =
    s"""WITH d AS (SELECT source, doc_id, len(text)::BIGINT AS len,
       |    len(${DuckSql.tokensSql})::BIGINT AS w FROM documents),
       |per0 AS (SELECT source, len,
       |    sum(w) OVER (PARTITION BY source ORDER BY len, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(w) OVER (PARTITION BY source) AS tot,
       |    count(*) OVER (PARTITION BY source) AS nd,
       |    row_number() OVER (PARTITION BY source ORDER BY len, doc_id)
       |      AS rn0
       |  FROM d),
       |per AS (SELECT source, nd::BIGINT AS n_docs, tot::BIGINT
       |      AS total_tokens, len AS w_median_len,
       |    row_number() OVER (PARTITION BY source ORDER BY rn0) AS rn
       |  FROM per0 WHERE cum * 2 >= tot),
       |pool0 AS (SELECT len,
       |    sum(w) OVER (ORDER BY len, doc_id ROWS UNBOUNDED PRECEDING)
       |      AS cum,
       |    sum(w) OVER () AS tot, count(*) OVER () AS nd,
       |    row_number() OVER (ORDER BY len, doc_id) AS rn0
       |  FROM d),
       |pool AS (SELECT '__all' AS source, nd::BIGINT AS n_docs,
       |    tot::BIGINT AS total_tokens, len AS w_median_len,
       |    row_number() OVER (ORDER BY rn0) AS rn
       |  FROM pool0 WHERE cum * 2 >= tot)
       |SELECT source, n_docs, total_tokens, w_median_len
       |FROM (SELECT * FROM per WHERE rn = 1
       |      UNION ALL SELECT * FROM pool WHERE rn = 1)
       |ORDER BY source""".stripMargin

  // ------------------------------------------------------------ q236/q237

  /** BPE-style merge training over the corpus (Sennrich et al. 2016,
    * ACL — adapted from characters to the engine's word units, the
    * WordPiece-at-word-granularity variant a phrase-vocabulary pass
    * uses; the CHARACTER-level trainer with end-of-word markers is
    * [[graft.ops.BpeTrainer]], spec-gated — this word-unit form exists
    * so the merge-loop semantics are additionally DuckDB-oracle-gated).
    * Each round counts ADJACENT unit pairs corpus-wide, merges
    * the most frequent pair (count desc, then lexicographic — fully
    * deterministic) everywhere leftmost-non-overlapping, and repeats on
    * the merged corpus — the canonical iterative-recount loop: a merged
    * round CHANGES the next round's pair counts, so each round is one
    * full corpus pass, exactly how distributed BPE trainers work.
    *
    * Exact-replay trick (what makes this ORACLE-checkable rather than
    * rows-only): the corpus state is a guarded string — tokens joined by
    * DOUBLE spaces with single-space sentinels at both ends — so "merge
    * pair (a,b) leftmost-non-overlapping" IS the plain (non-regex)
    * `replace(s, ' a  b ', ' a+b ')`: each match consumes one space from
    * each neighboring separator, which keeps sentinels intact, preserves
    * every other separator, and makes consecutive disjoint occurrences
    * all merge while overlapping ones ("a a a" under (a,a)) merge only
    * leftmost — the scan-continues-after-replacement semantics Spark's
    * `StringReplace` and DuckDB's `replace` share.
    *
    * Scale shape: ONE corpus tokenize persists the |docs|-row state
    * (eagerly filled — cf. the q192 cache-race note); each round is a
    * map-side-combined pair-count aggregation over that cache plus a
    * 1-row TakeOrdered and a driver-collected scalar (bounded by
    * construction, like PercentileCut) folded back as replace literals —
    * no shuffle grows with rounds, and round r's state is r nested
    * codegen'd replaces over the cached strings, never a re-tokenize. */
  private def bpeState0(s: SparkSession, d: String): DataFrame =
    bpeState0Of(s, documents(s, d))

  private[graft] def bpeState0Of(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val st = graft.ops.ScratchCache.register(docs
      .select($"source", tokens($"text").as("ws"))
      .filter(size($"ws") >= 1)
      .select($"source",
        concat(lit(" "), array_join($"ws", "  "), lit(" ")).as("s"))
      .persist())
    st.count() // ONE corpus tokenize; every round re-reads this cache
    st
  }

  private[graft] def bpeUnits(c: Column): Column = split(trim(c), "  ")

  private def bpePairs(st: DataFrame): DataFrame = {
    val s = st.sparkSession
    import s.implicits._
    // size >= 2 REQUIRED: Spark's sequence(1, size-1) descends for
    // single-unit docs (same guard as q142/q154)
    st.select(bpeUnits($"s").as("u"))
      .filter(size($"u") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(u) - 1), " +
          "i -> struct(element_at(u, i) AS a, element_at(u, i + 1) AS b))"))
        .as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
  }

  /** Runs `k` merge rounds; returns the learned merges and the final
    * corpus state (source, s). */
  private[graft] def bpeMerges(s: SparkSession, st0: DataFrame, k: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    var st = st0
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to k) {
      val best = bpePairs(st).groupBy($"a", $"b").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"a", $"b").limit(1).collect()
      if (best.nonEmpty) {
        val (a, b, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, a, b, c))
        st = st.select($"source", replace($"s",
          concat(lit(" "), lit(a), lit("  "), lit(b), lit(" ")),
          concat(lit(" "), lit(a), lit("+"), lit(b), lit(" "))).as("s"))
      }
    }
    (merges.result(), st)
  }

  private val BpeRounds = 3

  /** q236: the learned merge table — round, pair, pre-merge count. */
  def q236BpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (m, _) = bpeMerges(s, bpeState0(s, d), BpeRounds)
    m.toDF("round", "unit_a", "unit_b", "pair_count").orderBy($"round")
  }

  /** q237: per-source compression after the learned merges — the
    * tokens-per-unit ratio a tokenizer sweep reports (the unmerged
    * state's unit count IS the token count, so "before" reads the same
    * cache "after" derives from). */
  def q237BpeCompression(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st0 = bpeState0(s, d)
    val (_, stK) = bpeMerges(s, st0, BpeRounds)
    val before = st0.groupBy($"source")
      .agg(sum(size(bpeUnits($"s"))).as("n_tokens"))
    val after = stK.groupBy($"source")
      .agg(sum(size(bpeUnits($"s"))).as("n_units"))
    before.join(after, Seq("source"))
      .select($"source", $"n_tokens", $"n_units",
        roundp($"n_units" * lit(1.0) / $"n_tokens", 6).as("compression"))
      .orderBy($"source")
  }

  /** Unrolled CTE chain s0..s<k> with per-round pair counts + argmax —
    * byte-identical semantics to [[bpeMerges]] (see the exact-replay
    * note there), including the empty-round skip: when b$r has no pair
    * (corpus exhausted before round k), the CASE keeps s unchanged — the
    * bare scalar subqueries would otherwise NULL the state via
    * replace(s, NULL, NULL). */
  private def bpeSqlStates(k: Int): String = {
    val ws = DuckSql.tokensSql
    val sb = new StringBuilder
    sb ++= s"s0 AS (SELECT source, ' ' || array_to_string(ws, '  ') || ' ' AS s\n" +
      s"  FROM (SELECT source, $ws AS ws FROM documents) WHERE len(ws) >= 1)"
    for (r <- 1 to k) {
      val prev = s"s${r - 1}"
      sb ++= s""",
         |p$r AS (SELECT p.a AS a, p.b AS b FROM (
         |  SELECT unnest(list_transform(range(1, len(u)),
         |    i -> struct_pack(a := u[i], b := u[i + 1]))) AS p
         |  FROM (SELECT string_split(trim(s), '  ') AS u FROM $prev)
         |  WHERE len(u) >= 2)),
         |b$r AS (SELECT a, b, count(*)::BIGINT AS c FROM p$r GROUP BY 1, 2
         |  ORDER BY c DESC, a, b LIMIT 1),
         |s$r AS (SELECT source, CASE WHEN (SELECT count(*) FROM b$r) = 0
         |    THEN s ELSE replace(s,
         |    ' ' || (SELECT a FROM b$r) || '  ' || (SELECT b FROM b$r) || ' ',
         |    ' ' || (SELECT a FROM b$r) || '+' || (SELECT b FROM b$r) || ' ')
         |    END AS s
         |  FROM $prev)""".stripMargin
    }
    sb.toString
  }

  val q236Sql: String = {
    val rounds = (1 to BpeRounds).map(r =>
      s"SELECT $r::BIGINT AS round, a AS unit_a, b AS unit_b, " +
        s"c AS pair_count FROM b$r").mkString("\nUNION ALL ")
    s"WITH ${bpeSqlStates(BpeRounds)}\n$rounds\nORDER BY round"
  }

  val q237Sql: String = {
    val units = "sum(len(string_split(trim(s), '  ')))::BIGINT"
    s"""WITH ${bpeSqlStates(BpeRounds)},
       |before_t AS (SELECT source, $units AS n_tokens FROM s0 GROUP BY source),
       |after_t AS (SELECT source, $units AS n_units FROM s$BpeRounds GROUP BY source)
       |SELECT source, n_tokens, n_units,
       |  ${DuckSql.roundpSql("n_units * 1.0 / n_tokens", 6)} AS compression
       |FROM before_t JOIN after_t USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q238

  private val RegRounds = 3
  private val RegLr = 0.5 // exact binary double — identical literal both engines

  /** q238: distributed QUALITY-CLASSIFIER training — full-batch logistic
    * regression (label: lang == 'en'; features: bias, scaled token count,
    * scaled char count) by gradient descent, the fastText-style linear
    * filter every curation stack trains over its own corpus (cf. the
    * CCNet/DSIR lineage the reference's quality gates assume). The whole
    * loop is Spark-shaped: each round is ONE map-side-combined
    * aggregation over a persisted feature frame — the shuffle carries a
    * 5-value partial (n, n_correct, 3 gradient sums), the weights live on
    * the driver, so the plan is linear in the corpus and constant in
    * state at any scale (the q236 BPE harness shape, applied to
    * supervised training).
    *
    * EXACT oracle parity, not float luck: every cross-row reduction is an
    * integer — per-row gradient terms quantize to nano-units
    * (`round(term·1e9)::long`, the q227 discipline) before summing, so
    * reduction order cannot matter; the weight update is one double
    * expression over those exact integers, written term-for-term
    * identically in the SQL twin, and per-row math (exp/sigmoid) is
    * deterministic given identical weights. Accuracy counts via the
    * sign of z (never the sigmoid), so no p≈0.5 boundary exists. */
  def q238QualityRegression(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = graft.ops.ScratchCache.register(documents(s, d)
      .select(
        when($"lang" === "en", 1.0).otherwise(0.0).as("y"),
        (size(tokens($"text")).cast("double") * lit(0.01)).as("x1"),
        ($"n_chars".cast("double") * lit(0.001)).as("x2"))
      .persist())
    // per-round job: gradient + accuracy at the CURRENT weights; the
    // first call doubles as the cache fill (no separate count job)
    def roundJob(w: Array[Double]): (Long, Long, Array[Long]) = {
      val z = (lit(w(0)) + lit(w(1)) * $"x1") + lit(w(2)) * $"x2"
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val resid = $"y" - p
      def gq(t: Column) = sum(round(t * lit(1000000000.0)).cast("long"))
      val correct = ((z >= 0) && ($"y" === 1.0)) || ((z < 0) && ($"y" === 0.0))
      val r = feats.agg(count(lit(1)),
        coalesce(sum(when(correct, 1L).otherwise(0L)), lit(0L)),
        coalesce(gq(resid), lit(0L)),
        coalesce(gq($"x1" * resid), lit(0L)),
        coalesce(gq($"x2" * resid), lit(0L))).head()
      (r.getLong(0), r.getLong(1),
        Array(r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    val w = Array(0.0, 0.0, 0.0)
    val out = Seq.newBuilder[(Long, Long, Double, Double, Double)]
    var done = false
    for (r <- 1 to RegRounds if !done) {
      val (n, nCorrect, g) = roundJob(w)
      if (n == 0L) done = true
      else {
        for (j <- 0 to 2)
          w(j) = w(j) + RegLr * ((g(j).toDouble / 1000000000.0) / n)
        out += ((r.toLong, nCorrect, w(0), w(1), w(2)))
      }
    }
    out.result().toDF("round", "n_correct", "w0r", "w1r", "w2r")
      .select($"round", $"n_correct",
        roundp($"w0r", 6).as("w0"), roundp($"w1r", 6).as("w1"),
        roundp($"w2r", 6).as("w2"))
      .orderBy($"round")
  }

  /** Unrolled CTE chain replaying the training loop round-for-round:
    * identical expression SHAPES (same association order, same
    * quantization points), so every weight is the same double. */
  val q238Sql: String = {
    val ws = DuckSql.tokensSql
    def z(w: String) = s"(($w.w0 + ($w.w1 * x1)) + ($w.w2 * x2))"
    def body(r: Int): String = {
      val zz = z(s"w${r - 1}")
      val p = s"(1.0 / (1.0 + exp(-$zz)))"
      def gq(t: String) =
        s"sum(CAST(round(($t) * 1000000000.0) AS BIGINT))"
      s"""g$r AS (SELECT count(*)::BIGINT AS n,
         |    coalesce(sum(CASE WHEN (($zz >= 0) AND y = 1.0)
         |      OR (($zz < 0) AND y = 0.0) THEN 1 ELSE 0 END), 0)::BIGINT
         |      AS n_correct,
         |    coalesce(${gq(s"(y - $p)")}, 0) AS g0,
         |    coalesce(${gq(s"(x1 * (y - $p))")}, 0) AS g1,
         |    coalesce(${gq(s"(x2 * (y - $p))")}, 0) AS g2
         |  FROM f, w${r - 1}),
         |w$r AS (SELECT
         |    w.w0 + $RegLr * ((g.g0::DOUBLE / 1000000000.0) / g.n) AS w0,
         |    w.w1 + $RegLr * ((g.g1::DOUBLE / 1000000000.0) / g.n) AS w1,
         |    w.w2 + $RegLr * ((g.g2::DOUBLE / 1000000000.0) / g.n) AS w2
         |  FROM w${r - 1} w, g$r g)""".stripMargin
    }
    // the Scala loop emits zero rows on an empty corpus; without the n>0
    // gate the w$r CTEs divide 0/0 (NaN under IEEE) and each round would
    // still emit a NaN row — mirror the early return instead
    val rounds = (1 to RegRounds).map(r =>
      s"SELECT $r::BIGINT AS round, (SELECT n_correct FROM g$r) AS n_correct, " +
        s"${DuckSql.roundpSql(s"(SELECT w0 FROM w$r)", 6)} AS w0, " +
        s"${DuckSql.roundpSql(s"(SELECT w1 FROM w$r)", 6)} AS w1, " +
        s"${DuckSql.roundpSql(s"(SELECT w2 FROM w$r)", 6)} AS w2 " +
        "WHERE (SELECT n FROM g1) > 0")
      .mkString("\nUNION ALL ")
    s"""WITH f AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |    len($ws)::DOUBLE * 0.01 AS x1,
       |    n_chars::DOUBLE * 0.001 AS x2
       |  FROM documents),
       |w0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2),
       |${(1 to RegRounds).map(body).mkString(",\n")}
       |$rounds
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q241

  /** q241: closed-form OLS fit (NORMAL EQUATIONS) — the one-pass linear
    * probe: lexical diversity (distinct-token ratio) regressed on scaled
    * token count and char count. Complements q238's iterative GD with
    * the closed form every feature-importance / probe sweep actually
    * runs: ONE aggregation ships the 9 quantized cross-moments (exact
    * `round(term·1e8)::long` integers, so reduction order is
    * irrelevant), the driver solves the 3×3 system by Cramer's rule —
    * double expressions over exact integers, written term-for-term
    * identically in the SQL twin — and one more pass sums quantized
    * squared residuals for R². Two linear scans, 10 longs + 4 doubles
    * of state, at any corpus size. */
  def q241OlsProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Q = 100000000.0 // 1e8 moment quantization
    val feats = graft.ops.ScratchCache.register(documents(s, d)
      .select(tokens($"text").as("ws"), $"n_chars")
      .filter(size($"ws") >= 1)
      .select(
        (size($"ws").cast("double") * lit(0.01)).as("f1"),
        ($"n_chars".cast("double") * lit(0.001)).as("f2"),
        (size(array_distinct($"ws")).cast("double") / size($"ws")).as("t"))
      .persist())
    def mq(c: Column) = sum(round(c * lit(Q)).cast("long"))
    val m = feats.agg(count(lit(1)),
      mq($"f1"), mq($"f2"), mq($"t"),
      mq($"f1" * $"f1"), mq($"f1" * $"f2"), mq($"f2" * $"f2"),
      mq($"f1" * $"t"), mq($"f2" * $"t"), mq($"t" * $"t")).head()
    val n = m.getLong(0)
    if (n == 0L) {
      graft.ops.ScratchCache.releaseAll()
      return Seq.empty[(Long, Double, Double, Double, Double)]
        .toDF("n_docs", "b0", "b1", "b2", "r2")
    }
    def d8(i: Int) = m.getLong(i).toDouble / Q
    val (a11, a12, a13) = (n.toDouble, d8(1), d8(2))
    val (a22, a23, a33) = (d8(4), d8(5), d8(6))
    val (r1, r2m, r3) = (d8(3), d8(7), d8(8))
    val stt = d8(9)
    val det = a11 * (a22 * a33 - a23 * a23) -
      a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13)
    val b0 = (r1 * (a22 * a33 - a23 * a23) -
      a12 * (r2m * a33 - a23 * r3) + a13 * (r2m * a23 - a22 * r3)) / det
    val b1 = (a11 * (r2m * a33 - a23 * r3) -
      r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2m * a13)) / det
    val b2 = (a11 * (a22 * r3 - r2m * a23) -
      a12 * (a12 * r3 - r2m * a13) + r1 * (a12 * a23 - a22 * a13)) / det
    val sst = stt - (r1 * r1) / a11
    val resid = $"t" - ((lit(b0) + lit(b1) * $"f1") + lit(b2) * $"f2")
    val ssrq = feats
      .agg(coalesce(sum(round((resid * resid) * lit(Q)).cast("long")),
        lit(0L))).head().getLong(0)
    val r2out = 1.0 - ((ssrq.toDouble / Q) / sst)
    graft.ops.ScratchCache.releaseAll()
    Seq((n, b0, b1, b2, r2out))
      .toDF("n_docs", "b0r", "b1r", "b2r", "r2r")
      .select($"n_docs", roundp($"b0r", 6).as("b0"), roundp($"b1r", 6).as("b1"),
        roundp($"b2r", 6).as("b2"), roundp($"r2r", 6).as("r2"))
  }

  /** The same two passes + Cramer solve, expression shapes mirrored. */
  val q241Sql: String = {
    val ws = DuckSql.tokensSql
    def mq(t: String) = s"sum(CAST(round(($t) * 100000000.0) AS BIGINT))::BIGINT"
    s"""WITH f AS (SELECT len(ws)::DOUBLE * 0.01 AS f1,
       |    n_chars::DOUBLE * 0.001 AS f2,
       |    len(list_distinct(ws))::DOUBLE / len(ws) AS t
       |  FROM (SELECT $ws AS ws, n_chars FROM documents) WHERE len(ws) >= 1),
       |m AS (SELECT count(*)::BIGINT AS n,
       |    ${mq("f1")} AS s1, ${mq("f2")} AS s2, ${mq("t")} AS st,
       |    ${mq("f1 * f1")} AS s11, ${mq("f1 * f2")} AS s12,
       |    ${mq("f2 * f2")} AS s22, ${mq("f1 * t")} AS s1t,
       |    ${mq("f2 * t")} AS s2t, ${mq("t * t")} AS stt FROM f),
       |c AS (SELECT n,
       |    n::DOUBLE AS a11, s1::DOUBLE / 100000000.0 AS a12,
       |    s2::DOUBLE / 100000000.0 AS a13, s11::DOUBLE / 100000000.0 AS a22,
       |    s12::DOUBLE / 100000000.0 AS a23, s22::DOUBLE / 100000000.0 AS a33,
       |    st::DOUBLE / 100000000.0 AS r1, s1t::DOUBLE / 100000000.0 AS r2m,
       |    s2t::DOUBLE / 100000000.0 AS r3, stt::DOUBLE / 100000000.0 AS stt
       |  FROM m),
       |b AS (SELECT n, a11, r1, stt,
       |    (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13)) AS det,
       |    (r1 * (a22 * a33 - a23 * a23) - a12 * (r2m * a33 - a23 * r3)
       |      + a13 * (r2m * a23 - a22 * r3)) AS det0,
       |    (a11 * (r2m * a33 - a23 * r3) - r1 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * r3 - r2m * a13)) AS det1,
       |    (a11 * (a22 * r3 - r2m * a23) - a12 * (a12 * r3 - r2m * a13)
       |      + r1 * (a12 * a23 - a22 * a13)) AS det2
       |  FROM c),
       |w AS (SELECT n, det0 / det AS b0, det1 / det AS b1, det2 / det AS b2,
       |    stt - (r1 * r1) / a11 AS sst FROM b),
       |r AS (SELECT coalesce(sum(CAST(round(
       |      ((t - ((w.b0 + (w.b1 * f1)) + w.b2 * f2))
       |        * (t - ((w.b0 + (w.b1 * f1)) + w.b2 * f2))) * 100000000.0)
       |      AS BIGINT)), 0)::BIGINT AS ssrq FROM f, w)
       |SELECT w.n AS n_docs,
       |  ${DuckSql.roundpSql("w.b0", 6)} AS b0,
       |  ${DuckSql.roundpSql("w.b1", 6)} AS b1,
       |  ${DuckSql.roundpSql("w.b2", 6)} AS b2,
       |  ${DuckSql.roundpSql(
            "1.0 - ((r.ssrq::DOUBLE / 100000000.0) / w.sst)", 6)} AS r2
       |FROM w, r
       |WHERE w.n > 0""".stripMargin
  }

  // ---------------------------------------------------------------- q242

  private val CvFolds = 4

  /** q242: EXACT k-fold CROSS-VALIDATION of the q241 probe in TWO linear
    * passes — the moment-subtraction trick: because every normal-equation
    * entry is an exact integer sum, the training moments for fold φ are
    * simply (total − fold φ's own), so ONE per-fold aggregation yields
    * ALL k leave-one-fold-out models at once (no k re-scans, no
    * per-fold sub-corpora — the shape a 100 TB hyperparameter sweep
    * needs). The driver solves k Cramer systems (q241's expressions over
    * the subtracted integers), folds the coefficients back as literal
    * fold-keyed maps, and the second pass aggregates quantized
    * OUT-OF-FOLD squared residuals per fold. Deterministic folds
    * (doc_id mod k) so the oracle replays everything. Output per fold:
    * train/test sizes, coefficients, out-of-fold R². */
  def q242Crossval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Q = 100000000.0
    val feats = graft.ops.ScratchCache.register(documents(s, d)
      .select($"doc_id", tokens($"text").as("ws"), $"n_chars")
      .filter(size($"ws") >= 1)
      .select(($"doc_id" % CvFolds).as("fold"),
        (size($"ws").cast("double") * lit(0.01)).as("f1"),
        ($"n_chars".cast("double") * lit(0.001)).as("f2"),
        (size(array_distinct($"ws")).cast("double") / size($"ws")).as("t"))
      .persist())
    def mq(c: Column) = sum(round(c * lit(Q)).cast("long"))
    val m = feats.groupBy($"fold").agg(count(lit(1)),
      mq($"f1"), mq($"f2"), mq($"t"),
      mq($"f1" * $"f1"), mq($"f1" * $"f2"), mq($"f2" * $"f2"),
      mq($"f1" * $"t"), mq($"f2" * $"t"), mq($"t" * $"t")).collect()
      .map(r => r.getLong(0) -> Array.tabulate(10)(i => r.getLong(i + 1)))
      .toMap
    if (m.isEmpty) {
      graft.ops.ScratchCache.releaseAll()
      return Seq.empty[(Long, Long, Long, Double, Double, Double, Double)]
        .toDF("fold", "n_train", "n_test", "b0", "b1", "b2", "oof_r2")
    }
    val tot = Array.tabulate(10)(i => m.valuesIterator.map(_(i)).sum)
    // per-fold leave-out solve: q241's Cramer shapes over (tot − fold)
    case class Fit(nTrain: Long, nTest: Long, b0: Double, b1: Double,
                   b2: Double, sst: Double)
    val fits: Map[Long, Fit] = m.map { case (fold, fm) =>
      val tr = Array.tabulate(10)(i => tot(i) - fm(i))
      def d8(i: Int) = tr(i).toDouble / Q
      val (a11, a12, a13) = (tr(0).toDouble, d8(1), d8(2))
      val (a22, a23, a33) = (d8(4), d8(5), d8(6))
      val (r1, r2m, r3) = (d8(3), d8(7), d8(8))
      val det = a11 * (a22 * a33 - a23 * a23) -
        a12 * (a12 * a33 - a23 * a13) + a13 * (a12 * a23 - a22 * a13)
      val b0 = (r1 * (a22 * a33 - a23 * a23) -
        a12 * (r2m * a33 - a23 * r3) + a13 * (r2m * a23 - a22 * r3)) / det
      val b1 = (a11 * (r2m * a33 - a23 * r3) -
        r1 * (a12 * a33 - a23 * a13) + a13 * (a12 * r3 - r2m * a13)) / det
      val b2 = (a11 * (a22 * r3 - r2m * a23) -
        a12 * (a12 * r3 - r2m * a13) + r1 * (a12 * a23 - a22 * a13)) / det
      // held-out total SS from the FOLD's own exact moments
      val sst = fm(9).toDouble / Q -
        (fm(3).toDouble / Q) * (fm(3).toDouble / Q) / fm(0).toDouble
      fold -> Fit(tr(0), fm(0), b0, b1, b2, sst)
    }
    def coefMap(f: Fit => Double): Column =
      map(fits.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        Seq(lit(k), lit(f(v))) }: _*)
    val (b0c, b1c, b2c) = (element_at(coefMap(_.b0), $"fold"),
      element_at(coefMap(_.b1), $"fold"), element_at(coefMap(_.b2), $"fold"))
    val resid = $"t" - ((b0c + b1c * $"f1") + b2c * $"f2")
    // folds whose leave-out system is singular carry NaN coefficients
    // (the q241 contract); their residuals cannot quantize (ANSI rejects
    // the NaN→long cast), so the OOF pass runs over the FINITE folds
    // only and singular folds report a NaN oof_r2 from driver math
    val finiteFolds = fits.collect {
      case (k, f) if f.b0.isFinite && f.b1.isFinite && f.b2.isFinite => k
    }.toSeq
    val ssrq: Map[Long, Long] =
      if (finiteFolds.isEmpty) Map.empty
      else feats.filter($"fold".isInCollection(finiteFolds))
        .groupBy($"fold")
        .agg(coalesce(sum(round((resid * resid) * lit(Q)).cast("long")),
          lit(0L)).as("ssrq"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ops.ScratchCache.releaseAll()
    fits.toSeq.sortBy(_._1).map { case (fold, f) =>
      val r2 = ssrq.get(fold) match {
        case Some(q) => 1.0 - ((q.toDouble / Q) / f.sst)
        case None => Double.NaN
      }
      (fold, f.nTrain, f.nTest, f.b0, f.b1, f.b2, r2)
    }.toDF("fold", "n_train", "n_test", "b0r", "b1r", "b2r", "r2r")
      .select($"fold", $"n_train", $"n_test",
        roundp($"b0r", 6).as("b0"), roundp($"b1r", 6).as("b1"),
        roundp($"b2r", 6).as("b2"), roundp($"r2r", 6).as("oof_r2"))
      .orderBy($"fold")
  }

  /** SQL replay — per-fold sums, total sums, the SUBTRACTED training
    * moments, q241's Cramer expressions applied per fold ROW (no
    * unrolling needed), and the out-of-fold residual aggregation. */
  val q242Sql: String = {
    val ws = DuckSql.tokensSql
    def mq(t: String) = s"sum(CAST(round(($t) * 100000000.0) AS BIGINT))::BIGINT"
    s"""WITH f AS (SELECT doc_id % $CvFolds AS fold,
       |    len(ws)::DOUBLE * 0.01 AS f1, n_chars::DOUBLE * 0.001 AS f2,
       |    len(list_distinct(ws))::DOUBLE / len(ws) AS t
       |  FROM (SELECT doc_id, $ws AS ws, n_chars FROM documents)
       |  WHERE len(ws) >= 1),
       |m AS (SELECT fold, count(*)::BIGINT AS n,
       |    ${mq("f1")} AS s1, ${mq("f2")} AS s2, ${mq("t")} AS st,
       |    ${mq("f1 * f1")} AS s11, ${mq("f1 * f2")} AS s12,
       |    ${mq("f2 * f2")} AS s22, ${mq("f1 * t")} AS s1t,
       |    ${mq("f2 * t")} AS s2t, ${mq("t * t")} AS stt
       |  FROM f GROUP BY fold),
       |tot AS (SELECT sum(n)::BIGINT AS n, sum(s1)::BIGINT AS s1,
       |    sum(s2)::BIGINT AS s2, sum(st)::BIGINT AS st,
       |    sum(s11)::BIGINT AS s11, sum(s12)::BIGINT AS s12,
       |    sum(s22)::BIGINT AS s22, sum(s1t)::BIGINT AS s1t,
       |    sum(s2t)::BIGINT AS s2t, sum(stt)::BIGINT AS stt FROM m),
       |c AS (SELECT m.fold, (tot.n - m.n) AS n_train, m.n AS n_test,
       |    (tot.n - m.n)::DOUBLE AS a11,
       |    (tot.s1 - m.s1)::DOUBLE / 100000000.0 AS a12,
       |    (tot.s2 - m.s2)::DOUBLE / 100000000.0 AS a13,
       |    (tot.s11 - m.s11)::DOUBLE / 100000000.0 AS a22,
       |    (tot.s12 - m.s12)::DOUBLE / 100000000.0 AS a23,
       |    (tot.s22 - m.s22)::DOUBLE / 100000000.0 AS a33,
       |    (tot.st - m.st)::DOUBLE / 100000000.0 AS r1,
       |    (tot.s1t - m.s1t)::DOUBLE / 100000000.0 AS r2m,
       |    (tot.s2t - m.s2t)::DOUBLE / 100000000.0 AS r3,
       |    m.stt::DOUBLE / 100000000.0
       |      - (m.st::DOUBLE / 100000000.0) * (m.st::DOUBLE / 100000000.0)
       |        / m.n::DOUBLE AS sst
       |  FROM m, tot),
       |b AS (SELECT fold, n_train, n_test, sst,
       |    (r1 * (a22 * a33 - a23 * a23) - a12 * (r2m * a33 - a23 * r3)
       |      + a13 * (r2m * a23 - a22 * r3)) /
       |    (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13)) AS b0,
       |    (a11 * (r2m * a33 - a23 * r3) - r1 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * r3 - r2m * a13)) /
       |    (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13)) AS b1,
       |    (a11 * (a22 * r3 - r2m * a23) - a12 * (a12 * r3 - r2m * a13)
       |      + r1 * (a12 * a23 - a22 * a13)) /
       |    (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13)) AS b2
       |  FROM c),
       |r AS (SELECT f.fold, coalesce(sum(CAST(round(
       |      ((t - ((b.b0 + (b.b1 * f1)) + b.b2 * f2))
       |        * (t - ((b.b0 + (b.b1 * f1)) + b.b2 * f2)))
       |      * 100000000.0) AS BIGINT)), 0)::BIGINT AS ssrq
       |  FROM f JOIN b ON f.fold = b.fold GROUP BY f.fold)
       |SELECT b.fold, b.n_train, b.n_test,
       |  ${DuckSql.roundpSql("b.b0", 6)} AS b0,
       |  ${DuckSql.roundpSql("b.b1", 6)} AS b1,
       |  ${DuckSql.roundpSql("b.b2", 6)} AS b2,
       |  ${DuckSql.roundpSql(
            "1.0 - ((r.ssrq::DOUBLE / 100000000.0) / b.sst)", 6)} AS oof_r2
       |FROM b JOIN r ON b.fold = r.fold
       |ORDER BY b.fold""".stripMargin
  }

  // ---------------------------------------------------------------- q243

  private val BoostRounds = 3
  private val BoostLr = 0.5

  /** q243: distributed GRADIENT BOOSTING (L2Boost over decision stumps) —
    * the nonlinear member of the model-fitting family: K rounds of
    * least-squares stumps on integer-bucketed features (capped token
    * count; n_chars/16), each round ONE bounded aggregation over the
    * persisted frame: per (feature, bucket) residual count + nano-
    * quantized residual sum and Σr² (2×64 rows — bounded whatever the
    * corpus). The split search (every (feature, threshold) via prefix
    * sums), the gain argmax (deterministic lexicographic tie-break:
    * score, then smaller feature, then smaller threshold) and the leaf
    * values are driver math over the exact integers; the fitted stumps
    * fold back into the next round's residual as literals (no state
    * column, no join). Each round's AFTER-stump SSE derives from that
    * round's OWN buckets via the algebraic identity
    * Σ(r − lr·v)² = Σr² − 2·lr·v·Σr + n·lr²·v² applied per bucket of
    * the chosen feature (v is constant within a bucket side), with the
    * per-bucket double term re-quantized to nano-units before the
    * ≤64-term integer sum — order-free, and exactly K jobs for K rounds
    * (no trailing SSE scan). The SQL twin replays the whole loop: same
    * quantization points, same prefix sums, same struct-max argmax,
    * same per-bucket SSE derivation shape. */
  def q243BoostedStumps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Q9 = 1000000000.0
    val feats = graft.ops.ScratchCache.register(documents(s, d)
      .select(tokens($"text").as("ws"), $"n_chars")
      .filter(size($"ws") >= 1)
      .select(
        least(size($"ws"), lit(63)).as("b1"),
        expr("least(n_chars div 16, 63)").cast("int").as("b2"),
        (size(array_distinct($"ws")).cast("double") / size($"ws")).as("t"))
      .persist())
    case class Stump(j: Int, th: Int, vl: Double, vr: Double)
    val stumps = scala.collection.mutable.ArrayBuffer.empty[Stump]
    def fCol: Column = stumps.foldLeft(lit(0.0)) { (acc, st) =>
      val b = if (st.j == 1) $"b1" else $"b2"
      acc + lit(BoostLr) * when(b <= st.th, lit(st.vl)).otherwise(lit(st.vr))
    }
    def roundJob(): Array[(Int, Int, Long, Long, Long)] = {
      val r = ($"t" - fCol).as("r")
      feats
        .select($"b1", $"b2", r)
        .select(explode(array(
          struct(lit(1).as("j"), $"b1".as("b")),
          struct(lit(2).as("j"), $"b2".as("b")))).as("jb"), $"r")
        .groupBy($"jb.j".as("j"), $"jb.b".as("b"))
        .agg(count(lit(1)).as("n"),
          sum(round($"r" * lit(Q9)).cast("long")).as("sq"),
          sum(round(($"r" * $"r") * lit(Q9)).cast("long")).as("q2"))
        .collect()
        .map(x => (x.getInt(0), x.getInt(1), x.getLong(2), x.getLong(3),
          x.getLong(4)))
    }
    // Option: a corpus where every doc lands in one bucket on BOTH
    // features has no valid split — boosting stops (degenerate corner,
    // same class as q241's singular system)
    def pickStump(buckets: Array[(Int, Int, Long, Long, Long)]): Option[Stump] = {
      val byJ = buckets.groupBy(_._1)
      val cands = for {
        j <- Seq(1, 2)
        bs = byJ.getOrElse(j, Array.empty[(Int, Int, Long, Long, Long)])
        tn = bs.map(_._3).sum; ts = bs.map(_._4).sum
        th <- 0 until 63
        nl = bs.filter(_._2 <= th).map(_._3).sum
        sl = bs.filter(_._2 <= th).map(_._4).sum
        if nl > 0 && (tn - nl) > 0
      } yield {
        val score = ((sl.toDouble / Q9) * (sl.toDouble / Q9)) / nl.toDouble +
          (((ts - sl).toDouble / Q9) * ((ts - sl).toDouble / Q9)) /
            (tn - nl).toDouble
        (score, -j, -th, Stump(j, th,
          (sl.toDouble / Q9) / nl.toDouble,
          ((ts - sl).toDouble / Q9) / (tn - nl).toDouble))
      }
      if (cands.isEmpty) None
      else Some(cands.maxBy(x => (x._1, x._2, x._3))._4)
    }
    // after-stump SSE from the round's own buckets: within each bucket
    // of the chosen feature every row gets the same leaf value v, so
    // Σ(r − lr·v)² = Σr² − 2·lr·v·Σr + n·lr²·v² — a double expression
    // over the exact integers (q2, sq, n), re-quantized per bucket
    // before the ≤64-term integer sum so reduction order cannot matter
    def sseAfter(buckets: Array[(Int, Int, Long, Long, Long)],
                 st: Stump): Long =
      buckets.filter(_._1 == st.j).map { case (_, b, nb, sqb, q2b) =>
        val v = if (b <= st.th) st.vl else st.vr
        val term = (q2b.toDouble / Q9 -
          ((2.0 * BoostLr) * v) * (sqb.toDouble / Q9)) +
          nb.toDouble * ((BoostLr * BoostLr) * (v * v))
        BigDecimal(term * Q9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
    val perRound = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Int, Double, Double, Long)]
    var empty = false
    for (r <- 1 to BoostRounds if !empty) {
      val buckets = roundJob()
      if (buckets.isEmpty) empty = true
      else pickStump(buckets) match {
        case None => empty = true
        case Some(st) =>
          stumps += st
          perRound += ((r.toLong, st.j, st.th, st.vl, st.vr,
            sseAfter(buckets, st)))
      }
    }
    graft.ops.ScratchCache.releaseAll()
    perRound.toSeq
      .toDF("round", "feature", "threshold", "vlr", "vrr", "sse_q")
      .select($"round", $"feature", $"threshold",
        roundp($"vlr", 6).as("v_left"), roundp($"vrr", 6).as("v_right"),
        $"sse_q")
      .orderBy($"round")
  }

  /** Unrolled SQL replay of the boosting loop: per-round bucket sums at
    * the accumulated literal-stump model, prefix-sum split table,
    * struct-max argmax with the identical tie-break, and the j=1-row
    * Σr² as each round's SSE. */
  val q243Sql: String = {
    val ws = DuckSql.tokensSql
    // residual at F_{r-1}: t minus the lr-scaled sum of rounds 1..r-1
    def residual(r: Int): String = {
      val fSum = (1 until r).map { i =>
        s"$BoostLr * (CASE WHEN (CASE WHEN (SELECT j FROM best$i) = 1 " +
          s"THEN b1 ELSE b2 END) <= (SELECT th FROM best$i) " +
          s"THEN (SELECT vl FROM best$i) ELSE (SELECT vr FROM best$i) END)"
      }.foldLeft("0.0")((acc, s) => s"($acc + $s)")
      s"(t - $fSum)"
    }
    def g(r: Int): String = {
      val rr = residual(r)
      s"""g$r AS MATERIALIZED (SELECT j, b, count(*)::BIGINT AS n,
         |    sum(CAST(round(($rr) * 1000000000.0) AS BIGINT))::BIGINT AS sq,
         |    sum(CAST(round((($rr) * ($rr)) * 1000000000.0) AS BIGINT))
         |      ::BIGINT AS q2
         |  FROM u GROUP BY 1, 2)""".stripMargin
    }
    def best(r: Int): String =
      s"""sp$r AS MATERIALIZED (SELECT g.j, th.th,
         |    sum(CASE WHEN g.b <= th.th THEN g.n ELSE 0 END)::BIGINT AS nl,
         |    sum(CASE WHEN g.b <= th.th THEN g.sq ELSE 0 END)::BIGINT AS sl,
         |    sum(g.n)::BIGINT AS tn, sum(g.sq)::BIGINT AS ts
         |  FROM g$r g CROSS JOIN generate_series(0, 62) th(th)
         |  GROUP BY 1, 2),
         |best$r AS MATERIALIZED (SELECT (-((mm).nj))::INT AS j,
         |    (-((mm).nth))::INT AS th,
         |    (mm).vl AS vl, (mm).vr AS vr FROM (
         |  SELECT max(struct_pack(
         |      sc := ((sl::DOUBLE / 1000000000.0) * (sl::DOUBLE / 1000000000.0))
         |          / nl::DOUBLE
         |        + (((ts - sl)::DOUBLE / 1000000000.0)
         |            * ((ts - sl)::DOUBLE / 1000000000.0)) / (tn - nl)::DOUBLE,
         |      nj := -j, nth := -th,
         |      vl := (sl::DOUBLE / 1000000000.0) / nl::DOUBLE,
         |      vr := ((ts - sl)::DOUBLE / 1000000000.0) / (tn - nl)::DOUBLE))
         |    AS mm
         |  FROM sp$r WHERE nl > 0 AND (tn - nl) > 0))""".stripMargin
    // after-stump SSE from round r's OWN buckets, the Scala sseAfter
    // shape verbatim: per-bucket derived term re-quantized to nano-units
    // before the integer sum (order-free), over the chosen feature's rows
    def sse(r: Int): String =
      s"(SELECT sum(CAST(round(((q2::DOUBLE / 1000000000.0 " +
        s"- ((2.0 * $BoostLr) * v) * (sq::DOUBLE / 1000000000.0)) " +
        s"+ n::DOUBLE * (($BoostLr * $BoostLr) * (v * v))) " +
        s"* 1000000000.0) AS BIGINT))::BIGINT FROM " +
        s"(SELECT n, sq, q2, CASE WHEN b <= (SELECT th FROM best$r) " +
        s"THEN (SELECT vl FROM best$r) ELSE (SELECT vr FROM best$r) END AS v " +
        s"FROM g$r WHERE j = (SELECT j FROM best$r)))"
    val rounds = (1 to BoostRounds).map(r =>
      s"SELECT $r::BIGINT AS round, (SELECT j FROM best$r) AS feature, " +
        s"(SELECT th FROM best$r) AS threshold, " +
        s"${DuckSql.roundpSql(s"(SELECT vl FROM best$r)", 6)} AS v_left, " +
        s"${DuckSql.roundpSql(s"(SELECT vr FROM best$r)", 6)} AS v_right, " +
        s"${sse(r)} AS sse_q " +
        // empty corpus → sp$r is empty → best$r is max() over no rows:
        // one all-NULL row; gate it out to mirror the Scala early return
        s"FROM best$r WHERE j IS NOT NULL").mkString("\nUNION ALL ")
    s"""WITH f AS (SELECT least(len(ws), 63) AS b1,
       |    least(n_chars // 16, 63) AS b2,
       |    len(list_distinct(ws))::DOUBLE / len(ws) AS t
       |  FROM (SELECT $ws AS ws, n_chars FROM documents) WHERE len(ws) >= 1),
       |u AS MATERIALIZED (SELECT b1, b2, t, feats.j,
       |    CASE WHEN feats.j = 1 THEN b1 ELSE b2 END AS b
       |  FROM f CROSS JOIN (VALUES (1), (2)) feats(j)),
       |${(1 to BoostRounds).map(r => g(r) + ",\n" + best(r)).mkString(",\n")}
       |$rounds
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- q244

  private val EmRounds = 3

  /** q244: EM for a TWO-COMPONENT GAUSSIAN MIXTURE over the lexical-
    * diversity feature — the soft-clustering classic (the bimodality
    * test behind "is this corpus two populations?": boilerplate vs
    * prose, machine vs human text). Each EM round is ONE map-side-
    * combined aggregation shipping 7 values (n + per-component
    * quantized Σγ, Σγx, Σγx²); the M-step is driver math over the exact
    * integers. Responsibilities are per-row doubles from literal
    * parameters — the 1/√2π normalizer CANCELS in γ, so parity needs
    * only exp/sqrt shape-matching (the q238 sigmoid precedent); the
    * cross-row reductions quantize to nano-units first. Deterministic
    * literal init (μ=0.25/0.75, σ²=0.1, π=0.5); a 10⁻⁶ variance floor
    * (both engines, identical greatest/max shape) blocks collapse. */
  def q244GmmEm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Q9 = 1000000000.0
    val feats = graft.ops.ScratchCache.register(documents(s, d)
      .select(tokens($"text").as("ws"))
      .filter(size($"ws") >= 1)
      .select((size(array_distinct($"ws")).cast("double") / size($"ws"))
        .as("x"))
      .persist())
    var p = Array(0.5, 0.5)
    var mu = Array(0.25, 0.75)
    var s2 = Array(0.1, 0.1)
    val out = Seq.newBuilder[(Long, Int, Double, Double, Double)]
    var done = false
    for (r <- 1 to EmRounds if !done) {
      def w(k: Int): Column =
        lit(p(k)) * exp(-((($"x" - lit(mu(k))) * ($"x" - lit(mu(k)))) /
          (lit(2.0) * lit(s2(k))))) / sqrt(lit(s2(k)))
      val g1 = w(0) / (w(0) + w(1))
      def gq(t: Column) = coalesce(
        sum(round(t * lit(Q9)).cast("long")), lit(0L))
      val row = feats.agg(count(lit(1)),
        gq(g1), gq(g1 * $"x"), gq(g1 * ($"x" * $"x")),
        gq(lit(1.0) - g1), gq((lit(1.0) - g1) * $"x"),
        gq((lit(1.0) - g1) * ($"x" * $"x"))).head()
      val n = row.getLong(0)
      if (n == 0L) done = true
      else {
        for (k <- 0 to 1) {
          val (gk, gxk, gx2k) =
            (row.getLong(1 + k * 3), row.getLong(2 + k * 3),
              row.getLong(3 + k * 3))
          p(k) = (gk.toDouble / Q9) / n
          mu(k) = (gxk.toDouble / Q9) / (gk.toDouble / Q9)
          s2(k) = math.max(
            (gx2k.toDouble / Q9) / (gk.toDouble / Q9) - mu(k) * mu(k),
            0.000001)
          out += ((r.toLong, k + 1, p(k), mu(k), s2(k)))
        }
      }
    }
    graft.ops.ScratchCache.releaseAll()
    out.result().toDF("round", "component", "pr", "mur", "s2r")
      .select($"round", $"component",
        roundp($"pr", 6).as("pi"), roundp($"mur", 6).as("mu"),
        roundp($"s2r", 6).as("sigma2"))
      .orderBy($"round", $"component")
  }

  /** Unrolled round CTEs with the identical responsibility, quantization
    * and M-step shapes; greatest() mirrors the variance floor. */
  val q244Sql: String = {
    val ws = DuckSql.tokensSql
    def w(k: Int, r: Int) =
      s"((SELECT p$k FROM e${r - 1}) * exp(-(((x - (SELECT mu$k FROM e${r - 1}))" +
        s" * (x - (SELECT mu$k FROM e${r - 1}))) / (2.0 * " +
        s"(SELECT s$k FROM e${r - 1})))) / sqrt((SELECT s$k FROM e${r - 1})))"
    def round_(r: Int): String = {
      val g1 = s"(${w(1, r)} / (${w(1, r)} + ${w(2, r)}))"
      def gq(t: String) =
        s"coalesce(sum(CAST(round(($t) * 1000000000.0) AS BIGINT)), 0)::BIGINT"
      s"""m$r AS MATERIALIZED (SELECT count(*)::BIGINT AS n,
         |    ${gq(g1)} AS g1, ${gq(s"$g1 * x")} AS gx1,
         |    ${gq(s"$g1 * (x * x)")} AS gx21,
         |    ${gq(s"1.0 - $g1")} AS g2, ${gq(s"(1.0 - $g1) * x")} AS gx2,
         |    ${gq(s"(1.0 - $g1) * (x * x)")} AS gx22 FROM f),
         |e$r AS MATERIALIZED (SELECT
         |    (g1::DOUBLE / 1000000000.0) / n AS p1,
         |    (gx1::DOUBLE / 1000000000.0) / (g1::DOUBLE / 1000000000.0) AS mu1,
         |    greatest((gx21::DOUBLE / 1000000000.0)
         |        / (g1::DOUBLE / 1000000000.0)
         |      - ((gx1::DOUBLE / 1000000000.0) / (g1::DOUBLE / 1000000000.0))
         |        * ((gx1::DOUBLE / 1000000000.0) / (g1::DOUBLE / 1000000000.0)),
         |      0.000001) AS s1,
         |    (g2::DOUBLE / 1000000000.0) / n AS p2,
         |    (gx2::DOUBLE / 1000000000.0) / (g2::DOUBLE / 1000000000.0) AS mu2,
         |    greatest((gx22::DOUBLE / 1000000000.0)
         |        / (g2::DOUBLE / 1000000000.0)
         |      - ((gx2::DOUBLE / 1000000000.0) / (g2::DOUBLE / 1000000000.0))
         |        * ((gx2::DOUBLE / 1000000000.0) / (g2::DOUBLE / 1000000000.0)),
         |      0.000001) AS s2
         |  FROM m$r)""".stripMargin
    }
    // the Scala loop emits zero rows on an empty corpus; without the n>0
    // gate the e$r CTEs divide 0/0 (NaN) and each round would still emit
    // NaN rows — mirror the early return instead
    val rounds = (1 to EmRounds).flatMap(r => Seq(1, 2).map(k =>
      s"SELECT $r::BIGINT AS round, $k::INT AS component, " +
        s"${DuckSql.roundpSql(s"(SELECT p$k FROM e$r)", 6)} AS pi, " +
        s"${DuckSql.roundpSql(s"(SELECT mu$k FROM e$r)", 6)} AS mu, " +
        s"${DuckSql.roundpSql(s"(SELECT s$k FROM e$r)", 6)} AS sigma2 " +
        "WHERE (SELECT n FROM m1) > 0"))
      .mkString("\nUNION ALL ")
    s"""WITH f AS (SELECT len(list_distinct(ws))::DOUBLE / len(ws) AS x
       |  FROM (SELECT $ws AS ws FROM documents) WHERE len(ws) >= 1),
       |e0 AS (SELECT 0.5::DOUBLE AS p1, 0.25::DOUBLE AS mu1,
       |    0.1::DOUBLE AS s1, 0.5::DOUBLE AS p2, 0.75::DOUBLE AS mu2,
       |    0.1::DOUBLE AS s2),
       |${(1 to EmRounds).map(round_).mkString(",\n")}
       |$rounds
       |ORDER BY round, component""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q244_gmm_em" -> (q244GmmEm _),
    "q243_boosted_stumps" -> (q243BoostedStumps _),
    "q242_crossval" -> (q242Crossval _),
    "q241_ols_probe" -> (q241OlsProbe _),
    "q238_quality_regression" -> (q238QualityRegression _),
    "q236_bpe_train" -> (q236BpeTrain _),
    "q237_bpe_compression" -> (q237BpeCompression _),
    "q235_weighted_median" -> (q235WeightedMedian _),
    "q227_chi2_homogeneity" -> (q227Chi2Homogeneity _),
    "q228_vocab_chao1" -> (q228VocabChao1 _),
    "q223_vocab_drift" -> (q223VocabDrift _),
    "q220_auc_rank" -> (q220AucLatinEn _),
    "q217_spearman" -> (q217SpearmanLenDiversity _),
    "q214_context_sweep" -> (q214ContextSweep _),
    "q206_length_gini" -> (q206LengthGini _),
    "q204_gate_agreement" -> (q204GateAgreement _),
    "q205_calibration" -> (q205Calibration _),
    "q198_quantile_normalize" -> (q198QuantileNormalize _),
    "q181_script_mix"   -> (q181ScriptMix _),
    "q182_ngram_classifier" -> (q182NgramClassifier _),
    "q173_ccnet_buckets" -> (q173CcnetBuckets _),
    "q171_burstiness"   -> (q171Burstiness _),
    "q172_zipf_slope"   -> (q172ZipfSlope _),
    "q142_collocations" -> (q142Collocations _),
    "q22_lang_id"       -> (q22LangId _),
    "q23_quality"       -> (q23Quality _),
    "q24_token_count"   -> (q24TokenCount _),
    "q25_fingerprint"   -> (q25Fingerprint _),
    "q43_repetition"    -> (q43Repetition _),
    "q44_contamination" -> (q44Contamination _),
    "q54_quality_gate"  -> (q54QualityGate _),
    "q55_bloom_decontaminate" -> (q55BloomDecontaminate _),
    "q66_chunking"      -> (q66Chunk _),
    "q74_tfidf"         -> (q74Tfidf _),
    "q75_bm25"          -> (q75Bm25 _),
    "q111_perplexity"   -> (q111Perplexity _),
    "q154_lm_filter"    -> (q154LmFilter _),
    "q156_lexical_diversity" -> (q156LexicalDiversity _),
    "q160_vocab_sweep"  -> (q160VocabSweep _),
    "q161_padding_waste" -> (q161PaddingWaste _),
  )

  val oracles: Map[String, String] = Map(
    "q244_gmm_em" -> q244Sql,
    "q243_boosted_stumps" -> q243Sql,
    "q242_crossval" -> q242Sql,
    "q241_ols_probe" -> q241Sql,
    "q238_quality_regression" -> q238Sql,
    "q236_bpe_train" -> q236Sql,
    "q237_bpe_compression" -> q237Sql,
    "q235_weighted_median" -> q235Sql,
    "q227_chi2_homogeneity" -> q227Sql,
    "q228_vocab_chao1" -> q228Sql,
    "q223_vocab_drift" -> q223Sql,
    "q220_auc_rank" -> q220Sql,
    "q217_spearman" -> q217Sql,
    "q214_context_sweep" -> q214Sql,
    "q206_length_gini" -> q206Sql,
    "q204_gate_agreement" -> q204Sql,
    "q205_calibration" -> q205Sql,
    "q198_quantile_normalize" -> q198Sql,
    "q181_script_mix"   -> q181Sql,
    "q182_ngram_classifier" -> q182Sql,
    "q173_ccnet_buckets" -> q173Sql,
    "q171_burstiness"   -> q171Sql,
    "q172_zipf_slope"   -> q172Sql,
    "q142_collocations" -> q142Sql,
    "q22_lang_id"       -> q22Sql,
    "q23_quality"       -> q23Sql,
    "q24_token_count"   -> q24Sql,
    "q25_fingerprint"   -> q25Sql,
    "q43_repetition"    -> q43Sql,
    "q44_contamination" -> q44Sql,
    "q54_quality_gate"  -> q54Sql,
    "q55_bloom_decontaminate" -> q55Sql,
    "q66_chunking"      -> q66Sql,
    "q74_tfidf"         -> q74Sql,
    "q75_bm25"          -> q75Sql,
    "q111_perplexity"   -> q111Sql,
    "q154_lm_filter"    -> q154Sql,
    "q156_lexical_diversity" -> q156Sql,
    "q160_vocab_sweep"  -> q160Sql,
    "q161_padding_waste" -> q161Sql,
  )
}
