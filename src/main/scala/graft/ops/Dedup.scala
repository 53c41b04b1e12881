package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators over a document table (BASELINE north star:
  * LLM-data-pipeline dedup as first-class engine ops).
  *
  * Scale design (100 TB):
  *  - exact dedup = one hash-partitioned groupBy on the text hash;
  *  - near-dup never compares all pairs: MinHash-LSH / SimHash banding
  *    bound the join to same-bucket candidates, then exact verification
  *    runs only on candidates;
  *  - the shingle-inverted-index join (`jaccardPairs`) is the exhaustive
  *    fallback; `maxDf` drops ubiquitous shingles to cap bucket blowup
  *    (the standard frequency-cap trick for quadratic bucket growth).
  */
object Dedup {

  /** Exact dedup: canonical (min-id) representative per identical text.
    * At scale: group key is the 32-bit content hash, one shuffle. */
  def exactCanonical(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(col(text))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(polyHash(lower(col(text))).as("content_hash"),
        col("canonical_id"), col("n_copies"))

  /** Per-doc distinct shingle-string sets (the comparison universe for
    * Jaccard), docs with < k words dropped (no shingle exists). Fused
    * native expression — one JVM pass, not the staged tokenize/slice HOFs
    * (which the self-joined consumers would re-evaluate per join side). */
  def shingleSets(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    // NOT fanned out (cf. FanOut in substringPairs): measured at sf0.1,
    // inserting the redistribution exchange here REGRESSED every consumer
    // (q28 0.96→1.56 s, q52 1.6→2.9 s) — shingle pipelines reference this
    // frame from several join/agg consumers, so the extra exchange runs
    // once per consumer while the kernel-in-one-task cost it removes is
    // only ~0.2 s
    df.select(col(id).as("doc_id"),
        graft.functions.ShingleExpressions.wordShingles(col(text), k).as("shingles"))
      .filter(col("shingles").isNotNull)

  /** Exhaustive n-gram Jaccard pairs via a shingle inverted index:
    * explode → equi-join on shingle → count = |A∩B|, |A∪B| from set sizes.
    * Exactly two shuffles: the shingle-key self-join and the pair-key
    * aggregation.
    *
    * Plan notes (this is the engine's hottest dedup path):
    *  - per-doc capped set sizes are computed PRE-explode (`size(shingles)`
    *    is free on the array) and ride along each posting, so |A| and |B|
    *    fall out of the pair aggregation itself — no separate sizes
    *    aggregation and no post-agg joins back to the pair table;
    *  - the (id_a, id_b) pair is packed into one 64-bit key
    *    (`id_a << 32 | id_b`, PackedPair) for the count aggregation — half
    *    the grouping-key bytes and one hash per row instead of two.
    *    Requires ids in [0, 2³²). PackedPair checks it at runtime on the
    *    ids it packs: the representative ids entering the self-join and
    *    so every candidate pair's ids. A negative id is always its
    *    duplicate group's min, so it is packed (and raises) once its doc
    *    forms a candidate; member ids expanded back from a group are never
    *    packed. The range also bounds the pair space itself (an
    *    exhaustive-pairs output over more ids than that is not a plan
    *    anyone should run — use the LSH paths).
    *
    * `maxDf` is the scale guard: a shingle appearing in d docs contributes
    * d²/2 rows to the self-join, so one hot shingle ("in the the") makes
    * the plan quadratic. Over-cap shingles are dropped from the comparison
    * universe — index AND set sizes, so Jaccard stays internally
    * consistent. The hot list stays a DATAFRAME at any size (an anti-join
    * drops its postings; the planner broadcasts it when small): a
    * driver-collected literal would bound the operator by hot-list size,
    * which at corpus scale is totalPostings/cap — not driver-material.
    * When no shingle exceeds the cap (one cheap aggregation to check, the
    * common case for sane caps), set sizes stay the free pre-explode
    * `size(shingles)`; only an ENGAGED cap pays the post-filter size
    * re-aggregation. */
  def jaccardPairs(df: DataFrame, id: String, text: String, k: Int,
                   threshold: Double, maxDf: Option[Int] = None): DataFrame =
    shinglePairScores(df, id, text, k, maxDf, threshold, "jac",
      col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))

  /** Overlap-coefficient (Jaccard-containment) near-dup pairs:
    * score = |A∩B| / min(|A|,|B|) — the asymmetric-size criterion that
    * catches a document EMBEDDED in a larger one (quote-plus-commentary,
    * boilerplate-wrapped reposts), which plain Jaccard misses because the
    * union is dominated by the larger side. Same inverted-index plan and
    * `maxDf` scale guard as [[jaccardPairs]]; only the scoring differs. */
  def containmentPairs(df: DataFrame, id: String, text: String, k: Int,
                       threshold: Double, maxDf: Option[Int] = None): DataFrame =
    shinglePairScores(df, id, text, k, maxDf, threshold, "containment",
      col("inter") * lit(1.0) / least(col("na"), col("nb")))

  /** Shared pair-intersection engine for the exhaustive shingle scorers:
    * builds the size-carrying inverted index (df-capped), self-joins it,
    * aggregates each pair's (|A∩B|, |A|, |B|) and keeps (id_a, id_b,
    * `name` = round(`score`, 6)) where `score` ≥ `threshold`. Plan/persist
    * notes below apply to every consumer.
    *
    * EXACT-DUPLICATE COLLAPSE ([[DupGroups]]): byte-identical texts have
    * identical shingle sets, so a g-way duplicate group would cost the
    * postings self-join g² candidate rows PER SHARED SHINGLE; instead the
    * index is built over one representative per distinct text. Both
    * scores are symmetric in |A| and |B|, so they are computed at REP level
    * and the expansion carries the score; intra-group pairs of a group
    * whose post-cap shingle set is non-empty score exactly 1.0. The SQL
    * oracles (which replay brute pairs over ALL docs) pin its exactness. */
  private def shinglePairScores(df: DataFrame, id: String, text: String,
                                k: Int, maxDf: Option[Int], threshold: Double,
                                name: String, score: Column): DataFrame = {
    val g = DupGroups.collapse(df, id, col(text))
    // _m rides along so the hot-shingle check can weight by group size
    // (df is defined over DOCS, not distinct texts — a shingle made
    // ubiquitous by duplicated texts must still trip the cap exactly as
    // it does in the uncollapsed form and the SQL oracles)
    val sets0 = g.reps.select(col("_gid").as("doc_id"), col("_m"),
        graft.functions.ShingleExpressions.wordShingles(col("_t"), k).as("shingles"))
      .filter(col("shingles").isNotNull)
    def preSizedInv(sets: DataFrame): DataFrame = sets
      .withColumn("n", size(col("shingles")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"), explode(col("shingles")).as("s"))
    // upstream persists feeding only the postings build — dead (and
    // eagerly unpersisted) once `inv` below is materialized
    val upstream = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // CACHE PARTITIONED ON THE JOIN KEY: the postings self-join below is
    // the plan's heavy shuffle, and an unpartitioned cache makes the join
    // exchange BOTH sides (the same bytes, twice). Repartitioning on `s`
    // before the cache fill moves the postings through one exchange once;
    // the self-join then reuses the cached partitioning on both sides —
    // plan-verified 2 Exchange → 0 at the join (guide §2.4 shape).
    val inv = ScratchCache.register((maxDf match {
      case Some(cap) =>
        upstream += sets0.cache() // hot-check job + index build share the shingle pass
        val inv0 = sets0.select(col("doc_id"), explode(col("shingles")).as("s"))
        val hot = sets0.select(col("_m"), explode(col("shingles")).as("s"))
          .groupBy("s").agg(sum(col("_m")).as("_df"))
          .filter(col("_df") > cap).select("s")
        if (hot.isEmpty) preSizedInv(sets0) // cap is a no-op: sizes stay free
        else {
          // consumed by the sizes aggregation AND the join back: one
          // materialization instead of two anti-join recomputes
          val inv1 = inv0.join(hot, Seq("s"), "left_anti").persist()
          upstream += inv1
          val sizes = inv1.groupBy("doc_id").agg(count(lit(1)).as("n"))
          inv1.join(sizes, "doc_id").select(col("doc_id"), col("n"), col("s"))
        }
      case None => preSizedInv(sets0)
    }).transform(FanOut.byKey(_, col("s"))).cache()) // self-joined: materialize the postings once, pre-partitioned
    // fill the postings cache now (the self-join's first side would anyway)
    // so the upstream frames can be released before the heavy join runs
    inv.count()
    upstream.foreach(_.unpersist())
    // SHUFFLE_HASH: the equi-key is a string — a sort-merge join would sort
    // every posting twice just to stream them; hashing one (per-partition
    // bounded) side is strictly cheaper and AQE still handles skew splits
    val repPairs = inv.as("a").join(inv.as("b").hint("SHUFFLE_HASH"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(
        PackedPair.pack(col("a.doc_id"), col("b.doc_id")).as("pair"),
        col("a.n").as("na0"), col("b.n").as("nb0"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("inter"),
        first(col("na0")).as("na"), first(col("nb0")).as("nb"))
      .filter(score >= threshold)
      .select(PackedPair.idA(col("pair")).as("id_a"),
        PackedPair.idB(col("pair")).as("id_b"), roundp(score, 6).as(name))
    // a group absent from the index (all shingles hot, or text too short)
    // emits nothing, exactly like the brute join
    DupGroups.expand(g, repPairs,
      textIntra(g, inv.select(col("doc_id").as("_gid")), name, threshold))
  }

  /** Intra-group pairs of a text score: byte-identical texts score exactly
    * 1.0, so every ≥2-member group whose rep reached the scorer (`scored`:
    * its `_gid`s) pairs at 1.0 — when 1.0 passes `threshold`. */
  private def textIntra(g: DupGroups.Groups, scored: DataFrame, name: String,
                        threshold: Double): DataFrame =
    g.reps.filter(col("_m") >= 2L).join(scored, Seq("_gid"), "left_semi")
      .select(col("_gid"), lit(1.0).as(name))
      .filter(lit(threshold <= 1.0))

  /** MinHash-LSH candidate pairs: n-hash signature, banded r rows/band,
    * docs sharing any band bucket become candidates. With r=2, b=32 the
    * miss probability at J≥0.8 is (1−0.8²)³² ≈ 6·10⁻¹⁵ — recall is
    * effectively 1 at the verification threshold. */
  def minhashCandidates(df: DataFrame, id: String, text: String, k: Int,
                        nHashes: Int, rowsPerBand: Int): DataFrame =
    minhashCandidatesFromSets(
      shingleSets(df, id, text, k), nHashes, rowsPerBand)

  /** Signature frame from a shingle-set frame (one fused ArrayPolyHash
    * pass over the set elements; MinHash's min-fold is order- and
    * multiplicity-insensitive, so the signature equals the
    * wordShingleHashes form exactly). */
  private[ops] def signatures(sets: DataFrame, nHashes: Int): DataFrame =
    sets.select(col("doc_id"), minhashSignature(
        graft.functions.ShingleExpressions.arrayPolyHash(col("shingles")),
        nHashes).as("sig"))
      .filter(size(col("sig")) > 0)

  /** Banded keys from a signature frame. Band bucket = ONE long: xxhash64
    * over (band index, the band's rows) — same (band, rows) always hashes
    * equal, so recall is untouched; a 64-bit collision can only ADD a
    * candidate, and every candidate is exact-verified downstream. */
  private[ops] def bandKeys(sig: DataFrame, nHashes: Int, rowsPerBand: Int): DataFrame = {
    val nBands = nHashes / rowsPerBand
    sig.select(col("doc_id"),
      explode(array((0 until nBands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as("key"))
  }

  /** Exact verification: candidate id pairs rejoin their shingle sets and
    * keep true Jaccard ≥ threshold — shared by the full form and the
    * band-index probe so the verification semantics cannot drift. */
  private[ops] def verifyJaccard(cands: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame = {
    // SHUFFLE_HASH measured, kept (r16 A/B at sf1, 32 cores, min-of-two
    // bench pairs): unhinted the pre-AQE plan degrades to SortMergeJoin
    // over the sets frames and every consumer pays the sort — q28 3.9 →
    // 10.8 s, q115 6.0 → 14.4 s, q128 7.1 → 19.0 s, q52 8.0 → 15.5 s;
    // AQE does NOT rescue it (the cached sets side plans under a persist,
    // where adaptive join re-planning is unavailable to the consumers).
    val withSets = cands
      .join(sets.select(col("doc_id").as("id_a"), col("shingles").as("sa"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("shingles").as("sb"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jac = inter * lit(1.0) / (size(col("sa")) + size(col("sb")) - inter)
    withSets.filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), roundp(jac, 6).as("jac"))
  }

  /** Hot-band guard of [[bandCandidates]] (guide §2.5 skew): the largest
    * band bucket joined in one plain task. The self-joined band caches are
    * pinned HashPartitioning(key) so the self-joins plan with ZERO
    * exchanges — which also removes the exchanges AQE's skew split would
    * need: one viral band bucket (near-identical boilerplate cluster) of g
    * rows lands g²/2 candidate generation in a SINGLE task with no rescue.
    * Buckets above this cap run through a salted join instead (the
    * maxDf-discipline analogue for buckets that cannot be DROPPED: a df-cap
    * may shrink the comparison universe, but dropping an LSH candidate
    * would break the pairs-above-threshold contract, so the guard reshapes
    * the layout and keeps the row multiset identical). 8192² /2 ≈ 33M
    * candidate rows is a seconds-scale task, far above any bench-SF bucket
    * (≤ |docs| = 5000 at sf0.1), so the cold path — the exact pre-guard
    * plan — is what every bench and oracle run executes. */
  val DefaultHotBandCap = 8192L

  private val hotBandCap = new scala.util.DynamicVariable(DefaultHotBandCap)

  /** Test seam: run `body` with the hot-band cap replaced, so a spec can
    * force the salted regime on fixtures small enough to assert on.
    * Production callers never set it. */
  private[graft] def withHotBandCap[T](cap: Long)(body: => T): T =
    hotBandCap.withValue(cap)(body)

  /** Probe side of [[bandCandidates]]. */
  private[ops] sealed trait Probe
  private[ops] object Probe {
    /** Every pair of band rows sharing a bucket, once (a.doc_id < b.doc_id):
      * the corpus self-join. */
    case object All extends Probe
    /** Pairs with at least one side in `batch` — band rows of the same
      * schema, also present in the joined frame (corpus ∪ batch): b runs
      * over the batch, a over everything, a.doc_id ≠ b.doc_id. For a
      * batch of B docs against a corpus of N, candidate work is O(B·N·p)
      * band collisions instead of the self-join's O(N²·p). */
    final case class New(batch: DataFrame) extends Probe
  }

  /** THE banded candidate join: rows of `bands` and of the probe side
    * sharing `keys`, `sel` projecting from the joined (a, b) aliases; its
    * second argument is the pair packed canonically (smaller id first),
    * so batch-batch pairs met from both sides pack equal and a distinct
    * dedupes them. One action picks the regime: the per-key count of
    * `bands` (for [[Probe.New]], semi-joined to the batch's keys) and its
    * max bucket.
    *  - every bucket ≤ the cap: EXACTLY the plain join — same plan, no
    *    further job. For [[Probe.All]] `bands` must already be persisted
    *    and hash-partitioned on `keys` (FanOut.byKey): the count IS the
    *    cache fill (the aggregation reuses the cached partitioning, so no
    *    new exchange), one action like the plain `.count()` fill it
    *    replaces, and the filled cache reports HashPartitioning(keys, N),
    *    which the self-join reuses on both sides (an unfilled one plans as
    *    UnknownPartitioning and re-inserts both exchanges);
    *  - else: over-cap keys split out (broadcast semi/anti — the cold
    *    sliver runs the plain join); hot rows join salted — side a carries
    *    salt = xxhash64(doc_id) mod s, side b replicates s×, both
    *    explicitly repartitioned on (keys, salt) so a hot bucket spreads
    *    over s tasks, each building its hash table from side a's ~g/s ≈
    *    cap rows. Each qualifying pair meets exactly once (on a's salt), so
    *    the output multiset is identical to the plain join — DedupSpec
    *    pins this and the build side. */
  private[ops] def bandCandidates(bands: DataFrame, keys: Seq[String], probe: Probe)
                                 (sel: (DataFrame, Column) => DataFrame): DataFrame = {
    val hotCap = hotBandCap.value
    val (ia, ib) = (col("a.doc_id"), col("b.doc_id"))
    val (side, keep, pair) = probe match {
      case Probe.All => (bands, ia < ib, PackedPair.pack(ia, ib))
      case Probe.New(batch) =>
        (batch, ia =!= ib, PackedPair.pack(least(ia, ib), greatest(ia, ib)))
    }
    val eq = (keys.map(k => col(s"a.$k") === col(s"b.$k")) :+ keep).reduce(_ && _)
    val counts = (probe match {
      case Probe.All => bands
      case Probe.New(batch) =>
        bands.join(batch.select(keys.map(col): _*), keys, "left_semi")
    }).groupBy(keys.map(col): _*).count()
    val maxRow = counts.agg(max(col("count"))).head() // one action
    val maxBucket = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxBucket <= hotCap)
      return sel(bands.as("a").join(side.as("b").hint("SHUFFLE_HASH"), eq), pair)
    val hotKeys = broadcast(
      counts.filter(col("count") > hotCap).select(keys.map(col): _*))
    def cold(df: DataFrame) = df.join(hotKeys, keys, "left_anti")
    // linear salt count: bounds the per-task BUILD side at ~hotCap rows;
    // per-task probe work is g·hotCap — a bucket so hot that even that
    // staggers is emitting O(g²) candidates and is mis-parameterized
    // upstream (raise rowsPerBand / tighten the collapse), not a layout
    // problem this guard can absorb
    val salts = math.min(64L, (maxBucket + hotCap - 1L) / hotCap).toInt
    def salted(df: DataFrame, salt: Column) = FanOut.byKey(
      df.join(hotKeys, keys, "left_semi").withColumn("_salt", salt),
      (keys :+ "_salt").map(col): _*)
    val aS = salted(bands, pmod(xxhash64(col("doc_id")), lit(salts.toLong)))
    val bS = salted(side, explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    sel(cold(bands).as("a").join(cold(side).as("b").hint("SHUFFLE_HASH"), eq), pair)
      .unionByName(sel(aS.as("a").hint("SHUFFLE_HASH").join(bS.as("b"),
        eq && col("a._salt") === col("b._salt")), pair))
  }

  /** MinHash candidate id pairs over a (doc_id, key) band frame: one row
    * per canonical (id_a < id_b) pair, whatever the probe side. */
  private[ops] def minhashCandidatePairs(bands: DataFrame, probe: Probe): DataFrame =
    bandCandidates(bands, Seq("key"), probe)((j, pair) => j.select(pair.as("pair")))
      .distinct() // one long per pair for the dedupe shuffle
      .select(PackedPair.idA(col("pair")).as("id_a"),
        PackedPair.idB(col("pair")).as("id_b"))

  /** Candidates from an ALREADY-SHINGLED (doc_id, shingles) table — lets a
    * caller that also needs the string sets (exact verification) pay the
    * tokenize+shingle pass once. */
  private def minhashCandidatesFromSets(sets: DataFrame, nHashes: Int,
                                        rowsPerBand: Int): DataFrame = {
    // the BAND frame is what the self-join reads — cache it directly,
    // PARTITIONED ON THE JOIN KEY, instead of caching the signature frame
    // and recomputing the band explode per join side: one cache instead
    // of two, and the self-join reuses the cached hash partitioning on
    // both sides (plan-verified 2 Exchange → 0 at the join; the single
    // fill exchange moves (doc_id, key) longs once). Lives until the
    // caller materializes the result (ScratchCache.releaseAll between
    // session jobs). The candidate join runs the eager fill, which also
    // materializes the upstream sets cache, whose own doc_id partitioning
    // the verify joins reuse the same way.
    val bands = ScratchCache.register(
      bandKeys(signatures(sets, nHashes), nHashes, rowsPerBand)
        .transform(FanOut.byKey(_, col("key"))).persist())
    minhashCandidatePairs(bands, Probe.All)
  }

  /** MinHash FIDELITY audit: for every near-dup pair at `threshold` (LSH
    * candidates, exact-verified — identical pair set to
    * [[minhashDedupPairs]]), the SIGNATURE-estimated Jaccard (matching
    * components / nHashes) next to the exact one. This is the estimator a
    * 100 TB deployment would trust INSTEAD of exact verification (exact
    * set intersection needs the shingle sets shipped to the pair; the
    * estimate needs only the fixed-width signature), so the per-pair
    * error table is the evidence for making that trade. Estimates are
    * exact rationals k/64 (dyadic — bit-identical across engines); the
    * error column subtracts the ROUNDED exact Jaccard so both engines
    * round identically. */
  def minhashFidelity(df: DataFrame, id: String, text: String, k: Int,
                      threshold: Double, nHashes: Int = 64,
                      rowsPerBand: Int = 2): DataFrame = {
    val sets = ScratchCache.register(
      FanOut.byKey(shingleSets(df, id, text, k), col("doc_id")).persist())
    val verified = verifyJaccard(
      minhashCandidatesFromSets(sets, nHashes, rowsPerBand), sets, threshold)
    val sig = signatures(sets, nHashes)
    val matches = aggregate(
      zip_with(col("siga"), col("sigb"),
        (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    verified
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("siga"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sigb"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jac"),
        roundp(matches / lit(nHashes.toDouble), 6).as("est_jac"),
        roundp(abs(matches / lit(nHashes.toDouble) - col("jac")), 6)
          .as("abs_err"))
  }

  /** LSH BANDING-EFFICIENCY curve: for nested band budgets (first 8, 16,
    * all 32 bands), the candidate-pair count and how many candidates are
    * true near-dups at `threshold` — the (cost, recall) tuning table for
    * picking a banding scheme. ONE banded self-join computes the MINIMUM
    * colliding band per pair; per-budget numbers are conditional sums
    * over that frame (prefix property: the candidate set of b bands is
    * exactly {min_band < b}), so the curve costs one LSH pass, not one
    * per budget. A 64-bit band-key collision could add a spurious
    * candidate (probability ≈ 2⁻⁶⁴ per band pair — the same accepted
    * class as every banded path here); true-pair flags use the exact
    * verified Jaccard. */
  def bandingEfficiency(df: DataFrame, id: String, text: String, k: Int,
                        threshold: Double, nHashes: Int = 64,
                        rowsPerBand: Int = 2,
                        bandCounts: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val sets = ScratchCache.register(
      FanOut.byKey(shingleSets(df, id, text, k), col("doc_id")).persist())
    val nBands = nHashes / rowsPerBand
    // band frame cached pre-partitioned on the join key (not the signature
    // frame + per-side re-explode): self-join reuses the partitioning on
    // both sides — same shape as minhashCandidatesFromSets
    val bands = ScratchCache.register(signatures(sets, nHashes)
      .select(col("doc_id"),
        posexplode(array((0 until nBands).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
          .as(Seq("b", "key")))
      .transform(FanOut.byKey(_, col("key"))).persist())
    // the candidate join runs the fill (expose HashPartitioning; hot-band
    // salting at scale — see bandCandidates)
    val cand = bandCandidates(bands, Seq("key"), Probe.All)((j, _) =>
      j.select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.b").as("ab")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("ab")).as("min_band"))
    val withJac = ScratchCache.register(
      verifyJaccard(cand.select(col("id_a"), col("id_b")), sets, 0.0)
        .join(cand, Seq("id_a", "id_b"))
        .persist())
    bandCounts.map { bb =>
      withJac.agg(
        sum(when(col("min_band") < bb, 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("min_band") < bb && col("jac") >= threshold, 1L)
          .otherwise(0L)).as("n_true"))
        .select(lit(bb.toLong).as("bands_used"),
          col("n_candidates"), col("n_true"),
          roundp(col("n_true") * lit(1.0) / col("n_candidates"), 6)
            .as("precision"))
    }.reduce(_ unionByName _)
  }

  /** MinHash-LSH dedup: candidates exact-verified against true Jaccard on
    * the shingle sets — output identical to brute force at the threshold,
    * cost bounded by the candidate count.
    *
    * `assumeDistinct`: callers whose input is PROVABLY duplicate-free
    * (e.g. the stage right after an exact-dedup pass) skip the collapse
    * gate — its hash job buys nothing there. PackedPair checks the
    * representative ids (every candidate pair's ids); expanded member ids
    * are never packed. */
  def minhashDedupPairs(df: DataFrame, id: String, text: String, k: Int,
                        threshold: Double, nHashes: Int = 64,
                        rowsPerBand: Int = 2,
                        assumeDistinct: Boolean = false): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (see shinglePairScores): identical texts
    // have identical signatures, so a g-way group floods every band
    // bucket with g copies; signatures/bands/verification run over one
    // representative per distinct text and members expand back
    // output-bound. Intra-group pairs exist in the uncollapsed join iff
    // the group's shingle set is non-empty (the signature filter) and
    // verify at exactly jac = 1.0.
    val g =
      if (assumeDistinct) DupGroups.distinct(df, id, col(text))
      else DupGroups.collapse(df, id, col(text))
    // ONE tokenize+shingle pass serves candidates AND exact verification
    val sets = ScratchCache.register(shingleSets(
      g.reps.select(col("_gid").as("doc_id"), col("_t").as("_text")),
      "doc_id", "_text", k).transform(FanOut.byKey(_, col("doc_id"))).persist())
    val repPairs = verifyJaccard(
      minhashCandidatesFromSets(sets, nHashes, rowsPerBand), sets, threshold)
    DupGroups.expand(g, repPairs, textIntra(g,
      sets.filter(size(col("shingles")) > 0).select(col("doc_id").as("_gid")),
      "jac", threshold))
  }

  /** Per-doc distinct shingle hashes — fused native expression (tokenize →
    * shingle → PolyHash32 → distinct in one JVM pass; hash values identical
    * to the staged `array_distinct(transform(shingles(tokens(..))))`). */
  private def stagedHashes(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    df.select(col(id).as("doc_id"),
      graft.functions.ShingleExpressions.wordShingleHashes(col(text), k).as("hs"))

  def simhashFingerprints(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    stagedHashes(df, id, text, k)
      .select(col("doc_id"), simhash48(col("hs")).as("simhash"))

  /** Connected components over an undirected pair table — the step that
    * turns near-dup PAIRS into dedup GROUPS (one canonical survivor per
    * component), which every pair generator above feeds at pipeline scale.
    * Returns (id, component_id) for every id appearing in a pair, where
    * component_id = min id reachable.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own and its neighbors' labels; one
    * neighbor-label equi-join + one min-aggregation shuffle per round,
    * fully distributed (no driver-side union-find). Converges in
    * O(component diameter) rounds; near-dup components are
    * short-diameter in practice, and `maxIter` bounds adversarial
    * chains.
    *
    * Latency shape: one job cuts the edge list off the pair plan, then
    * exactly ONE job per round — the round's aggregation carries an
    * `observe` metric counting labels that DECREASED this round (exact,
    * overflow-free, unlike a label-sum compare) and the label count, so
    * materializing the new generation and detecting the fixpoint are the
    * same job. Round 1 is folded into initialization:
    * the seed label is already min(id, neighbors) from a single
    * aggregation over the edge list, so a diameter-d component needs
    * d-1 loop rounds, and pair tables with no chains (the common
    * near-dup case: every component a clique around one survivor)
    * converge with a single loop pass. */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponentsWithBounds(pairs, a, b, maxIter, -1L)

  /** Test seam: `labelBroadcastMax` overrides the session's
    * autoBroadcastJoinThreshold as the labels-fit-a-broadcast bound (-1 =
    * use the session conf), so a unit test can force the scale regime
    * (dst-partitioned edge cache + pointer jump) on a fixture small enough
    * to assert on. Production callers go through [[connectedComponents]]. */
  private[graft] def connectedComponentsWithBounds(
      pairs: DataFrame, a: String, b: String,
      maxIter: Int, labelBroadcastMax: Long): DataFrame = {
    // both edge directions from ONE pass over the pair plan (a union of
    // two selects would evaluate the upstream pair generator twice), CUT
    // (ScratchCache.cut: materialized now, registered for release): every
    // later plan — the seed, each round, the query's final consumer —
    // starts at the edge rows instead of embedding the whole pair plan
    // (DupGroups, band and verify caches), which Spark would otherwise
    // re-plan and re-print at every stage update of every round (q51's
    // digest: 15835 plan lines as a persisted frame). Unpartitioned: in
    // the common regime (labels fit a broadcast — every bench SF, and any
    // corpus whose near-dup graph converges at the seed) the per-round
    // neighbor join broadcasts labels and never shuffles the edges, so a
    // dst repartition here would be a pure extra exchange (measured r15:
    // q133 5.9→9.7 s, q128 6.7→10.0 s from exactly that). The scale
    // regime re-cuts them on dst below, gated on the OBSERVED label count
    // — never speculatively.
    val edges0 = ScratchCache.cut(
      pairs.select(explode(array(
          struct(col(a).cast("long").as("src"), col(b).cast("long").as("dst")),
          struct(col(b).cast("long").as("src"), col(a).cast("long").as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    var edges = edges0
    // seed = round 1: label(id) = min(id, all neighbors) in one shuffle
    // (edges carry both directions, so min(least(src,dst)) grouped by src
    // IS the first propagation step). Not materialized on its own: round
    // 0 reads it on both sides, and both reuse the one edge exchange.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("label"))
    var it = 0
    var nLabels = -1L
    var converged = false
    while (!converged && it < maxIter) {
      // SCALE GATE, decided by round 0's own materialization (zero extra
      // jobs): round 0 IS the r14 plan — star/clique components (the
      // near-dup common case) converge there and never reach this block.
      // A round-0 non-convergence means real chains; from round 1 on,
      // (a) when the label table (nLabels rows of two longs) outgrows a
      // broadcast, the per-round join would shuffle the edges EVERY round
      // — re-cut them hash-partitioned on dst once (one pass over the
      // already-cut edges); the cut keeps that partitioning, so each
      // round's join reads the edges where they are (the PageRank
      // edge-cache discipline);
      if (it == 1) {
        val bcMax =
          if (labelBroadcastMax >= 0L) labelBroadcastMax
          else pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        if (bcMax >= 0L && nLabels * 16L > bcMax) {
          edges = ScratchCache.cut(FanOut.byKey(edges0, col("dst")))
          ScratchCache.free(edges0)
        }
      }
      val obs = org.apache.spark.sql.Observation(s"cc_round_$it")
      val own = labels.select(col("id"), col("label"), lit(true).as("own"))
      val nbr = edges.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("label"), lit(false).as("own"))
      // (b) POINTER-JUMP SHORTCUT, same gate: each id also adopts its
      // label's label (labels form a monotone forest — label(id) ≤ id and
      // both are in id's component, so label(label(id)) is too).
      // Propagation alone needs O(diameter) rounds on a chain; the jump
      // doubles covered distance per round, so convergence is
      // O(log diameter). Deferring it to round 1 costs nothing
      // asymptotically and keeps the seed-convergent case (every bench
      // query) free of the labels⋈labels join r15 paid per round.
      val withJump =
        if (it == 0) own.union(nbr)
        else {
          val jump = labels.select(col("id"), col("label").as("_l"))
            .join(labels.select(col("id").as("_l"), col("label").as("_ll")),
              Seq("_l"))
            .select(col("id"), col("_ll").as("label"), lit(false).as("own"))
          own.union(nbr).union(jump)
        }
      // the old label rides the aggregation (each id has exactly ONE own
      // row), so "did anything change" and the label count are observed
      // inside the same pass: the generation's cut is the round's ONE job.
      // Each generation is cut, so a round's plan holds the previous one
      // as a scan — without that, it embeds the previous round's 3-4
      // times (own + neighbor + jump sides), and analysis cost and plan
      // strings grow as 4^rounds.
      val next = ScratchCache.cut(withJump
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"),
          max(when(col("own"), col("label"))).as("__old"))
        .observe(obs,
          coalesce(sum(when(col("label") < col("__old"), 1L).otherwise(0L)),
            lit(0L)).as("changed"),
          count(lit(1)).as("n"))
        .select(col("id"), col("label")))
      ScratchCache.free(labels) // superseded generation frees NOW
      labels = next
      val m = obs.get
      nLabels = m("n").asInstanceOf[Long]
      converged = m("changed").asInstanceOf[Long] == 0L
      it += 1
    }
    ScratchCache.free(edges) // the last generation no longer reads them
    // (an empty graph needs no special case: the seed aggregation is
    // empty, the first loop pass observes 0 changes and exits converged)
    // a silent partial propagation would hand dedup several "canonical"
    // survivors per true component — refuse instead; callers with known
    // long chains raise maxIter
    if (!converged) {
      ScratchCache.free(labels)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter?)")
    }
    // the final generation stays registered: released by the sweep
    labels.select(col("id"), col("label").as("component_id"))
  }

  /** Connected components when every edge is CONFINED to a block — the
    * record-linkage invariant: candidate pairs come from a blocking key
    * (prefix, LSH bucket, sort-neighborhood window), so no edge ever
    * crosses blocks and each component lives inside exactly one block.
    *
    * That invariant collapses the iterative min-label propagation
    * ([[connectedComponents]]: one shuffle + one driver action PER
    * diameter round) to ONE shuffle total: hash-partition the pairs by
    * block key, then run union-find locally per block inside
    * `flatMapGroups`. Memory is bounded by the largest block — the same
    * bound blocking itself promises (an unbounded block would already
    * have blown up the pair join quadratically upstream), so this is
    * scale-safe wherever blocked matching is.
    *
    * Returns (id BIGINT, component_id BIGINT) — component_id = min id of
    * the component, matching [[connectedComponents]] exactly. Ids may
    * repeat across blocks only if the caller's blocking is non-disjoint;
    * with disjoint blocks (one block per record) each id appears once. */
  def blockLocalComponents(pairs: DataFrame, block: String, a: String,
                           b: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .select(col(block).cast("string"), col(a).cast("long"),
        col(b).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (_, x, y) =>
          parent.getOrElseUpdate(x, x)
          parent.getOrElseUpdate(y, y)
          val rx = find(x); val ry = find(y)
          if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
        }
        // roots are unioned min-first, so find(id) IS the component min
        parent.keysIterator.map(idv => (idv, find(idv))).toArray.iterator
      }
      .toDF("id", "component_id")
  }

  /** SimHash near-dup pairs: 4×12-bit band candidates (hamming ≤ maxHamming
    * guarantees ≥1 identical band when maxHamming < 4 by pigeonhole over 48
    * bits), verified by exact hamming distance.
    *
    * FINGERPRINT-level duplicate collapse — strictly coarser (and
    * cheaper) than [[shinglePairScores]]'s text collapse: hamming
    * depends ONLY on the 48-bit fingerprint, so ANY docs sharing one
    * (byte-identical texts included, but also distinct texts that
    * fingerprint equal — e.g. every sub-k-token doc at fp 0) are
    * interchangeable in the band join. Fingerprints are computed once
    * over the full corpus; the collapse window then shuffles 16-byte
    * (id, fp) rows, never text. Cross pairs inherit the rep pair's
    * hamming; intra-group pairs are hamming-0 by definition and emitted
    * unconditionally (simhash48 is total), which is why a negative
    * `maxHamming` is refused rather than answered with them. */
  def simhashPairs(df: DataFrame, id: String, text: String, k: Int,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"maxHamming must be in 0..3 (4-band pigeonhole), got $maxHamming")
    // UNGATED collapse: the full fingerprint-partitioned window
    // (DupGroups.window) — measured faster than both the gated regime
    // (the gate's job barriers outweigh the skipped expansions: sf1 3.6 s
    // vs 1.9 s) and an agg + fingerprint-keyed join-back (whose join
    // RESHUFFLES the full frame a second time: sf1 3.0 s vs 1.9 s; sf0.1
    // flat). The window is simhash-partitioned — never global — and
    // spill-safe at any duplicate-group skew (the q211 plan audit pins the
    // partitioning).
    val g = DupGroups.window(simhashFingerprints(df, id, text, k), "doc_id",
      col("simhash"))
    val repPairs = simhashBandPairsPacked(
        g.reps.select(col("_gid").as("doc_id"), col("_t").as("simhash")), maxHamming)
      .select(PackedPair.idA(col("pair")).as("id_a"),
        PackedPair.idB(col("pair")).as("id_b"), col("hamming"))
    DupGroups.expand(g, repPairs,
      g.reps.filter(col("_m") >= 2L).select(col("_gid"), lit(0L).as("hamming")))
  }

  /** Banded candidate self-join + exact hamming verification over a
    * (doc_id, simhash) frame — the scoring core of [[simhashPairs]],
    * run over the collapsed rep frame. */
  private def simhashBandPairsPacked(fp: DataFrame,
                                     maxHamming: Int): DataFrame = {
    // cached pre-partitioned on the join key so the self-join reuses the
    // partitioning on both sides instead of exchanging the band frame
    // twice (same shape as the minhash/postings caches above)
    val bands = ScratchCache.register(fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 12).bitwiseAND(lit(0xFFFL)).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .transform(FanOut.byKey(_, col("band"), col("key"))).persist())
    // the candidate join runs the fill (expose HashPartitioning; hot-band
    // salting at scale — see bandCandidates). hamming is per-pair
    // constant, so verify BEFORE the dedupe: only surviving near-dups
    // enter the distinct, and the shuffle carries one packed long + the
    // distance instead of two ids + two fingerprints
    bandCandidates(bands, Seq("band", "key"), Probe.All)((j, pair) =>
      j.select(pair.as("pair"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("bigint").as("hamming"))
        .filter(col("hamming") <= maxHamming))
      .distinct()
  }

  /** Exact-substring overlap pairs: documents sharing ≥1 identical
    * character window of length `winLen` — the k-gram fingerprint
    * formulation of suffix-based exact-substring dedup (the "50-token
    * exact match" criterion of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL '22, which builds a suffix array;
    * the distributed equivalent indexes every length-L window and joins).
    *
    * Plan — linear aggregations only, no self-join, one heavy shuffle:
    *  1. per-doc distinct windows from the fused CharWindows kernel (the
    *     staged `array_distinct∘transform∘sequence` form pays an
    *     interpreted lambda dispatch per window — it was the dominant
    *     cost before fusing);
    *  2. df per 64-bit window HASH (xxhash64): the heavy shuffle moves
    *     16-byte (hash, count-partial) rows through a codegen'd long-key
    *     hash aggregate instead of 40+-byte strings. Only hashes seen in
    *     2..maxDf docs survive — shared windows are a sliver of the index
    *     (most windows are unique);
    *  3. the window stream regenerates (rescanning the corpus is ~30×
    *     cheaper than materializing the window index) and semi-joins the
    *     surviving hashes — AQE broadcasts the sliver, so no second
    *     full shuffle — then groups by the actual WINDOW: pair emission
    *     compares true characters, so a hash collision can only ADMIT a
    *     candidate that then forms no pair (count ≥ 2 is re-proven per
    *     window), never corrupt a pair.
    *  4. each surviving window's C(d,2) pairs come from its sorted doc
    *     set (bounded: a survivor's hash-group had ≤ maxDf rows, and the
    *     true group is a subset), counted per pair.
    * `maxDf` is the boilerplate guard (a license-header window in d docs
    * would emit d²/2 pairs). Applying it to hash-groups can only drop an
    * innocent window if it 64-bit-collides with a hot one (~d·2⁻⁶⁴ —
    * negligible at any realizable corpus size, and collisions only
    * REMOVE candidate windows from the comparison universe, mirroring
    * the cap's own semantics). A naive window self-join instead of 2+3
    * shuffles the full string index twice and risks quadratic join rows;
    * measured 4× slower at sf0.1.
    *
    * Round-7 tuning pass (ProfQ58, quiet host, sf0.1): persisting the
    * exploded window frame across the passes costs MORE than the rescan
    * (270 MB cache write); a typed single-scan groupBy(h) that shuffles
    * window STRINGS is 1.3-2× slower; replacing pass 1's hash aggregate
    * with an exchange + per-partition sort-run count wins pass 1 ~15%
    * but loses it back in the full plan — the mapPartitions boundary
    * hides `keep`'s size from AQE, so the semi-join stops broadcasting.
    * This plan is the measured optimum; the remaining gap to the DuckDB
    * twin is Spark's per-stage fixed overhead, not data cost. */
  def substringPairs(df0: DataFrame, id: String, text: String, winLen: Int,
                     maxDf: Option[Int] = None): DataFrame = {
    require(winLen >= 2)
    // the window kernels below explode each doc ~|text| ways: fan the
    // COMPACT doc rows out first when the scan alone can't parallelize
    // (single-row-group input) — identity on any real-size corpus
    val df = FanOut.cpu(df0)
    val hp = graft.functions.ShingleExpressions.charWindowHashPos(col(text), winLen)
    // Pass 1 — df count over window HASHES only (12-byte structs, no
    // window-string allocation or shuffle; the kernel hashes straight off
    // the documents' UTF-8 bytes). Partial agg collapses each map side to
    // its distinct hashes, so the shuffle is ~|distinct windows| longs.
    // (An explicit-width repartition on h used to hold the reduce side
    // wide against AQE coalescing; with the fan-out above making the map
    // side parallel, the extra exchange measures strictly slower —
    // ProfQ58b: pass-1 0.92 s with it, 0.65 s without.)
    val keep = df.select(explode(hp).as("w"))
      .select(col("w.h").as("h"))
      .groupBy(col("h")).count()
      .filter(col("count") >= 2 &&
        col("count") <= lit(maxDf.getOrElse(Int.MaxValue)))
      .select("h")
    // Pass 2 — re-derive (h, pos) and materialize the window STRING for
    // surviving hashes only (one substr per survivor, in the same codegen
    // stage as the explode: dropped windows never allocate). `keep` is
    // runtime-broadcast by AQE, so nothing here shuffles window text
    // except the few duplicated windows entering the sets agg.
    val sets = df.select(col(id).cast("long").as("doc_id"),
        col(text).as("t"), explode(hp).as("w"))
      .withColumn("h", col("w.h"))
      .join(keep, Seq("h"), "left_semi")
      .select(col("doc_id"), col("t").substr(col("w.pos"), lit(winLen)).as("sub"))
      .groupBy("sub").agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2) // collision-admitted singletons drop here
    sets.select(col("sub"), explode(expr(
        // all i<j pairs of the sorted doc set
        "flatten(transform(ds, (a, i) -> " +
        "transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))")).as("pr"))
      .groupBy(col("pr.a").as("id_a"), col("pr.b").as("id_b"))
      .agg(count(lit(1)).as("shared"), min(col("sub")).as("example"))
  }
}
