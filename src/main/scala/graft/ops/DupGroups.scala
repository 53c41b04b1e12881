package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-duplicate collapse ahead of the near-dup pair generators
  * (`Dedup.jaccardPairs`/`containmentPairs`, `Dedup.minhashDedupPairs`,
  * `Dedup.simhashPairs`, `Similarity.nearDupPairs`): rows with an equal
  * payload (text, fingerprint, vector) collapse to one representative, the
  * generator scores representatives only, and [[expand]] turns the scored
  * rep pairs back into member pairs. Equal payloads score equal against
  * everything, so a g-way group costs the quadratic stage one row instead
  * of g, and the expansion joins are output-bound.
  *
  * Decided here and nowhere else: which regime the collapse runs
  * ([[collapse]]'s gate), how rows are tagged with their group (one
  * spill-safe window pass), and how groups expand back (cross pairs via two
  * member joins, intra-group pairs from the caller's per-group score).
  *
  * Pair ids come back as BIGINT (the input id column cast to long).
  */
private[graft] object DupGroups {

  /** A collapsed frame. `reps`: one row per distinct payload — `_t`
    * (payload: text, fingerprint or vector; the name the plan audits
    * look for on the collapse window), `_gid` (min member id), `_m`
    * (member count). `members`: `_gid` → every member `doc_id`.
    * `repeats` is false when no payload repeats: every row is its own
    * group and [[expand]] is the identity. */
  final case class Groups(reps: DataFrame, members: DataFrame, repeats: Boolean)

  /** Driver-collect bound for the hot-hash set (2^16 8-byte keys ≈ 512 KB —
    * bounded by construction, the PercentileCut discipline): below it the
    * sliver membership test is a codegen'd InSet FILTER, adding zero join or
    * exchange stages — measured, the two broadcast-join stages otherwise
    * cost more in AQE planning rounds than the sliver work itself on
    * rare-duplicate corpora. */
  val HotCollectMax = 65536L

  /** Hot-set broadcast bound: 1M 8-byte keys ≈ 8 MB — comfortably
    * broadcastable; a corpus with more repeated-hash groups than that is
    * duplicate-HEAVY, where the ungated full window is the right plan. */
  val HotBroadcastMax = 1000000L

  private val bounds = new scala.util.DynamicVariable((HotCollectMax, HotBroadcastMax))

  /** Test seam: run `body` with the regime bounds replaced, so a spec can
    * force the InSet, broadcast and full-window regimes on fixtures small
    * enough to assert on. Production callers never set it. */
  private[graft] def withBounds[T](hotCollectMax: Long, hotBroadcastMax: Long)
                                  (body: => T): T =
    bounds.withValue((hotCollectMax, hotBroadcastMax))(body)

  /** [[collapse]] of a payload column under injected bounds, as the
    * (reps, members) pair. */
  private[graft] def dupCollapseWithBounds(
      df: DataFrame, id: String, payload: String,
      hotCollectMax: Long, hotBroadcastMax: Long): (DataFrame, DataFrame) = {
    val g = withBounds(hotCollectMax, hotBroadcastMax)(collapse(df, id, col(payload)))
    (g.reps, g.members)
  }

  private def rows(df: DataFrame, id: String, payload: Column): DataFrame =
    df.select(col(id).cast("long").as("doc_id"), payload.as("_t"))

  /** No collapse: the caller knows every payload is distinct. */
  def distinct(df: DataFrame, id: String, payload: Column): Groups = {
    val base = rows(df, id, payload)
    Groups(base.select(col("_t"), col("doc_id").as("_gid"), lit(1L).as("_m")),
      base.select(col("doc_id").as("_gid"), col("doc_id")), repeats = false)
  }

  /** The full-window collapse with no gate, for callers whose payload
    * shuffle is cheap enough that the gate's job barriers cost more than
    * the pass they could skip. */
  def window(df: DataFrame, id: String, payload: Column): Groups =
    tagged(windowed(rows(df, id, payload)))

  /** Gated collapse. Equal payloads can only live inside a 64-bit
    * payload-hash group of size ≥ 2, so ONE gate job aggregates the hash
    * counts (an 8-byte-key, map-side-combined shuffle) and picks:
    *  - no repeated hash: [[distinct]] — zero payload shuffles, zero
    *    caches, no Window in the plan;
    *  - hot rows a majority, or more hot hashes than `HotBroadcastMax`:
    *    the full window (a semi/anti split would shuffle the payload twice
    *    for nothing, or could not broadcast its hot set);
    *  - at most `HotCollectMax` hot hashes: the sliver of hot-hash rows is
    *    picked by an InSet filter and pays the window alone;
    *  - else: the same split by an EXPLICIT broadcast semi/anti join (not
    *    AQE-dependent — consumers materialize this plan under persists,
    *    where adaptive join re-planning is unavailable and an unhinted join
    *    would degrade to two full payload shuffles).
    * A hash collision can only ADD a row to the sliver (the window still
    * partitions on true payloads), never merge payloads: byte-exactness
    * holds in every regime. The window spills oversized partitions, so an
    * all-identical corpus degrades to disk, never to a driver buffer. */
  def collapse(df: DataFrame, id: String, payload: Column): Groups = {
    val base = rows(df, id, payload)
    val counts = ScratchCache.register(base
      .groupBy(xxhash64(col("_t")).as("_h"))
      .agg(count(lit(1)).as("_hc"))
      .persist())
    // ONE gate job: hot-group count, rows covered by hot groups, total rows
    val stats = counts.agg(
      coalesce(sum(when(col("_hc") >= 2L, 1L)), lit(0L)),
      coalesce(sum(when(col("_hc") >= 2L, col("_hc"))), lit(0L)),
      coalesce(sum(col("_hc")), lit(0L))).head()
    val (nHot, nRowsHot, nRows) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val (collectMax, broadcastMax) = bounds.value
    if (nHot == 0L) return distinct(df, id, payload)
    if (nRowsHot * 2L >= nRows || nHot > broadcastMax) return tagged(windowed(base))
    val hot = counts.filter(col("_hc") >= 2L).select("_h") // cached parent
    val withH = base.withColumn("_h", xxhash64(col("_t")))
    val (sliver, uniq) =
      if (nHot <= collectMax) {
        val hotSet = hot.collect().map(_.getLong(0)).toSeq
        (withH.filter(col("_h").isin(hotSet: _*)),
          withH.filter(!col("_h").isin(hotSet: _*)))
      } else (withH.join(broadcast(hot), Seq("_h"), "left_semi"),
        withH.join(broadcast(hot), Seq("_h"), "left_anti"))
    tagged(windowed(sliver).unionByName(uniq.select(col("doc_id"), col("_t"),
      col("doc_id").as("_gid"), lit(1L).as("_m"))))
  }

  /** The one collapse pass: min-id and group size per payload, from one
    * payload-partitioned window (never global). */
  private def windowed(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("_t"))
    rows.select(col("doc_id"), col("_t"),
      min(col("doc_id")).over(w).as("_gid"),
      count(lit(1)).over(w).as("_m"))
  }

  /** Reps and members both read the tagged rows: one cache. */
  private def tagged(rows: DataFrame): Groups = {
    val t = ScratchCache.register(rows.persist())
    Groups(t.filter(col("doc_id") === col("_gid")).select(col("_t"), col("_gid"), col("_m")),
      t.select(col("_gid"), col("doc_id")), repeats = true)
  }

  /** Member pairs from rep-level results. `repPairs` is (id_a, id_b,
    * score…) over rep ids; each member pair across two groups inherits its
    * rep pair's scores (equal payloads ⇒ equal scores), re-canonicalized so
    * id_a < id_b. `intra` is (`_gid`, score…): the scores every member pair
    * inside group `_gid` gets, already filtered by the caller's threshold.
    * Identity when nothing repeats (`intra` is then empty by construction). */
  def expand(g: Groups, repPairs: DataFrame, intra: DataFrame): DataFrame = {
    if (!g.repeats) return repPairs
    val scores = repPairs.columns.drop(2).toSeq.map(col)
    def side(gid: String, m: String) =
      g.members.select(col("_gid").as(gid), col("doc_id").as(m))
    val cross = repPairs
      .select(col("id_a").as("_ga") +: col("id_b").as("_gb") +: scores: _*)
      .join(side("_ga", "_ia"), Seq("_ga"))
      .join(side("_gb", "_ib"), Seq("_gb"))
      .select(least(col("_ia"), col("_ib")).as("id_a") +:
        greatest(col("_ia"), col("_ib")).as("id_b") +: scores: _*)
    val inner = intra
      .join(side("_gid", "_ia"), Seq("_gid"))
      .join(side("_gid", "_ib"), Seq("_gid"))
      .filter(col("_ia") < col("_ib"))
      .select(col("_ia").as("id_a") +: col("_ib").as("id_b") +: scores: _*)
    cross.unionByName(inner)
  }
}
