package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.functions.TextFunctions.roundp

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Brute force is the correctness baseline (and is the right answer for a
  * broadcastable query set: Q×N score matrix, no shuffle on the corpus).
  * The LSH path is the scale route: random-hyperplane sign buckets bound
  * the candidate join; recall is tunable via bits/tables and is
  * property-tested against brute force rather than oracle-matched.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query row (queries = rows
    * matching `queryPred`). Broadcast the (small) query side; the corpus
    * streams — at 100 TB this is one scan, no corpus shuffle; the final
    * per-query top-k is a bounded typed Aggregator with map-side partial
    * combine, so the ranking shuffle carries at most partitions × Q × k
    * rows — NOT the window form, which would ship every scored row to one
    * reducer per query (ordering is identical; spec + oracle assert). */
  def knnBrute(emb: DataFrame, id: String, vec: String,
               queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // norms are precomputed per row (not per pair): cos = dot/(nq*nc) is the
    // same doubles as dot/(sqrt(dot qq)*sqrt(dot cc)), 3x fewer dot products
    val q = emb.filter(queryPred)
      .select(col(id).as("qid"), col(vec).as("qv"), norm(col(vec)).as("qn"))
    val c = emb.select(col(id).as("cid"), col(vec).as("cv"), norm(col(vec)).as("cn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        // native fused loop — bit-identical to the HOF dotSeq form
        // (AdvancedSpec), ~25x faster in the Q x N pair loop
        roundp(graft.functions.DotProductF32.dot(col("qv"), col("cv")) /
          (col("qn") * col("cn")), 6).as("cos"))
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.agg.TopKAgg(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((cid, cos), i) =>
          (qid, cid, cos, i + 1)
        }
      }
      .toDF("qid", "cid", "cos", "rank")
  }

  /** Deterministic pseudo-random hyperplane component r(plane, dim) ∈
    * [−0.5, 0.5): LCG hash of the (plane, dim) index — reproducible across
    * engines and runs, no RNG state. */
  private def planeComponent(plane: Int, dim: org.apache.spark.sql.Column, nDims: Int) = {
    val idx = lit(plane * nDims) + dim
    ((lit(1103515245L) * idx + 12345L) % lit(2147483648L)).cast("double") /
      lit(2147483648.0) - lit(0.5)
  }

  /** Sign-bucket key: `nPlanes` hyperplane sign bits packed to a LONG. */
  def lshBucket(vec: org.apache.spark.sql.Column, nPlanes: Int, nDims: Int,
                table: Int): org.apache.spark.sql.Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val proj = aggregate(
          zip_with(vec, sequence(lit(0), lit(nDims - 1)),
            (v, d) => v.cast("double") *
              (((lit(1103515245L) * (lit((table * 31 + 1)) * lit(nPlanes * nDims) + p * nDims + d)
                + 12345L) % lit(2147483648L)).cast("double") / lit(2147483648.0) - lit(0.5))),
          lit(0.0), (acc, v) => acc + v)
        when(proj > 0, lit(1L)).otherwise(lit(0L))
      }),
      lit(0L), (acc, b) => acc * 2 + b)

  /** ANN top-k: candidates share an LSH bucket in ≥1 of `nTables` tables;
    * exact cosine ranks candidates. Recall < 1 by construction — verified
    * against `knnBrute` in the spec, not the oracle.
    *
    * Bucketing runs through the native `HyperplaneSigs` expression (one
    * fused JVM loop emitting all `nTables` signatures per row) rather than
    * the staged-HOF `lshBucket` form — same arithmetic (spec-asserted
    * equal), without nTables × nPlanes × nDims interpreted lambda
    * dispatches per row.
    *
    * Id contract: `id` values must lie in [0, 2³²) — the candidate dedupe
    * packs (qid, cid) into one long (PackedPair) and raises on ids outside
    * that range rather than silently corrupting pairs. */
  def knnLsh(emb: DataFrame, id: String, vec: String,
             queryPred: org.apache.spark.sql.Column, k: Int,
             nPlanes: Int = 4, nTables: Int = 8, nDims: Int = 64): DataFrame = {
    def buckets(side: DataFrame, idAs: String) = side
      .select(col(id).as(idAs),
        posexplode(graft.functions.HashExpressions.hyperplaneSigs(
          col(vec), nPlanes, nDims, nTables)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    // query buckets are computed directly on the (broadcast-small) query
    // side — candidate generation is then a MAP-SIDE broadcast join over
    // the streaming corpus buckets: zero corpus shuffle before the
    // candidate-id dedupe, and the corpus is bucketed exactly once
    val qb = broadcast(buckets(emb.filter(queryPred), "qid"))
    // dedupe candidate PAIRS on ids only — the multi-table union would
    // otherwise shuffle both embedding vectors per duplicate; vectors are
    // joined back once per surviving pair. PackedPair raises on ids outside
    // [0, 2^32) — arbitrary user id columns must not silently corrupt the
    // packed key.
    val cands = buckets(emb, "cid")
      .join(qb, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(PackedPair.pack(col("qid"), col("cid")).as("pair"))
      .distinct() // one packed long per candidate in the dedupe shuffle
      .select(PackedPair.idA(col("pair")).as("qid"),
        PackedPair.idB(col("pair")).as("cid"))
    val qv = broadcast(emb.filter(queryPred)
      .select(col(id).as("qid"), col(vec).as("qv")))
    val scored = cands
      .join(qv, Seq("qid"))
      .join(emb.select(col(id).as("cid"), col(vec).as("cv")), Seq("cid"))
      .select(col("qid"), col("cid"),
        roundp(cosine(col("qv"), col("cv")), 6).as("cos"))
    topKRank(scored, k)
  }

  /** Shared bounded per-query ranking (see knnBrute's scale note) — the
    * native [[graft.functions.TopKScore]] aggregate: identical ordering
    * contract to the typed `TopKAgg` (spec-asserted equal), same k-bounded
    * partial-combine shuffle, no per-row encoder round-trips (~0.2-0.3 s
    * off each ANN query's tail at sf0.1). */
  private[graft] def topKRank(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val cols = scored.columns
    // explicit upcasts keep the contract the old typed form enforced via
    // its encoder ((Long, Long, Double)): a float-scored caller degrades
    // to a cast, not a runtime class-cast inside the aggregate
    scored.groupBy(col(cols(0)).cast("long").as("qid"))
      .agg(graft.functions.TopKScore(col(cols(1)).cast("long"),
        col(cols(2)).cast("double"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.cid").as("cid"), col("col.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Spherical k-means centroids (unit vectors) from a bounded driver-side
    * sample — at any corpus scale the driver sees at most `sampleCap` rows.
    * Deterministic given the sample: init = first k sample vectors, then
    * `iters` Lloyd rounds with mean-renormalize updates. Centroid QUALITY
    * only affects pruning power, never correctness (see nearDupPairs). */
  private def sphericalCentroids(emb: DataFrame, vec: String, nCells: Int,
                                 sampleCap: Int = 4096, iters: Int = 8): Array[Array[Float]] = {
    val sample = emb.select(col(vec)).limit(sampleCap).collect()
      .map(_.getSeq[Float](0).toArray)
      .flatMap { a =>
        val n = math.sqrt(a.foldLeft(0.0)((s, x) => s + x.toDouble * x))
        if (n == 0.0) None else Some(a.map(x => (x / n).toFloat))
      }
    if (sample.isEmpty) return Array.empty
    val k = math.min(nCells, sample.length)
    val dim = sample.head.length
    var cents = sample.take(k).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MinValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j).toDouble * cents(c)(j).toDouble; j += 1 }
          if (d > bd) { bd = d; best = c }
          c += 1
        }
        cnt(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (cnt(c) == 0) old
        else {
          val n = math.sqrt(sums(c).foldLeft(0.0)((s, x) => s + x * x))
          if (n == 0.0) old else sums(c).map(x => (x / n).toFloat)
        }
      }
      it += 1
    }
    cents
  }

  private def centroidAngle(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    math.acos(math.max(-1.0, math.min(1.0, d)))
  }

  /** Embedding near-duplicate pairs (cosine ≥ threshold) — EXACT result via
    * cluster-pruned pair generation, no all-pairs nested-loop join.
    *
    * Every vector is assigned to its nearest spherical-k-means cell (native
    * `NearestCentroid` expression); per-cell angular radii and centroid
    * pairwise angles then bound, by the triangle inequality on geodesic
    * distance, which cell PAIRS can possibly hold a vector pair with
    * angle ≤ acos(threshold): angle(x,y) ≥ angle(cx,cy) − r(cx) − r(cy).
    * Only admissible cell pairs are expanded — a shuffle/broadcast HASH
    * equi-join on the cell-pair key — and survivors are exact-cosine
    * verified with the same arithmetic as the brute form, so the output is
    * identical (spec-asserted), not approximate. The pruning threshold
    * backs off by 1e-6 (rounding head-room for the 6-decimal output) plus
    * 1e-3 rad of float slack, so boundary pairs are never lost.
    *
    * Scale shape: clustered corpora (the real near-dup regime) prune most
    * of the K² cell grid; an adversarially isotropic corpus degrades to a
    * DISTRIBUTED blocked all-pairs over cell-pair keys — the exact-answer
    * floor — never to a driver-side or nested-loop plan. The two tiny
    * plan-time jobs (sample + radii aggregate) are bounded: ≤ sampleCap
    * rows and K rows respectively, at any corpus size. */
  def nearDupPairs(emb: DataFrame, id: String, vec: String, threshold: Double,
                   nCells: Int = 16): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE before the quadratic stage (DupGroups):
    // byte-identical vectors share every downstream cosine, so the
    // cell-pruned pair generation runs over DISTINCT vectors only and
    // group members expand back afterwards (strictly output-bound joins).
    // Web-scale embedding corpora are duplicate-heavy (boilerplate pages,
    // re-crawls, mirrored docs); a k-way duplicate group costs the pruned
    // stage k² candidate evaluations without this pass and exactly 1 with
    // it — see SCALEBENCH on the 10-way-replicated sf1 corpus. Duplicate-
    // free corpora pass the gate with no vector shuffle and no expansion.
    // The expansion reproduces the brute form bit-for-bit: cross-group
    // pairs inherit the rep pair's cosine (identical bytes ⇒ identical
    // doubles), intra-group pairs carry the group's self-cosine computed
    // with the SAME dot/norm arithmetic (≈1, but never assumed).
    val g = DupGroups.collapse(emb, id, col(vec))
    val v = col("_t")
    val intra = g.reps.filter(col("_m") >= 2L)
      .select(col("_gid"),
        roundp(graft.functions.DotProductF32.dot(v, v) / (norm(v) * norm(v)), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
    DupGroups.expand(g, nearDupPairsDistinct(
        g.reps.select(col("_gid").as(id), col("_t").as(vec)),
        id, vec, threshold, nCells), intra)
  }

  /** Cell-pruned pair generation over a frame whose vectors are already
    * DISTINCT (one row per byte-distinct vector) — see [[nearDupPairs]]. */
  private def nearDupPairsDistinct(emb: DataFrame, id: String, vec: String,
                                   threshold: Double, nCells: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = sphericalCentroids(emb, vec, nCells)
    if (cents.isEmpty) return nearDupPairsBrute(emb, id, vec, threshold)
    // three consumers (radii pass + both pair-join sides): materialize the
    // assignment once instead of re-running scan+norm+NearestCentroid 3x;
    // released by ScratchCache.releaseAll once the caller has materialized
    // cached PRE-PARTITIONED on the cell id: the pair join below clusters
    // by cell on both sides, so the cached partitioning serves the probe
    // side as-is — one fewer exchange of the vector payload (the join key
    // has ≤ nCells distinct values either way, so pre-partitioning loses
    // no parallelism the _cb exchange would have had)
    val assigned = ScratchCache.register(
      emb.select(col(id).as("_id"), col(vec).as("_v"),
        norm(col(vec)).as("_n"),
        graft.functions.NearestCentroid.nearest(col(vec), cents).as("_nc"))
      .select(col("_id"), col("_v"), col("_n"),
        col("_nc.cell").as("_cell"), col("_nc.angle").as("_ang"))
      .transform(FanOut.byKey(_, col("_cell"))).persist())
    val radii = assigned.groupBy("_cell").agg(max(col("_ang")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val bound = math.acos(math.max(-1.0, math.min(1.0, threshold - 1e-6))) + 1e-3
    val cells = radii.keys.toSeq.sorted
    val admissible = for {
      i <- cells; j <- cells
      if i <= j
      if centroidAngle(cents(i), cents(j)) - radii(i) - radii(j) <= bound
    } yield (i, j)
    val pairsDf = admissible.toDF("_ca", "_cb")
    val a = assigned.select(col("_id").as("id_a"), col("_v").as("va"),
      col("_n").as("na"), col("_cell").as("_ca"))
    val b = assigned.select(col("_id").as("id_b"), col("_v").as("vb"),
      col("_n").as("nb"), col("_cell").as("_cb"))
    a.join(broadcast(pairsDf), Seq("_ca"))
      .join(b, Seq("_cb"))
      .filter(col("_ca") =!= col("_cb") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        roundp(graft.functions.DotProductF32.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** All-pairs reference form of nearDupPairs — O(N²) nested-loop; kept
    * only as the spec's equality baseline for the cluster-pruned plan. */
  private[graft] def nearDupPairsBrute(emb: DataFrame, id: String, vec: String,
                                       threshold: Double): DataFrame = {
    val a = emb.select(col(id).as("id_a"), col(vec).as("va"), norm(col(vec)).as("na"))
    val b = emb.select(col(id).as("id_b"), col(vec).as("vb"), norm(col(vec)).as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        roundp(graft.functions.DotProductF32.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
