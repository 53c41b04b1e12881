package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ops.{Dedup, DupGroups, Similarity}

class DedupSpec extends AnyFunSuite with SparkSpecBase {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfSmoke)

  test("polyHash matches the reference fold") {
    val got = Seq("hello", "a", "spark graft").toDF("s")
      .select(TextFunctions.polyHash($"s")).as[Long].collect()
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 4294967296L)
    assert(got(0) == ref("hello") && got(0) == 99162322L)
    assert(got(1) == ref("a") && got(2) == ref("spark graft"))
  }

  test("shingles of short docs are empty, not reversed sequences") {
    val sh = Seq("one two", "one two three four").toDF("text")
      .select(TextFunctions.shingles(TextFunctions.tokens($"text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0).isEmpty)
    assert(sh(1) == Seq("one two three", "two three four"))
  }

  test("maxDf cap drops hot shingles from index AND sizes consistently") {
    // "x x x x" appears in all 4 docs (df=4 > cap=2) — its shingles leave
    // the universe; docs 1/2 then compare only over their unique tails.
    val hot = Seq(
      (1L, "x x x x alpha beta gamma delta"),
      (2L, "x x x x alpha beta gamma epsilon"),
      (3L, "x x x x completely different words here"),
      (4L, "x x x x nothing like the others at all")).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.3, maxDf = Some(2))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc1 capped shingles: {x x alpha (df2 ok? appears docs1,2 → df2 <= 2 keep),
    // x alpha beta, alpha beta gamma, beta gamma delta}; doc2 same with epsilon.
    // shared = {x x alpha, x alpha beta, alpha beta gamma} = 3; sizes 4,4 → 3/5
    assert(capped.contains((1L, 2L)), s"capped pairs: $capped")
    assert(math.abs(capped((1L, 2L)) - 0.6) < 1e-9,
      s"expected capped jac 3/5, got ${capped((1L, 2L))}")
    // uncapped: the 4 shared "x x x"-prefixed shingles inflate similarity
    val uncapped = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(uncapped((1L, 2L)) > capped((1L, 2L)))
  }

  test("maxDf over replicated docs counts df per DOC, not per distinct text") {
    // 4 distinct texts sharing the hot "x x x x" prefix, each replicated
    // 3× — the hot shingles' true df is 12. cap=6 sits between the
    // rep-level count (4, which would NOT engage the cap) and the
    // doc-level count (12, which must): a collapse that counts df over
    // representatives keeps the hot shingles and inflates jac(1,2) to
    // 7/9; the correct member-weighted count drops them → jac = 3/5.
    val hot = Seq(
      (1L, "x x x x alpha beta gamma delta"),
      (2L, "x x x x alpha beta gamma epsilon"),
      (3L, "x x x x completely different words here"),
      (4L, "x x x x nothing like the others at all")).toDF("doc_id", "text")
    val dupHot = (0 to 2).map(i =>
        hot.select(($"doc_id" + lit(i * 100L)).as("doc_id"), $"text"))
      .reduce(_.unionByName(_))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val got = Dedup.jaccardPairs(dupHot, "doc_id", "text", 3, 0.3,
      maxDf = Some(6)).collect().map(key).toSet
    // brute: per-DOC df over the uncollapsed corpus, hot shingles out of
    // the universe, then all-pairs with post-cap sets
    val sets = dupHot.select($"doc_id",
      graft.functions.ShingleExpressions.wordShingles($"text", 3).as("sh"))
    val inv = sets.select($"doc_id", explode($"sh").as("s"))
    val hotS = inv.groupBy("s").count().filter($"count" > 6).select("s")
    val capped = inv.join(hotS, Seq("s"), "left_anti")
      .groupBy("doc_id").agg(collect_set($"s").as("sh"))
      .filter(size($"sh") > 0)
    val inter = size(array_intersect($"a.sh", $"b.sh"))
    val jac = inter * lit(1.0) / (size($"a.sh") + size($"b.sh") - inter)
    val brute = capped.as("a").join(capped.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(jac >= 0.3)
      .select($"a.doc_id", $"b.doc_id",
        graft.functions.TextFunctions.roundp(jac, 6))
      .collect().map(key).toSet
    val asMap = got.map(p => ((p._1, p._2), p._3)).toMap
    assert(math.abs(asMap((1L, 2L)) - 0.6) < 1e-9,
      s"hot shingles evaded the doc-level cap: jac(1,2)=${asMap((1L, 2L))}")
    assert(got.count(_._3 == 1.0) >= 12, "intra-group pairs missing") // 4 groups × C(3,2)
    assert(got == brute)
  }

  /** Replicated-docs fixture: every text appears 3× under shifted ids,
    * plus two IDENTICAL short docs (empty shingle sets) and two DISTINCT
    * short docs — the exact-duplicate collapse's intra/cross expansion
    * paths, which the driver's duplicate-free sf0.01 gate data never
    * exercises. */
  private def dupDocs = {
    val base = docs.select($"doc_id", $"text").limit(30)
    (1 to 2).map(i =>
      base.select(($"doc_id" + lit(i * 100000L)).as("doc_id"), $"text"))
      .reduce(_.unionByName(_))
      .unionByName(base)
      .unionByName(Seq(
        (900001L, "tiny one"), (900002L, "tiny one"), // identical, < k tokens
        (900003L, "tiny two"), (900004L, "tiny other") // distinct shorts
      ).toDF("doc_id", "text"))
  }

  /** Near-duplicate (not identical) fixture: every text 3× under shifted
    * ids, each copy with its own one-word tail, so the duplicate collapse
    * keeps all three and their MinHash band buckets hold ≥ 3 rows. */
  private def nearDupDocs = {
    val base = docs.select($"doc_id", $"text").limit(30)
    (0 to 2).map(i => base.select(($"doc_id" + lit(i * 100000L)).as("doc_id"),
        concat($"text", lit(s" tail$i")).as("text")))
      .reduce(_.unionByName(_))
  }

  test("jaccard pairs on replicated docs equal the all-pairs brute form") {
    val got = Dedup.jaccardPairs(dupDocs, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute: shingle sets cross-joined, same arithmetic
    val sets = dupDocs.select($"doc_id",
      graft.functions.ShingleExpressions.wordShingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val inter = size(array_intersect($"a.sh", $"b.sh"))
    val jac = inter * lit(1.0) / (size($"a.sh") + size($"b.sh") - inter)
    val brute = sets.as("a").join(sets.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(jac >= 0.3)
      .select($"a.doc_id", $"b.doc_id",
        graft.functions.TextFunctions.roundp(jac, 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 3-way replica groups contribute C(3,2)=3 jac-1.0 pairs each; the
    // identical SHORT pair must NOT appear (empty shingle sets)
    assert(brute.count(_._3 == 1.0) >= 90, s"fixture thin: ${brute.size}")
    assert(!got.exists(p => p._1 == 900001L && p._2 == 900002L))
    assert(got == brute)
  }

  test("simhash pairs on replicated docs equal brute hamming; empty-shingle docs pair at fp 0") {
    val got = Dedup.simhashPairs(dupDocs, "doc_id", "text", 3, 3)
      .select($"id_a", $"id_b", $"hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fp = Dedup.simhashFingerprints(dupDocs, "doc_id", "text", 3)
    val brute = fp.as("a").join(fp.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("bigint").as("h"))
      .filter($"h" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ALL four short docs fingerprint to 0 → all 6 pairs, hamming 0 —
    // including the cross-group (distinct-text) ones
    assert(got.contains((900001L, 900002L, 0L)))
    assert(got.contains((900003L, 900004L, 0L)))
    assert(got.contains((900001L, 900004L, 0L)))
    assert(got == brute)
  }

  test("simhash pairs refuse a negative maxHamming") {
    // intra-group pairs sit at hamming 0, so a negative bound would still
    // emit them where the brute form (bit_count(xor) <= -1) emits nothing
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(dupDocs, "doc_id", "text", 3, -1)
    }
    assert(e.getMessage.contains("maxHamming"), e.getMessage)
  }

  test("jaccard and minhash pairs raise on a negative doc_id (the group min is packed)") {
    // -5 and 7 share a text, so -5 is their group's representative; its
    // near-copy 3 makes the rep pair (-5, 3) a candidate that gets packed
    val df = Seq(
      (-5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight")).toDF("doc_id", "text")
    def raises(pairs: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](pairs.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("pair-packed id outside")), e.toString)
    }
    raises(Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.5))
    raises(Dedup.minhashDedupPairs(df, "doc_id", "text", 3, 0.5))
    graft.ops.ScratchCache.releaseAll()
  }

  test("minhash pairs on replicated docs equal the uncollapsed (assumeDistinct) algorithm") {
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val collapsed = Dedup.minhashDedupPairs(dupDocs, "doc_id", "text", 3, 0.8)
      .collect().map(key).toSet
    val uncollapsed = Dedup.minhashDedupPairs(dupDocs, "doc_id", "text", 3, 0.8,
      assumeDistinct = true) // the pre-collapse algorithm, valid on any input
      .collect().map(key).toSet
    assert(collapsed.count(_._3 == 1.0) >= 90, "fixture thin")
    assert(!collapsed.exists(p => p._1 == 900001L && p._2 == 900002L),
      "empty-shingle docs must not pair (signature filter)")
    assert(collapsed == uncollapsed)
  }

  test("minhash-LSH pairs equal brute-force jaccard pairs at threshold 0.8") {
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "expected duplicates in fixture")
    assert(lsh == brute)
  }

  test("banded simhash pairs equal brute-force hamming<=3 pairs (pigeonhole recall 1)") {
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3, 3)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text", 3)
    val brute = fp.as("a").join(fp.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(bit_count($"a.simhash".bitwiseXOR($"b.simhash")) <= 3)
      .select($"a.doc_id", $"b.doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim == brute)
    assert(sim.nonEmpty, "expected some hamming<=3 pairs in fixture")
  }

  test("fused shingle expressions equal the staged-HOF forms on real docs") {
    import graft.functions.TextFunctions._
    import graft.functions.ShingleExpressions._
    val docs = Tables.documents(spark, sfSmoke)
    val fused = docs.orderBy($"doc_id")
      .select(wordShingles($"text", 3), wordShingleHashes($"text", 3))
      .collect()
    val staged = docs.orderBy($"doc_id")
      .select(tokens($"text").as("ws"))
      .select(shingles($"ws", 3).as("sh"))
      .select(
        when(size($"sh") >= 1, $"sh").as("sh"), // [] for short docs
        array_distinct(transform($"sh", s => polyHash(s))).as("hs"))
      .collect()
    assert(fused.length == staged.length && fused.nonEmpty)
    fused.zip(staged).foreach { case (f, s) =>
      val fSh = if (f.isNullAt(0)) null else f.getSeq[String](0)
      val sSh = if (s.isNullAt(0)) null else s.getSeq[String](0)
      assert(fSh == sSh)
      assert(f.getSeq[Long](1) == s.getSeq[Long](1))
    }
  }

  test("wordShingleHashes64 = fnv64 over the exact wordShingles strings") {
    import graft.functions.ShingleExpressions._
    val df = Tables.documents(spark, sfSmoke)
      .select($"doc_id", wordShingles($"text", 3).as("sh"),
        wordShingleHashes64($"text", 3).as("h64"))
      .orderBy($"doc_id").collect()
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
      h
    }
    assert(df.nonEmpty)
    var sawNonEmpty = false
    df.foreach { r =>
      val sh = if (r.isNullAt(1)) Seq.empty[String] else r.getSeq[String](1)
      val got = r.getSeq[Long](2)
      // kernel dedups by HASH in first-occurrence order; replay that
      val want = collection.mutable.LinkedHashSet.empty[Long]
      sh.foreach(s => want += fnv(s))
      assert(got == want.toSeq, s"doc ${r.getLong(0)}")
      sawNonEmpty |= got.nonEmpty
    }
    assert(sawNonEmpty)
    // SQL registration round-trips
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_shingle_hashes64('one two three four', 3)")
      .collect()(0).getSeq[Long](0)
    assert(viaSql == Seq(fnv("one two three"), fnv("two three four")))
  }

  test("fused shingles equal staged-HOF forms on multi-byte unicode text") {
    import graft.functions.TextFunctions._
    import graft.functions.ShingleExpressions._
    val texts = Seq(
      "Crème BRÛLÉE crème brûlée Tôt ou tard",
      "ÇA VA ça va straße STRASSE grüßen",
      "日本語 テスト 形態素 解析 テスト 日本語 です",
      "mixed ASCII und Ümlaute ößß 日本 text here",
      "İstanbul i̇ dotted capital I edge",
      "emoji 😀 test 😀 emoji words between 😀 here")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val fused = df.orderBy($"doc_id")
      .select(wordShingles($"text", 3), wordShingleHashes($"text", 3))
      .collect()
    val staged = df.orderBy($"doc_id")
      .select(tokens($"text").as("ws"))
      .select(shingles($"ws", 3).as("sh"))
      .select(when(size($"sh") >= 1, $"sh").as("sh"),
        array_distinct(transform($"sh", s => polyHash(s))).as("hs"))
      .collect()
    fused.zip(staged).foreach { case (f, s) =>
      val fSh = if (f.isNullAt(0)) null else f.getSeq[String](0)
      val sSh = if (s.isNullAt(0)) null else s.getSeq[String](0)
      assert(fSh == sSh, s"shingles diverge: $fSh vs $sSh")
      assert(f.getSeq[Long](1) == s.getSeq[Long](1))
    }
  }

  test("cluster-pruned near-dup pairs equal the all-pairs brute form exactly") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val pruned = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(key).toSet
    val brute = Similarity.nearDupPairsBrute(emb, "vec_id", "embedding", 0.3)
      .collect().map(key).toSet
    assert(brute.nonEmpty, "fixture should have pairs at 0.3")
    assert(pruned == brute)
  }

  test("near-dup duplicate-collapse: replicated vectors expand exactly") {
    // k-way byte-identical replicas exercise the exact-duplicate collapse:
    // intra-group pairs (self-cosine) and cross-group expansion must
    // reproduce the brute form bit-for-bit, including the 10-way group
    // regime that SCALEBENCH showed costs k² without the collapse
    val base = Tables.embeddings(spark, sfSmoke)
      .select($"vec_id", $"embedding").limit(40)
    val dup = (1 to 3).map(k =>
      base.select(($"vec_id" + lit(k * 100000L)).as("vec_id"), $"embedding"))
      .reduce(_.unionByName(_)).unionByName(base)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val pruned = Similarity.nearDupPairs(dup, "vec_id", "embedding", 0.3)
      .collect().map(key).toSet
    val brute = Similarity.nearDupPairsBrute(dup, "vec_id", "embedding", 0.3)
      .collect().map(key).toSet
    // every 4-way replica group alone contributes C(4,2)=6 self-pairs
    assert(brute.size >= 240, s"duplicate fixture too small: ${brute.size}")
    assert(pruned == brute)
  }

  test("native HyperplaneSigs equals staged-HOF lshBucket for every table") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val (nP, nD, nT) = (4, 64, 8)
    val native = emb.orderBy($"vec_id")
      .select(graft.functions.HashExpressions.hyperplaneSigs($"embedding", nP, nD, nT))
      .collect().map(_.getSeq[Long](0))
    val hof = emb.orderBy($"vec_id")
      .select(array((0 until nT).map(t =>
        Similarity.lshBucket($"embedding", nP, nD, t)): _*))
      .collect().map(_.getSeq[Long](0))
    assert(native.length == hof.length && native.nonEmpty)
    native.zip(hof).foreach { case (n, h) => assert(n == h) }
  }

  test("knn LSH recall >= 0.5 vs brute force at k=5 (and exact on candidates)") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", $"vec_id" < 10, 5)
      .select($"qid", $"cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.knnLsh(emb, "vec_id", "embedding", $"vec_id" < 10, 5)
      .select($"qid", $"cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("multimodal stub features are deterministic byte stats") {
    val (mean, feat) = graft.ops.Multimodal.decodeStub("abcd".getBytes("UTF-8"))
    assert(mean == (97 + 98 + 99 + 100) / 4.0)
    assert(feat.length == 4 && feat(0) == 97.0f)
  }

  test("PackedPair raises on ids outside [0, 2^32) instead of corrupting the key") {
    import graft.ops.PackedPair
    val ok = Seq((3L, 5L)).toDF("a", "b")
      .select(PackedPair.pack($"a", $"b").as("p"))
      .select(PackedPair.idA($"p"), PackedPair.idB($"p"))
      .collect().head
    assert((ok.getLong(0), ok.getLong(1)) == ((3L, 5L)))
    for (bad <- Seq((-1L, 5L), (3L, 1L << 32))) {
      val e = intercept[Exception] {
        Seq(bad).toDF("a", "b").select(PackedPair.pack($"a", $"b")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("pair-packed id outside")), e.toString)
    }
  }

  test("ScratchCache releases operator-internal persists on releaseAll") {
    import graft.ops.ScratchCache
    ScratchCache.releaseAll() // isolate from earlier suites
    val docs = Tables.documents(spark, sfSmoke).limit(50)
    val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8)
    pairs.count() // materialize: sets + sig are persisted right now
    assert(ScratchCache.registered >= 2)
    ScratchCache.releaseAll()
    assert(ScratchCache.registered == 0)
    // released frames recompute transparently
    assert(pairs.count() >= 0)
  }

  test("graft_array_polyhash hashes null elements to 0 (polyhash null convention)") {
    val r = spark.range(1).select(
      graft.functions.ShingleExpressions.arrayPolyHash(
        array(lit("a"), lit(null).cast("string"), lit("b"))).as("h"))
      .collect().head
    val expect = Seq("a", "b").map(s =>
      graft.functions.ShingleKernel.polyHash32(s))
    assert(r.getSeq[Long](0) == Seq(expect(0), 0L, expect(1)))
  }

  /** `minhashDedupPairs` over `docs` at J ≥ 0.6, as (id_a, id_b, jac). */
  private def fullPairs(docs: DataFrame): Set[(Long, Long, Double)] =
    Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The pairs with a side in `batch`: what a band-index probe of `batch`
    * must reproduce. */
  private def touching(pairs: Set[(Long, Long, Double)], batch: DataFrame) = {
    val ids = batch.select($"doc_id").as[Long].collect().toSet
    pairs.filter { case (a, b, _) => ids.contains(a) || ids.contains(b) }
  }

  test("incremental minhash pairs == full pairs filtered to the batch") {
    val full = fullPairs(docs)
    val corpus = docs.filter($"source" =!= "src0")
    val batch = docs.filter($"source" === "src0")
    val expected = touching(full, batch).map(p => (p._1, p._2))
    val dir = java.nio.file.Files.createTempDirectory("graft-bandinc").toString
    val ref = graft.ops.BandIndex.build(corpus, "doc_id", "text", dir)
    val got = graft.ops.BandIndex.probe(spark, ref, batch, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.size < full.size, "batch restriction must actually restrict")
    graft.ops.ScratchCache.releaseAll()
  }

  test("persisted band index: probe == full pairs filtered to the batch; append grows it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    val corpus = docs.filter($"source" =!= "src0")
    val batch = docs.filter($"source" === "src0")
    val ref = graft.ops.BandIndex.build(corpus, "doc_id", "text", dir,
      k = 3, nHashes = 64, rowsPerBand = 2)
    val probe = graft.ops.BandIndex.probe(spark, ref, batch, "doc_id", "text", 0.6)
    // the probe plan must read the SAVED index, never the corpus text: its
    // file scans touch only the index directory and the batch's source
    val scans = probe.queryExecution.executedPlan.toString
    assert(scans.contains(dir), scans.take(2000))
    val expected = touching(fullPairs(docs), batch)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    // parameter mismatch fails fast on load+probe, not silently low recall
    val loaded = graft.ops.BandIndex.load(dir)
    assert(loaded == ref)
    // append the batch; a second probe of a NEW near-dup of a batch doc
    // must now find the pair against the GROWN index
    graft.ops.BandIndex.append(spark, ref, batch, "doc_id", "text")
    val batchDoc = batch.orderBy($"doc_id").select($"doc_id", $"text")
      .as[(Long, String)].head()
    val b2 = Seq((900001L, batchDoc._2 + " tail")).toDF("doc_id", "text")
    val got2 = graft.ops.BandIndex.probe(spark, ref, b2, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((batchDoc._1, 900001L)),
      s"grown index must surface the new near-dup, got $got2")
    graft.ops.ScratchCache.releaseAll()
  }

  test("band index compact: probe results identical, file count reduced") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bandcmp").toString
    val corpus = docs.filter($"source" =!= "src0")
    val ref = graft.ops.BandIndex.build(corpus, "doc_id", "text", dir,
      k = 3, nHashes = 64, rowsPerBand = 2)
    // a steady drip of one-doc appends fragments the index
    val drip = docs.filter($"source" === "src0").orderBy($"doc_id")
      .select($"doc_id", $"text").as[(Long, String)].collect().take(6)
    for ((id, text) <- drip)
      graft.ops.BandIndex.append(spark, ref,
        Seq((id, text)).toDF("doc_id", "text"), "doc_id", "text")
    def parquetFiles(sub: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, sub))
        .iterator()
      var n = 0
      while (it.hasNext) { if (it.next().toString.endsWith(".parquet")) n += 1 }
      n
    }
    val before = parquetFiles("sets") + parquetFiles("bands")
    val batch = Seq((900002L, drip.head._2 + " extra tail")).toDF("doc_id", "text")
    val preCompact = graft.ops.BandIndex.probe(spark, ref, batch,
        "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.ops.BandIndex.compact(spark, ref)
    val after = parquetFiles("sets") + parquetFiles("bands")
    assert(after < before, s"compact must shrink files: $before -> $after")
    assert(after == 2, s"tiny index compacts to one file per table, got $after")
    val postCompact = graft.ops.BandIndex.probe(spark, ref, batch,
        "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(postCompact == preCompact && preCompact.nonEmpty,
      s"probe must be layout-independent: $preCompact vs $postCompact")
    // no stale generations left behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "sets_old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "bands_tmp")))
    graft.ops.ScratchCache.releaseAll()
  }

  test("CDC chunk-hash kernel equals the staged HOF composition") {
    // the fused native kernel (q147's scan path) must reproduce the
    // declarative tokens -> boundary-cut -> slice -> concat -> hash
    // pipeline bit-for-bit, per doc and with multiplicity
    import graft.functions.TextFunctions.{polyHash, tokens}
    val docs = Tables.documents(spark, sfSmoke)
    val viaKernel = docs.select($"doc_id",
        graft.functions.ShingleExpressions.cdcChunkHashes($"text", 8).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val base = docs
      .select($"doc_id", tokens($"text").as("ws"))
      .filter(size($"ws") > 0)
      .withColumn("bounds",
        concat(array(lit(0)),
          filter(transform($"ws", (w, i) =>
            when(pmod(polyHash(w), lit(8)) === 0, i + 1).otherwise(-1)),
            p => p > 0),
          array(size($"ws"))))
      .withColumn("ch", filter(
        transform(sequence(lit(1), size($"bounds") - 1), j =>
          struct(element_at($"bounds", j).as("a"),
            element_at($"bounds", j + 1).as("b"))),
        s2 => s2.getField("b") > s2.getField("a")))
      .select($"doc_id", transform($"ch", s2 => polyHash(concat_ws(" ",
        slice($"ws", s2.getField("a") + 1,
          s2.getField("b") - s2.getField("a"))))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel.filter(_._2.nonEmpty) == base.filter(_._2.nonEmpty))
    assert(viaKernel.values.exists(_.size > 1), "fixture should chunk")
    // degenerate inputs: null-free empty behavior
    import spark.implicits._
    val edge = Seq(("", 1L), ("   ", 2L), ("one", 3L)).toDF("text", "doc_id")
      .select($"doc_id",
        graft.functions.ShingleExpressions.cdcChunkHashes($"text", 8).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(edge(1L).isEmpty && edge(2L).isEmpty && edge(3L).size == 1)
    // fuzz: 100 random token streams (mixed-case, runs of whitespace,
    // unicode) — kernel and HOF must stay bit-identical on all of them
    val rnd = new scala.util.Random(20260814L)
    val alphabet = "abcXYZ09 	  αβ日本 "
    val fuzz = (0 until 100).map { i =>
      (100L + i, (0 until (1 + rnd.nextInt(120)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val fdf = fuzz.toDF("doc_id", "text")
    val fk = fdf.select($"doc_id",
        graft.functions.ShingleExpressions.cdcChunkHashes($"text", 8).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fh = fdf
      .select($"doc_id", tokens($"text").as("ws"))
      .filter(size($"ws") > 0)
      .withColumn("bounds",
        concat(array(lit(0)),
          filter(transform($"ws", (w, i) =>
            when(pmod(polyHash(w), lit(8)) === 0, i + 1).otherwise(-1)),
            p => p > 0),
          array(size($"ws"))))
      .withColumn("ch", filter(
        transform(sequence(lit(1), size($"bounds") - 1), j =>
          struct(element_at($"bounds", j).as("a"),
            element_at($"bounds", j + 1).as("b"))),
        s2 => s2.getField("b") > s2.getField("a")))
      .select($"doc_id", transform($"ch", s2 => polyHash(concat_ws(" ",
        slice($"ws", s2.getField("a") + 1,
          s2.getField("b") - s2.getField("a"))))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    fuzz.foreach { case (id, _) =>
      assert(fk.getOrElse(id, Seq.empty[Long]) == fh.getOrElse(id, Seq.empty[Long]),
        s"fuzz doc $id diverges")
    }
  }

  test("connectedComponents: empty pair table -> empty result (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty, "id_a", "id_b").count() == 0)
    graft.ops.ScratchCache.releaseAll()
  }

  test("connectedComponents refuses to return partially-propagated labels") {
    // a 6-node chain has diameter 5 > maxIter 2: must throw, not silently
    // split one true component into several "canonical" groups
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 2).collect()
    }
    assert(e.getMessage.contains("converge"))
    graft.ops.ScratchCache.releaseAll()
  }

  test("connectedComponents: chains, cycles, isolated pairs -> min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    graft.ops.ScratchCache.releaseAll()
  }

  test("hot-band skew guard: salted self-join output == plain join (forced low cap)") {
    // cap 2 marks the fixtures' band buckets hot, forcing the salted path
    // (side-a salt + side-b replication + explicit (key, salt)
    // repartition) — the pair sets must be EXACTLY the default-cap plan's
    // (which these fixtures run entirely cold), for minhash, simhash and
    // the band-index probe (a batch of one replica against the others).
    // Each salted task must build its hash table from side a: side b is
    // replicated once per salt, so a table built from it would hold the
    // whole hot bucket in every (key, salt) task. dupDocs' minhash buckets
    // hold ≤ 2 representatives once exact duplicates collapse, so that
    // run stays cold; the near-dup variants carry the salted self-join.
    val dir = java.nio.file.Files.createTempDirectory("graft-bandhot").toString
    val inBatch = $"doc_id".between(100000L, 199999L)
    val ref = graft.ops.BandIndex.build(dupDocs.filter(!inBatch),
      "doc_id", "text", dir)
    def frames() = Seq(
      ("minhash", false, Dedup.minhashDedupPairs(dupDocs, "doc_id", "text", 3, 0.8)),
      ("near-dup minhash", true,
        Dedup.minhashDedupPairs(nearDupDocs, "doc_id", "text", 3, 0.8)),
      ("simhash", true, Dedup.simhashPairs(dupDocs, "doc_id", "text", 3, 3)),
      ("probe", true, graft.ops.BandIndex.probe(spark, ref,
        dupDocs.filter(inBatch), "doc_id", "text", 0.8)))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    def replicates(p: SparkPlan) = p.exists {
      case g: GenerateExec => g.generatorOutput.exists(_.name == "_salt")
      case _ => false
    }
    val plain = frames().map(f => rows(f._3))
    graft.ops.ScratchCache.releaseAll()
    try Dedup.withHotBandCap(2) {
      for (((name, hot, df), want) <- frames().zip(plain)) {
        assert(want.nonEmpty, s"$name: fixture produced no pairs")
        assert(rows(df) == want, s"salted $name pairs diverge from plain join")
        val salted = df.queryExecution.sparkPlan.collect {
          case j: ShuffledHashJoinExec
              if j.leftKeys.exists(_.references.exists(_.name == "_salt")) => j
        }
        if (hot) assert(salted.nonEmpty, s"$name: no salted join under cap 2")
        for (j <- salted) {
          val (build, stream) =
            if (j.buildSide == BuildLeft) (j.left, j.right) else (j.right, j.left)
          assert(!replicates(build) && replicates(stream),
            s"$name: salted join builds from the replicated side\n$j")
        }
      }
    } finally graft.ops.ScratchCache.releaseAll()
  }

  test("connectedComponents scale regime: dst-partitioned edges + pointer jump " +
      "converge a long chain in O(log diameter) rounds") {
    // labelBroadcastMax = 0 forces the round-1 gate: edges re-cached
    // hash-partitioned on dst AND the pointer jump engaged — the regime a
    // 100 TB label table (too big to broadcast) would select. A 64-node
    // chain (diameter 63) cannot converge in 25 rounds by propagation
    // alone (needs 62); the jump must carry it, and labels must still be
    // exact min-ids.
    val chain = (1L to 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsWithBounds(chain, "id_a", "id_b",
        maxIter = 25, labelBroadcastMax = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 64 && got.forall(_._2 == 1L))
    graft.ops.ScratchCache.releaseAll()
  }

  test("connectedComponents forced scale regime: >= 3 rounds over cut generations " +
      "equal a union-find, no exchange on the dst-partitioned edge side") {
    import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // shuffled chains (ids out of chain order, so min labels travel far),
    // a cycle and isolated pairs
    val rnd = new scala.util.Random(41)
    val chainA = rnd.shuffle((1L to 40L).toList)
    val chainB = rnd.shuffle((100L to 130L).toList)
    val edgeList = chainA.zip(chainA.tail) ++ chainB.zip(chainB.tail) ++
      Seq((200L, 201L), (201L, 202L), (202L, 200L), (300L, 301L), (400L, 401L))
    val pairs = edgeList.toDF("id_a", "id_b")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edgeList.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val brute = parent.keys.map(id => id -> find(id)).toMap
    // every round's plan, as the cut of its generation executed it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // no broadcast at all: the round join must be a shuffled one, so only
    // the edges' kept partitioning can spare their side the exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = Dedup.connectedComponentsWithBounds(pairs, "id_a", "id_b",
          maxIter = 25, labelBroadcastMax = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == brute)
      def round(qe: QueryExecution): Option[Int] =
        qe.logical.collectFirst {
          case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
              if c.name.startsWith("cc_round_") => c.name.stripPrefix("cc_round_").toInt
        }
      val deadline = System.nanoTime() + 20L * 1000000000L
      def seen = plans.toArray(Array.empty[QueryExecution]).toSeq.flatMap(q => round(q).map(_ -> q))
      while (seen.map(_._1).distinct.size < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      val rounds = seen.toMap
      assert(rounds.size >= 3, s"rounds: ${rounds.keys}")
      // reaches the edge rows' scan through operators that keep rows where
      // they are: Some(true) with no exchange, Some(false) through one
      def edgeSide(p: SparkPlan, shuffled: Boolean): Option[Boolean] = p match {
        case s: RDDScanExec if s.output.map(_.name) == Seq("src", "dst") => Some(!shuffled)
        case _: BaseJoinExec => None
        case e: Exchange => edgeSide(e.child, shuffled = true)
        case other => other.children.iterator.map(edgeSide(_, shuffled)).collectFirst {
          case Some(v) => v
        }
      }
      for ((it, qe) <- rounds if it >= 1) {
        val initial = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        val joinSides = initial.collect { case j: BaseJoinExec => j }
          .flatMap(_.children.flatMap(edgeSide(_, shuffled = false)))
        assert(joinSides == Seq(true), s"round $it:\n$initial")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      graft.ops.ScratchCache.releaseAll()
    }
  }

  test("blockLocalComponents == iterative connectedComponents on blocked graphs") {
    // random block-confined edges (ids namespaced per block so blocks are
    // disjoint) — the union-find path must agree with label propagation
    val rnd = new scala.util.Random(29)
    val pairs = (1 to 400).map { _ =>
      val blk = rnd.nextInt(8)
      val x = blk * 1000L + rnd.nextInt(30)
      val y = blk * 1000L + rnd.nextInt(30)
      (s"b$blk", math.min(x, y), math.max(x, y) + 1) // +1 avoids self-loops
    }.toDF("blk", "id_a", "id_b")
    val viaBlocks = Dedup.blockLocalComponents(pairs, "blk", "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaIter = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaBlocks == viaIter)
    // long chain inside one block: diameter no longer costs rounds
    val chain = (1L to 500L).map(i => ("c", i, i + 1)).toDF("blk", "id_a", "id_b")
    val got = Dedup.blockLocalComponents(chain, "blk", "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 501 && got.forall(_._2 == 1L))
    graft.ops.ScratchCache.releaseAll()
  }

  test("dupCollapse mid (broadcast-semi) and degenerate regimes match the brute grouping") {
    import spark.implicits._
    // 3 hot hash groups (duplicate pairs) inside a majority-unique corpus:
    // nHot=3, nDocsHot=6, nDocs=14 — a MINORITY sliver, so the regime is
    // picked purely by the injected bounds (the production constants would
    // choose the bounded-collect regime; DedupSpec's other fixtures cover
    // that and the trivial/heavy regimes)
    val rows = Seq(
      (1L, "dup one"), (2L, "dup one"),
      (3L, "dup two"), (4L, "dup two"),
      (5L, "dup three"), (6L, "dup three")) ++
      (7L to 14L).map(i => (i, s"unique text number $i"))
    val df = rows.toDF("doc_id", "text")
    val expectGroups = rows.groupBy(_._2).map { case (t, ms) =>
      (t, ms.map(_._1).min, ms.size.toLong) }.toSet
    val expectMembers = rows.map { case (i, t) =>
      (rows.filter(_._2 == t).map(_._1).min, i) }.toSet
    def check(grouped: org.apache.spark.sql.DataFrame,
              members: org.apache.spark.sql.DataFrame): Unit = {
      assert(grouped.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet == expectGroups)
      assert(members.collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet == expectMembers)
    }
    // mid regime: hot count above the collect bound, under the broadcast
    // bound — the semi/anti split must be an EXPLICIT broadcast join
    val (g1, m1) = DupGroups.dupCollapseWithBounds(df, "doc_id", "text", 1L, 10L)
    val p1 = m1.queryExecution.executedPlan.toString
    assert(p1.contains("BroadcastHashJoin"), p1)
    check(g1, m1)
    graft.ops.ScratchCache.releaseAll()
    spark.catalog.clearCache()
    // degenerate corner: hot count above BOTH bounds yet a minority
    // sliver — one full-corpus window, NO join anywhere in the plan
    val (g2, m2) = DupGroups.dupCollapseWithBounds(df, "doc_id", "text", 1L, 2L)
    val p2 = m2.queryExecution.executedPlan.toString
    assert(p2.contains("Window") && !p2.toLowerCase.contains("join"), p2)
    check(g2, m2)
    graft.ops.ScratchCache.releaseAll()
    spark.catalog.clearCache()
  }

  test("near-dup vector collapse: InSet, broadcast and full-window regimes match the brute form") {
    // 4 of 40 vectors repeat (2 extra copies each): a MINORITY sliver
    // (12 of 48 rows), so the injected bounds alone pick the regime. The
    // fixture is a local relation: a union in it would blur the regime's
    // plan signature below
    val base = Tables.embeddings(spark, sfSmoke)
      .select($"vec_id", $"embedding").orderBy($"vec_id").limit(40).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val emb = (base ++ (1 to 2).flatMap(k =>
        base.take(4).map { case (i, v) => (i + k * 100000L, v) }))
      .toSeq.toDF("vec_id", "embedding")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val brute = Similarity.nearDupPairsBrute(emb, "vec_id", "embedding", 0.3)
      .collect().map(key).toSet
    assert(brute.count(_._3 == 1.0) >= 12, s"fixture thin: ${brute.size}")
    // (collect bound, broadcast bound) → what the members plan must show
    val regimes = Seq(
      ("InSet", (DupGroups.HotCollectMax, DupGroups.HotBroadcastMax),
        (p: String) => p.contains("Union") && !p.contains("Join")),
      ("broadcast", (1L, 10L),
        (p: String) => p.contains("Union") && p.contains("BroadcastHashJoin")),
      ("full window", (1L, 2L),
        (p: String) => p.contains("Window") && !p.contains("Union") && !p.contains("Join")))
    regimes.foreach { case (name, (c, b), shows) =>
      val (_, members) = DupGroups.dupCollapseWithBounds(emb, "vec_id", "embedding", c, b)
      val plan = members.queryExecution.executedPlan.toString
      assert(shows(plan), s"$name regime not taken:\n$plan")
      val pruned = DupGroups.withBounds(c, b) {
        Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.3)
      }.collect().map(key).toSet
      assert(pruned == brute, s"$name regime diverges from brute")
      graft.ops.ScratchCache.releaseAll()
    }
  }

  test("q211 on a corpus with ZERO truth pairs still reports block stats (completeness null, counts 0)") {
    import spark.implicits._
    // three docs with nothing in common: no 3-shingle is shared, so the
    // jaccard truth-pair set is empty and the LEFT join path must keep
    // every scheme row alive
    val dir = java.nio.file.Files.createTempDirectory("graft_q211_zero").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s1", 29L),
      (2L, "one two three four five six", "en", "s1", 27L),
      (3L, "rot grun blau gelb weiss", "de", "s2", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.DedupQueries.q211BlockingAudit(spark, dir)
      .collect()
    assert(out.length == 3, out.mkString("\n")) // all three schemes survive
    out.foreach { r =>
      assert(r.getAs[Long]("true_pairs") == 0L)
      assert(r.getAs[Long]("caught_pairs") == 0L)
      assert(r.isNullAt(r.fieldIndex("completeness")))
      assert(r.getAs[Long]("n_blocks") > 0L)
    }
    graft.ops.ScratchCache.releaseAll()
  }
}
