package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer TRAINING — the learn
  * side of the q119 merge-candidate report: iteratively merge the most
  * frequent adjacent symbol pair across the corpus (Sennrich et al.
  * 2016, word-level with an end-of-word marker).
  *
  * Scale shape: the corpus is scanned ONCE into a (word, freq) table —
  * every iteration after that runs over the |word-vocab|-sized symbol
  * table (pair explode → one hash aggregation → TakeOrdered(1) argmax →
  * map-applied merge), never the corpus. Each round cuts the new
  * generation (`ScratchCache.cut`) and frees the old one: iterative
  * lineage is NOT optional hygiene here — without truncation the logical
  * plan doubles per merge and the driver OOMs composing it long before
  * data size matters (measured: heap exhaustion just RENDERING the plan
  * string at ~20 unchecked rounds).
  *
  * Determinism: the argmax tie-break is (count DESC, left symbol ASC,
  * right symbol ASC), so the merge sequence is reproducible run-to-run
  * and engine-to-reference (BpeSpec pins it against an independent
  * in-memory reimplementation).
  */
object BpeTrainer {

  /** End-of-word marker appended to every word's symbol sequence so
    * suffix merges ("ing_") stay distinct from infix ones ("ing"). */
  val Eow = "_"

  private[graft] def applyMerge(s0: Seq[String], a: String,
                                b: String): Seq[String] = {
    val s = s0.toIndexedSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += s(i); i += 1 }
    }
    out.toSeq
  }

  /** Learn `nMerges` merges from the corpus; returns them in rank order
    * (possibly fewer if the pair stream dries up). */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
    // each generation is a ScratchCache cut (freed when superseded, and
    // on release if the loop throws)
    def cut(ds: Dataset[(Seq[String], Long)]) =
      ScratchCache.cut(ds.toDF()).as[(Seq[String], Long)]
    var syms = cut(words
      .map { case (w, f) => ((w.map(_.toString) :+ Eow): Seq[String], f) })
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val top = syms
        .flatMap { case (s, f) =>
          s.sliding(2).collect { case Seq(x, y) => (x, y, f) }
        }
        .toDF("a", "b", "f")
        .groupBy($"a", $"b").agg(sum($"f").as("c"))
        .orderBy($"c".desc, $"a", $"b")
        .limit(1).as[(String, String, Long)]
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, _) = top.head
        merges += ((a, b))
        val next = cut(syms.map { case (s, f) => (applyMerge(s, a, b), f) })
        ScratchCache.free(syms)
        syms = next
      }
    }
    ScratchCache.free(syms)
    merges.toSeq
  }

  /** Tokenize one word with a learned merge table: repeatedly apply the
    * LOWEST-RANK applicable merge (the standard greedy BPE encoder). */
  def encodeWord(w: String, merges: Seq[(String, String)]): Seq[String] = {
    val rank = merges.zipWithIndex.toMap
    var s: Seq[String] = w.map(_.toString) :+ Eow
    var continue = true
    while (continue && s.length > 1) {
      val best = s.sliding(2).collect { case Seq(x, y) => (x, y) }
        .filter(rank.contains).minByOption(p => rank(p))
      best match {
        case Some((a, b)) => s = applyMerge(s, a, b)
        case None => continue = false
      }
    }
    s
  }
}
