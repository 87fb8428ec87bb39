package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) as a
  * distributed operator — the tokenizer-training stage of an LLM data
  * pipeline.
  *
  * Trains on the WORD-FREQUENCY dictionary, not the raw corpus (the
  * published BPE regime): the corpus collapses to (word, count) — vocab-
  * sized, millions of rows at 100 TB, not trillions — and every merge
  * round is one pair-count aggregate over that dictionary plus a map-side
  * merge application. Driver state per round is exactly ONE row (the
  * argmax pair), the same bounded-collect discipline as ANN index
  * training.
  *
  * Merge semantics: greedy leftmost-first replacement of the chosen
  * adjacent symbol pair, ties on count broken by (left, right) symbol
  * order — fully deterministic.
  */
object BpeVocab {

  private[graft] def adjacentPairs(syms: Seq[String]): Seq[(String, String)] =
    if (syms.length < 2) Nil
    else syms.zip(syms.tail)

  /** Split a word into CODE-POINT symbols (a UTF-16 code-unit split would
    * shear non-BMP characters into lone surrogates, which Spark's
    * UTF8String round-trip replaces with U+FFFD — collapsing distinct
    * symbols and diverging from the local reference on multilingual
    * input).
    */
  private[graft] def toSymbols(w: String): Seq[String] = {
    val s = if (w == null) "" else w
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toSeq
  }

  /** UTF-8 binary order of the NUL-joined pair key — the SAME collation
    * Spark's string orderBy uses, so the local reference breaks count
    * ties identically to the distributed argmax even where UTF-16 and
    * UTF-8 orderings diverge (supplementary vs U+E000+ planes).
    */
  private def pairKeyLess(a: (String, String), b: (String, String)): Boolean = {
    val ka = (a._1 + "\u0000" + a._2).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val kb = (b._1 + "\u0000" + b._2).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(ka, kb) < 0
  }

  /** Greedy leftmost merge of (l, r) → l+r in one pass. */
  private[graft] def applyMerge(
      syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Reference single-machine trainer (spec twin of [[train]]). */
  private[graft] def trainLocal(
      wordCounts: Seq[(String, Long)],
      merges: Int): Seq[(Int, String, String, Long)] = {
    var state: Seq[(Seq[String], Long)] =
      wordCounts.map { case (w, c) => (toSymbols(w), c) }
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    while (step <= merges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (syms, c) =>
        adjacentPairs(syms).foreach(p =>
          counts.update(p, counts.getOrElse(p, 0L) + c))
      }
      if (counts.isEmpty) return rules.toSeq
      val ((l, r), c) = counts.toSeq.reduceLeft { (x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && pairKeyLess(y._1, x._1))) y else x
      }
      rules += ((step, l, r, c))
      state = state.map { case (syms, cnt) => (applyMerge(syms, l, r), cnt) }
      step += 1
    }
    rules.toSeq
  }

  /** Distributed training: `words` is a (wordCol, countCol) frequency
    * dictionary. Returns the merge-rule table (step, left, right, freq).
    */
  def train(
      spark: SparkSession,
      words: DataFrame,
      wordCol: String,
      countCol: String,
      merges: Int): DataFrame = {
    import spark.implicits._
    require(merges >= 1 && merges <= 1000, s"merges out of range: $merges")
    val toChars = udf { (w: String) => toSymbols(w) }
    var state = words
      .select(toChars(col(wordCol)).as("syms"),
        col(countCol).cast("long").as("cnt"))
      .localCheckpoint(true)
    val pairUdf = udf { (syms: Seq[String]) =>
      adjacentPairs(syms).map { case (a, b) => a + "\u0000" + b }
    }
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    // dictionary-derived loop partitioning (see [[Sizing]]): each round
    // is an explode+aggregate over the (small) word dictionary plus a
    // re-checkpoint; the count is cheap (state is checkpointed)
    val parts = Sizing.loopPartitions(state.count())
    while (step <= merges && !exhausted) {
      val top = state
        .select(explode(pairUdf(col("syms"))).as("p"), col("cnt"))
        .repartition(parts, col("p"))
        .groupBy("p").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("p").asc)
        .limit(1)
        .collect() // exactly one row — the argmax merge rule
      if (top.isEmpty) exhausted = true
      else {
        val Array(l, r) = top(0).getString(0).split("\u0000", 2)
        rules += ((step, l, r, top(0).getLong(1)))
        val mergeUdf = udf { (syms: Seq[String]) => applyMerge(syms, l, r) }
        val prev = state
        state = state.select(mergeUdf(col("syms")).as("syms"), col("cnt"))
          .localCheckpoint(true)
        prev.unpersist()
        step += 1
      }
    }
    state.unpersist()
    rules.toSeq.toDF("step", "left", "right", "freq")
  }
}
