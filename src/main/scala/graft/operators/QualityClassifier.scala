package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Model-based document quality scoring with the hashing trick — the
  * fastText-classifier stage of a pretraining data pipeline (the
  * learned complement to the rule battery in [[QualityRules]]): each
  * token hashes into a fixed-width feature space and the document's
  * score is the sum of the bucket weights, i.e. a linear text
  * classifier applied at corpus scale.
  *
  * Everything is integer-exact so the verdict is oracle-checkable:
  *  - feature bucket = md5-60(token) mod `dim` (the engine-wide md5-60
  *    convention: first 15 hex chars of `md5(token)` as a long);
  *  - bucket weight  = (first 8 hex chars of `md5("w:" + bucket)`
  *    as a long) mod 21 − 10, i.e. a deterministic pseudo-trained
  *    weight in [−10, 10] — in production the array is a trained
  *    model's weights, broadcast the same way;
  *  - score = Σ over TOKEN OCCURRENCES (a linear model is
  *    multiplicity-sensitive), keep = score ≥ 0.
  *
  * Scale shape: one kernel pass per document, weights in the closure
  * (`dim` longs — a real model is a few MB, still broadcast-sized),
  * ZERO shuffle. The explode-tokens → join-weights → re-aggregate form
  * shuffles every token of the corpus to rebuild rows that this kernel
  * never takes apart.
  */
object QualityClassifier {

  /** Feature-space width. Small here so bucket collisions actually
    * occur at test scale; the formula is width-agnostic.
    */
  val Dim = 64

  private def md5 = java.security.MessageDigest.getInstance("MD5")

  /** The deterministic weight vector (exposed for the spec and the
    * oracle-generation doc): weight(b) = the first 32 bits of
    * md5("w:" + b), mod 21, minus 10.
    */
  private[graft] lazy val weights: Array[Long] = {
    val m = md5
    Array.tabulate(Dim) { b =>
      m.reset()
      val d = m.digest(("w:" + b).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      TextFunctions.md5Bits(d, 32) % 21L - 10L
    }
  }

  /** (n_toks, score) per document in one kernel pass. */
  val scoreUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val toks = TextFunctions.tokensLocal(text)
      val w = weights
      val m = md5
      var score = 0L
      var i = 0
      while (i < toks.length) {
        m.reset()
        val d = m.digest(
          toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        score += w((TextFunctions.md5Bits(d, 60) % Dim).toInt)
        i += 1
      }
      (toks.length.toLong, score)
    }

  def score(text: Column): Column = scoreUdf(text)
}
