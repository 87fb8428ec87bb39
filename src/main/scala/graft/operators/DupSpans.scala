package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document duplicated-span removal accounting — the removal
  * operation of Lee et al., "Deduplicating Training Data Makes Language
  * Models Better" (arXiv:2107.06499): any word n-gram appearing in ≥2
  * distinct documents marks its whole token window for removal, and a
  * token survives only if NO duplicated window covers it.
  *
  * Differs from [[graft.queries.CorpusQueries.qSubstrDedup]] (q68),
  * which profiles gram-level duplication counts: here overlapping
  * duplicated windows are union-ed into token intervals, giving the
  * exact token count a span-removal pass would delete.
  *
  * Scale shape (3 narrow shuffles, no driver state):
  *   1. positional grams hashed per doc in one kernel pass (md5-60
  *      family), posexplode carries (doc_id, pos, hash) only — never
  *      the text;
  *   2. distinct (doc, hash) → per-hash distinct-doc counts (map-side
  *      combinable) → the duplicated-hash set;
  *   3. semi-join the positions against that set on the hash, then one
  *      groupBy doc to union the covered intervals — per-doc work
  *      bounded by document length.
  */
object DupSpans {

  /** Per-document span-removal stats over word `n`-grams of `textCol`:
    * `n_tokens`, `n_dup_tokens` (tokens covered by ≥1 cross-doc
    * duplicated n-gram window), and `keep_ratio`. Documents with no
    * duplicated spans (or no tokens) keep ratio 1.0.
    */
  def dupSpanStats(
      docs: DataFrame,
      idCol: String,
      textCol: Column,
      n: Int): DataFrame = {
    // One tokenizer on both sides: n_tokens counts the `tokens`
    // expression, and md5Grams60Udf builds its grams from tokensLocal,
    // the expression's JVM twin. Docs shorter than n yield one
    // whole-text gram at pos 0; empty text yields one "" gram whose
    // window is filtered out below by `pos < n_tokens` (n_tokens = 0).
    val nTokens = when(textCol.isNull, lit(0L))
      .otherwise(TextFunctions.tokenCount(textCol))
      .as("n_tokens")
    val base = docs.select(col(idCol), nTokens, textCol.as("text"))

    val grams = base.select(
      col(idCol),
      col("n_tokens"),
      posexplode(TextFunctions.md5Grams60Udf(col("text"), lit(n))))
      .toDF(idCol, "n_tokens", "pos", "h")

    val dupHashes = grams
      .select(col(idCol), col("h"))
      .distinct()
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("h")

    val covered = grams
      .join(dupHashes, "h")
      .groupBy(col(idCol))
      .agg(
        max(col("n_tokens")).as("nt"),
        collect_set(col("pos")).as("starts"))
      .select(
        col(idCol),
        size(
          filter(
            array_distinct(flatten(transform(col("starts"),
              s => sequence(s, s + lit(n - 1))))),
            p => p < col("nt"))
        ).cast("long").as("n_dup_tokens"))

    base
      .select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn(
        "keep_ratio",
        when(col("n_tokens") > 0,
          (col("n_tokens") - col("n_dup_tokens")).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(1.0)))
  }
}
