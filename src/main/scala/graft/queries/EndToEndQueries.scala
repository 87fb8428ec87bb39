package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{normalizeText, tokenCount, tokens}
import graft.operators.{Decontaminate, GraphOps, Packing, QualityRules,
  Sampling}
import graft.tables.Tables
import TextQueries.{componentsCtesSql, gramsSql, idCopiesSql, md5CandCtesSql,
  tokensSql}

/** q195 — the END-TO-END curation pipeline as ONE registered query: the
  * composition a real pretraining run executes, chaining seven stages
  * that are each individually oracle-exact (q115/q119/q22/q38/q54/q140/
  * q181/q178) into a single dataflow whose FULL result is hash-checked
  * against a DuckDB oracle that recomputes every stage. What this gate
  * proves that the per-stage gates can't: the column contracts, null
  * flows, and determinism ACROSS stage boundaries — the survivors of
  * stage N are exactly what stage N+1 consumes, on both engines.
  *
  * Chain (reference: cumulus-etl runs the same shape for its note
  * pipeline — select → scrub → dedup → group → write,
  * `etl/pipeline.py`; this is the training-corpus analog):
  *   1. normalize   — NFC, strip C0/DEL, lowercase, collapse ws (q115)
  *   2. quality     — Gopher rule battery, integer-exact keep (q119)
  *   3. exact dedup — min-id survivor per md5(norm text) (q22)
  *   4. near dedup  — md5-minhash → banded star edges → connected
  *                    components → min-id survivor (q38)
  *   5. decontam    — drop docs sharing any 5-gram with the benchmark
  *                    prefix set (q54)
  *   6. budget mix  — per-source admission cap, deterministic
  *                    md5-uniform (q140)
  *   7. pack+shard  — token-offset packing at 2048 and 128-row shard
  *                    layout over the admitted stream (q181 + q178)
  *
  * Near-dup structure: every 7th doc gets a +1M-id copy with one
  * appended token — the copy survives EXACT dedup (different bytes)
  * and must be caught by the minhash stage, so the chain's interior is
  * actually exercised, not passed through.
  *
  * Scale shape: stages 1–2 are map-only kernel projections fused into
  * the scan; stage 3 is one hash aggregate + semi-join; stage 4 is the
  * q38 star-edge pipeline (banding shuffle ∝ corpus, edges m−1 per
  * bucket); stage 5 is a broadcast gram map (no shuffle); stage 6 is a
  * broadcast dim join; stages 7–8 are one range-sort each. Stage
  * boundaries that feed multiple consumers are localCheckpoint'ed —
  * the in-memory stand-in for the parquet handoff a nightly pipeline
  * would write between stages anyway.
  */
object EndToEndQueries {

  /** Same corpus stopword list the q119 gate uses (CurationQueries). */
  private val Stop =
    Seq("the", "a", "and", "of", "to", "data", "value", "table")

  def qCurationE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    // near-dup (not exact-dup) copies: one appended token defeats the
    // exact stage, minhash banding must catch it. Spread before the
    // NFC/stats kernels — the bench corpus is one unsplittable file
    // (guide §2.5), and stages 1–2 are the chain's per-row-heaviest.
    // The +1M copy-offset convention assumes BASE ids stay below 1M
    // (ADVICE r9: ids ≥ 1M would collide copies with real docs and
    // silently break the bench-set exclusion) — observed for free on
    // the base branch as the first checkpoint materializes.
    val idObs = org.apache.spark.sql.Observation()
    val input = Tables.spread(
      docs.observe(idObs, max(col("doc_id")).as("max_base_id"))
        .unionByName(
          docs.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"),
              col("source"), concat(col("text"), lit(" qq")).as("text"))))

    // 1+2: normalize then quality-gate; checkpoint the survivor set
    // (the exact-dedup stage references it twice: aggregate + semi-join)
    val norm = input.select(col("doc_id"), col("source"),
      normalizeText(col("text")).as("text"))
    val quality = QualityRules
      .withQualityRules(norm, "text",
        minWords = 30L, maxWords = 100000L, stopwords = Stop)
      .filter(col("keep"))
      .select("doc_id", "source", "text")
      .localCheckpoint(true)
    // the observation fired while `quality` materialized (the union's
    // base branch flows through it); fail loudly on a collision-prone
    // corpus instead of silently misclassifying copies
    require(Option(idObs.get("max_base_id")).forall(
      _.asInstanceOf[Long] < 1000000L),
      "qCurationE2e: base doc_ids must stay below the 1M copy offset")

    // 3: exact dedup — min-id survivor per content hash
    val exKeep = quality.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val exd = quality
      .join(exKeep.select("doc_id"), Seq("doc_id"), "left_semi")
      .localCheckpoint(true) // feeds sigs, CC nodes, survivor join, decontam

    // 4: near dedup — the q38 pipeline over the exact survivors
    val comps = GraphOps.connectedComponents(spark,
      TextQueries.bandStarEdges(TextQueries.md5Sigs(exd)), "id_a", "id_b",
      nodes = Some(exd.select(col("doc_id"))))
    val nd = exd.join(
      GraphOps.dedupGroups(comps).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

    // 5: decontaminate — benchmark = 60% token prefix of every 97th
    // ORIGINAL doc (normalized; copies excluded from the bench set),
    // the q54 convention. Any shared distinct 5-gram disqualifies.
    val tks = tokens(col("text"))
    val bench = norm
      .filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000000L)
      .select(col("doc_id").as("bench_id"),
        concat_ws(" ", slice(tks, lit(1),
          greatest(floor(size(tks) * 0.6), lit(1)).cast("int"))).as("text"))
    val dirty = Decontaminate
      .contaminationReport(nd, "doc_id", "text", bench, "bench_id", "text",
        n = 5)
      .select("doc_id")
    val clean = nd.join(dirty, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).as("n_toks"))
      .localCheckpoint(true) // feeds source totals, mix, pack, shards

    // 6: budget mix — q140's cap rule over the SURVIVING corpus
    val src = clean.groupBy("source").agg(sum("n_toks").as("src_tokens"))
    val totals = src.agg(sum("src_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val admitted = clean
      .join(broadcast(src), Seq("source"))
      .crossJoin(broadcast(totals))
      .withColumn("rate",
        when(col("src_tokens") === 0L, lit(1.0))
          .otherwise(least(lit(1.0),
            expr("total_tokens div 5").cast("double")
              / col("n_sources").cast("double")
              / col("src_tokens").cast("double"))))
      .filter(Sampling.hashUniform(col("doc_id"), "mix") < col("rate"))
      .select("doc_id", "source", "n_toks")

    // 7+8: pack the admitted stream at 2048 tokens (+1 EOS per doc) and
    // lay out 128-row training shards; one manifest row per admitted doc
    val packed = Packing
      .packSequences(admitted, "doc_id", "n_toks", seqLen = 2048L,
        seed = "pk1")
      .select("doc_id", "source", "n_toks", "tok_offset", "seq_start",
        "seq_end", "n_seqs")
    val sharded = Sampling
      .trainShards(admitted.select(col("doc_id")), "doc_id", seed = "sh1",
        shardSize = 128L)
      .select("doc_id", "shard", "pos_in_shard")
    packed.join(sharded, Seq("doc_id"))
  }

  /** Full-recompute oracle: every stage re-expressed in DuckDB SQL,
    * reusing the exact per-stage formulas the q115/q119/q38/q54/q140/
    * q181/q178 oracles already hash-match.
    */
  val qCurationE2eSql: String = {
    val stopCases = Stop.map(w =>
      s"(CASE WHEN regexp_matches(text, '\\b$w\\b') THEN 1 ELSE 0 END)")
      .mkString("\n      |    + ")
    val input = idCopiesSql("documents", "source, text", 7,
      copyCols = Some("source, text || ' qq' AS text"))
    s"""WITH RECURSIVE input AS ($input),
      |norm AS (
      |  SELECT doc_id, source,
      |    trim(regexp_replace(lower(regexp_replace(nfc_normalize(text),
      |      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')),
      |      '\\s+', ' ', 'g')) AS text
      |  FROM input),
      |qm AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(${tokensSql("text")}) AS BIGINT) AS n_words,
      |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
      |      AS word_chars,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |       + len(regexp_extract_all(text, '\\.\\.\\.'))
      |       + length(text) - length(replace(text, '…', '')) AS BIGINT)
      |      AS n_sym,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |         l -> regexp_matches(l, '^[ \\t\\r]*[-*•]'))) AS BIGINT)
      |      AS n_bullet,
      |    CAST(len(list_filter(string_split(text, chr(10)),
      |         l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t\\r]*$$'))) AS BIGINT)
      |      AS n_ellip,
      |    CAST($stopCases AS BIGINT) AS n_stop
      |  FROM norm),
      |qk AS (
      |  SELECT doc_id, source, text, n_words FROM qm
      |  WHERE n_words >= 30 AND n_words <= 100000
      |    AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
      |    AND 10 * n_sym <= n_words
      |    AND 10 * n_bullet <= 9 * n_lines
      |    AND 10 * n_ellip <= 3 * n_lines
      |    AND n_stop >= 2),
      |ex AS (SELECT MIN(doc_id) AS doc_id FROM qk GROUP BY md5(text)),
      |exd AS (SELECT qk.* FROM qk JOIN ex USING (doc_id)),
      |${md5CandCtesSql("exd")},
      |${componentsCtesSql("cand", "exd")},
      |ndk AS (SELECT MIN(id) AS doc_id FROM comps GROUP BY component),
      |nd AS (SELECT exd.* FROM exd JOIN ndk USING (doc_id)),
      |bench AS (
      |  SELECT tk[1:CAST(greatest(floor(len(tk) * 0.6), 1) AS INT)] AS p
      |  FROM (SELECT ${tokensSql("text")} AS tk
      |        FROM norm WHERE doc_id % 97 = 0 AND doc_id < 1000000)),
      |bgrams AS (
      |  SELECT DISTINCT g FROM (
      |    SELECT unnest(${gramsSql("p", 5)}) AS g FROM bench)),
      |cgrams AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(${gramsSql("tk", 5)}) AS g
      |    FROM (SELECT doc_id, ${tokensSql("text")} AS tk FROM nd))),
      |dirty AS (SELECT DISTINCT doc_id FROM cgrams JOIN bgrams USING (g)),
      |clean AS (
      |  SELECT doc_id, source, n_words AS n_toks FROM nd
      |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
      |srcs AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_tokens
      |         FROM clean GROUP BY source),
      |tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
      |               CAST(COUNT(*) AS BIGINT) AS n_sources FROM srcs),
      |admitted AS (
      |  SELECT c.doc_id, c.source, c.n_toks
      |  FROM clean c JOIN srcs s USING (source) CROSS JOIN tot t
      |  WHERE (('0x' || substr(md5('mix:' || CAST(c.doc_id AS VARCHAR)),
      |           1, 13))::BIGINT + 1.0) / 4503599627370496.0
      |    < CASE WHEN s.src_tokens = 0 THEN 1.0
      |           ELSE least(1.0, CAST(t.total_tokens // 5 AS DOUBLE)
      |             / CAST(t.n_sources AS DOUBLE)
      |             / CAST(s.src_tokens AS DOUBLE)) END),
      |weighted AS (
      |  SELECT doc_id, source, n_toks, n_toks + 1 AS w,
      |    md5('pk1:' || CAST(doc_id AS VARCHAR)) AS pk
      |  FROM admitted),
      |packed AS (
      |  SELECT doc_id, source, n_toks, w,
      |    CAST(COALESCE(SUM(w) OVER (ORDER BY pk, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS tok_offset
      |  FROM weighted),
      |sharded AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (
      |      ORDER BY md5('sh1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      - 1 AS idx
      |  FROM admitted)
      |SELECT p.doc_id, p.source, p.n_toks, p.tok_offset,
      |  p.tok_offset // 2048 AS seq_start,
      |  (p.tok_offset + p.w - 1) // 2048 AS seq_end,
      |  (p.tok_offset + p.w - 1) // 2048 - p.tok_offset // 2048 + 1
      |    AS n_seqs,
      |  s.idx // 128 AS shard, s.idx % 128 AS pos_in_shard
      |FROM packed p JOIN sharded s USING (doc_id)""".stripMargin
  }
}
