package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{BpeVocab, CrossDedup, Packing, PhraseSearch, QualityClassifier, Sampling, Tokenize}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-round-6 training-pipeline operators: cross-corpus dedup
  * (admit a new batch against an existing corpus), model-based quality
  * scoring, positional phrase retrieval, per-source balancing caps,
  * and BPE tokenizer application. All but the BPE encode (iterative
  * merge application — not SQL-expressible) are oracle hash-checked.
  */
object PipelineQueries {

  /** The reference/incoming split shared by q135 and its oracle:
    * reference corpus = doc_id % 3 ≠ 0; incoming batch = doc_id % 3 = 0
    * plus exact copies of every 11th-keyed reference doc (re-keyed
    * +1,000,000) so the exact-dup path is actually exercised.
    */
  private def refAndIncoming(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 3 =!= 0)
    val inc = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(ref.filter(col("doc_id") % 11 === 1)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    (ref, inc)
  }

  /** q135 — cross-corpus dedup ([[CrossDedup.flagAgainst]]): each
    * incoming doc flagged for exact content duplication and md5-LSH
    * band collisions against the reference corpus.
    */
  def qCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val (ref, inc) = refAndIncoming(spark, dir)
    CrossDedup.flagAgainst(ref, inc, "doc_id", "text").orderBy("doc_id")
  }

  val qCrossDedupSql: String =
    s"""WITH refc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
       |inc AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM refc
       |  WHERE doc_id % 11 = 1),
       |input AS (
       |  SELECT doc_id, text FROM refc
       |  UNION ALL SELECT doc_id, text FROM inc),
       |${TextQueries.md5BandCtesSql("input")},
       |near AS (
       |  SELECT bi.doc_id, CAST(COUNT(DISTINCT br.doc_id) AS BIGINT) AS n_near
       |  FROM bands bi
       |  JOIN bands br ON bi.band = br.band AND bi.bv = br.bv
       |  JOIN inc i ON bi.doc_id = i.doc_id
       |  JOIN refc r ON br.doc_id = r.doc_id
       |  GROUP BY bi.doc_id),
       |ex AS (
       |  SELECT DISTINCT i.doc_id
       |  FROM inc i JOIN refc r ON md5(i.text) = md5(r.text))
       |SELECT i.doc_id,
       |  (e.doc_id IS NOT NULL) AS is_exact,
       |  COALESCE(n.n_near, 0) AS n_near,
       |  (e.doc_id IS NULL AND COALESCE(n.n_near, 0) = 0) AS keep
       |FROM inc i
       |LEFT JOIN ex e ON i.doc_id = e.doc_id
       |LEFT JOIN near n ON i.doc_id = n.doc_id
       |ORDER BY i.doc_id""".stripMargin

  /** q136 — hashing-trick linear quality classifier
    * ([[QualityClassifier]]): md5-60 feature buckets, deterministic
    * integer weights, score summed over token occurrences — the
    * fastText-style learned quality filter as one kernel pass.
    */
  def qClfScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), QualityClassifier.score(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("n_toks"), col("s._2").as("score"))
      .withColumn("keep", col("score") >= 0L)
      .orderBy("doc_id")

  val qClfScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents WHERE trim(text) <> ''),
      |scored AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |    CAST(SUM(
      |      ('0x' || substr(md5('w:' || CAST(
      |         ('0x' || substr(md5(term), 1, 15))::BIGINT % 64 AS VARCHAR)),
      |       1, 8))::BIGINT % 21 - 10) AS BIGINT) AS score
      |  FROM toks GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(s.n_toks, 0) AS n_toks,
      |  COALESCE(s.score, 0) AS score,
      |  COALESCE(s.score, 0) >= 0 AS keep
      |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q137 — positional phrase search ([[PhraseSearch]]): the corpus's
    * top-5 bigrams (count desc, gram asc — the data-dependent query
    * set, like q118's expanded vocabulary) located exactly via
    * adjacency-constrained posting intersection; per-doc occurrence
    * counts.
    */
  def qPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val phrases = docs
      .select(explode(wordNgramsKernel(col("text"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g").asc)
      .limit(5)
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .localCheckpoint(true) // 5 rows; referenced twice (vocab + join)
    PhraseSearch.phraseOccurrences(docs, "doc_id", "text", phrases)
      .orderBy("w1", "w2", "doc_id")
  }

  val qPhraseSearchSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(t) AS term,
      |         generate_subscripts(t, 1) AS pos
      |  FROM toks),
      |bi AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
      |    i -> array_to_string(t[i:i+1], ' '))) AS g
      |  FROM toks),
      |top5 AS (
      |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
      |  FROM (SELECT g, COUNT(*) AS c FROM bi GROUP BY g
      |        ORDER BY c DESC, g ASC LIMIT 5))
      |SELECT p.w1, p.w2, a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
      |FROM top5 p
      |JOIN pos a ON a.term = p.w1
      |JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |          AND b.term = p.w2
      |GROUP BY p.w1, p.w2, a.doc_id
      |ORDER BY p.w1, p.w2, a.doc_id""".stripMargin

  /** q138 — per-source balancing cap ([[Sampling.capPerGroup]]): at
    * most 20 docs per source in deterministic md5(doc_id) order; the
    * per-domain cap policy of pretraining mixes, reported as
    * per-source kept/total stats.
    */
  def qSourceCap(spark: SparkSession, dir: String): DataFrame =
    Sampling
      .capPerGroup(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", n = 20)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy("source")

  val qSourceCapSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS kept_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** q140 — token-budget mix allocation: the budget-constrained
    * companion of q57 (fixed-rate mixing) and q91 (temperature
    * rebalancing). A global token budget (20% of the corpus) is split
    * into uniform per-source targets; each source's keep rate is
    * `min(1, target / source_tokens)` and docs are admitted by the
    * md5-52-bit uniform draw — IEEE-exact arithmetic in a pinned
    * evaluation order, so the oracle reproduces every admission
    * decision bit-for-bit. Scale shape: one stats aggregate (20 rows,
    * broadcast back) + one map-side admission pass + one final
    * aggregate; nothing corpus-sized shuffles.
    */
  /** Shared q140/q143 prelude: per-doc token counts, materialized
    * per-source totals, and the grand totals — one corpus tokenize
    * pass for every consumer (the source frame is 20 rows,
    * localCheckpointed so the totals chain and the admission joins
    * don't each re-plan the aggregate lineage).
    */
  private def docsSrcTotals(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
    val src = docs.groupBy("source")
      .agg(sum("n_toks").as("src_tokens"))
      .localCheckpoint(true)
    val totals = src.agg(sum("src_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    (docs, src, totals)
  }

  /** SQL twin of [[docsSrcTotals]] (the d/src/tot CTEs the q140/q143
    * oracles share).
    */
  private val mixCtesSql: String =
    """d AS (
      |  SELECT doc_id, source,
      |    CASE WHEN trim(text) = '' THEN 0
      |         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |    END AS n_toks
      |  FROM documents),
      |src AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_tokens
      |        FROM d GROUP BY source),
      |tot AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
      |               CAST(COUNT(*) AS BIGINT) AS n_sources FROM src)""".stripMargin

  def qBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val (docs, src, totals) = docsSrcTotals(spark, dir)
    docs
      .join(broadcast(src), Seq("source"))
      .crossJoin(broadcast(totals))
      // an all-empty source has nothing to admit; rate 1.0 keeps the
      // division defined and both engines agree (its kept_tokens is 0
      // either way)
      .withColumn("rate",
        when(col("src_tokens") === 0L, lit(1.0))
          .otherwise(least(lit(1.0),
            expr("total_tokens div 5").cast("double")
              / col("n_sources").cast("double")
              / col("src_tokens").cast("double"))))
      .withColumn("kept",
        Sampling.hashUniform(col("doc_id"), "mix") < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        first("src_tokens").as("src_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  val qBudgetMixSql: String =
    s"""WITH $mixCtesSql,
      |rated AS (
      |  SELECT d.doc_id, d.source, d.n_toks, s.src_tokens,
      |    CASE WHEN s.src_tokens = 0 THEN 1.0
      |         ELSE least(1.0, CAST(t.total_tokens // 5 AS DOUBLE)
      |           / CAST(t.n_sources AS DOUBLE)
      |           / CAST(s.src_tokens AS DOUBLE))
      |    END AS rate,
      |    (('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 13))
      |       ::BIGINT + 1.0) / 4503599627370496.0 AS u
      |  FROM d JOIN src s ON d.source = s.source CROSS JOIN tot t)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  ANY_VALUE(src_tokens) AS src_tokens,
      |  CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |  CAST(SUM(CASE WHEN u < rate THEN n_toks ELSE 0 END) AS BIGINT)
      |    AS kept_tokens
      |FROM rated GROUP BY source ORDER BY source""".stripMargin

  /** q141 — fixed-width histograms per event type: 16 equi-width
    * buckets between the type's min and max. The mergeable fixed-memory
    * profile (two aggregates + a broadcast bounds join) that replaces
    * the exact-percentile sort (q67) at 100 TB; bucket arithmetic is
    * IEEE-exact in a pinned order so counts hash-match.
    */
  def qHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val bounds = ev.groupBy("event_type")
      .agg(min("value").as("vmin"), max("value").as("vmax"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("bucket",
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(lit(15L),
            floor((col("value") - col("vmin")) * lit(16.0)
              / (col("vmax") - col("vmin"))))))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")
  }

  val qHistogramSql: String =
    """WITH ev AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |b AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      |      FROM ev GROUP BY event_type)
      |SELECT ev.event_type,
      |  CASE WHEN b.vmax = b.vmin THEN 0
      |       ELSE least(15, CAST(floor((ev.value - b.vmin) * 16.0
      |                                 / (b.vmax - b.vmin)) AS BIGINT))
      |  END AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM ev JOIN b USING (event_type)
      |GROUP BY ev.event_type, bucket
      |ORDER BY ev.event_type, bucket""".stripMargin

  /** q143 — per-source epoch upsampling: the OVERSAMPLING half of mix
    * allocation (q140 is the cap half). Each source gets
    * `clamp(ceil(target / source_tokens), 1, 4)` training epochs
    * toward a uniform per-source token target (3× the mean here so the
    * clamp is exercised), and every doc is emitted once per epoch —
    * the "epochs over small high-quality sources" knob of pretraining
    * mixes. Integer arithmetic only (ceil division as
    * `(a + b − 1) div b`), so the emitted stream is oracle-exact.
    * Scale shape: the epoch table is source-cardinality (broadcast);
    * emission is a map-side `explode(sequence(...))` — no shuffle
    * beyond the final presentation sort.
    */
  def qSourceEpochs(spark: SparkSession, dir: String): DataFrame = {
    val (docs, src, totals) = docsSrcTotals(spark, dir)
    val epochTable = src.crossJoin(broadcast(totals))
      .withColumn("target", expr("(3 * total_tokens) div n_sources"))
      // an all-empty source contributes no tokens at any epoch count;
      // 1 keeps the ceil division defined identically in both engines
      .withColumn("epochs",
        when(col("src_tokens") === 0L, lit(1L))
          .otherwise(least(lit(4L), greatest(lit(1L),
            expr("(target + src_tokens - 1) div src_tokens")))))
      .select("source", "epochs")
    docs
      .join(broadcast(epochTable), Seq("source"))
      .withColumn("epoch", explode(sequence(lit(1L), col("epochs"))))
      .select("doc_id", "source", "epoch", "n_toks")
      .orderBy("doc_id", "epoch")
  }

  val qSourceEpochsSql: String =
    s"""WITH $mixCtesSql,
      |et AS (
      |  SELECT source,
      |    CASE WHEN s.src_tokens = 0 THEN 1
      |         ELSE least(4, greatest(1,
      |           (((3 * t.total_tokens) // t.n_sources) + s.src_tokens - 1)
      |             // s.src_tokens))
      |    END AS epochs
      |  FROM src s CROSS JOIN tot t)
      |SELECT d.doc_id, d.source,
      |  CAST(unnest(range(1, e.epochs + 1)) AS BIGINT) AS epoch,
      |  d.n_toks
      |FROM d JOIN et e ON d.source = e.source
      |ORDER BY d.doc_id, epoch""".stripMargin

  /** q139 — BPE tokenizer application ([[Tokenize]]): train 8 merges
    * on the corpus word dictionary (the q127 path), then encode every
    * document and report word/token counts. No oracle: encoding is an
    * iterative merge loop (rows-only gate); TokenizeSpec pins
    * encode == training's final symbol state on the real dictionary,
    * plus losslessness (concat(tokens) == word).
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val rules = BpeVocab.train(spark, words, "w", "cnt", merges = 8)
      .orderBy("step")
      .collect() // bounded: exactly `merges` rows
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    val enc = Tokenize.encodeCountsUdf(rules)
    // spread before the per-doc encode kernel (guide §2.5: the bench
    // corpus is one unsplittable file; no-op on a well-split source)
    Tables.spread(docs)
      .select(col("doc_id"), enc(col("text")).as("e"))
      .select(col("doc_id"), col("e._1").as("n_words"),
        col("e._2").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** q178 — training-shard layout ([[Sampling.trainShards]]): the
    * corpus in a deterministic md5-keyed global shuffle, cut into
    * 128-row shards with in-shard positions — the reproducible
    * data-order manifest a trainer consumes (re-runs and resumes see
    * byte-identical order; the md5 key is uniform, so shards are
    * balanced regardless of id-space skew). Global rank via
    * range-sort + zipWithIndex, never a single-partition window; the
    * oracle reproduces it as ROW_NUMBER over the same md5 order.
    */
  def qTrainShards(spark: SparkSession, dir: String): DataFrame =
    Sampling
      .trainShards(Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", seed = "sh1", shardSize = 128L)
      .select("doc_id", "shard", "pos_in_shard")

  val qTrainShardsSql: String =
    """WITH ranked AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (
      |      ORDER BY md5('sh1:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      - 1 AS idx
      |  FROM documents)
      |SELECT doc_id, idx // 128 AS shard, idx % 128 AS pos_in_shard
      |FROM ranked""".stripMargin

  /** q181 — sequence packing ([[Packing.packSequences]]): lay the
    * corpus out in md5-seeded order, append one EOS per doc, cut every
    * 2048 tokens; per doc the global token offset and the sequence span
    * it occupies. Offsets come from the two-pass distributed prefix
    * sum (never a single-partition window); the oracle reproduces them
    * as an exclusive window cumsum over the same md5 order.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    Packing
      .packSequences(
        Tables.documents(spark, dir)
          .select(col("doc_id"), tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", seqLen = 2048L, seed = "pk1")
      .select("doc_id", "tok_offset", "seq_start", "seq_end", "n_seqs")

  private val packedSqlCte: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    COALESCE(CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END, 0)
      |      AS n_tok
      |  FROM documents),
      |weighted AS (
      |  SELECT doc_id, n_tok + 1 AS w,
      |    md5('pk1:' || CAST(doc_id AS VARCHAR)) AS k
      |  FROM toks),
      |packed AS (
      |  SELECT doc_id, w,
      |    CAST(COALESCE(SUM(w) OVER (ORDER BY k, doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS tok_offset
      |  FROM weighted)""".stripMargin

  val qPackSequencesSql: String =
    packedSqlCte + "\n" +
      """SELECT doc_id, tok_offset,
        |  tok_offset // 2048 AS seq_start,
        |  (tok_offset + w - 1) // 2048 AS seq_end,
        |  (tok_offset + w - 1) // 2048 - tok_offset // 2048 + 1
        |    AS n_seqs
        |FROM packed""".stripMargin

  /** q182 — per-sequence packing stats ([[Packing.sequenceStats]]):
    * docs touching each 2048-token sequence and docs ENDING in it (the
    * attention-reset points a packed loader masks on). The explode
    * fan-out is ceil(w/2048)+1 rows per doc; the only shuffle is the
    * final groupBy(seq).
    */
  def qPackStats(spark: SparkSession, dir: String): DataFrame =
    Packing.sequenceStats(qPackSequences(spark, dir))

  val qPackStatsSql: String =
    packedSqlCte + "\n" +
      """, spans AS (
        |  SELECT doc_id,
        |    (tok_offset + w - 1) // 2048 AS seq_end,
        |    unnest(range(tok_offset // 2048,
        |                 (tok_offset + w - 1) // 2048 + 1)) AS seq
        |  FROM packed)
        |SELECT seq, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN seq = seq_end THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_doc_ends
        |FROM spans GROUP BY seq""".stripMargin
}
