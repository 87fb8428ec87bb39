package graft.queries

import graft.functions.TextFunctions._
import graft.operators.NearDedup
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators over the `documents` table
  * (SURVEY §7.5: token counting, quality scoring, fingerprinting,
  * exact + near dedup).
  */
object TextQueries {

  // ---- DuckDB oracle fragments of the near-dup family --------------------
  // Each text-dedup building block is written once, as SQL over a named
  // input relation, and the oracle statements are built from them: the
  // tokenizer, the gram builder, docs ∪ copies, the md5-minhash
  // signature, its band table and candidate pairs, and the recursive-CTE
  // connected components. A fix to one rule lands in every oracle.

  /** DuckDB twin of [[tokens]] over the text expression `text`. */
  private[queries] def tokensSql(text: String): String =
    s"string_split_regex(trim($text), '\\s+')"

  /** DuckDB twin of [[graft.functions.TextFunctions.gramsOf]]: the
    * positional word `n`-grams of the token list `t`.
    */
  private[queries] def gramsSql(t: String, n: Int): String =
    s"list_transform(range(1, greatest(len($t) - ${n - 1}, 1) + 1), " +
      s"i -> array_to_string($t[i:i+${n - 1}], ' '))"

  /** `from` ∪ a copy of its every `mod`-th row at doc_id + 1,000,000:
    * the SQL twin of [[Tables.withIdCopies]]. `cols` are the non-id
    * columns; `copyCols`, when given, replaces them in the copy.
    */
  private[queries] def idCopiesSql(from: String, cols: String, mod: Int,
      copyCols: Option[String] = None): String =
    s"""SELECT doc_id, $cols FROM $from
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, ${copyCols.getOrElse(cols)}
       |  FROM $from WHERE doc_id % $mod = 0""".stripMargin

  /** The non-id columns of `documents`, in table order. */
  private val DocCols = "text, lang, source, n_chars"

  /** `toks(doc_id, t)` and `g(doc_id, grams)`: the tokens and the
    * distinct word 3-gram set of each row of `from`.
    */
  private[queries] def gramSetCtesSql(from: String): String =
    s"""toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM $from),
       |g AS (
       |  SELECT doc_id, list_distinct(${gramsSql("t", 3)}) AS grams
       |  FROM toks)""".stripMargin

  /** [[gramSetCtesSql]] + `sigs(doc_id, sig)`: THE md5-minhash signature
    * convention, seed s's minimum of `md5('s:' || gram)` over the gram
    * set ([[md5MinHash8Udf]]).
    */
  private[queries] def md5SigCtesSql(from: String): String = {
    val mins = (0 until 8).map { s =>
      s"list_min(list_transform(grams, x -> md5('$s:' || x)))"
    }.mkString(",\n    ")
    s"""${gramSetCtesSql(from)},
       |sigs AS (
       |  SELECT doc_id, [
       |    $mins
       |  ] AS sig
       |  FROM g)""".stripMargin
  }

  /** [[md5SigCtesSql]] + `bands(doc_id, band, bv)`: the
    * [[NearDedup.md5Bands]] table, 4 bands × 2 rows.
    */
  private[queries] def md5BandCtesSql(from: String): String =
    s"""${md5SigCtesSql(from)},
       |bands AS (
       |  SELECT doc_id, r.i AS band,
       |    sig[2*r.i+1] || '|' || sig[2*r.i+2] AS bv
       |  FROM sigs CROSS JOIN range(0, 4) r(i))""".stripMargin

  /** [[md5BandCtesSql]] + `cand(id_a, id_b)`: the distinct pairs that
    * share a band, id_a < id_b.
    */
  private[queries] def md5CandCtesSql(from: String): String =
    s"""${md5BandCtesSql(from)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)""".stripMargin

  /** `edges`, `reach` and `comps(id, component)`: the connected
    * components of the pairs `pairs(id_a, id_b)` over the nodes
    * `nodes(doc_id)` by recursive-CTE closure, each labelled by its
    * lowest id. The statement must open with `WITH RECURSIVE`.
    */
  private[queries] def componentsCtesSql(pairs: String,
      nodes: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM $pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS comp FROM $nodes
       |  UNION
       |  SELECT e.dst AS id, r.comp
       |  FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.comp < e.dst),
       |comps AS (
       |  SELECT id, MIN(comp) AS component FROM reach GROUP BY id)""".stripMargin

  /** The docs ∪ copies corpus of the near-dup queries: every 7th doc
    * again at +1,000,000, in a single scan ([[Tables.withIdCopies]]; a
    * union form read the text column once per branch, ~0.5s tax per
    * consumer at sf0.1). [[idCopiesSql]] is its oracle twin.
    */
  // NOT spread here: consumers that run heavy kernels spread at the
  // kernel site (md5Sigs, qSetSimJoin) — a blanket repartition would
  // also ride the NON-kernel uses (e.g. q87's quality side) and add a
  // visible exchange to plans whose budget is one
  private def corpusWithCopies(spark: SparkSession, dir: String): DataFrame =
    Tables.withIdCopies(Tables.documents(spark, dir), "doc_id", 7, 1000000L)

  /** q20 — corpus stats per language: doc counts, token totals, length
    * averages. Tokenization = whitespace split of trimmed text on both
    * engines.
    */
  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars")
      )
      .withColumn(
        "avg_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double")
      )
      .orderBy("lang")

  val qTextStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q21 — global term frequencies via explode, top-20 by (count desc,
    * term asc).
    */
  def qTermFreq(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(20)

  val qTermFreqSql: String =
    """SELECT term, COUNT(*) AS cnt FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents)
      |GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20""".stripMargin

  /** q22 — exact dedup by content hash. The corpus has no exact dups, so
    * the input is documents ∪ a deterministic mutated copy (every 5th doc
    * re-keyed), and the dedup groups on md5(text) keeping the lowest id —
    * the hash-groupBy dedup shape that scales to any corpus size.
    */
  def qExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val copies = docs
      .filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs
      .unionByName(copies)
      .groupBy(md5(col("text")).as("h"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies")
      )
  }

  val qExactDedupSql: String =
    s"""WITH input AS (${idCopiesSql("documents", DocCols, 5)})
      |SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM input GROUP BY md5(text)""".stripMargin

  /** q23 — per-doc quality metrics: token count, vocabulary size,
    * type-token ratio, mean token length. Integer-derived doubles only
    * (deterministic divisions).
    */
  def qDocQuality(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        typeTokenRatio(col("text")).as("ttr"),
        meanTokenLength(col("text")).as("mean_tok_len")
      )

  val qDocQualitySql: String =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct,
      |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
      |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ttr,
      |  CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
      |      x -> length(x))) AS DOUBLE)
      |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS mean_tok_len
      |FROM documents""".stripMargin

  /** q24 — oracle-exact MinHash signatures: per-doc min over
    * md5(seed:gram) for 8 seeds on the distinct 3-gram shingle set.
    * Lexicographic min of a cryptographic hex digest is a valid minhash
    * family and md5 is identical across engines, so the signature
    * computation itself gets a DuckDB hash check (the production
    * candidate generator q25 uses the faster FNV/Mersenne kernel, whose
    * estimates are engine-internal — NearDedupSpec cross-checks those
    * against exact Jaccard).
    */
  def qMinHashSig(spark: SparkSession, dir: String): DataFrame = {
    // ONE kernel pass producing all 8 minima (the q36 signature
    // family — min over the multiset == min over the distinct set, and
    // unsigned digest-byte order == hex order, so it equals the
    // expression form's array_min(transform(distinct grams, md5)) the
    // oracle states). The expression form was interpreted AND
    // re-evaluated the gram build once per signature column — 8× a
    // per-gram re-tokenize at sf0.1 (hidden by Bench's count()
    // pruning; caught by Verify's full materialization).
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5MinHash8Udf(col("text")).as("__sig"))
    sigs.select(col("doc_id") +:
      (0 until 8).map(s => col("__sig")(s).as(s"mh_$s")): _*)
  }

  val qMinHashSigSql: String = {
    val mhs = (0 until 8).map(s => s"sig[${s + 1}] AS mh_$s").mkString(", ")
    s"""WITH ${md5SigCtesSql("documents")}
       |SELECT doc_id, $mhs FROM sigs""".stripMargin
  }

  /** q25 — MinHash+LSH near-dup candidate pairs (no SQL oracle: LSH
    * banding is not expressible in DuckDB; correctness is covered by
    * NearDedupSpec's exact-Jaccard cross-check). Input is seeded with
    * exact copies so recall is observable.
    */
  def qMinHashPairs(spark: SparkSession, dir: String): DataFrame =
    NearDedup
      .minHashCandidates(corpusWithCopies(spark, dir), "doc_id", "text")
      .filter(col("jaccard_est") >= 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** Shared DuckDB CTE prefix for the FNV-shingle oracles (q25/q26):
    * docs ∪ every-7th-doc re-keyed copies, non-empty whitespace tokens,
    * word-3-gram shingles with one space after EACH token (exactly the
    * byte stream `NearDedup.shingleHashArray` feeds its hasher), and
    * char-level FNV-1a-64 replayed via list_reduce with HUGEINT
    * mod-2^64 arithmetic. Character parity holds for BMP text (JVM
    * UTF-16 units == codepoints; the corpus is ASCII — verified max
    * codepoint 0x79 at every SF).
    */
  private val fnvShingleCtes: String =
    s"""WITH all_docs AS (${idCopiesSql("documents", "text", 7)}),
      |toks AS (
      |  SELECT doc_id, list_filter(${tokensSql("text")}, x -> x <> '') AS t
      |  FROM all_docs),
      |shing AS (
      |  SELECT doc_id, g || ' ' AS s
      |  FROM (SELECT doc_id, unnest(${gramsSql("t", 3)}) AS g
      |        FROM toks WHERE len(t) > 0)),
      |fnv AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(14695981039346656037::UBIGINT,
      |      list_transform(range(1, length(s) + 1),
      |        ci -> unicode(s[ci])::UBIGINT)),
      |      (h, c) -> ((xor(h, c)::HUGEINT * 1099511628211)
      |        % 18446744073709551616)::UBIGINT) AS h
      |  FROM shing)""".stripMargin

  /** q25's oracle replays the ENTIRE MinHash pipeline in SQL: the FNV
    * shingle hashes above, the seeded Mersenne-31 permutation family
    * (coefficients embedded as literals from the same
    * `NearDedup.oracleCoefficients(64, 42)` call the engine uses), LSH
    * banding by 16×4 signature slices (slice equality ⇔ the engine's
    * xxhash64 band-key equality, collisions aside), and the
    * signature-agreement estimate.
    */
  lazy val qMinHashPairsSql: String = {
    val coeffs = graft.operators.NearDedup.oracleCoefficients(64, 42L)
    val p = graft.operators.NearDedup.OracleMersennePrime
    val mins = coeffs.zipWithIndex
      .map { case ((a, b), j) => s"    min(($a * x + $b) % $p) AS s$j" }
      .mkString(",\n")
    val sigList = (0 until 64).map(j => s"s$j").mkString("[", ", ", "]")
    s"""$fnvShingleCtes,
       |xm AS (SELECT doc_id, (h & $p)::BIGINT AS x FROM fnv),
       |sig AS (
       |  SELECT doc_id,
       |$mins
       |  FROM xm GROUP BY doc_id),
       |sigl AS (SELECT doc_id, $sigList AS sig FROM sig),
       |banded AS (
       |  SELECT doc_id, band,
       |    array_to_string(sig[band * 4 + 1 : band * 4 + 4], ',') AS bkey
       |  FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS band
       |        FROM sigl)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |      AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_filter(range(1, 65),
       |      i -> siga[i] = sigb[i])) AS DOUBLE) / 64.0 AS jaccard_est
       |  FROM (SELECT id_a, id_b, sa.sig AS siga, sb.sig AS sigb
       |        FROM cand
       |        JOIN sigl sa ON sa.doc_id = cand.id_a
       |        JOIN sigl sb ON sb.doc_id = cand.id_b))
       |SELECT id_a, id_b, jaccard_est FROM scored
       |WHERE jaccard_est >= 0.5 ORDER BY id_a, id_b""".stripMargin
  }

  /** q26 — SimHash near-dup candidates with hamming distance. */
  def qSimHashPairs(spark: SparkSession, dir: String): DataFrame =
    NearDedup
      .simHashCandidates(corpusWithCopies(spark, dir), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** q26's oracle: same FNV shingles, then the SimHash bit votes (±1
    * per bit over the shingle MULTISET), Charikar 4×16-bit block
    * partitioning with the 200-doc hot-bucket cap, and
    * bit_count(xor) hamming — all in UBIGINT domain (DuckDB's signed
    * left shift overflows at bit 63, so the bit values are embedded as
    * unsigned literals).
    */
  lazy val qSimHashPairsSql: String = {
    val votes = (0 until 64)
      .map(i =>
        s"    sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n")
    val bits = (0 until 64)
      .map { i =>
        val v = java.lang.Long.toUnsignedString(1L << i)
        s"    CASE WHEN v$i > 0 THEN $v::UBIGINT ELSE 0::UBIGINT END"
      }
      .mkString(" +\n")
    s"""$fnvShingleCtes,
       |votes AS (
       |  SELECT doc_id,
       |$votes
       |  FROM fnv GROUP BY doc_id),
       |sim0 AS (
       |  SELECT doc_id,
       |$bits AS sh
       |  FROM votes),
       |sim AS (
       |  SELECT t.doc_id, COALESCE(s.sh, 0::UBIGINT) AS sh
       |  FROM toks t LEFT JOIN sim0 s ON t.doc_id = s.doc_id),
       |blocked AS (
       |  SELECT doc_id, sh, block, (sh >> (block * 16)) & 65535 AS bits
       |  FROM (SELECT doc_id, sh, unnest(range(0, 4)) AS block FROM sim)),
       |capped AS (
       |  SELECT doc_id, sh, block, bits FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY block, bits) AS bc
       |    FROM blocked)
       |  WHERE bc <= 200)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM capped a JOIN capped b
       |  ON a.block = b.block AND a.bits = b.bits AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q27 — exact n-gram Jaccard, the verification stage of the near-dup
    * pipeline: each doc scored against its own 60%-token prefix (a
    * deterministic near-duplicate both engines construct identically),
    * exercising shingle building + set overlap with meaningful values.
    */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      // ONE kernel pass per doc — the expression form
      // (ngramJaccard over a concat_ws(slice(tokens)) prefix column)
      // re-evaluated the tokenize+prefix inside wordNgrams' per-gram
      // lambda: interpreted AND quadratic per document (9 CPU-minutes
      // on one sf0.1 task; see NearDedup.prefixJaccardUdf)
      NearDedup.prefixJaccardUdf(col("text"), lit(0.6), lit(3))
        .as("jaccard")
    )

  val qNgramJaccardSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
      |pairs AS (
      |  SELECT doc_id, t,
      |    t[1:CAST(greatest(floor(len(t) * 0.6), 1) AS INT)] AS p
      |  FROM toks),
      |grams AS (
      |  SELECT doc_id, list_distinct(${gramsSql("t", 3)}) AS ga,
      |    list_distinct(${gramsSql("p", 3)}) AS gb
      |  FROM pairs)
      |SELECT doc_id,
      |  CASE WHEN len(list_distinct(list_concat(ga, gb))) = 0 THEN 0.0
      |       ELSE CAST(len(list_intersect(ga, gb)) AS DOUBLE)
      |            / CAST(len(list_distinct(list_concat(ga, gb))) AS DOUBLE)
      |  END AS jaccard
      |FROM grams""".stripMargin

  /** q28 — oracle-exact rolling-hash fingerprint (Rabin-Karp over
    * word-level token hashes): each 5-token window's hash is the
    * polynomial fold `h = (h·B + tᵢ) mod M` over 28-bit md5 token
    * hashes, and the fingerprint is the window minimum (min-sampling).
    * B = 1000003, M = 2³¹−1: every intermediate product stays under
    * 2⁵² < 2⁶³, so plain BIGINT arithmetic is exact and identical in
    * Spark and DuckDB — which is what moved this query from rows-only
    * to hash-checked. `fingerprint` (xxhash64 kernel) remains the
    * cheaper engine-internal scale path; language id is oracle-covered
    * by q70. n_subwords exercises the BPE-ish boundary splitter.
    */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      // rollingFp28Udf: one kernel pass per doc — the expression form
      // (windowed transform slicing a transform(tokens, md5) array)
      // re-ran the full token-hash build per window interpreted:
      // 15s → 0.2s at sf0.1 (see the kernel's scaladoc)
      .select(col("doc_id"),
        rollingFp28Udf(col("text")).as("__r"),
        subwordCount(col("text")).as("n_subwords"))
      .select(
        col("doc_id"),
        col("__r._1").as("fp"),
        col("__r._2").as("n_windows"),
        col("n_subwords")
      )

  /** DuckDB twin of [[qFingerprint]]: list_reduce has no initial
    * accumulator, so a 0 is prepended to mirror Spark's `aggregate`
    * zero; everything else is the same fold over the same token hashes.
    */
  val qFingerprintSql: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(text), '\s+') AS t
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, text,
      |    list_transform(t, x ->
      |      ('0x' || substr(md5(x), 1, 7))::BIGINT) AS th
      |  FROM toks),
      |r AS (
      |  SELECT doc_id, text,
      |    list_transform(range(1, greatest(len(th) - 4, 1) + 1),
      |      i -> list_reduce(list_prepend(0::BIGINT, th[i:i+4]),
      |        (acc, x) -> (acc * 1000003 + x) % 2147483647)) AS rolls
      |  FROM h)
      |SELECT doc_id, list_min(rolls) AS fp,
      |  CAST(len(rolls) AS BIGINT) AS n_windows,
      |  CAST(len(list_filter(
      |    string_split_regex(
      |      regexp_replace(trim(text),
      |        '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+)', '\1 ', 'g'),
      |      '\s+'),
      |    s -> len(s) > 0)) AS BIGINT) AS n_subwords
      |FROM r""".stripMargin

  /** q45 — character-class + stopword quality ratios (the remaining
    * quality-scoring functions beside q23's token metrics), oracle-exact:
    * every ratio is an integer/integer division performed in double, so
    * the values are bit-identical across engines.
    */
  private val StopwordsEn = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as")

  def qCharQuality(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        alphaRatio(col("text")).as("alpha_ratio"),
        // digit ratio rather than punctRatio: the synthetic corpus has
        // no punctuation, so that column would be a vacuous check
        (when(length(col("text")) === 0, lit(0.0)).otherwise(
          length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
            length(col("text")).cast("double"))).as("digit_ratio"),
        stopwordRatio(col("text"), StopwordsEn).as("stopword_ratio")
      )

  val qCharQualitySql: String = {
    val sw = StopwordsEn.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |        AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS alpha_ratio,
       |  CASE WHEN length(text) = 0 THEN 0.0
       |    ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
       |        AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digit_ratio,
       |  CASE WHEN len(string_split_regex(trim(text), '\\s+')) = 0 THEN 0.0
       |    ELSE CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |        t -> list_contains([$sw], t))) AS DOUBLE)
       |      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
       |  END AS stopword_ratio
       |FROM documents""".stripMargin
  }

  /** q47 — repetition signals (the Gopher-style quality filters for
    * training corpora): most-frequent-word fraction, most-frequent-bigram
    * fraction, and duplicated-trigram fraction per document. One
    * primitive kernel pass per doc ([[repetitionStatsUdf]]) — an
    * embarrassingly-parallel projection with NO shuffle (per-doc counts
    * need no cross-row state; the explode + two-level-aggregate form
    * costs two shuffles and re-evaluates interpreted n-gram trees,
    * measured 70× slower). Every output ratio is an integer/integer
    * division done in double — bit-identical across engines.
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), repetitionStatsUdf(col("text")).as("s"))
      .select(
        col("doc_id"),
        (col("s._2").cast("double") / col("s._1").cast("double"))
          .as("top_word_frac"),
        (col("s._4").cast("double") / col("s._3").cast("double"))
          .as("top_bigram_frac"),
        ((col("s._5") - col("s._6")).cast("double") /
          col("s._5").cast("double")).as("dup_trigram_frac")
      )

  val qRepetitionSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
      |arr AS (
      |  SELECT doc_id, t, ${gramsSql("t", 2)} AS b, ${gramsSql("t", 3)} AS r
      |  FROM toks),
      |counts AS (
      |  SELECT doc_id, len(t) AS n_tok, len(b) AS n_bi, len(r) AS n_tri,
      |    len(list_distinct(r)) AS n_tri_d
      |  FROM arr),
      |tokc AS (
      |  SELECT doc_id, MAX(c) AS max_tok FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest(t) AS g FROM arr) GROUP BY doc_id, g)
      |  GROUP BY doc_id),
      |bic AS (
      |  SELECT doc_id, MAX(c) AS max_bi FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id, unnest(b) AS g FROM arr) GROUP BY doc_id, g)
      |  GROUP BY doc_id)
      |SELECT counts.doc_id,
      |  CAST(max_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_word_frac,
      |  CAST(max_bi AS DOUBLE) / CAST(n_bi AS DOUBLE) AS top_bigram_frac,
      |  CAST(n_tri - n_tri_d AS DOUBLE) / CAST(n_tri AS DOUBLE)
      |    AS dup_trigram_frac
      |FROM counts
      |JOIN tokc ON counts.doc_id = tokc.doc_id
      |JOIN bic ON counts.doc_id = bic.doc_id""".stripMargin

  /** q48 — TF-IDF top-3 terms per document. The idf uses the rational
    * form `N / df` (not `ln(N/df)`) so every score is an exact integer
    * product divided once in double — hash-identical across engines,
    * while preserving the tf-idf ranking (ln is monotone). Document
    * frequencies are a second hash aggregate over the tf table; the
    * df side of the join is vocabulary-sized.
    */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
  }

  val qTfidfSql: String =
    """WITH tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |    FROM documents)
      |  GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |SELECT doc_id, rank, term, score FROM (
      |  SELECT doc_id, term, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, term ASC) AS rank
      |  FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** q54 — benchmark decontamination: find corpus documents sharing
    * 5-gram shingles with a benchmark set (here: the 60%-token prefixes
    * of every 97th doc — a deterministic stand-in for an eval set's
    * questions). The benchmark grams broadcast as one hash map and the
    * corpus streams through a single kernel pass (no explode, no join,
    * no shuffle — see [[graft.operators.Decontaminate]]; the exploded
    * join form measured 3.9s vs 0.1s at sf0.1).
    */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = tokens(col("text"))
    val prefix = concat_ws(" ",
      slice(toks, lit(1),
        greatest(floor(size(toks) * 0.6), lit(1)).cast("int")))
    val bench = docs
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), prefix.as("text"))
    graft.operators.Decontaminate.contaminationReport(
      docs, "doc_id", "text", bench, "bench_id", "text", n = 5)
  }

  val qContaminationSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
      |bench AS (
      |  SELECT doc_id AS bench_id,
      |    t[1:CAST(greatest(floor(len(t) * 0.6), 1) AS INT)] AS p
      |  FROM toks WHERE doc_id % 97 = 0),
      |bgrams AS (
      |  SELECT DISTINCT bench_id, g FROM (
      |    SELECT bench_id, unnest(${gramsSql("p", 5)}) AS g FROM bench)),
      |cgrams AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(${gramsSql("t", 5)}) AS g FROM toks))
      |SELECT doc_id, COUNT(DISTINCT c.g) AS n_shared_grams,
      |  COUNT(DISTINCT bench_id) AS n_bench_hit
      |FROM cgrams c JOIN bgrams b ON c.g = b.g
      |GROUP BY doc_id""".stripMargin

  /** q56 — end-to-end corpus preparation, the composed training-data
    * pipeline a user would actually run: exact dedup (min-id survivor
    * per content hash) → quality gates (length, type-token ratio,
    * alpha ratio — all integer-ratio doubles, so threshold membership
    * is bit-identical across engines) → per-language corpus stats.
    * One dedup shuffle + one stats shuffle; the gates are pure
    * projections.
    */
  def qCorpusPrepare(spark: SparkSession, dir: String): DataFrame = {
    val corpus =
      Tables.withIdCopies(Tables.documents(spark, dir), "doc_id", 5, 1000000L)
    val keep = corpus
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    corpus
      .join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .filter(
        tokenCount(col("text")) >= 20 &&
          typeTokenRatio(col("text")) >= 0.45 &&
          alphaRatio(col("text")) >= 0.80)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens")
      )
      .orderBy("lang")
  }

  val qCorpusPrepareSql: String =
    s"""WITH corpus AS (${idCopiesSql("documents", DocCols, 5)}),
      |keep AS (
      |  SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
      |m AS (
      |  SELECT c.doc_id, lang, text,
      |    ${tokensSql("text")} AS t
      |  FROM corpus c JOIN keep k ON c.doc_id = k.doc_id),
      |f AS (
      |  SELECT doc_id, lang, len(t) AS n_tok FROM m
      |  WHERE len(t) >= 20
      |    AND CAST(len(list_distinct(t)) AS DOUBLE)
      |        / CAST(len(t) AS DOUBLE) >= 0.45
      |    AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      |        AS DOUBLE) / CAST(length(text) AS DOUBLE) >= 0.80)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  /** q57 — deterministic source mixing: sample each source at its own
    * rate using a content-independent hash draw (`md5(doc_id)`'s top 60
    * bits against `rate × 2^60`), the reproducible way training
    * pipelines reweight corpora — no RNG state, any engine or rerun
    * selects the identical rows, and the filter is a pure projection
    * (no shuffle before the stats aggregate). Rates here: even sources
    * 100%, odd sources 25%.
    */
  def qSourceMix(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long")
    // floor(rate * 2^60) as exact long thresholds
    val full = 1152921504606846976L // 2^60
    val quarter = full / 4
    // a source with no trailing digits extracts "" → null id; null % 2
    // is never 0, so such sources get the default 25% rate — mirrored
    // in the oracle with TRY_CAST (NULL CASE falls to ELSE) so both
    // engines agree on data outside the generator's naming convention
    val threshold = when(
      regexp_extract(col("source"), "(\\d+)$", 1).cast("long") % 2 === 0,
      lit(full)).otherwise(lit(quarter))
    Tables.documents(spark, dir)
      .filter(h < threshold)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(tokenCount(col("text"))).as("kept_tokens"))
      .orderBy("source")
  }

  val qSourceMixSql: String =
    """SELECT source, COUNT(*) AS n_kept,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS kept_tokens
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |  < CASE WHEN TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT)
      |              % 2 = 0
      |         THEN 1152921504606846976
      |         ELSE 288230376151711744 END
      |GROUP BY source ORDER BY source""".stripMargin

  /** q58 — sequence packing: greedily pack documents (in id order) into
    * fixed token-budget training sequences via a running-sum window,
    * partitioned by language so packing parallelizes across groups (the
    * scale shape: one window shuffle keyed on the partition column, no
    * global sort). A doc starts a new pack when the budget would
    * overflow — `pack = floor(cum_before / budget)` over the
    * language-ordered stream.
    */
  def qSeqPack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tok")) / budget).cast("long"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
  }

  val qSeqPackSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT lang, n_tok,
      |    CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tok) / 2048.0) AS BIGINT)
      |      AS pack_id
      |  FROM toks)
      |SELECT lang, pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
      |FROM packed GROUP BY lang, pack_id""".stripMargin

  /** q59 — document chunking: split every document into 128-token
    * windows with a 112-token stride (16-token overlap) — the step
    * before embedding/packing in a training pipeline. Pure integer
    * arithmetic (`(n+111) div 112` chunks, `least(128, n - i·112)`
    * tokens per chunk) exploded map-side: no shuffle, and the chunk
    * count per doc is derived, not data-dependent state.
    */
  def qChunking(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok"))
      // 0-token docs yield no chunks: without this guard
      // sequence(0, -1) steps backwards and emits spurious rows,
      // where the oracle's range(0, 0) emits none
      .filter(col("n_tok") > 0)
      .withColumn("n_chunks",
        expr("(n_tok + 111) div 112"))
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        least(lit(128L), col("n_tok") - col("chunk_idx") * 112)
          .as("chunk_tokens")
      )

  val qChunkingSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    unnest(range(0, (n_tok + 111) // 112)) AS chunk_idx
      |  FROM toks WHERE n_tok > 0)
      |SELECT doc_id, chunk_idx,
      |  CAST(least(128, n_tok - chunk_idx * 112) AS BIGINT) AS chunk_tokens
      |FROM c""".stripMargin

  /** q29 — winnowing document fingerprint (MOSS-style min-sampling over
    * positional 3-gram hashes, window 4): the oracle-exact twin of q28's
    * rolling-hash `fingerprint`. Sorted distinct window-minima joined to
    * one signature string so the DuckDB hash compare is byte-stable.
    */
  def qWinnowFp(spark: SparkSession, dir: String): DataFrame = {
    // gram hashes from the single-pass kernel, STAGED as their own
    // projection: the interpreted windowing lambdas below then slice
    // an attribute (cheap) instead of re-evaluating the hash build per
    // window — the expression form re-tokenized per gram AND re-hashed
    // per window at sf0.1 (hidden by Bench's count() pruning)
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"), md5Grams60Udf(col("text"), lit(3)).as("__h"))
    val hashes = col("__h")
    val nw = greatest(size(hashes) - 3, lit(1))
    val mins = transform(sequence(lit(0), nw - 1),
      i => array_min(slice(hashes, i + 1, lit(4))))
    val fp = array_sort(array_distinct(mins))
    hashed.select(
      col("doc_id"),
      concat_ws(":", transform(fp, x => x.cast("string"))).as("fp_sig"),
      size(fp).cast("long").as("n_fp")
    )
  }

  val qWinnowFpSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents),
      |g AS (SELECT doc_id, ${gramsSql("t", 3)} AS grams FROM toks),
      |h AS (
      |  SELECT doc_id,
      |    list_transform(grams, x ->
      |      ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hv
      |  FROM g),
      |w AS (
      |  SELECT doc_id,
      |    list_sort(list_distinct(
      |      list_transform(range(1, greatest(len(hv) - 3, 1) + 1),
      |        i -> list_min(hv[i:i+3])))) AS fp
      |  FROM h)
      |SELECT doc_id, array_to_string(fp, ':') AS fp_sig,
      |  CAST(len(fp) AS BIGINT) AS n_fp
      |FROM w""".stripMargin

  /** q35 — oracle-exact 60-bit SimHash signature: per bit, majority vote
    * of ±1 over the distinct 3-gram shingle hashes (q26's fast FNV kernel
    * is the scale path; this md5 family gets the DuckDB hash check).
    * One primitive kernel pass per document — embarrassingly parallel,
    * no shuffle at all.
    */
  def qSimHashMd5(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5SimHash60Udf(col("text")).as("simhash"))

  val qSimHashMd5Sql: String =
    s"""WITH ${gramSetCtesSql("documents")},
      |h AS (
      |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv
      |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
      |bits AS (
      |  SELECT doc_id, r.i AS i,
      |    SUM(CASE WHEN (hv >> r.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN range(0, 60) r(i)
      |  GROUP BY doc_id, r.i)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
      |    AS simhash
      |FROM bits GROUP BY doc_id""".stripMargin

  /** md5-minhash signatures (doc_id, sig array<string>), materialized
    * once: q36/q38 reference this frame on both band-join sides and
    * Spark plans the subtree per reference, so without truncation the
    * md5 kernel runs twice over the corpus. Checkpointing is safe here
    * BECAUSE the projection is a primitive kernel UDF — for interpreted
    * higher-order expression trees the same move is a trap (checkpoint
    * materializes WITHOUT whole-stage codegen; a sig variant in that
    * form went 0.3s → 28s).
    */
  private[graft] def md5Sigs(input: DataFrame): DataFrame =
    Tables.spread(input)
      .select(col("doc_id"), md5MinHash8Udf(col("text")).as("sig"))
      .localCheckpoint(true)

  /** Banding → distinct candidate pairs (ids only). Emits the full
    * per-bucket clique — required when individual pairs are verified
    * downstream (q36's agreement column, q68's containment). For
    * components-only consumers use [[bandStarEdges]].
    */
  private[graft] def bandCandidates(sigs: DataFrame): DataFrame = {
    val bands = NearDedup.md5Bands(sigs, "doc_id")
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Banding → candidate EDGES for clustering, star-reduced per
    * bucket: within one (band, bv) bucket every member is a mutual
    * candidate (a clique), so for a connected-components consumer the
    * (bucket-min ↔ member) star preserves connectivity EXACTLY while
    * emitting m−1 edges instead of m(m−1)/2. This is the difference
    * between a 10M-row duplicate class (web crawls are full of them:
    * empty docs, boilerplate pages — and every band of an exact-dup
    * class collides) costing 10M edges and costing 5·10¹³ — the
    * standard LSH-dedup edge-generation trick at corpus scale.
    * Components over the star-union equal components over the
    * clique-union (each bucket's vertex set stays connected either
    * way), so the q38/q87/q142 oracles — recursive-CTE closure over
    * ALL-pairs candidates — are unchanged by construction. One
    * shuffle on (band, bv), the same key the clique join used; the
    * hottest bucket costs O(m log m) in its window sort, never m².
    */
  private[graft] def bandStarEdges(sigs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bv"))
    NearDedup.md5Bands(sigs, "doc_id")
      .withColumn("__hub", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("__hub"))
      .select(col("__hub").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
  }

  /** Signature-position agreement fraction in one primitive pass
    * (mirrors the oracle's `len(list_filter(range(1,9), i -> sa.sig[i]
    * = sb.sig[i])) / 8.0`).
    */
  private val sigAgreement8Udf = udf {
    (a: scala.collection.Seq[String], b: scala.collection.Seq[String]) =>
      var same = 0
      var i = 0
      while (i < 8) { if (a(i) == b(i)) same += 1; i += 1 }
      same.toDouble / 8.0
  }

  /** q36 — LSH banded candidate pairs over the q24 md5 minhash family
    * (4 bands × 2 rows), oracle-exact end to end: the full
    * signature → band → self-join → agreement pipeline that q25 runs
    * with its fast FNV kernel. Only band-equal signatures meet in the
    * join (cost ∝ Σ bucket², never O(n²)).
    */
  def qBandPairs(spark: SparkSession, dir: String): DataFrame = {
    // the whole signature rides the band join as payload: the agreement
    // column comes straight off the matched rows, not two join-backs
    val bands = NearDedup.md5Bands(md5Sigs(corpusWithCopies(spark, dir)),
      "doc_id", keepSig = true)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        sigAgreement8Udf(col("a.sig"), col("b.sig")).as("agreement"))
      // pairs meeting in several bands carry identical agreement values,
      // so pair-key dedup is safe
      .dropDuplicates("id_a", "id_b")
  }

  /** q193 — LSH operating-point evaluation: the banded candidate set
    * (the q36 4×2 md5-minhash pipeline) scored against EXACT 3-gram
    * Jaccard ≥ 0.5 ground truth as integer confusion counts
    * (tp/fp/fn) plus single-division precision/recall — so the
    * quality of the approximation is itself driver-verified, the
    * dedup-family analog of the q104 retrieval eval and the
    * q171/q172 ANN exactness gates. The Jaccard threshold is integer
    * cross-multiplied (J ≥ 1/2 ⟺ 3·|A∩B| ≥ |A|+|B|), so truth
    * membership is exact on both engines.
    *
    * Eval-harness contract: the exact-truth stage joins docs sharing
    * a gram — cost ∝ Σ_gram df(gram)², quadratic in the hottest
    * gram's document frequency — so the evaluation runs on a
    * deterministic 20% id-sample plus its copies (the standard
    * recipe: measure the operating point on a sample, trust LSH at
    * corpus scale). The candidate side is the real banded pipeline.
    */
  def qLshEval(spark: SparkSession, dir: String): DataFrame = {
    val input = Tables.withIdCopies(
      Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0),
      "doc_id", 7, 1000000L)
    val cands = bandCandidates(md5Sigs(input))
    val grams = input.select(col("doc_id"),
      explode(NearDedup.distinctGramsUdf(col("text"), lit(3))).as("gr"))
      .localCheckpoint(true) // feeds the pair join twice + the sizes
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = grams.as("a")
      .join(grams.as("b"),
        col("a.gr") === col("b.gr") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("i") * 3 >= col("na") + col("nb"))
      .select(col("id_a"), col("id_b"))
    val tp = col("c").isNotNull && col("t").isNotNull
    val fp = col("c").isNotNull && col("t").isNull
    val fn = col("c").isNull && col("t").isNotNull
    cands.withColumn("c", lit(true))
      .join(truth.withColumn("t", lit(true)),
        Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("t").isNotNull, 1L).otherwise(0L)).as("n_truth"),
        sum(when(tp, 1L).otherwise(0L)).as("tp"),
        sum(when(fp, 1L).otherwise(0L)).as("fp"),
        sum(when(fn, 1L).otherwise(0L)).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double")))
  }

  val qLshEvalSql: String =
    s"""WITH base AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |input AS (${idCopiesSql("base", DocCols, 7)}),
       |${md5CandCtesSql("input")},
       |ge AS (SELECT doc_id, unnest(grams) AS gr FROM g),
       |sz AS (SELECT doc_id, len(grams) AS n FROM g),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
       |  FROM ge a JOIN ge b ON a.gr = b.gr AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
       |  WHERE i * 3 >= sa.n + sb.n),
       |m AS (
       |  SELECT c.id_a IS NOT NULL AS isc, t.id_a IS NOT NULL AS ist
       |  FROM cand c FULL OUTER JOIN truth t
       |    ON c.id_a = t.id_a AND c.id_b = t.id_b)
       |SELECT CAST(COUNT(*) FILTER (isc) AS BIGINT) AS n_candidates,
       |  CAST(COUNT(*) FILTER (ist) AS BIGINT) AS n_truth,
       |  CAST(COUNT(*) FILTER (isc AND ist) AS BIGINT) AS tp,
       |  CAST(COUNT(*) FILTER (isc AND NOT ist) AS BIGINT) AS fp,
       |  CAST(COUNT(*) FILTER (NOT isc AND ist) AS BIGINT) AS fn,
       |  CAST(COUNT(*) FILTER (isc AND ist) AS DOUBLE)
       |    / CAST(COUNT(*) FILTER (isc) AS DOUBLE) AS precision,
       |  CAST(COUNT(*) FILTER (isc AND ist) AS DOUBLE)
       |    / CAST(COUNT(*) FILTER (ist) AS DOUBLE) AS recall
       |FROM m""".stripMargin

  /** q37 — near-dup clustering: connected components over a pair graph
    * (copy links + same-lang adjacency chains), labeled by min member
    * id — the grouping stage that turns LSH candidate PAIRS into dedup
    * GROUPS. Oracle = DuckDB recursive CTE reachability on the same
    * edges, so the distributed label-propagation result is hash-checked
    * against exact transitive closure.
    */
  def qDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // chain edges between same-lang neighbors, broken every 32 ids so
    // component diameters stay bounded (the operator's long-chain
    // behavior is covered by GraphOpsSpec's 200-node chain)
    val chain = docs.as("a")
      .join(docs.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1 &&
          col("a.lang") === col("b.lang") &&
          col("a.doc_id") % 32 =!= 31)
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    val copies = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("src"),
        (col("doc_id") + lit(1000000L)).as("dst"))
    val nodes = docs.select(col("doc_id").as("id"))
      .unionByName(copies.select(col("dst").as("id")))
    graft.operators.GraphOps
      .connectedComponents(spark, chain.unionByName(copies),
        "src", "dst", nodes = Some(nodes))
      .select(col("id").as("doc_id"), col("comp").as("component"))
  }

  val qDedupGroupsSql: String =
    s"""WITH RECURSIVE base_edges AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang
      |   AND a.doc_id % 32 <> 31
      |  UNION ALL
      |  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
      |  FROM documents WHERE doc_id % 7 = 0),
      |nodes AS (${idCopiesSql("documents", "text", 7)}),
      |${componentsCtesSql("base_edges", "nodes")}
      |SELECT id AS doc_id, CAST(component AS BIGINT) AS component
      |FROM comps""".stripMargin

  /** q38 — END-TO-END corpus dedup, oracle-exact: md5-minhash
    * signatures → star-reduced band edges ([[bandStarEdges]] — m−1
    * edges per bucket, not the m²/2 clique; components unchanged by
    * construction) → connected components → per-group summary
    * (canonical survivor + member count). The whole distributed
    * pipeline (kernel signatures, banded edge generation,
    * label-propagation components) is hash-checked against DuckDB
    * computing the same signatures in SQL and the components by
    * recursive-CTE transitive closure over the full clique pairs —
    * which is exactly the equivalence the star reduction claims.
    */
  def qDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val input = corpusWithCopies(spark, dir)
    val comps = graft.operators.GraphOps.connectedComponents(
      spark, bandStarEdges(md5Sigs(input)), "id_a", "id_b",
      nodes = Some(input.select(col("doc_id"))))
    graft.operators.GraphOps.dedupGroups(comps)
  }

  /** Shared CTE chain for the end-to-end dedup oracles (q38/q87):
    * docs∪copies → distinct 3-grams → md5 minhash signatures → banded
    * candidate pairs → recursive-CTE connected components.
    */
  private val dedupCtePrefix: String =
    s"""WITH RECURSIVE input AS (${idCopiesSql("documents", DocCols, 7)}),
       |${md5CandCtesSql("input")},
       |${componentsCtesSql("cand", "input")}""".stripMargin

  val qDedupCorpusSql: String =
    s"""$dedupCtePrefix
       |SELECT CAST(component AS BIGINT) AS component,
       |  COUNT(*) AS n_members,
       |  CAST(MIN(id) AS BIGINT) AS keep_id
       |FROM comps GROUP BY component""".stripMargin

  /** Build-once cache of "yesterday's" persisted incremental-dedup
    * state (base component labels + band index) under java.io.tmpdir,
    * keyed by the testdata generation (dir + documents.parquet mtime).
    * In production this state IS a persisted artifact read from
    * storage; rebuilding it inline on every timed run made BENCH's
    * q142 measure the base rebuild instead of the O(batch) fold
    * (VERDICT r7 #4). Contents are a pure function of the corpus, so
    * a concurrent double-build writes identical data.
    */
  private def incrBaseState(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val srcMtime = new java.io.File(dir, "documents.parquet").lastModified
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$dir:$srcMtime") &
        0xffffffffL)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft-incrcc-$key")
    val compsDir = new java.io.File(base, "comps").getPath
    val bandsDir = new java.io.File(base, "bands").getPath
    if (!new java.io.File(base, "_done").exists()) {
      val docs = Tables.documents(spark, dir)
      val baseSigs = md5Sigs(docs)
      graft.operators.GraphOps.connectedComponents(
        spark, bandStarEdges(baseSigs), "id_a", "id_b",
        nodes = Some(docs.select(col("doc_id"))))
        .write.mode("overwrite").parquet(compsDir)
      NearDedup.md5Bands(baseSigs, "doc_id")
        .write.mode("overwrite").parquet(bandsDir)
      new java.io.File(base, "_done").createNewFile()
    }
    (spark.read.parquet(compsDir), spark.read.parquet(bandsDir))
  }

  /** q142 — incremental component maintenance
    * ([[graft.operators.GraphOps.incrementalComponents]]): the base
    * corpus's dedup labeling (its persisted artifact — materialized
    * once per testdata generation by [[incrBaseState]], so the timed
    * region is the MAINTENANCE cost) absorbs a new batch (the
    * +1,000,000 copies) via ONLY the new batch's band collisions —
    * base text is never re-hashed, the base pair list never re-read.
    * Oracle = full recompute over the merged corpus (the q38 CTE
    * chain), proving incremental == from-scratch exactly, including
    * batches that BRIDGE two existing components.
    */
  def qIncrComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val newDocs = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    // "yesterday's" persisted state: base labels + band index, read
    // from their parquet artifact like a real nightly job would
    val (baseComps, baseBands) = incrBaseState(spark, dir)
    // today's batch: hash ITSELF only, then probe the band index
    val newBands = NearDedup.md5Bands(md5Sigs(newDocs), "doc_id")
    val newPairs = newBands.as("a")
      .join(baseBands.unionByName(newBands).as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
      .distinct()
    graft.operators.GraphOps
      .incrementalComponents(spark, baseComps, newPairs, "id_a", "id_b",
        nodes = Some(docs.select(col("doc_id"))
          .unionByName(newDocs.select(col("doc_id")))))
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")
  }

  val qIncrComponentsSql: String =
    s"""$dedupCtePrefix
       |SELECT CAST(id AS BIGINT) AS doc_id,
       |  CAST(component AS BIGINT) AS component
       |FROM comps ORDER BY doc_id""".stripMargin

  /** q87 — quality-weighted dedup survivors: the same end-to-end LSH
    * dedup pipeline as q38, but each component keeps its LONGEST
    * member (n_chars, ties → lowest id) instead of the lowest id — the
    * survivor policy real corpus dedup wants (keep the most complete
    * duplicate). Oracle = the q38 CTE chain + a windowed argmax.
    */
  def qDedupBest(spark: SparkSession, dir: String): DataFrame = {
    val input = corpusWithCopies(spark, dir)
    val comps = graft.operators.GraphOps.connectedComponents(
      spark, bandStarEdges(md5Sigs(input)), "id_a", "id_b",
      nodes = Some(input.select(col("doc_id"))))
    graft.operators.GraphOps.dedupGroupsBest(comps,
      input.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
      // the operator preserves the quality column's native type;
      // pin the oracle-facing schema
      .withColumn("keep_quality", col("keep_quality").cast("long"))
  }

  val qDedupBestSql: String =
    s"""$dedupCtePrefix,
       |ranked AS (
       |  SELECT c.component, c.id, i.n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY c.component
       |      ORDER BY i.n_chars DESC, c.id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY c.component) AS n_members
       |  FROM comps c JOIN input i ON i.doc_id = c.id)
       |SELECT CAST(component AS BIGINT) AS component,
       |  CAST(n_members AS BIGINT) AS n_members,
       |  CAST(id AS BIGINT) AS keep_id,
       |  CAST(n_chars AS BIGINT) AS keep_quality
       |FROM ranked WHERE rn = 1""".stripMargin

  val qBandPairsSql: String =
    s"""WITH input AS (${idCopiesSql("documents", DocCols, 7)}),
       |${md5CandCtesSql("input")}
       |SELECT id_a, id_b,
       |  CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i]))
       |    AS DOUBLE) / 8.0 AS agreement
       |FROM cand
       |JOIN sigs sa ON sa.doc_id = id_a
       |JOIN sigs sb ON sb.doc_id = id_b""".stripMargin

  /** q111 — asymmetric n-gram containment over the q36 LSH candidate
    * pairs ([[graft.operators.NearDedup.ngramContainment]]): the
    * superset-duplicate verifier — a doc quoted whole inside a longer
    * one scores cont ≈ 1 where symmetric Jaccard dilutes toward
    * |short|/|long|. Both directions, exact distinct-gram-set ratios.
    */
  def qContainment(spark: SparkSession, dir: String): DataFrame = {
    val input = corpusWithCopies(spark, dir)
    // gram sets built ONCE per doc (kernel pass) and ONLY for docs
    // that appear in a candidate pair — the verification stage's work
    // scales with the candidate set, not the corpus. (The original
    // expression form re-tokenized per gram per pair, quadratic per
    // doc per pair — hidden by Bench's count() pruning, caught by
    // Verify's materialization.)
    val cands = bandCandidates(md5Sigs(input))
      .localCheckpoint(true) // referenced three times below
    val candIds = cands.select(col("id_a").as("doc_id"))
      .unionByName(cands.select(col("id_b").as("doc_id")))
      .distinct()
    val grams = input.join(candIds, "doc_id")
      .select(col("doc_id"),
        graft.operators.NearDedup
          .distinctGramsUdf(col("text"), lit(3)).as("g"))
    cands
      .join(grams.select(col("doc_id").as("id_a"), col("g").as("__ga")),
        "id_a")
      .join(grams.select(col("doc_id").as("id_b"), col("g").as("__gb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        graft.operators.NearDedup
          .setContainmentUdf(col("__ga"), col("__gb")).as("cont_ab"),
        graft.operators.NearDedup
          .setContainmentUdf(col("__gb"), col("__ga")).as("cont_ba"))
  }

  val qContainmentSql: String =
    s"""WITH input AS (${idCopiesSql("documents", DocCols, 7)}),
       |${md5CandCtesSql("input")}
       |SELECT id_a, id_b,
       |  CASE WHEN len(ga.grams) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |      / CAST(len(ga.grams) AS DOUBLE) END AS cont_ab,
       |  CASE WHEN len(gb.grams) = 0 THEN 0.0
       |    ELSE CAST(len(list_intersect(gb.grams, ga.grams)) AS DOUBLE)
       |      / CAST(len(gb.grams) AS DOUBLE) END AS cont_ba
       |FROM cand
       |JOIN g ga ON ga.doc_id = id_a
       |JOIN g gb ON gb.doc_id = id_b""".stripMargin

  /** q116 — incremental LSH band-index maintenance
    * ([[NearDedup.applyBandChanges]]): the q105 merge fixture's change
    * feed (modified docs get a token appended, brand-new docs insert)
    * updates the band table at O(changes) cost — retired pre-images
    * anti-join out, post-images re-hash through the same signature
    * kernel. The oracle recomputes the banding from the fully merged
    * corpus: incremental == full rebuild, hash-exact.
    */
  def qIncrementalBands(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.MergeOps
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val modified = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" graftnewterm")))
    val added = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("brand new doc "), col("doc_id").cast("string"))
          .as("text"))
    val changes = MergeOps.changeFeed(docs,
      modified.unionByName(added), MergeOps.MergeSpec(Seq("doc_id")))
    NearDedup.applyBandChanges(
      NearDedup.md5BandTable(docs, "doc_id", "text"),
      changes, "doc_id", "text")
  }

  val qIncrementalBandsSql: String =
    s"""WITH docs AS (SELECT doc_id, text FROM documents),
       |u AS (
       |  SELECT doc_id, text || ' graftnewterm' AS text FROM docs
       |  WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    'brand new doc ' || CAST(doc_id AS VARCHAR) AS text
       |  FROM docs WHERE doc_id % 17 = 0),
       |merged AS (
       |  SELECT COALESCE(u.doc_id, d.doc_id) AS doc_id,
       |    CASE WHEN u.doc_id IS NOT NULL THEN u.text ELSE d.text END
       |      AS text
       |  FROM docs d FULL OUTER JOIN u ON d.doc_id = u.doc_id),
       |${md5BandCtesSql("merged")}
       |SELECT doc_id, CAST(band AS BIGINT) AS band, bv FROM bands""".stripMargin

  /** q148 — exact set-similarity self-join
    * ([[graft.operators.SetSimJoin.jaccardSelfJoin]]): every pair of
    * docs∪copies whose distinct word-3-gram sets reach Jaccard ≥ 0.5 —
    * the no-false-negative companion of the q25/q36 MinHash screen,
    * pruned by rarest-first prefix filtering instead of banding. The
    * oracle mirrors the prefix-filter plan (the filters only shed
    * candidates; both engines verify exact intersections, so the
    * FINAL pair set is filter-independent).
    */
  def qSetSimJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SetSimJoin
      .jaccardSelfJoin(
        // spread before the gram-hash kernel (guide §2.5: one
        // unsplittable file serializes it; no-op on a split source)
        Tables.spread(corpusWithCopies(spark, dir)).select(col("doc_id"),
          // array<long> fast path: distinct gram hashes in ONE kernel
          // pass, gram strings never materialized or shuffled
          md5GramSet64Udf(col("text"), lit(3)).as("grams")),
        "doc_id", "grams", tau = 0.5)
      .orderBy("id_a", "id_b")

  val qSetSimJoinSql: String =
    s"""WITH input AS (${idCopiesSql("documents", DocCols, 7)}),
      |${gramSetCtesSql("input")},
      |occ AS (SELECT doc_id, unnest(grams) AS tok FROM g),
      |dfr AS (SELECT tok, count(*) AS df FROM occ GROUP BY tok),
      |srt AS (
      |  SELECT o.doc_id, list(o.tok ORDER BY d.df, o.tok) AS stoks
      |  FROM occ o JOIN dfr d USING (tok) GROUP BY o.doc_id),
      |sized AS (
      |  SELECT doc_id, stoks, len(stoks) AS n,
      |    CAST(len(stoks) - ceil(0.5 * len(stoks) - 1e-9) + 1 AS INT)
      |      AS plen
      |  FROM srt),
      |pref AS (SELECT doc_id, n, unnest(stoks[1:plen]) AS tok FROM sized),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |   AND a.n >= 0.5 * b.n - 1e-9 AND b.n >= 0.5 * a.n - 1e-9)
      |SELECT c.id_a, c.id_b,
      |  CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
      |  CAST(len(list_intersect(x.stoks, y.stoks)) AS BIGINT) AS inter,
      |  CAST(len(list_intersect(x.stoks, y.stoks)) AS DOUBLE)
      |    / CAST(x.n + y.n - len(list_intersect(x.stoks, y.stoks))
      |           AS DOUBLE) AS jaccard
      |FROM cand c
      |JOIN sized x ON x.doc_id = c.id_a
      |JOIN sized y ON y.doc_id = c.id_b
      |WHERE CAST(len(list_intersect(x.stoks, y.stoks)) AS DOUBLE)
      |    / CAST(x.n + y.n - len(list_intersect(x.stoks, y.stoks))
      |           AS DOUBLE) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin
}
