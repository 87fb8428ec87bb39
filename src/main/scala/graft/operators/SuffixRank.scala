package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed suffix-array ranking by prefix doubling — the backbone
  * of EXACT substring deduplication (the "dedup training data by
  * removing repeated spans" pipeline; the repo's winnowing/dup-span
  * operators are its sampled approximations). Every (doc, position)
  * gets the dense rank of its suffix truncated to `depth` characters,
  * ordered lexicographically across the WHOLE corpus — equal ranks ⇔
  * identical depth-length spans, so repeated-substring detection
  * becomes a plain aggregate on the rank column.
  *
  * Scale shape (Manber–Myers prefix doubling, re-expressed in
  * DataFrame ops): log₂(depth) rounds, each one = a per-document
  * `lead(rank, k)` window (documents are the partition key — no
  * global window) + a dense re-rank of the (rank, rank@+k) pairs.
  * The dense rank itself follows the [[Blocking]] discipline: range-
  * partitioned sort of the DISTINCT keys + `zipWithIndex`, never a
  * single-partition window, so every round is O(n) rows through
  * shuffles with no skew pivot. Nothing is ever quadratic in corpus
  * size and no driver state grows with it — the classic suffix-array
  * construction, which is inherently sequential in its textbook form,
  * becomes 5 rounds of joins at depth 32.
  *
  * Determinism: ranks are dense ranks of truncated suffixes under
  * binary string order — a pure function of the corpus, so an
  * external SQL engine reproduces them exactly (the q176 oracle:
  * DENSE_RANK over substr). A suffix shorter than the truncation
  * depth sorts before every suffix it prefixes (the rank-0 sentinel
  * in the doubling pair mirrors "shorter string first").
  */
object SuffixRank {

  /** Append `rankCol` = 1-based dense rank of `keyCols` under their
    * ascending order. Keys are range-partitioned into `parts`
    * partitions, deduplicated and sorted within each (the range
    * partitioning already clusters equal keys, so the distinct adds no
    * shuffle), indexed with zipWithIndex (one extra count job), then
    * joined back — the scalable dense rank, no single-partition stage.
    */
  private[graft] def denseRank(
      df: DataFrame,
      keyCols: Seq[String],
      rankCol: String,
      parts: Int): DataFrame = {
    val spark = df.sparkSession
    val keys = keyCols.map(col)
    val distinct = df.select(keys: _*)
      .repartitionByRange(parts, keys: _*)
      .distinct()
      .sortWithinPartitions(keys: _*)
    val schema = StructType(
      distinct.schema.fields :+ StructField(rankCol, LongType, nullable = false))
    val ranked = spark.createDataFrame(
      distinct.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (i + 1L))
      },
      schema)
    df.join(ranked, keyCols)
  }

  /** (id, pos, rank) for every character position of every document:
    * `rank` = dense rank (1-based) of the suffix starting at 1-based
    * `pos`, truncated to `depth` chars, over the whole corpus.
    * `depth` must be a power of two (the doubling ladder lands on it
    * exactly, which is what makes the rank oracle-reproducible as
    * DENSE_RANK over substr(text, pos, depth)).
    *
    * `initChars` seeds the ladder with a direct dense rank of
    * initChars-length substrings instead of single characters —
    * fewer rounds for short-string shuffle bytes. At the default 32,
    * depth ≤ 32 is ONE direct dense rank and the ladder never spins:
    * a doubling round moves ~24-byte (id, pos, r, r@+k) rows through
    * ~3 exchanges plus a per-doc lead window, so one pass over ≤32-
    * char keys (≤ ~40 bytes through 2 exchanges) is strictly fewer
    * bytes AND ~10 fewer shuffle jobs (measured at sf0.1: the q180
    * pipeline 5.2s → see OPTIMIZATION_r11.md). The doubling rounds
    * remain what keeps DEEP truncations feasible (depth 256+ would
    * otherwise shuffle 256-byte keys per corpus CHARACTER, while a
    * doubling round always shuffles two longs) — depth 64 ladders
    * 32 → 64, depth 256 ladders 32 → … → 256.
    *
    * `fullWindowsOnly` restricts the output (and the rank's key
    * space) to positions with a FULL depth-length window
    * (pos ≤ len − depth + 1). Rank VALUES then differ from the
    * all-positions ranking (dense over fewer keys), but equal-rank ⇔
    * equal-span is preserved — which is all a span-dedup consumer
    * ([[SpanDedup]]) uses — and the explode, every shuffle, and the
    * dense-rank key table shrink by the short-window tail.
    */
  def rank(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      depth: Int,
      initChars: Int = 32,
      fullWindowsOnly: Boolean = false): DataFrame = {
    require(depth >= 1 && (depth & (depth - 1)) == 0,
      s"depth=$depth must be a power of two")
    require(initChars >= 1 && (initChars & (initChars - 1)) == 0,
      s"initChars=$initChars must be a power of two")
    require(!fullWindowsOnly || initChars >= depth,
      "fullWindowsOnly requires the direct-rank regime (initChars >= " +
        "depth): a doubling round would need the short-window suffixes " +
        "it is asked to drop")
    val init = math.min(initChars, depth)
    // one row per (doc, pos) with its init-length prefix — the seed keys
    val posEnd =
      if (fullWindowsOnly) length(col(textCol)) - (depth - 1)
      else length(col(textCol))
    // docs shorter than the window contribute no positions at all in
    // fullWindowsOnly mode — and must be filtered BEFORE the explode:
    // sequence(1, n) with n < 1 generates a DESCENDING sequence
    val minLen = if (fullWindowsOnly) depth else 1
    val base = docs
      .filter(col(textCol).isNotNull && length(col(textCol)) >= minLen)
      .select(col(idCol).as("id"),
        explode(sequence(lit(1), posEnd)).as("__p"),
        col(textCol).as("__t"))
      .select(col("id"), col("__p").cast("long").as("pos"),
        substr(col("__t"), col("__p"), lit(init)).as("__s"))
    // each round's input is referenced twice by denseRank (distinct +
    // join back) — checkpoint the INPUT so the window/explode work
    // runs once, not per reference; retire the PREVIOUS round's
    // checkpoint as soon as its successor is materialized (the
    // returned frame only ever depends on the last one)
    var live = base.localCheckpoint(true)
    // the ladder's range sorts and per-doc windows run at a count sized
    // from the position count, not the session constant (rank values
    // are partitioning-independent). Unlike the CC iterate (two longs,
    // join-bound), every ladder round RANGE-SORTS string-keyed rows —
    // CPU-heavy per row — so the divisor is 64k rows/partition, not
    // [[Sizing.loopPartitions]]'s 1M (measured: 1M-sizing serialized
    // the sf0.1 ladder's sorts on one task, costing ~0.5s).
    val parts =
      math.max(1L, math.min(live.count() / 65536L + 1L, 65536L)).toInt
    var cur = denseRank(live, Seq("__s"), "r", parts).drop("__s")
    var k = init
    while (k < depth) {
      // rank of the 2k-prefix = dense rank of (rank_k(i), rank_k(i+k));
      // a missing i+k (suffix shorter than k remaining) takes sentinel
      // 0 — strictly below every real rank, exactly "shorter string
      // sorts first". The lead window partitions by DOCUMENT, so the
      // sort is per-doc — no global-order window anywhere.
      val w = Window.partitionBy("id").orderBy("pos")
      val paired = cur
        .repartition(parts, col("id"))
        .withColumn("__rn", lead(col("r"), k, 0L).over(w))
        .localCheckpoint(true)
      // the retired round's blocks would otherwise sit in the storage
      // pool until GC, stacking rounds × |positions| rows (measured:
      // freeing them cut the 22.6M-position ranking 42.5s → 26.3s)
      CheckpointUtil.free(live)
      live = paired
      cur = denseRank(paired, Seq("r", "__rn"), "__r2", parts)
        .drop("r", "__rn")
        .withColumnRenamed("__r2", "r")
      k *= 2
    }
    cur.select(col("id"), col("pos"), col("r").as("rank"))
  }
}
