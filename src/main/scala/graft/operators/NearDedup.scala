package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at corpus scale (SURVEY §7.5):
  * MinHash + LSH banding, SimHash, and exact n-gram Jaccard verification.
  *
  * Design for 100 TB: no pairwise O(n²) stage ever materializes — LSH
  * banding shuffles each doc `bands` times on (band, bandHash) so only
  * colliding docs meet, then exact Jaccard runs on the candidate pairs
  * only. All per-doc math is expression-tree (codegen) over arrays;
  * signatures are `bands × rowsPerBand` longs, tiny next to the text.
  */
object NearDedup {

  /** Mersenne-31 prime: 32-bit minhash keeps a*x+b < 2^62, so the
    * expression can never trip Spark's ANSI long-overflow check.
    */
  private val MersennePrime = (1L << 31) - 1

  /** Deterministic (a, b) coefficient pairs for the k hash permutations
    * h_i(x) = ((a_i * x + b_i) mod p); fixed seed for reproducibility.
    */
  private def coefficients(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** The permutation coefficients, exposed so the DuckDB oracles for
    * q25/q80-family queries can embed the SAME seeded family as SQL
    * literals (the oracle must replay the engine's hash family exactly;
    * see [[graft.queries.TextQueries.qMinHashPairsSql]]).
    */
  private[graft] def oracleCoefficients(k: Int, seed: Long): Seq[(Long, Long)] =
    coefficients(k, seed)

  private[graft] val OracleMersennePrime: Long = MersennePrime

  /** Single-pass shingle hasher: tokenize + word-n-gram + FNV-1a-64 in
    * one JVM loop. The expression form (transform/sequence/slice +
    * xxhash64) is NOT codegen'd — higher-order functions evaluate
    * interpreted, and it dominated sf0.1 wall time; one UDF per doc is
    * ~10× cheaper and the hash choice is internal to the near-dup
    * operators (estimates only, never compared across engines). Tokens
    * are [[TextFunctions.tokensLocal]]'s, minus empty ones (the q25/q26
    * oracles filter them the same way).
    */
  private def shingleHashArray(text: String, n: Int): Array[Long] = {
    val toks = TextFunctions.tokensLocal(text).filter(_.nonEmpty)
    if (toks.isEmpty) return Array.empty[Long]
    val count = math.max(toks.length - n + 1, 1)
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
      var j = i
      val end = math.min(i + n, toks.length)
      while (j < end) {
        val s = toks(j)
        var k = 0
        while (k < s.length) {
          h ^= s.charAt(k); h *= 0x100000001b3L; k += 1
        }
        h ^= ' '; h *= 0x100000001b3L
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  private val shingleHashesUdf = udf { (text: String, n: Int) =>
    shingleHashArray(text, n)
  }

  /** Whole MinHash signature in ONE kernel pass per doc: tokenize →
    * n-gram FNV → all numHashes running mins in a tight loop, no
    * explode and no shuffle at all for the signature stage. (Earlier
    * iterations: the nested-transform array form re-evaluated the
    * shingle array per permutation — 60× slower; the explode +
    * 64-MIN-aggregate form shuffled |shingles| rows through agg
    * machinery — ~2s of sf0.1.) Shared by the batch candidate
    * generator and the streaming near-dup operator so both band the
    * IDENTICAL signature family.
    */
  private[graft] def minHashSigUdf(
      numHashes: Int,
      shingleSize: Int,
      seed: Long
  ): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val coeffs = coefficients(numHashes, seed)
    val as = coeffs.map(_._1).toArray
    val bs = coeffs.map(_._2).toArray
    udf { (text: String) =>
      val hs = shingleHashArray(text, shingleSize)
      if (hs.isEmpty) null
      else {
        val sig = Array.fill(numHashes)(Long.MaxValue)
        var i = 0
        while (i < hs.length) {
          val xm = hs(i) & MersennePrime
          var j = 0
          while (j < numHashes) {
            val v = (as(j) * xm + bs(j)) % MersennePrime
            if (v < sig(j)) sig(j) = v
            j += 1
          }
          i += 1
        }
        sig
      }
    }
  }

  /** Literal band-struct array over a signature column (codegen — not a
    * higher-order transform): (band, xxhash64 of the band's rows).
    * Shared by batch and streaming banding.
    */
  private[graft] def bandStructs(
      sig: Column,
      bands: Int,
      rowsPerBand: Int
  ): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, rowsPerBand)))
          .as("bandHash"))
    }: _*)

  /** Shingle-hash column (array<bigint>) for a text column. */
  def shingleHashes(text: Column, shingleSize: Int): Column =
    shingleHashesUdf(text, lit(shingleSize))

  /** Candidate near-dup pairs via LSH banding over the MinHash signature.
    *
    * Input: df with an `idCol` and `textCol`. Output: (id_a, id_b,
    * jaccard_est) with id_a < id_b, deduplicated; `jaccard_est` is the
    * signature-agreement fraction. Shuffles on (band, bandHash) — the
    * only join key — so cost is bands × |docs| rows, never |docs|².
    */
  def minHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      seed: Long = 42L,
      maxBucketSize: Int = 0
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigUdf = minHashSigUdf(numHashes, shingleSize, seed)
    // Materialized once: the band self-join below references this frame
    // on both sides and Spark plans the subtree per reference (no
    // ReusedExchange) — without truncation the signature kernel runs
    // twice over the corpus. One row of 64 longs per doc, tiny next to
    // the text it replaces.
    val withSig = df
      .select(col(idCol).as("__id"), sigUdf(col(textCol)).as("__sig"))
      .filter(col("__sig").isNotNull)
      .localCheckpoint(true)

    // Only (id, band, bandHash) goes through the banding shuffle — with
    // 64-hash signatures the sig payload is ~0.5 KB/row × bands copies,
    // and carrying it measured ~3× the shuffle volume of joining the
    // small candidate set back to the checkpointed sig frame.
    val bandArr = bandStructs(col("__sig"), bands, rowsPerBand)
    val bandedAll = withSig
      .select(col("__id"), explode(bandArr).as("__b"))
      .select(col("__id"), col("__b.band"), col("__b.bandHash"))

    // Optional hot-bucket cap (0 = uncapped, the exact-semantics
    // default the oracle queries rely on): a bucket of m rows emits
    // m²/2 candidate pairs, so one degenerate band value — an
    // exact-duplicate class, an empty-text class — turns the join
    // quadratic no matter how good the banding is. The documented
    // at-scale recipe is exact-dedup FIRST (collapse identical
    // content, which removes all-band-identical classes), then cap
    // the stragglers like the simhash path's [[simHashPairs]] guard:
    // dropped buckets trade recall for survival, and their members
    // usually still meet through their other, colder bands.
    val banded =
      if (maxBucketSize <= 0) bandedAll
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bandHash"))
        bandedAll
          .withColumn("__bcount", count(lit(1)).over(w))
          .filter(col("__bcount") <= maxBucketSize)
          .drop("__bcount")
      }

    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    cand
      .join(withSig.select(col("__id").as("id_a"),
        col("__sig").as("sig_a")), Seq("id_a"))
      .join(withSig.select(col("__id").as("id_b"),
        col("__sig").as("sig_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        // agreement fraction via a primitive kernel — the
        // zip_with/filter/size expression evaluates interpreted per
        // candidate pair (same CodegenFallback trap as the shingle path)
        sigAgreementUdf(col("sig_a"), col("sig_b")).as("jaccard_est")
      )
  }

  /** Fraction of signature positions that agree (the MinHash Jaccard
    * estimate) in one primitive pass.
    */
  private val sigAgreementUdf = udf {
    (a: scala.collection.Seq[Long], b: scala.collection.Seq[Long]) =>
      if (a == null || b == null || a.isEmpty) 0.0
      else {
        val n = math.min(a.length, b.length)
        var same = 0
        var i = 0
        while (i < n) { if (a(i) == b(i)) same += 1; i += 1 }
        same.toDouble / n
      }
  }

  /** Exact n-gram Jaccard similarity between two text columns —
    * verification stage for LSH candidates, or standalone on small
    * candidate sets. Expression-only (array_intersect/array_union on
    * distinct shingle sets).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = array_distinct(TextFunctions.wordNgrams(a, n))
    val sb = array_distinct(TextFunctions.wordNgrams(b, n))
    val inter = size(array_intersect(sa, sb))
    val union = size(array_union(sa, sb))
    when(union === 0, lit(0.0))
      .otherwise(inter.cast("double") / union.cast("double"))
  }

  /** THE md5-minhash-8 LSH band table (4 bands × 2 rows): each row of
    * a signature frame `sigs` (idCol, `sig` from
    * [[TextFunctions.md5MinHash8Udf]]) becomes 4 rows (idCol, [sig,]
    * band, bv) with `bv = sig[2·band] || '|' || sig[2·band + 1]`.
    * `keepSig` carries the signature along as join payload. Every
    * md5-banded consumer builds its bands here: the q36/q38 family,
    * [[CrossDedup]], the streaming cross-dedup and q116's
    * [[applyBandChanges]].
    */
  private[graft] def md5Bands(sigs: DataFrame, idCol: String,
      keepSig: Boolean = false): DataFrame = {
    val bandArr = array((0 until 4).map { b =>
      concat_ws("|", col("sig")(2 * b), col("sig")(2 * b + 1))
    }: _*)
    val keep = col(idCol) +: (if (keepSig) Seq(col("sig")) else Nil)
    sigs.select(keep :+ posexplode(bandArr).as(Seq("band", "bv")): _*)
      .withColumn("band", col("band").cast("long"))
  }

  /** The [[md5Bands]] table of a corpus — the searchable index form of
    * the q36 banding, and the base [[applyBandChanges]] maintains under
    * merges.
    */
  def md5BandTable(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // the signature is its own projection, so the 8 element accesses
    // in md5Bands index ONE evaluated array — inlining the UDF call per
    // access would run the whole minhash kernel up to 8× per doc
    // (CollapseProject keeps the split: the alias is referenced more
    // than once and a UDF is not a cheap expression)
    md5Bands(docs.select(col(idCol),
      TextFunctions.md5MinHash8Udf(col(textCol)).as("sig")), idCol)

  /** Incremental LSH index maintenance — the near-dup analog of
    * [[IndexStats.applyChanges]]: consume a merge's change feed and
    * emit the post-merge band table at O(changes) cost. Retired rows
    * (delete / update_preimage) anti-join out by id; inserted rows
    * (insert / update_postimage) hash through the SAME signature
    * kernel the full build uses — if the two paths ever tokenized
    * differently, incremental == full-rebuild would silently break
    * (the q116 oracle recomputes from the merged corpus and
    * hash-matches). At 100 TB a daily merge touching 0.1% of docs
    * re-hashes 0.1%, not the corpus; candidate-pair discovery for the
    * NEW docs is then `newBands ⋈ (band, bv)` against this table —
    * bounded by the changed docs' bucket occupancy.
    */
  def applyBandChanges(
      baseBands: DataFrame,
      changes: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // the retired and added branches both read `changes`; without
    // materialization Spark plans the change feed's full-outer join
    // (and everything upstream of it) once PER BRANCH — measured 2.3×
    // on q116. The frame is O(changes) by the operator's own premise,
    // and its projection is plain columns (not an expensive
    // interpreted tree — the case where checkpointing is a trap).
    val ch = changes
      .select(col("_change_type"), col(idCol), col(textCol))
      .localCheckpoint(true)
    val retired = ch
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(col(idCol))
    val added = ch
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(col(idCol), col(textCol))
    baseBands
      .join(retired, Seq(idCol), "left_anti")
      .unionByName(md5BandTable(added, idCol, textCol))
  }

  /** Kernel form of the q27 self-prefix Jaccard: tokenize ONCE, build
    * both distinct gram sets (full text and its `frac`-token prefix)
    * and intersect in one JVM pass. The expression form
    * ([[ngramJaccard]] over a `concat_ws(slice(tokens))` prefix) is
    * interpreted — and because the prefix column nests inside
    * `wordNgrams`'s per-gram lambda, it re-evaluates the tokenize and
    * the prefix PER GRAM: quadratic per document (caught at sf0.1,
    * where one such task burned 9 CPU-minutes; Bench's count() had
    * hidden it by pruning the projection). Same round-3 kernel lesson;
    * semantics identical to the DuckDB oracle's
    * `t[1:greatest(floor(len·frac),1)]` convention.
    */
  val prefixJaccardUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, frac: Double, n: Int) =>
      val toks = TextFunctions.tokensLocal(text)
      val full = TextFunctions.gramsOf(toks, n).toSet
      val pLen = math.max(math.floor(toks.length * frac).toInt, 1)
      val pref = TextFunctions.gramsOf(toks.take(pLen), n).toSet
      val inter = pref.count(full.contains)
      val union = full.size + pref.size - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }

  /** Asymmetric n-gram containment |G(a) ∩ G(b)| / |G(a)| over distinct
    * shingle sets — the superset-duplicate detector: a short document
    * wholly quoted inside a long one scores containment ≈ 1 where
    * symmetric Jaccard (q27) dilutes toward |short|/|long| and misses
    * it. Run on LSH candidate pairs, like [[ngramJaccard]]; empty G(a)
    * → 0.0. Expression form — fine on SMALL candidate sets; for
    * per-corpus or large-candidate use, build each doc's distinct gram
    * set ONCE with [[distinctGramsUdf]] and score with
    * [[setContainmentUdf]] (the interpreted `wordNgrams` here
    * re-tokenizes per gram — quadratic per evaluation).
    */
  def ngramContainment(a: Column, b: Column, n: Int = 3): Column = {
    val sa = array_distinct(TextFunctions.wordNgrams(a, n))
    val sb = array_distinct(TextFunctions.wordNgrams(b, n))
    when(size(sa) === 0, lit(0.0))
      .otherwise(size(array_intersect(sa, sb)).cast("double") /
        size(sa).cast("double"))
  }

  /** Distinct word n-grams as one kernel pass — the precompute-once
    * side of the scalable containment path.
    */
  val distinctGramsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, n: Int) =>
      TextFunctions.distinctGramsJvm(text, n)
    }

  /** |A ∩ B| / |A| over two precomputed distinct-gram arrays. */
  val setContainmentUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: scala.collection.Seq[String], b: scala.collection.Seq[String]) =>
      if (a == null || a.isEmpty) 0.0
      else {
        val bs = new java.util.HashSet[String]()
        b.foreach(bs.add)
        var inter = 0
        a.foreach(g => if (bs.contains(g)) inter += 1)
        inter.toDouble / a.size
      }
    }

  /** 64-bit SimHash of the shingle multiset. One UDF per doc over the
    * already-hashed shingle array (the bit-vote loop has no builtin
    * equivalent); everything around it stays codegen.
    */
  private val simHashUdf = udf { (hashes: Seq[Long]) =>
    if (hashes == null || hashes.isEmpty) 0L
    else {
      val votes = new Array[Int](64)
      hashes.foreach { h =>
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      var out = 0L
      var i = 0
      while (i < 64) {
        if (votes(i) > 0) out |= (1L << i)
        i += 1
      }
      out
    }
  }

  def simHash(text: Column, shingleSize: Int = 3): Column =
    simHashUdf(shingleHashes(text, shingleSize))

  /** Hamming distance between two 64-bit simhashes (bit_count of XOR). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: docs whose simhashes agree on one of
    * `tables` bit-blocks (classic Charikar partitioning — guarantees
    * recall for hamming distance < tables). Same banding-join shape as
    * MinHash: shuffle on (block, blockBits), never O(n²).
    */
  def simHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tables: Int = 4,
      maxHamming: Int = 8,
      shingleSize: Int = 3,
      maxBucketSize: Int = 200
  ): DataFrame = {
    val bitsPerBlock = 64 / tables
    val withSig = df.select(col(idCol).as("__id"),
      simHash(col(textCol), shingleSize).as("__sh"))
    // block array built in Scala so shiftright gets literal counts
    val blocks = (0 until tables).map { b =>
      struct(
        lit(b).as("block"),
        shiftrightunsigned(col("__sh"), b * bitsPerBlock)
          .bitwiseAND(lit((1L << bitsPerBlock) - 1))
          .as("blockBits")
      )
    }
    // Hot-bucket cap: a block value shared by m docs contributes m²
    // candidate pairs, so degenerate buckets (near-identical boilerplate
    // across a correlated corpus) dominate the join quadratically. The
    // standard LSH-at-scale guard drops buckets above a size cap — those
    // pairs are "everything matches everything" content, and a doc in a
    // hot bucket still meets its near-dups through its other blocks.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block"), col("blockBits"))
    // Materialized once: both join sides below reference this frame and
    // Spark plans the subtree per reference (no ReusedExchange), which
    // would run the simhash kernel AND the bucket-cap window twice.
    val blocked = withSig
      .select(col("__id"), col("__sh"), explode(array(blocks: _*)).as("__blk"))
      .select(col("__id"), col("__sh"), col("__blk.block"),
        col("__blk.blockBits"))
      .withColumn("__bcount", count(lit(1)).over(w))
      .filter(col("__bcount") <= maxBucketSize)
      .drop("__bcount")
      .localCheckpoint(true)

    val left = blocked.select(col("block"), col("blockBits"),
      col("__id").as("id_a"), col("__sh").as("sh_a"))
    val right = blocked.select(col("block"), col("blockBits"),
      col("__id").as("id_b"), col("__sh").as("sh_b"))
    left
      .join(right, Seq("block", "blockBits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Paragraph-level exact dedup (the C4/RefinedWeb span-dedup shape at
    * paragraph granularity): split each document on blank-line boundaries,
    * hash every non-empty trimmed paragraph, and keep only the FIRST
    * occurrence corpus-wide (first = lowest (idCol, paragraph index)).
    *
    * Returns one row per paragraph: (id, idx, plen, h, rn) with rn = 1 for
    * the kept occurrence. The window is partitioned on the md5 hash, so
    * the shuffle carries (id, idx, hash, length) — 4 fixed-width columns,
    * never the paragraph text — and at 100 TB the repeated-content skew
    * lands on distinct hash keys, not one reducer.
    */
  def paragraphDedup(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val paras = docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), "\n\n")).as(Seq("idx", "para")))
      .withColumn("para", trim(col("para")))
      .filter(length(col("para")) > 0)
      .select(col("id"), col("idx").cast("long").as("idx"),
        length(col("para")).cast("long").as("plen"),
        md5(col("para")).as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("id"), col("idx"))
    paras.withColumn("rn", row_number().over(w).cast("long"))
  }
}
