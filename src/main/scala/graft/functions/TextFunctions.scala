package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale document pipelines:
  * tokenization, quality stats, fingerprinting, language ID.
  *
  * Two forms live here. The `Column` functions ([[tokens]],
  * [[wordNgrams]], the quality ratios) are expression trees of Spark
  * builtins. The `...Udf` values are per-row JVM kernels, one pass per
  * document, for the shingle and hash work whose expression form
  * evaluates interpreted: the md5 gram, minhash and simhash kernels,
  * the rolling fingerprint, the repetition stats, NFC, deflate and
  * language ID. Every kernel tokenizes through [[tokensLocal]], the
  * twin of [[tokens]], and builds word n-grams through [[gramsOf]],
  * the twin of [[wordNgrams]] (PropertySpec pins both pairs).
  */
object TextFunctions {

  /** Whitespace tokenization, trimming first so trailing blanks don't
    * produce empty tokens. Empty text → empty array (not [""]).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Plain-function twin of [[tokens]] for per-row kernels — MUST stay
    * semantically identical, and every JVM kernel tokenizes through it.
    * Two traps make the obvious Java `trim` followed by `split("\\s+")`
    * WRONG:
    *  - SQL `trim` (Spark and DuckDB) strips only ' ' (U+0020), while
    *    Java `String.trim` strips every char ≤ U+0020 — so "\tfoo"
    *    must keep its tab and tokenize as ["", "foo"];
    *  - Spark's `split` keeps trailing empty tokens (limit −1), while
    *    Java's default `split` drops them — so "foo\t" must tokenize
    *    as ["foo", ""].
    */
  def tokensLocal(text: String): Array[String] = {
    val s = if (text == null) "" else text
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    val t = s.substring(from, to)
    if (t.isEmpty) Array.empty[String] else t.split("\\s+", -1)
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Distinct-token count (vocabulary size of the document). */
  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Type-token ratio: |distinct| / |tokens| — a repetition/quality
    * signal (≈1 diverse, →0 degenerate repetition).
    */
  def typeTokenRatio(text: Column): Column = {
    val n = size(tokens(text))
    when(n === 0, lit(0.0))
      .otherwise(size(array_distinct(tokens(text))).cast("double") /
        n.cast("double"))
  }

  /** Ratio of alphabetic characters to all characters. */
  def alphaRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
        n.cast("double"))
  }

  /** Ratio of punctuation characters (fixed class for engine parity). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^.,!?;:'\"()-]", "")).cast("double") /
        n.cast("double"))
  }

  /** Mean token length, 0 for empty docs. */
  def meanTokenLength(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, lit(0.0)).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(ts).cast("double"))
  }

  /** Stopword ratio against a caller-provided list (broadcast literal). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ts = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(ts) === 0, lit(0.0)).otherwise(
      size(filter(ts, t => array_contains(sw, t))).cast("double") /
        size(ts).cast("double"))
  }

  /** Word n-grams as space-joined strings (shingles for dedup). Documents
    * shorter than n yield a single shingle of the whole text.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val ts = tokens(text)
    val count = greatest(size(ts) - (n - 1), lit(1))
    transform(
      sequence(lit(0), count - 1),
      i => concat_ws(" ", slice(ts, i + 1, lit(n)))
    )
  }

  /** Rolling-hash document fingerprint: min of xxhash64 over word 5-gram
    * shingles (winnowing-style min-sampling; SURVEY §7.5). Equal
    * fingerprints ⇒ likely shared 5-gram content.
    */
  def fingerprint(text: Column, n: Int = 5): Column =
    array_min(transform(wordNgrams(text, n), g => xxhash64(g)))

  /** Rolling-hash fingerprint (q28's Rabin–Karp over md5-28 token
    * hashes) as ONE kernel pass: hash each token once, fold each
    * 5-token window with `acc·B + x mod M`, keep the window minimum.
    * Returns struct(fp, n_windows). The expression form (`transform`
    * windows slicing a `transform(tokens, md5)` array) re-evaluated
    * the full token-hash build PER WINDOW interpreted — measured 15s
    * at sf0.1 for 5000 docs (hidden by Bench's count() pruning) vs
    * ~0.2s for this kernel. Arithmetic is bit-identical to the DuckDB
    * oracle's list_reduce fold: B = 1000003, M = 2³¹−1, zero seed,
    * 28-bit hashes = the first 7 hex chars of md5(token).
    */
  val rollingFp28Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val toks = tokensLocal(text)
      val md = java.security.MessageDigest.getInstance("MD5")
      val th = new Array[Long](toks.length)
      var k = 0
      while (k < toks.length) {
        th(k) = md5Bits(md.digest(
          toks(k).getBytes(java.nio.charset.StandardCharsets.UTF_8)), 28)
        k += 1
      }
      val nw = math.max(th.length - 4, 1)
      var minv = Long.MaxValue
      var i = 0
      while (i < nw) {
        var acc = 0L
        var j = i
        val end = math.min(i + 5, th.length)
        while (j < end) { acc = (acc * 1000003L + th(j)) % 2147483647L; j += 1 }
        if (acc < minv) minv = acc
        i += 1
      }
      (minv, nw.toLong)
    }

  /** Unicode NFC composition — one kernel UDF (java.text.Normalizer;
    * no Spark builtin exists); DuckDB's `nfc_normalize` implements the
    * same Unicode normal form, so NFC output is cross-engine exact.
    */
  val nfcUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }

  /** Canonical text normalization — the pass a corpus runs BEFORE
    * dedup/fingerprinting so that byte-different, visually-identical
    * variants (decomposed accents, case, ragged whitespace, stray
    * control chars) collapse to one form: NFC-compose → strip
    * C0/DEL control chars → lowercase → collapse whitespace runs →
    * trim. Everything except the NFC kernel stays codegen builtins.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      // strip C0 controls EXCEPT \t \n \r (those are whitespace the
      // collapse step must still see) plus DEL
      lower(regexp_replace(nfcUdf(text),
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")),
      "\\s+", " "))

  /** BPE-ish subword count estimate: whitespace tokens split further at
    * letter/digit/other boundaries (a cheap proxy for tokenizer cost).
    * The replacement appends a U+0001 separator after each run (so
    * "abc123" splits into "abc","123") and the split class includes it;
    * an oracle using a plain space separator counts identically, since
    * runs never contain whitespace.
    */
  def subwordCount(text: Column): Column =
    size(
      filter(
        split(
          regexp_replace(
            trim(text),
            "([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+)",
            "$1"
          ),
          "[\\s]+"
        ),
        t => length(t) > 0
      )
    ).cast("long")

  /** Repetition-signal kernel (Gopher-style quality filters): one pass
    * per document computing (n_tokens, max token freq, n_bigrams, max
    * bigram freq, n_trigrams, n_distinct_trigrams) with per-doc hash
    * maps. A single embarrassingly-parallel projection — no shuffle —
    * where the equivalent explode + two-level aggregate costs two
    * shuffles and re-evaluates interpreted n-gram expressions per
    * branch (measured 7.1s vs 0.1s at sf0.1). Documents are bounded in
    * size, so the per-doc maps are too. Shingle semantics mirror
    * [[wordNgrams]] (docs shorter than n yield one whole-text shingle).
    */
  val repetitionStatsUdf = udf { (text: String) =>
    val toks = tokensLocal(text)
    def maxFreq(xs: Array[String]): Long = {
      val m = new java.util.HashMap[String, Long](xs.length * 2)
      var best = 0L
      var i = 0
      while (i < xs.length) {
        val c = m.merge(xs(i), 1L, (a, b) => a + b)
        if (c > best) best = c
        i += 1
      }
      best
    }
    val bi = gramsOf(toks, 2)
    val tri = gramsOf(toks, 3)
    val triSet = new java.util.HashSet[String](tri.length * 2)
    tri.foreach(triSet.add)
    (toks.length.toLong, maxFreq(toks), bi.length.toLong, maxFreq(bi),
      tri.length.toLong, triSet.size.toLong)
  }

  // --- md5 shingle-hash kernels ------------------------------------------

  /** Positional word n-grams of a token array, exactly as [[wordNgrams]]
    * and the DuckDB oracles build them: `max(|toks| − (n−1), 1)`
    * windows joined by a space, so a document shorter than n yields one
    * whole-text gram and no tokens yield one empty gram. THE one gram
    * builder of the JVM kernels.
    */
  private[graft] def gramsOf(toks: Array[String], n: Int): Array[String] = {
    val count = math.max(toks.length - (n - 1), 1)
    Array.tabulate(count)(i => toks.slice(i, i + n).mkString(" "))
  }

  /** [[gramsOf]] over the [[tokensLocal]] tokens of `text`. */
  private[graft] def posGrams(text: String, n: Int): Array[String] =
    gramsOf(tokensLocal(text), n)

  /** The first `bits` (≤ 64) bits of an md5 digest as a long, big-endian:
    * 60 is DuckDB's `('0x' || substr(md5(x), 1, 15))::BIGINT`, 28 its
    * 7-hex-char form, and 64 the full first 8 bytes.
    */
  private[graft] def md5Bits(d: Array[Byte], bits: Int): Long = {
    var hv = 0L
    var bi = 0
    while (bi < 8) { hv = (hv << 8) | (d(bi) & 0xffL); bi += 1 }
    hv >>> (64 - bits)
  }

  /** Positional word n-grams as one primitive kernel pass — the
    * explode-side twin of [[wordNgrams]] (whose higher-order transform
    * evaluates interpreted; under an explode + aggregate that measured
    * ~20× slower than this UDF at sf0.1). Identical gram convention,
    * including NULL text → NULL array (explode then emits no rows, like
    * the expression form and the SQL oracles — a `[""]` here would
    * fabricate one empty gram per null doc).
    */
  val wordNgramsKernelUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, n: Int) =>
      if (text == null) null else posGrams(text, n)
    }

  def wordNgramsKernel(text: Column, n: Int): Column =
    wordNgramsKernelUdf(text, lit(n))

  /** Positional word n-grams hashed to the md5-60-bit family (first 15
    * hex chars of `md5(gram)` as a long — DuckDB:
    * `('0x'||substr(md5(g),1,15))::BIGint`) in one kernel pass, value
    * taken straight from the digest bytes. Narrow explode payload for
    * corpus-wide gram statistics. NULL text → NULL, as in
    * [[wordNgramsKernelUdf]].
    */
  val md5Grams60Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, n: Int) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      if (text == null) null
      else posGrams(text, n).map { g =>
        md5Bits(md.digest(
          g.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 60)
      }
    }

  /** DISTINCT word n-grams as full 64-bit md5 hashes in one kernel
    * pass (split → gram → digest → dedupe), never materializing gram
    * strings — the token-set form
    * [[graft.operators.SetSimJoin.jaccardSelfJoin]] consumes on its
    * array&lt;long&gt; fast path. Distinct from [[md5Grams60Udf]] in
    * two ways: hashes are deduplicated (set semantics, not positional)
    * and all 8 digest bytes are used (set-similarity counts exact
    * intersections, so collision head-room matters more than DuckDB
    * reproducibility — there is no SQL twin of this kernel, oracles
    * re-derive sets from the text). NULL text → NULL.
    */
  val md5GramSet64Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, n: Int) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      if (text == null) null
      else {
        val gs = posGrams(text, n)
        val seen = new java.util.HashSet[Long](gs.length * 2)
        val out = Array.newBuilder[Long]
        gs.foreach { g =>
          val hv = md5Bits(md.digest(
            g.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 64)
          if (seen.add(hv)) out += hv
        }
        out.result()
      }
    }

  /** Distinct word n-grams in first-occurrence order ([[posGrams]]
    * deduplicated) — the JVM form for kernel operators (e.g.
    * [[graft.operators.Decontaminate]]).
    */
  private[graft] def distinctGramsJvm(text: String, n: Int): Array[String] =
    posGrams(text, n).distinct

  private val hexDigits = "0123456789abcdef".toCharArray

  private def digestHex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** 8-seed md5 minhash signature — the q24 family (`min md5("s:"+gram)`)
    * as one primitive pass per document instead of 8 interpreted
    * higher-order transforms. Oracle-identical: MessageDigest md5 is the
    * same function DuckDB's `md5()` computes, and min over the multiset
    * equals min over the distinct set (so hashing each DISTINCT gram
    * once is both correct and cheaper on repetitive text). Minima are
    * tracked as raw digests — unsigned byte order IS hex-string order —
    * and only the 8 winners are hexified; the per-seed prefix feeds the
    * digest incrementally so the gram is UTF-8-encoded once, not 8×.
    */
  val md5MinHash8Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val prefixes = Array.tabulate(8)(s =>
        (s.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val gs = posGrams(text, 3)
      val seen = new java.util.HashSet[String]()
      val mins = Array.fill[Array[Byte]](8)(null)
      var i = 0
      while (i < gs.length) {
        if (seen.add(gs(i))) {
          val gb = gs(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var s = 0
          while (s < 8) {
            md.update(prefixes(s))
            md.update(gb)
            val d = md.digest() // digest() resets the instance
            if (mins(s) == null ||
              java.util.Arrays.compareUnsigned(d, mins(s)) < 0) mins(s) = d
            s += 1
          }
        }
        i += 1
      }
      mins.map(digestHex).toSeq
    }

  /** 60-bit md5 SimHash (bit-majority over distinct 3-gram shingle
    * hashes, hash = first 15 hex chars of md5 as a long) — one primitive
    * pass per document; the oracle computes the identical family in SQL.
    * The 60-bit value comes straight from the digest bytes
    * ([[md5Bits]]), no hex round-trip.
    */
  val md5SimHash60Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val seen = new java.util.HashSet[String]()
      val counts = new Array[Int](60)
      val gs = posGrams(text, 3)
      var i = 0
      while (i < gs.length) {
        if (seen.add(gs(i))) {
          val hv = md5Bits(md.digest(
            gs(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)), 60)
          var b = 0
          while (b < 60) {
            counts(b) += (if (((hv >> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 60) {
        if (counts(b) > 0) sim |= (1L << b)
        b += 1
      }
      sim
    }

  /** Deflate compression ratio (compressed/raw bytes, level 6) — the
    * classic redundancy quality signal (Gopher/RefinedWeb family):
    * boilerplate and degenerate repetition compress far below natural
    * text. Deterministic for a given JVM zlib; engine-internal, so
    * spec-pinned rather than oracle-compared.
    */
  val deflateRatioUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null || text.isEmpty) 1.0
      else {
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(6)
        d.setInput(bytes)
        d.finish()
        var out = 0L
        val buf = new Array[Byte](8192)
        while (!d.finished()) out += d.deflate(buf)
        d.end()
        out.toDouble / bytes.length
      }
    }

  // --- language ID -------------------------------------------------------

  /** Tiny per-language character-trigram profiles (hand-built from common
    * function words; public-knowledge linguistics, no external data).
    */
  private val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ",
      "ing", "ng ", " to", "to ", "ion", " in", "ed "),
    "de" -> Seq(" de", "der", "er ", "ie ", " di", "die", "und", " un",
      "nd ", "ein", "ch ", "sch", "en ", "ung", " ge"),
    "fr" -> Seq(" de", "de ", " le", "le ", "es ", " la", "la ", "ent",
      "nt ", "que", " qu", "ue ", "les", " et", "et "),
    "es" -> Seq(" de", "de ", " la", "la ", "el ", " el", "os ", " en",
      "en ", "que", " qu", "ue ", "ión", "ado", "ar "),
    "it" -> Seq(" di", "di ", " la", "la ", "to ", " il", "il ", "re ",
      "one", "la ", " co", "del", " de", "che", " ch")
  )

  /** Heuristic language ID: CJK-range detection first, else the language
    * whose trigram profile has the most hits in the text. Deterministic
    * tie-break on language code. Applied once per document (driver-side
    * profile map, executor-side pure function).
    */
  val langIdUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null || text.isEmpty) "und"
      else {
        val cjk = text.codePoints().toArray.count(cp =>
          (cp >= 0x4e00 && cp <= 0x9fff) || (cp >= 0x3040 && cp <= 0x30ff))
        if (cjk * 4 > text.length) "zh"
        else {
          val lower = " " + text.toLowerCase + " "
          val scored = profiles.toSeq.map { case (lang, grams) =>
            (lang, grams.count(lower.contains))
          }
          val best = scored.sortBy { case (lang, hits) => (-hits, lang) }.head
          if (best._2 == 0) "und" else best._1
        }
      }
    }

  def langId(text: Column): Column = langIdUdf(text)
}
