package graft

import graft.operators.UnigramLm
import org.apache.spark.sql.functions._

class UnigramLmSpec extends SparkSpecBase {
  import spark.implicits._

  /** Independent single-machine reference: same EM definition
    * (substring seed → Viterbi counts → prune keeping chars),
    * written as plain Scala maps, no shared code with the operator
    * beyond the published algorithm.
    */
  private def referenceTrain(
      wordCounts: Map[String, Long],
      maxLen: Int,
      seedMin: Long,
      target: Int,
      rounds: Int,
      pruneFrac: Double): Map[String, Long] = {
    def segment(w: String, lp: Map[String, Double]): List[String] = {
      val n = w.length
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      val back = Array.fill(n + 1)(-1)
      best(0) = 0.0
      for (e <- 1 to n; s <- math.max(0, e - maxLen) until e) {
        lp.get(w.substring(s, e)).foreach { p =>
          if (best(s) + p > best(e)) { best(e) = best(s) + p; back(e) = s }
        }
      }
      var out = List.empty[String]; var e = n
      while (e > 0) { out = w.substring(back(e), e) :: out; e = back(e) }
      out
    }
    var vocab: Map[String, Long] = wordCounts.toSeq
      .flatMap { case (w, c) =>
        for {
          i <- 0 until w.length
          j <- (i + 1) to math.min(i + maxLen, w.length)
        } yield (w.substring(i, j), c)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter { case (p, c) => c >= seedMin || p.length == 1 }
    var counts = vocab
    for (_ <- 1 to rounds) {
      val total = vocab.values.sum.toDouble
      val lp = vocab.map { case (p, c) => p -> math.log(c / total) }
      counts = wordCounts.toSeq
        .flatMap { case (w, c) => segment(w, lp).map(_ -> c) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val (chars, multi) = vocab.keys.partition(_.length == 1)
      val scored = multi.toSeq.map(p => (p, counts.getOrElse(p, 0L)))
        .sortBy { case (p, c) => (-c, p) }
      val keepN = math.max(target - chars.size,
        math.ceil(scored.size * (1 - pruneFrac)).toInt)
      vocab = (chars.map(p => p -> counts.getOrElse(p, 0L)) ++
        scored.take(math.min(scored.size, keepN))).toMap
    }
    vocab.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
  }

  private val corpus = Seq(
    (1L, "banana band banana"),
    (2L, "sandbank banana sand"),
    (3L, "band sandbank sand banana")
  ).toDF("doc_id", "text")

  test("train matches an independent reference implementation") {
    val got = UnigramLm.train(corpus, "text", maxPieceLen = 4,
        seedMinCount = 2L, targetSize = 12, emRounds = 3,
        pruneFrac = 0.25)
      .select("piece", "count").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wc = Map("banana" -> 4L, "band" -> 2L, "sandbank" -> 2L,
      "sand" -> 2L)
    val want = referenceTrain(wc, maxLen = 4, seedMin = 2L, target = 12,
      rounds = 3, pruneFrac = 0.25)
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("encode is lossless and single-char coverage survives pruning") {
    val vocab = UnigramLm.train(corpus, "text", maxPieceLen = 4,
      seedMinCount = 2L, targetSize = 8, emRounds = 2)
    // every letter of the corpus keeps a vocab entry
    val pieces = vocab.select("piece").collect().map(_.getString(0)).toSet
    "bandsk".foreach(ch => assert(pieces.contains(ch.toString), s"$ch"))
    // doc 4's edge control char is part of its first word, as the
    // trainer's `tokens` sees it, not whitespace to trim
    val docs = corpus.union(Seq((4L, "\u0001ab ab")).toDF("doc_id", "text"))
    val enc = UnigramLm.encode(docs, "doc_id", "text", vocab,
        maxPieceLen = 4)
      .withColumn("joined", concat_ws("", col("pieces")))
      .collect()
    assert(enc.length === 4)
    enc.foreach { r =>
      val orig = docs.filter(col("doc_id") === r.getLong(0))
        .head().getString(1).replaceAll("\\s+", "")
      assert(r.getAs[String]("joined") === orig)
    }
    // deterministic across invocations
    val again = UnigramLm.train(corpus, "text", maxPieceLen = 4,
        seedMinCount = 2L, targetSize = 8, emRounds = 2)
      .collect().map(_.toString).sorted
    assert(again === vocab.collect().map(_.toString).sorted)
  }

  test("zero-count coverage chars keep finite probability (no word loss)") {
    // Adversarial pruning: round 1 segments every word as ONE piece, so
    // every single char ends round 1 with count 0; aggressive pruning
    // (pruneFrac 0.9, targetSize 6) then drops the "qz" piece while the
    // q/z chars survive only as coverage entries. Without the log-prob
    // floor those carried log(0) = -Inf and round 2's Viterbi silently
    // DROPPED the word "qz" from the E-step — its chars stayed at count
    // 0 forever. With the floor, round 2 must segment "qz" as [q, z].
    val docs = Seq(
      (1L, "aaaa aaaa aaaa aaaa aaaa bbbb bbbb bbbb bbbb bbbb"),
      (2L, "aaaa aaaa aaaa aaaa aaaa bbbb bbbb bbbb bbbb bbbb"),
      (3L, "cccc cccc cccc cccc cccc cccc cccc cccc cccc cccc"),
      (4L, "qz qz")
    ).toDF("doc_id", "text")
    val trained = UnigramLm.train(docs, "text", maxPieceLen = 4,
      seedMinCount = 2L, targetSize = 6, emRounds = 2, pruneFrac = 0.9)
    val rows = trained.select("piece", "count", "logp").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the pruned-piece word was re-covered through its chars
    assert(rows("q")._1 === 2L, s"q count: ${rows.get("q")}")
    assert(rows("z")._1 === 2L)
    // no -Inf anywhere in the published artifact (encode must be able
    // to route through every coverage char)
    assert(rows.values.forall { case (_, lp) =>
      !lp.isNegInfinity && !lp.isNaN })
    // and encode over the trained vocab still covers the word
    val enc = UnigramLm.encode(docs.filter(col("doc_id") === 4L),
        "doc_id", "text", trained, maxPieceLen = 4)
      .head().getAs[scala.collection.Seq[String]]("pieces")
    assert(enc === Seq("q", "z", "q", "z"))
  }

  test("q188 forced-corpus EM/prune trace matches the hand derivation") {
    import spark.implicits._
    // 2 docs per class (so the `gf` seed clears seedMinCount=2); the
    // q188 oracle values at n0=n1=n2=2. Round 2 must prune `gf`
    // (keepN = max(7-5, ceil(3*0.5)) = 2), round 3 must re-route it
    // through the coverage chars f and g.
    val docs = Seq(
      Seq.fill(100)("de").mkString(" "), Seq.fill(100)("de").mkString(" "),
      Seq.fill(10)("fgh").mkString(" "), Seq.fill(10)("fgh").mkString(" "),
      "gf", "gf").toDF("text")
    val got = UnigramLm.train(docs, "text", maxPieceLen = 3,
      seedMinCount = 2L, targetSize = 7, emRounds = 3, pruneFrac = 0.5)
      .select("piece", "count", "rank")
      .as[(String, Long, Long)].collect().sortBy(_._3)
    val want = Seq(("de", 200L, 1L), ("fgh", 20L, 2L), ("f", 2L, 3L),
      ("g", 2L, 4L), ("d", 0L, 5L), ("e", 0L, 6L), ("h", 0L, 7L))
    assert(got.toSeq === want)
  }
}
