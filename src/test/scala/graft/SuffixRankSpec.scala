package graft

import graft.operators.SuffixRank
import org.apache.spark.sql.functions._

class SuffixRankSpec extends SparkSpecBase {
  import spark.implicits._

  /** Independent brute force: dense rank of depth-truncated suffixes
    * by plain string sort — no shared code with the doubling ladder.
    */
  private def bruteRanks(
      docs: Seq[(Long, String)],
      depth: Int): Map[(Long, Long), Long] = {
    val suffixes = for {
      (id, t) <- docs
      p <- 1 to t.length
    } yield ((id, p.toLong), t.substring(p - 1).take(depth))
    val order = suffixes.map(_._2).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    suffixes.map { case (k, s) => k -> order(s) }.toMap
  }

  private val corpus = Seq(
    (1L, "banana band"),
    (2L, "a banana stand and a banana"),
    (3L, "band banana"),
    (4L, "zzz"),
    (5L, "b") // single char; every suffix shorter than any depth > 1
  )

  test("suffix ranks equal brute-force truncated-suffix dense ranks") {
    for (depth <- Seq(1, 2, 4, 8, 32)) {
      val got = SuffixRank
        .rank(corpus.toDF("doc_id", "text"), "doc_id", "text", depth)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got === bruteRanks(corpus, depth), s"depth=$depth")
    }
  }

  test("the prefix-doubling ladder equals DENSE_RANK over substr") {
    // initChars = 8 seeds the ladder below the depth, so depth 32 runs
    // two doubling rounds and depth 64 three; long shared passages make
    // the deeper truncations differ from the shallower ones
    val line = "the quick brown fox jumps over the lazy dog while the cat naps"
    val docs = corpus ++ Seq(
      (10L, line + " and again " + line),
      (11L, line.replace("lazy", "busy")),
      (12L, line.take(40) + "X" + line.drop(41)))
    val df = docs.toDF("doc_id", "text")
    df.createOrReplaceTempView("suffix_ladder_docs")
    for (depth <- Seq(32, 64)) {
      val got = SuffixRank.rank(df, "doc_id", "text", depth, initChars = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val brute = spark.sql(
        s"""SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           |  DENSE_RANK() OVER (ORDER BY substr(text, pos, $depth)) AS rank
           |FROM (SELECT doc_id, text,
           |  explode(sequence(1, length(text))) AS pos
           |  FROM suffix_ladder_docs)""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong)
        .toMap
      assert(got === brute, s"depth=$depth")
    }
  }

  test("equal ranks exactly identify equal spans across documents") {
    val got = SuffixRank
      .rank(corpus.toDF("doc_id", "text"), "doc_id", "text", depth = 4)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val text = corpus.toMap
    def span(id: Long, pos: Long) =
      text(id).substring(pos.toInt - 1).take(4)
    // every pair of positions: same rank ⇔ same 4-char span
    for (((ka, ra), i) <- got.zipWithIndex; (kb, rb) <- got.drop(i + 1)) {
      assert((ra == rb) === (span(ka._1, ka._2) == span(kb._1, kb._2)),
        s"$ka vs $kb")
    }
    // "bana" appears in docs 1, 2 (twice) and 3 — one shared rank class
    val banas = got.filter { case ((id, p), _) => span(id, p) == "bana" }
    assert(banas.map(_._2).distinct.length === 1)
    assert(banas.map(_._1._1).distinct.sorted === Seq(1L, 2L, 3L))
  }

  test("depth must be a power of two; empty/null text is skipped") {
    intercept[IllegalArgumentException] {
      SuffixRank.rank(corpus.toDF("doc_id", "text"), "doc_id", "text", 12)
    }
    val withEmpty = (corpus ++ Seq((6L, ""), (7L, null.asInstanceOf[String])))
      .toDF("doc_id", "text")
    val got = SuffixRank.rank(withEmpty, "doc_id", "text", 4)
      .select("id").distinct().as[Long].collect().toSet
    assert(got === Set(1L, 2L, 3L, 4L, 5L))
  }
}
