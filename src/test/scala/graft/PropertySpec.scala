package graft

import graft.functions.TextFunctions
import graft.operators.{Annotation, BpeVocab, PortableHll}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean

/** Property-based checks (scalacheck) over randomized inputs for the
  * operators whose correctness argument is algebraic — each property
  * is the exact identity the operator's scale story depends on, so a
  * future refactor that breaks the algebra fails here on inputs nobody
  * hand-picked. Iteration counts are small (each case runs real Spark
  * jobs); the fixed-fixture specs stay the fast line of defense.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var hv = 0L
    var i = 0
    while (i < 7) { hv = (hv << 8) | (d(i) & 0xffL); i += 1 }
    (hv << 4) | ((d(7) & 0xf0L) >> 4)
  }

  test("HLL: merge of ANY split equals the sketch of the whole (p=6)") {
    // the algebraic identity that makes the sketch mergeable at 100 TB:
    // partitioning must never change the register table
    val vals = (1 to 800).map(i => h60(s"p$i"))
    val prop = Prop.forAll(Gen.choose(1, 799)) { cut =>
      val whole = PortableHll
        .sketch(vals.toDF("h"), Nil, col("h"), p = 6)
        .as[(Long, Long)].collect().toSet
      val merged = PortableHll.merge(
        Seq(
          PortableHll.sketch(vals.take(cut).toDF("h"), Nil, col("h"), 6),
          PortableHll.sketch(vals.drop(cut).toDF("h"), Nil, col("h"), 6)),
        Nil).as[(Long, Long)].collect().toSet
      merged == whole
    }
    check(prop, 5)
  }

  test("BPE: distributed trainer equals the local reference on random dictionaries") {
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val dictGen = Gen.mapOf(Gen.zip(wordGen, Gen.chooseNum(1L, 50L)))
      .map(_.toSeq).suchThat(_.nonEmpty)
    val prop = Prop.forAll(dictGen) { wc =>
      val got = BpeVocab
        .train(spark, wc.toDF("w", "cnt"), "w", "cnt", merges = 4)
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      got == BpeVocab.trainLocal(wc, merges = 4)
    }
    check(prop, 8)
  }

  test("kappa: both statistics stay in [-1, 1] and vote mass is conserved") {
    val votesGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 1L),
      Gen.oneOf("x", "y", "z")))
    val prop = Prop.forAll(votesGen) { raw =>
      val votes = Annotation.resolveVotes(
        raw.toDF("item", "ann", "lbl"), "item", "ann", "lbl")
      val mv = Annotation.majorityVote(votes, "item", "label")
      val massOk = mv.agg(sum(col("n_annotators"))).head().getLong(0) ==
        votes.count() // every resolved vote lands in exactly one item row
      val c = Annotation.cohenKappa(votes, "item", "ann",
        col("label"), lit(0L), lit(1L)).head()
      val ck = Option(c.getAs[java.lang.Double]("kappa")).map(_.toDouble)
      // Cohen's kappa is bounded by construction: |num| <= den
      val cOk = ck.forall(k => k >= -1.0 && k <= 1.0)
      massOk && cOk
    }
    check(prop, 10)
  }

  test("text kernels equal their expression twins, edge whitespace included") {
    // The JVM kernels and the DuckDB oracles must see one tokenizer and
    // one gram builder. Tabs, newlines and blanks at a text's edges are
    // where Java's trim and split part from SQL's. One draw of ~200
    // texts, all evaluated in one DataFrame (one job), no shrinking.
    val textGen = Gen.frequency(
      1 -> Gen.const(""),
      9 -> Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ', '\t', '\n'))
        .map(_.mkString))
    val prop = Prop.forAllNoShrink(Gen.listOfN(200, textGen)) { drawn =>
      val texts = "a b c d\n" +: drawn.toIndexedSeq
      val t = col("text")
      def grams(n: Int) = TextFunctions.wordNgrams(t, n)
      val minhash = array((0 until 8).map { s =>
        array_min(transform(array_distinct(grams(3)),
          g => md5(concat(lit(s"$s:"), g))))
      }: _*)
      val rows = texts.zipWithIndex.toDF("text", "i")
        .select(col("i"), TextFunctions.tokens(t), grams(2), grams(3),
          grams(5), array_distinct(grams(3)),
          TextFunctions.md5MinHash8Udf(t), minhash)
        .collect()
      val bad = rows.filterNot { r =>
        val text = texts(r.getInt(0))
        def at(k: Int) = r.getSeq[String](k)
        at(1) == TextFunctions.tokensLocal(text).toSeq &&
          Seq(2, 3, 5).zipWithIndex.forall { case (n, k) =>
            at(2 + k) == TextFunctions.posGrams(text, n).toSeq } &&
          at(5) == TextFunctions.distinctGramsJvm(text, 3).toSeq &&
          at(6) == at(7)
      }.map(r => texts(r.getInt(0)))
      bad.isEmpty :| s"kernel/expression mismatch on ${bad.take(3)}"
    }
    check(prop, 1)
  }
}
