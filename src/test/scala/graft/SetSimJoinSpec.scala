package graft

import graft.operators.SetSimJoin
import org.apache.spark.sql.functions._

class SetSimJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def bruteForce(
      sets: Seq[(Long, Set[String])], tau: Double): Set[(Long, Long)] =
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size
      if sa.nonEmpty && sb.nonEmpty &&
        inter.toDouble / (sa.size + sb.size - inter) >= tau
    } yield (ia, ib)).toSet

  test("matches brute force on deterministic pseudo-random sets") {
    // 120 sets over a 40-token vocabulary, sizes 3..12, built from a
    // fixed LCG so the test is reproducible without Math.random
    var seed = 20260814L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) % 1000000).toInt }
    val sets = (1L to 120L).map { id =>
      val n = 3 + next() % 10
      id -> (0 until n).map(_ => "t" + next() % 40).toSet
    }
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val got = SetSimJoin.jaccardSelfJoin(
        sets.map { case (id, s) => (id, s.toSeq) }.toDF("id", "toks"),
        "id", "toks", tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === bruteForce(sets, tau), s"tau=$tau")
    }
  }

  test("join regime (no broadcast) equals brute force and the map-side regime") {
    var seed = 20261017L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) % 1000000).toInt }
    val sets = (1L to 120L).map { id =>
      val n = 3 + next() % 10
      id -> (0 until n).map(_ => "t" + next() % 40).toSeq.distinct
    }
    def run(s: org.apache.spark.sql.SparkSession, tau: Double) =
      SetSimJoin.jaccardSelfJoin(s.createDataFrame(sets).toDF("id", "toks"),
        "id", "toks", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    // own session: the broadcast threshold must not leak into
    // concurrently running suites
    val joinRegime = spark.newSession()
    joinRegime.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val viaJoin = run(joinRegime, tau)
      assert(viaJoin === run(spark, tau), s"tau=$tau")
      assert(viaJoin.map(r => (r._1, r._2)) ===
        bruteForce(sets.map { case (id, t) => (id, t.toSet) }, tau),
        s"tau=$tau")
    }
  }

  test("exact-boundary pairs are kept, empty sets never pair") {
    // J(a,b) = 2/4 = 0.5 exactly at tau = 0.5 → must be KEPT
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "d")),
      (3L, Seq.empty[String]),
      (4L, Seq.empty[String])
    ).toDF("id", "toks")
    val rows = SetSimJoin.jaccardSelfJoin(df, "id", "toks", 0.5)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("id_a") === 1L && r.getAs[Long]("id_b") === 2L)
    assert(r.getAs[Long]("inter") === 2L)
    assert(r.getAs[Double]("jaccard") === 0.5)
  }

  test("prefix filtering prunes hot tokens from the candidate join") {
    // every set shares one stop token; distinct rare tokens otherwise.
    // With rarest-first prefixes at tau=0.8 (prefix length 1), the hot
    // token never enters a prefix, so the candidate stage emits ZERO
    // pairs instead of n²/2
    val df = (1L to 50L)
      .map(i => (i, Seq("hot", "rare" + i))).toDF("id", "toks")
    val out = SetSimJoin.jaccardSelfJoin(df, "id", "toks", 0.8)
    assert(out.count() === 0)
    // duplicate-set pairs survive any tau
    val dup = (1L to 4L).map(i => (i, Seq("x", "y", "z")))
      .toDF("id", "toks")
    assert(SetSimJoin.jaccardSelfJoin(dup, "id", "toks", 1.0)
      .count() === 6) // 4 choose 2
  }

  test("degenerate vocabulary: worst case is correct and exactly bounded") {
    // A vocabulary prefix filtering CANNOT prune: every set is the same
    // single token, so every prefix is that token and ALL n·(n-1)/2
    // pairs reach exact verification — the operator's documented worst
    // case (PERF.md's q148 note). The contract under it: the result is
    // still exact (every pair at jaccard 1), the candidate stage emits
    // each pair exactly once (no duplicate survives to the output), and
    // the work is C(n,2) verifications — quadratic in the EQUIVALENCE
    // CLASS, which is the floor for any exact similarity join.
    val n = 60L
    val one = (1L to n).map(i => (i, Seq("only"))).toDF("id", "toks")
    val out = SetSimJoin.jaccardSelfJoin(one, "id", "toks", 0.9)
      .select("id_a", "id_b", "jaccard").collect()
    assert(out.length === (n * (n - 1) / 2).toInt)
    assert(out.forall(_.getDouble(2) === 1.0))
    assert(out.map(r => (r.getLong(0), r.getLong(1))).distinct.length ===
      out.length)
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))

    // two-token vocabulary with a sub-threshold cross class: candidates
    // within each class all verify, cross-class pairs (J = 0) must die
    // in verification even though the shared-vocabulary regime offers
    // no prefix pruning between same-class members
    val two = ((1L to 20L).map(i => (i, Seq("p"))) ++
      (21L to 40L).map(i => (i, Seq("q")))).toDF("id", "toks")
    val pairs = SetSimJoin.jaccardSelfJoin(two, "id", "toks", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length === 2 * (20 * 19 / 2))
    assert(pairs.forall { case (a, b) => (a <= 20) === (b <= 20) })
  }
}
