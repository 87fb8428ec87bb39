package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

/** Connected-components operator: exact component labels on shapes that
  * stress the iteration (long chains — worst case for plain label
  * propagation, covered by pointer jumping), plus isolated nodes and
  * the dedup-group summary.
  */
class GraphOpsSpec extends SparkSpecBase {

  private def components(
      edges: Seq[(Long, Long)],
      nodes: Seq[Long] = Nil): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    val n = if (nodes.isEmpty) None else Some(nodes.toDF("id"))
    GraphOps.connectedComponents(spark, e, "src", "dst", n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two components and an isolated node get min-id labels") {
    val got = components(
      edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("a 200-node chain converges to one component (pointer jumping)") {
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size === 200)
    assert(got.values.toSet === Set(0L))
  }

  test("edge direction and duplicates do not matter") {
    val got = components(Seq((5L, 4L), (4L, 5L), (5L, 4L), (3L, 4L)))
    assert(got === Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("random graphs match a reference union-find") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 80
      val edges = Seq.fill(120)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reference: plain union-find over the same edges
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val p = parent(c); parent(c) = r; c = p }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map { i =>
        // canonical label = min member of the component
        val root = find(i)
        val minMember = (0 until n).filter(j => find(j) == root).min
        i.toLong -> minMember.toLong
      }.toMap
      val got = components(edges, nodes = (0L until n.toLong))
      assert(got === expected, s"seed $seed")
    }
  }

  test("dedupGroups summarizes size and canonical survivor") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("id", "comp")
    val groups = GraphOps.dedupGroups(comps)
      .orderBy("component")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(groups.toSeq === Seq((1L, 3L, 1L), (9L, 1L, 9L)))
  }

  test("dedupGroupsBest keeps the highest-quality member, ties to min id") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L), (10L, 9L))
      .toDF("id", "comp")
    // comp 1: id 2 is longest; comp 9: 9 and 10 tie → keep 9
    val quality = Seq((1L, 50L), (2L, 90L), (3L, 20L), (9L, 70L),
      (10L, 70L)).toDF("doc_id", "n_chars")
    val best = GraphOps.dedupGroupsBest(comps, quality, "doc_id",
      "n_chars")
      .orderBy("component")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(best.toSeq === Seq((1L, 3L, 2L, 90L), (9L, 2L, 9L, 70L)))
  }

  test("dedupGroupsBest: fractional scores don't truncate; missing " +
    "quality rows still count") {
    import spark.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "comp")
    // fractional model scores — a long-truncating implementation would
    // see all zeros and fall back to min-id (picking id 1); id 3 has
    // NO quality row but must still count toward n_members
    val quality = Seq((1L, 0.2), (2L, 0.9)).toDF("doc_id", "score")
    val best = GraphOps.dedupGroupsBest(comps, quality, "doc_id",
      "score").collect()
    assert(best.length === 1)
    val r = best.head
    assert(r.getLong(0) === 1L) // component
    assert(r.getLong(1) === 3L) // all three members counted
    assert(r.getLong(2) === 2L) // highest fractional score survives
    assert(r.getDouble(3) === 0.9)
  }
  private def incremental(
      base: Seq[(Long, Long)],
      newEdges: Seq[(Long, Long)],
      nodes: Seq[Long]): Map[Long, Long] = {
    import spark.implicits._
    val baseLabels = GraphOps.connectedComponents(spark,
      base.toDF("src", "dst"), "src", "dst",
      Some(nodes.filter(n => base.exists(e => e._1 == n || e._2 == n))
        .toDF("id")))
    GraphOps.incrementalComponents(spark, baseLabels,
      newEdges.toDF("src", "dst"), "src", "dst", Some(nodes.toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental components equal full recompute on every batch shape") {
    // base: {1,2,3} and {10,11}; batch bridges the two components,
    // attaches a new node to an old one, adds a fresh pair, and leaves
    // one isolated newcomer
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val batch = Seq((3L, 10L), (11L, 20L), (30L, 31L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L, 99L)
    val inc = incremental(base, batch, nodes)
    val full = components(base ++ batch, nodes)
    assert(inc === full)
    assert(inc(20L) === 1L && inc(30L) === 30L && inc(99L) === 99L)
  }

  test("incremental components with an empty batch preserve the labeling") {
    val base = Seq((4L, 5L), (5L, 6L))
    val inc = incremental(base, Seq.empty, Seq(4L, 5L, 6L, 7L))
    assert(inc === Map(4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
  }

  test("CC shuffles the persisted edge frame once per call, not per round") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    // own session: the listener must see only this call's queries, and
    // broadcast joins are off so the rounds plan as they do on a graph
    // too large to broadcast (a broadcast join never shuffles bi)
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    import s.implicits._
    // a 64-node chain needs several label-exchange + pointer-jump rounds
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = GraphOps.connectedComponents(s, chain, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    org.apache.spark.ListenerBusAccess.drain(s.sparkContext)
    s.listenerManager.unregister(listener)
    assert(got.size === 64 && got.values.toSet === Set(0L))

    // every exchange whose output is the edge frame's (src, dst): in the
    // queries' own plans, plus once per distinct cached plan (a cached
    // plan is shared by every query that reads the cache)
    val cached = scala.collection.mutable.Map.empty[Int, SparkPlan]
    def edgeShuffles(p: SparkPlan): Int = {
      val self = p match {
        case x: ShuffleExchangeLike
            if x.output.map(_.name) == Seq("src", "dst") => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec =>
          cached(System.identityHashCode(m.relation.cacheBuilder)) =
            m.relation.cacheBuilder.cachedPlan
          Nil
        case other => other.children
      }
      self + kids.map(edgeShuffles).sum
    }
    import scala.jdk.CollectionConverters._
    val inQueries = plans.asScala.toSeq.map(edgeShuffles).sum
    val inCaches = cached.values.toSeq.map(edgeShuffles).sum
    assert(plans.size >= 4, s"expected several rounds, saw ${plans.size} queries")
    assert(inQueries + inCaches === 1,
      s"edge frame shuffled $inQueries times in queries and $inCaches " +
        "times in cached plans")
  }
}
