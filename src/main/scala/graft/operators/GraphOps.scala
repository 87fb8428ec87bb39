package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a pair/edge frame — the
  * clustering stage of near-duplicate dedup (SURVEY §7.5): LSH banding
  * (q25/q36) emits candidate PAIRS; deduplication needs GROUPS with one
  * canonical survivor per group, i.e. the connected components of the
  * pair graph, labeled by the minimum member id.
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round does (a) a label exchange across edges (every node takes
  * the min label in its neighborhood — one join + one partial-agg
  * shuffle keyed on node id) and (b) a pointer-jumping shortcut
  * (`comp := comp(comp)` — one self-join), which doubles label-path
  * lengths per round, so convergence is O(log diameter) rounds rather
  * than O(diameter). Everything is hash-partitioned equi-joins and
  * partial aggregates — no driver-side state, no collect; the same
  * shape published for MapReduce-style CC (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", two-phase star
  * contractions) with the simpler label-propagation update, which is
  * the right trade for LSH dedup graphs: components are band-bucket
  * near-cliques, so diameters are tiny and most rounds are no-ops.
  *
  * Each iterate is localCheckpoint'ed: without truncation the logical
  * plan doubles per round (the iterate appears twice in its own
  * successor) and planning itself goes exponential. Checkpoint
  * materialization skips codegen, but an iterate is two longs per
  * node — the non-codegen cost that matters for wide expression
  * pipelines is irrelevant here.
  */
object GraphOps {

  // data-derived loop sizing — see [[Sizing]] — floored at 2: a
  // one-partition repartition plans as SinglePartition, which the
  // planner cannot use to place the other side of a join, so it would
  // reshuffle BOTH sides at the session count. A persisted frame
  // hash-partitioned at this count places the other side of every loop
  // join instead.
  private def loopPartitions(nRows: Long): Int =
    math.max(2, Sizing.loopPartitions(nRows))

  /** Components of the undirected graph given by `edges` (any
    * direction, duplicates fine). Returns one row per node appearing in
    * `edges` ∪ `nodes`: (id, component) with component = min reachable
    * id.
    *
    * @param nodes optional extra node universe (isolated nodes keep
    *              their own id as component)
    */
  def connectedComponents(
      spark: SparkSession,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: Option[DataFrame] = None,
      maxIter: Int = 25
  ): DataFrame = {
    // the caller's edge frame may be an expensive pipeline (e.g. LSH
    // banding) and every reference below re-evaluates it — persist the
    // normalized frame BEFORE the direction union (the union alone
    // would run the pipeline twice, once per branch)
    val e1 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The count sizes the loop partitioning AND forces e1's
    // materialization, so the two union branches below read the cache
    // instead of racing to fill it.
    val parts = loopPartitions(e1.count())
    val bidirect = e1.union(
      e1.select(col("dst").as("src"), col("src").as("dst")))

    // self-loops carry each node's own label through the exchange, so
    // the loop body is join + aggregate only (no union with the iterate,
    // which also sidesteps Union constraint rewriting over a
    // checkpointed plan). Duplicate edges are tolerated — the min-agg
    // dedups for free, so no distinct shuffle on the edge list.
    // Iterate ONLY over edge endpoints: isolated nodes are their own
    // component by definition and would just multiply per-round work
    // (in LSH dedup graphs most of the corpus is isolated).
    // Pre-partitioned by the join key: every round's exchange join then
    // reuses this one persisted shuffle instead of re-shuffling the
    // (much larger) edge side per round — the loop only ever shuffles
    // iterates (guide: remove shuffles outright / shuffle fewer bytes).
    val bi = bidirect
      .unionByName(bidirect.select(col("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Round 1 needs no label join: every node's label IS its id, so the
    // first neighborhood-min exchange is a single aggregate over the
    // edge list. bi holds every edge in both directions plus a self-loop
    // per node, so a node's min in-neighbour is its min out-neighbour:
    // the aggregate groups by bi's own partitioning key and shuffles
    // nothing. In LSH dedup graphs components are band-bucket
    // near-cliques, so for most inputs this one aggregate already
    // produces the final labels and the loop below exits on its first
    // convergence check.
    //
    // A checkpointed iterate forgets its partitioning; bi, persisted
    // hash-partitioned at the loop's count, places it in every exchange
    // join, so each round shuffles iterate-sized frames, never bi.
    val obs0 = org.apache.spark.sql.Observation()
    var labels = bi
      .groupBy("src")
      .agg(min("dst").as("comp"))
      .select(col("src").as("id"), col("comp"))
      .observe(obs0, sum("comp").as("s"))
      .localCheckpoint(true) // truncate the per-round doubling (class doc)
    var lastSum = obs0.get("s").asInstanceOf[Long]
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // (a) neighborhood min: labels flow across every edge (+ self-loop).
      // Checkpointed eagerly: the pointer-jump below self-joins this
      // frame, and Spark plans the join-aggregate subtree once PER
      // REFERENCE (no ReusedExchange across the differing join keys —
      // verified in the formatted plan), so without materialization
      // every round paid the exchange twice.
      val obsEx = org.apache.spark.sql.Observation()
      val exchanged = bi
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
        .repartition(parts, col("id"))
        .groupBy("id")
        .agg(min("comp").as("comp"))
        // convergence sum rides the checkpoint materialization — one
        // job per round, no separate aggregate action
        .observe(obsEx, sum("comp").as("s"))
        .localCheckpoint(true)
      val sEx = obsEx.get("s").asInstanceOf[Long]
      // the previous iterate is retired the moment its successor is
      // materialized — same discipline as [[SuffixRank]] (measured
      // −38% there): without the free, rounds × |nodes|-sized dead
      // checkpoint blocks stack in the storage pool for the rest of
      // the session, pressuring execution memory exactly when the
      // downstream dedup stages need it
      CheckpointUtil.free(labels)
      if (sEx == lastSum) {
        // exchange at fixpoint ⇒ labels are constant within each
        // component (u~v implies label(u) ≤ label(v) and vice versa), so
        // the pointer jump would be the identity — skip it and exit
        labels = exchanged
        converged = true
      } else {
        // (b) pointer jumping: comp := comp(comp) — halves label depth,
        // so convergence is O(log diameter) rounds
        val obs = org.apache.spark.sql.Observation()
        // (the right side is shuffled explicitly at the loop's count, so
        // the planner shuffles the left side to match)
        val jumped = exchanged.as("l")
          .join(
            exchanged.repartition(parts, col("id"))
              .select(col("id").as("comp"), col("comp").as("comp2")).as("r"),
            Seq("comp"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("comp2"), col("comp")))
              .as("comp"))
          .observe(obs, sum("comp").as("s"))
          .localCheckpoint(true) // truncate the doubling plan (class doc)
        // s ≤ sEx < lastSum here, so never converged this round; the
        // next exchange performs the fixpoint check
        val s = obs.get("s").asInstanceOf[Long]
        CheckpointUtil.free(exchanged) // jumped is materialized; retire it
        labels = jumped
        lastSum = s
      }
      iter += 1
    }
    // singletons (requested nodes that touch no edge) come back as
    // their own component — no iteration needed for them
    val result = nodes match {
      case None => labels
      case Some(n) =>
        val ids = n.select(col(n.columns.head).cast("long").as("id"))
        val singletons = ids
          .join(labels.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("comp"))
        labels.unionByName(singletons)
    }
    // materialize once (two longs per node) so the caches can be
    // released before returning
    val out = result.localCheckpoint(true)
    CheckpointUtil.free(labels) // out is materialized; the iterate is dead
    bi.unpersist()
    e1.unpersist()
    out
  }

  /** Incremental connected components: fold a batch of NEW edges into
    * an existing labeling without revisiting the old edge list — the
    * cluster-maintenance step a growing dedup corpus needs (new docs
    * arrive daily; their LSH candidate pairs must merge into — and
    * sometimes bridge — existing components).
    *
    * Correctness: each base component is replaced by its STAR (an edge
    * from the component label to every member), which preserves
    * exactly the base connectivity — so components of
    * (star ∪ newEdges) equal components of (allOldEdges ∪ newEdges),
    * and because labels are component MINIMA the global min-label per
    * merged component is unchanged too. q142's oracle recomputes from
    * the full merged corpus and hash-matches.
    *
    * Scale shape: input is |labeled nodes| star edges + |new batch|
    * edges — the old corpus's text is never re-hashed and its (much
    * larger) pair list never re-read; star graphs have diameter 2, so
    * propagation converges in one or two rounds unless the new edges
    * themselves chain (bounded by the NEW batch's structure, not the
    * corpus's).
    */
  def incrementalComponents(
      spark: SparkSession,
      baseLabels: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      nodes: Option[DataFrame] = None): DataFrame = {
    val star = baseLabels
      .filter(col("id") =!= col("comp"))
      .select(col("comp").as(srcCol), col("id").as(dstCol))
    // default node set = every base-labeled node ∪ new-edge endpoints:
    // a base SINGLETON (id == comp) contributes no star edge, so
    // without this it would silently vanish from the maintained
    // labeling — repeated daily maintenance would progressively drop
    // every isolated doc. The output always covers at least
    // baseLabels' nodes.
    val nodeSet = nodes.getOrElse(
      baseLabels.select(col("id"))
        .unionByName(newEdges.select(col(srcCol).as("id")))
        .unionByName(newEdges.select(col(dstCol).as("id")))
        .distinct())
    connectedComponents(spark,
      star.unionByName(newEdges.select(col(srcCol), col(dstCol))),
      srcCol, dstCol, Some(nodeSet))
  }

  /** Dedup-group summary: component id, member count, and the canonical
    * (minimum) member — the "keep one per group" decision table.
    */
  def dedupGroups(components: DataFrame): DataFrame =
    components
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"), min("id").as("keep_id"))
      .withColumnRenamed("comp", "component")

  /** Quality-weighted survivor selection: keep each component's BEST
    * row by `qualityCol` (native type preserved — a fractional score
    * must not truncate; ties → lowest id) instead of the lowest id —
    * the "keep the longest/cleanest duplicate" policy corpus dedup
    * usually wants. Members with no quality row still count toward
    * `n_members` and sort last (they only survive if nothing scored
    * beats them). One join to attach quality + one window pass on the
    * component key.
    */
  def dedupGroupsBest(
      components: DataFrame,
      quality: DataFrame,
      idCol: String,
      qualityCol: String
  ): DataFrame = {
    val joined = components.join(
      quality.select(col(idCol).cast("long").as("id"),
        col(qualityCol).as("__q")), Seq("id"), "left_outer")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"))
      .orderBy(col("__q").desc_nulls_last, col("id").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"))
    joined
      .select(col("comp").as("component"), col("id"), col("__q"),
        row_number().over(w).as("__rn"),
        count(lit(1)).over(wAll).as("n_members"))
      .filter(col("__rn") === 1)
      .select(col("component"), col("n_members"),
        col("id").as("keep_id"), col("__q").as("keep_quality"))
  }

  /** Triangle enumeration with degree orientation (the MapReduce
    * triangle-counting discipline: Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer", WWW'11): canonicalize
    * to undirected (a<b) edges, orient every edge from its lower-degree
    * endpoint (ties by id), build wedges only at each edge's LOW-degree
    * end, and close them against the canonical edge set. Orientation
    * bounds per-vertex wedge fanout by O(√|E|) regardless of hub skew —
    * a plain a<b wedge join puts every hub's full neighborhood through
    * one task at 100 TB; this shape provably doesn't.
    *
    * Returns one row per triangle, vertices sorted ascending (a<b<c).
    */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("t"))
      .filter(col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    // orient from the (deg, id)-smaller endpoint
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("x"))
    val wedges = oriented.as("p")
      .join(oriented.as("q"),
        col("p.u") === col("q.u") && col("p.x") < col("q.x"))
      .select(col("p.u").as("u"), col("p.x").as("v"), col("q.x").as("w"))
    val tri = wedges.join(e,
      wedges("v") === e("a") && wedges("w") === e("b"))
    // materialize (|triangles| rows) so the edge cache can be released —
    // the [[connectedComponents]] discipline; without it every call leaks
    // a MEMORY_AND_DISK frame for the session's lifetime
    val out = tri.select(
      least(col("u"), col("v"), col("w")).as("ta"),
      (col("u") + col("v") + col("w")
        - least(col("u"), col("v"), col("w"))
        - greatest(col("u"), col("v"), col("w"))).as("tb"),
      greatest(col("u"), col("v"), col("w")).as("tc"))
      .localCheckpoint(true)
    e.unpersist()
    out
  }

  /** Single-source shortest paths by synchronous Bellman-Ford rounds:
    * `dist_{r+1}(v) = min(dist_r(v), min_{(u,v,w)∈E} dist_r(u) + w)` —
    * each round is one join + one partial-agg'd min shuffle keyed on dst,
    * the canonical iterative-relaxation shape (Pregel's SSSP as plain
    * DataFrame joins). All-integer weights ⇒ bit-exact across engines;
    * unreached nodes keep the `Unreachable` sentinel. Rounds are capped
    * by `iters` (distances are exact once `iters` ≥ the shortest-path
    * hop diameter). Unlike [[pageRank]] (one self-reference per round),
    * each SSSP round references `dist` TWICE — in the relaxation join and
    * in the keep-the-old-minimum merge — so without truncation the plan
    * DOUBLES per round (2^iters subtrees; the un-checkpointed form
    * measured 8s for 5 rounds on a 25-node graph, pure planning blowup).
    * Every round is localCheckpoint'ed, the [[connectedComponents]]
    * discipline.
    */
  val Unreachable: Long = 1000000000000000L

  def shortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String],
      source: Long,
      iters: Int = 5
  ): DataFrame = {
    require(iters >= 0 && iters <= 100, s"iters out of range: $iters")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val grouped = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("w"))
      .groupBy("src", "dst").agg(min(col("w")).as("w")) // parallel edges → min
      .persist(StorageLevel.MEMORY_AND_DISK)
    // edge-derived loop partitioning (see [[loopPartitions]]); the
    // count also forces the cache before the derived references. The
    // edges persist hash-partitioned by src at that count, so they place
    // the (checkpointed, so unpartitioned) iterate in every relaxation
    // join and never shuffle inside the loop; the candidates aggregate
    // at the same count and place the iterate in the merge join.
    val parts = loopPartitions(grouped.count())
    val e = grouped.repartition(parts, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = grouped.select(col("src").as("node"))
      .union(grouped.select(col("dst").as("node")))
      .distinct()
    var dist = nodes.withColumn("dist",
      when(col("node") === source, 0L).otherwise(lit(Unreachable)))
      .localCheckpoint(true)
    var it = 0
    while (it < iters) {
      val relaxed = e.join(dist, col("src") === col("node"))
        .filter(col("dist") < Unreachable)
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .repartition(parts, col("node"))
        .groupBy("node").agg(min(col("cand")).as("cand"))
      val prev = dist
      dist = dist.join(relaxed, Seq("node"), "left_outer")
        .select(col("node"),
          least(col("dist"), coalesce(col("cand"), lit(Unreachable)))
            .as("dist"))
        .localCheckpoint(true)
      // retire the predecessor round eagerly (the [[SuffixRank]]
      // discipline) — nothing references it once `dist` materializes
      CheckpointUtil.free(prev)
      it += 1
    }
    e.unpersist(); grouped.unpersist()
    dist
  }

  /** PageRank over a directed edge frame, in INTEGER micro-rank units.
    *
    * Ranks are maintained as longs in units of `scale⁻¹` (default 1e-12)
    * and every update uses integer floor division:
    * `r' = (0.15·scale) div n  +  (85 · Σ_in (r div outdeg)) div 100`.
    * Floats never appear, so two engines running the same iteration count
    * agree BIT-EXACTLY — the property the DuckDB oracle (q121) checks.
    * The usual float formulation is approximate under re-ordered sums;
    * this one is associative by construction. Dangling-node mass is
    * dropped (the common simplification; documented, deterministic).
    *
    * Shape per iteration: one equi-join rank⋈edges on src (outdeg is
    * pre-joined into the edge frame once, so the loop body is join +
    * partial-agg shuffle keyed on dst + left join back to the node
    * universe). No driver state except the node count. Unlike
    * [[connectedComponents]] (whose iterate references itself TWICE, so
    * lineage doubles per round), each PageRank iterate references its
    * predecessor once — the plan grows linearly and the whole loop can
    * run as ONE job over the persisted edge frame. Iterates are only
    * localCheckpoint'ed every `checkpointEvery` rounds to bound plan
    * depth for large iteration counts, not every round (per-round eager
    * checkpoints cost a full job-scheduling round-trip each and bought
    * nothing at 5 iterations).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 5,
      scale: Long = 1000000000000L,
      checkpointEvery: Int = 8
  ): DataFrame = {
    require(iters >= 0 && iters <= 100, s"iters out of range: $iters")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count() // single scalar aggregate; no row data collected
    if (n == 0) { e.unpersist(); return nodes.withColumn("rank", lit(0L)) }
    // edge-derived loop partitioning (see [[loopPartitions]]): the
    // whole loop is `iters` shuffles of iterate-sized frames inside one
    // job — at the session constant a 5k-node graph schedules hundreds
    // of near-empty tasks. The node universe and the degree-annotated
    // edges are persisted hash-partitioned at that count, so both joins
    // in the loop zip without a shuffle and each round shuffles only
    // the in-rank contributions.
    val parts = loopPartitions(math.max(n, e.count()))
    val universe = nodes.repartition(parts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bySrc = e.repartition(parts, col("src"))
    val withDeg = bySrc
      .join(bySrc.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = (scale * 15L / 100L) / n
    var ranks = universe.withColumn("rank", lit(scale / n))
    // track the last surviving checkpoint so each one is retired as soon
    // as its successor materializes ([[SuffixRank]] discipline): the
    // `it < iters` guard means the loop always runs at least one more
    // iteration after a checkpoint, so the successor never IS the
    // tracked frame
    var lastCp: Option[DataFrame] = None
    var it = 0
    while (it < iters) {
      val in = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .repartition(parts, col("node"))
        .groupBy("node").agg(sum(col("c")).as("inr"))
      ranks = universe.join(in, Seq("node"), "left_outer")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(inr, 0L)) div 100")).as("rank"))
      it += 1
      if (it % checkpointEvery == 0 && it < iters) {
        ranks = ranks.localCheckpoint(true)
        lastCp.foreach(CheckpointUtil.free(_))
        lastCp = Some(ranks)
      }
    }
    // materialize the final iterate (|nodes| rows) so the three cached
    // inputs can be released instead of leaking for the session's lifetime
    val out = ranks.localCheckpoint(true)
    lastCp.foreach(CheckpointUtil.free(_))
    e.unpersist(); universe.unpersist(); withDeg.unpersist()
    out
  }
}
