package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{GraphOps, PortableHll, SetSimJoin, SpanDedup,
  SuffixRank, TemporalJoins}
import graft.queries.TextQueries

/** Scaling measurement: the 100× claim as data instead of argument
  * (VERDICT r7 #2). Inflates the sf0.1 corpus IN-ENGINE by factors
  * 1/10/100 and times the most expensive operator families at each
  * point, so PERF.md can show measured scaling curves instead of
  * design prose.
  *
  * Inflation model — horizontal growth, constant structure: replica
  * `k` of `documents` prefixes every token with `r%03d` (replicas share
  * NO grams, so candidate structure never blows up quadratically
  * across replicas) and keeps the per-replica duplicate structure the
  * gates use (mod-7 exact copies for the dedup chain, mod-30 copies
  * of the every-10th subcorpus for repeated spans); replica `k` of
  * `events` shifts user ids (new users, same per-user event density —
  * how a real workload grows). Inflated tables are written to tmp
  * parquet ONCE per (factor, testdata generation) so the timed region
  * reads from storage like the real pipeline would.
  *
  * Expected shapes (what the curves should show):
  *  - LSH dedup / PPJoin / HLL / as-of: ~linear (candidates bounded by
  *    banding/prefix-df; sketch shuffle corpus-size-free; as-of is one
  *    bucketed sort-merge);
  *  - suffix ranking: n·log-ish (3–5 dense re-ranks, each a
  *    range-sort of one row per character);
  *  - incremental CC fold: linear in the BATCH, flat-ish in the base
  *    (the fold never re-reads base pairs).
  *
  * Usage: `runMain graft.ScaleBench [family...]`; factors via
  * SPARK_GRAFT_SCALE_FACTORS (default "1,10,100").
  */
object ScaleBench {

  private final case class Res(family: String, factor: Int,
      seconds: Double, rows: Long, metrics: Map[String, Long])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.builder("graft-scale-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val all = Seq("lsh_dedup", "incr_fold", "ppjoin", "suffix_rank",
      "span_dedup", "hll", "asof", "ann", "etl_merge")
    val families = if (args.nonEmpty) args.toSeq else all
    val unknown = families.toSet -- all.toSet
    require(unknown.isEmpty, s"unknown families: ${unknown.mkString(",")}")

    // one untimed warmup pass at the smallest factor: the first
    // execution of each family pays JVM/codegen/scan-footer costs
    // that would otherwise land entirely on the first timed point and
    // flatter the curve
    val warmDir = inflate(spark, sfDir, factors.min)
    families.foreach(f => runFamily(spark, f, warmDir, factors.min))
    System.err.println("[scale] warmup done")

    val results = scala.collection.mutable.ArrayBuffer.empty[Res]
    for (factor <- factors) {
      val base = inflate(spark, sfDir, factor)
      // pre-build the ETL fixture OUTSIDE the timed region (first-run
      // family wall time otherwise includes the cached cold load; the
      // cold cost is reported via its own cold_ms metric)
      if (families.contains("etl_merge")) etlMergeFixture(spark, factor)
      val cal0 = Bench.loadCal(cpus)
      System.err.println(f"[scale] ===== factor $factor cal=$cal0%.2fs =====")
      // min-of-2 against ambient-load noise where affordable; the
      // largest factor runs once (its absolute numbers are minutes —
      // noise is proportionally small and wall-clock is not free)
      val runs = if (factor >= 100) 1
        else math.max(1,
          sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
      for (fam <- families) {
        val samples = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val (rows, metrics) = runFamily(spark, fam, base, factor)
          ((System.nanoTime() - t0) / 1e9, rows, metrics)
        }
        val (dt, rows, metrics) = samples.minBy(_._1)
        System.err.println(f"[scale] f=$factor%-4d $fam%-12s $dt%9.2fs " +
          s"rows=$rows ${metrics.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
        results += Res(fam, factor, dt, rows, metrics)
      }
    }
    val json = results.map { r =>
      val ms = r.metrics.map { case (k, v) => s""""$k":$v""" }
        .mkString(",")
      f"""{"family":"${r.family}","factor":${r.factor},"sec":${r.seconds}%.2f,"rows":${r.rows}${if (ms.nonEmpty) "," + ms else ""}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"scalebench","sf":"$sfDir","results":$json}""")
    try Files.writeString(Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_SCALE_OUT", "scalebench_latest.json")), json + "\n")
    catch { case _: Exception => () }
    spark.stop()
  }

  /** Inflated (documents, events) parquet dir for `factor`, built once
    * per (factor, testdata generation) — replica token-prefixing makes
    * cross-replica grams disjoint; per-replica id spaces are 10M
    * (docs) / 1B-event 10M-user (events) apart.
    */
  private[graft] def inflate(spark: SparkSession, sfDir: String,
      factor: Int): String = {
    val mtime = new java.io.File(sfDir, "documents.parquet").lastModified
    // :v2 — replica prefix went zero-padded (prefix-free) and n_chars
    // now measures the REWRITTEN text; salt the key so cached v1 dirs
    // rebuild instead of silently serving the old scheme
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$sfDir:$factor:$mtime:v2") &
        0xffffffffL)
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-scale-$key")
    if (!new java.io.File(dir, "_done").exists()) {
      val t0 = System.nanoTime()
      val baseDocs = graft.tables.Tables.documents(spark, sfDir)
      val baseEvents = graft.tables.Tables.events(spark, sfDir)
      // replica id slots are 10M (docs/users; [[withCopies]] adds a
      // +1M copy offset inside the slot) and 1B (events) wide — ids at
      // or past slot−offset would collide ACROSS replicas and silently
      // corrupt the duplicate structure the gates count on (the
      // SpanDedup PosBound discipline)
      val Seq(maxDoc, maxEvent) = Seq(
        baseDocs.agg(max("doc_id")).head.getLong(0),
        baseEvents.agg(max("event_id")).head.getLong(0))
      require(maxDoc < 9000000L,
        s"doc_id $maxDoc >= 9M would overflow its replica slot")
      require(maxEvent < 1000000000L,
        s"event_id $maxEvent >= 1e9 would overflow its replica slot")
      val reps = spark.range(factor).select(col("id").as("__rep"))
      // fixed-width prefix (r001foo) is prefix-free for k<1000 — the
      // bare r<k> form broke the "replicas share NO grams" invariant
      // at factors >= 11 ("r1" + "1foo" == "r11" + "foo")
      val rewritten = when(col("__rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(format_string("r%03d", col("__rep")), lit("$1"))))
      val docs = baseDocs
        .crossJoin(broadcast(reps))
        .select(
          (col("doc_id") + col("__rep") * lit(10000000L)).as("doc_id"),
          rewritten.as("text"),
          col("lang"), col("source"),
          // length of the STORED text (prefixing lengthens replicas) —
          // length(col("text")) would bind to the input column and
          // desync metadata from data for every k>0
          length(rewritten).cast("long").as("n_chars"))
      docs.repartition(32).write.mode("overwrite")
        .parquet(new java.io.File(dir, "documents.parquet").getPath)
      val events = baseEvents
        .crossJoin(broadcast(reps))
        .select(
          (col("event_id") + col("__rep") * lit(1000000000L))
            .as("event_id"),
          col("ts"),
          (col("user_id") + col("__rep") * lit(10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      events.repartition(32).write.mode("overwrite")
        .parquet(new java.io.File(dir, "events.parquet").getPath)
      new java.io.File(dir, "_done").createNewFile()
      System.err.println(
        f"[scale] built factor-$factor corpus in ${(System.nanoTime() - t0) / 1e9}%.1fs at $dir")
    }
    // embeddings arrived after docs/events (separate guard so cached
    // factor dirs upgrade in place instead of rebuilding): replica k
    // rotates each vector by k mod dim positions — norms preserved,
    // directions spread, so the inflated space is not 100 copies of
    // the same point cloud
    if (!new java.io.File(dir, "_done_emb").exists()) {
      val reps = spark.range(factor).select(col("id").as("__rep"))
      val dim = 64
      val emb = graft.tables.Tables.embeddings(spark, sfDir)
        .crossJoin(broadcast(reps))
        .select(
          (col("vec_id") + col("__rep") * lit(10000000L)).as("vec_id"),
          when(col("__rep") % dim === 0, col("embedding"))
            .otherwise(concat(
              slice(col("embedding"),
                (col("__rep") % dim + 1).cast("int"),
                (lit(dim) - col("__rep") % dim).cast("int")),
              slice(col("embedding"), lit(1),
                (col("__rep") % dim).cast("int")))).as("embedding"),
          col("label"))
      emb.repartition(32).write.mode("overwrite")
        .parquet(new java.io.File(dir, "embeddings.parquet").getPath)
      new java.io.File(dir, "_done_emb").createNewFile()
    }
    dir.getPath
  }

  /** One synthesized Observation NDJSON line — the EtlBench fixture
    * shape (deterministic; ids within [0, nObs) so update batches hit
    * existing keys).
    */
  private def obsJson(i: Long, nObs: Long): String = {
    val nPat = nObs / 2
    s"""{"resourceType":"Observation","id":"obs-$i","status":"final","code":{"coding":[{"system":"http://loinc.org","code":"${1000 + i % 500}-1","display":"Test ${i % 500}"}],"text":"obs text $i"},"subject":{"reference":"Patient/pat-${i % nPat}"},"encounter":{"reference":"Encounter/enc-${i % (nPat / 2 + 1)}"},"effectiveDateTime":"2021-06-07T08:09:10Z","valueQuantity":{"value":${i % 300},"unit":"mg/dL"},"valueString":"free text $i"}"""
  }

  private[graft] final case class EtlFixture(out: String, phi: String,
      buckets: Int, rows: Long, coldMs: Long)

  /** ETL fixture at `factor` (100k·f patients, 200k·f observations as
    * NDJSON; cold-loaded base table at 16·f buckets so bucket SIZE is
    * factor-invariant — the production sizing rule). Built once and
    * cached under java.io.tmpdir; the cold-load wall time is persisted
    * in meta.json so later runs still report it. NDJSON synthesis runs
    * THROUGH Spark (format_string projection over range) — a driver
    * StringBuilder at 20M rows would serialize ~8 GB single-threaded.
    */
  private[graft] def etlMergeFixture(spark: SparkSession,
      factor: Int): EtlFixture = {
    // the key names the table format: a base cached by an older format
    // is rebuilt, never read
    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-scale-etl-m1-f$factor")
    val inDir = new java.io.File(base, "in")
    val outDir = new java.io.File(base, "out").getPath
    val phiDir = new java.io.File(base, "phi").getPath
    val meta = new java.io.File(base, "meta.json")
    val buckets = 16 * factor
    if (!meta.exists()) {
      val nPat = 100000L * factor
      val nObs = 200000L * factor
      inDir.mkdirs()
      def writeNdjson(df: org.apache.spark.sql.DataFrame,
          resource: String): Unit = {
        val staging = new java.io.File(base, s"staging-$resource").getPath
        df.repartition(32).write.mode("overwrite").text(staging)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val parts = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map(_.getPath).sortBy(_.getName)
        parts.zipWithIndex.foreach { case (p, i) =>
          fs.rename(p, new org.apache.hadoop.fs.Path(
            new java.io.File(inDir, f"$resource.$i%03d.ndjson").getPath))
        }
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      }
      val id = col("id")
      writeNdjson(spark.range(nPat).select(format_string(
        """{"resourceType":"Patient","id":"pat-%d","gender":"%s","birthDate":"19%d-07-15","name":[{"family":"Fam%d","given":["G%d"]}],"address":[{"city":"City%d","state":"MA","postalCode":"%05d"}],"managingOrganization":{"reference":"Organization/org-%d"},"meta":{"lastUpdated":"2024-01-01T00:00:00Z"}}""",
        id, when(id % 2 === 0, "female").otherwise("male"),
        lit(50) + id % 50, id, id, id, (id * 37) % 100000, id % 100)
        .as("line")), "Patient")
      writeNdjson(spark.range(nObs).select(format_string(
        """{"resourceType":"Observation","id":"obs-%d","status":"final","code":{"coding":[{"system":"http://loinc.org","code":"%d-1","display":"Test %d"}],"text":"obs text %d"},"subject":{"reference":"Patient/pat-%d"},"encounter":{"reference":"Encounter/enc-%d"},"effectiveDateTime":"2021-06-07T08:09:10Z","valueQuantity":{"value":%d,"unit":"mg/dL"},"valueString":"free text %d"}""",
        id, lit(1000) + id % 500, id % 500, id, id % nPat,
        id % (nPat / 2 + 1), id % 300, id).as("line")), "Observation")
      val tasks = graft.etl.EtlPipeline.DefaultTasks
        .filter(t => Set("Patient", "Observation").contains(t.resourceType))
      val t0 = System.nanoTime()
      val results = graft.etl.EtlPipeline.run(spark, inDir.getPath, outDir,
        phiDir, tasks = tasks, groupName = "scale-cold",
        exportTime = "2024-01-01T00:00:00Z", buckets = buckets)
      val coldMs = ((System.nanoTime() - t0) / 1e9 * 1000).toLong
      val rows = results.map(_.rows).sum
      System.err.println(f"[scale] built etl factor-$factor base " +
        f"($rows rows, $buckets buckets) cold=${coldMs / 1000.0}%.1fs")
      Files.writeString(meta.toPath,
        s"""{"cold_ms":$coldMs,"rows":$rows}""")
    }
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(meta.toPath))
    EtlFixture(outDir, phiDir, buckets,
      node.get("rows").asLong(), node.get("cold_ms").asLong())
  }

  /** The q38 input shape at any factor: corpus + per-replica mod-7
    * exact copies (constant duplicate fraction).
    */
  private def withCopies(docs: DataFrame): DataFrame =
    docs.unionByName(docs
      .filter(col("doc_id") % 10000000L % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L)))

  private[graft] def runFamily(spark: SparkSession, fam: String, dir: String,
      factor: Int): (Long, Map[String, Long]) = {
    val docs = spark.read.parquet(
      new java.io.File(dir, "documents.parquet").getPath)
    val events = spark.read.parquet(
      new java.io.File(dir, "events.parquet").getPath)
    fam match {
      case "lsh_dedup" =>
        // the full q38/q87 chain: signatures → banded star edges →
        // connected components → survivor table
        val input = withCopies(docs)
        val comps = GraphOps.connectedComponents(
          spark, TextQueries.bandStarEdges(TextQueries.md5Sigs(input)),
          "id_a", "id_b", nodes = Some(input.select(col("doc_id"))))
        val out = GraphOps.dedupGroups(comps)
        val n = out.queryExecution.toRdd.count()
        (n, Map.empty)
      case "incr_fold" =>
        // q142 shape. The family's wall time includes the base-state
        // build (the part that grows with the CORPUS); base_ms/fold_ms
        // split it so the curve of interest — the fold, which should
        // scale with the BATCH — is its own series
        val tB0 = System.nanoTime()
        val baseSigs = TextQueries.md5Sigs(docs)
        val baseComps = GraphOps.connectedComponents(
          spark, TextQueries.bandStarEdges(baseSigs), "id_a", "id_b",
          nodes = Some(docs.select(col("doc_id"))))
          .localCheckpoint(true)
        val baseBands = TextQueries.bandedSigs(baseSigs, withSig = false)
          .localCheckpoint(true)
        val baseS = ((System.nanoTime() - tB0) / 1e9 * 1000).toLong
        val newDocs = docs.filter(col("doc_id") % 10000000L % 7 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L))
        val tF0 = System.nanoTime()
        val newBands = TextQueries.bandedSigs(
          TextQueries.md5Sigs(newDocs), withSig = false)
        val newPairs = newBands.as("a")
          .join(baseBands.unionByName(newBands).as("b"),
            col("a.band") === col("b.band") &&
              col("a.bv") === col("b.bv") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
          .distinct()
        val folded = GraphOps.incrementalComponents(
          spark, baseComps, newPairs, "id_a", "id_b",
          nodes = Some(docs.select(col("doc_id"))
            .unionByName(newDocs.select(col("doc_id")))))
        val n = folded.queryExecution.toRdd.count()
        val foldMs = ((System.nanoTime() - tF0) / 1e9 * 1000).toLong
        (n, Map("base_ms" -> baseS, "fold_ms" -> foldMs))
      case "ppjoin" =>
        val input = withCopies(docs).select(col("doc_id"),
          TextFunctions.md5GramSet64Udf(col("text"), lit(3)).as("grams"))
        val tJ0 = System.nanoTime()
        val pairs = SetSimJoin.jaccardSelfJoin(input, "doc_id", "grams",
          tau = 0.5)
        val n = pairs.queryExecution.toRdd.count()
        val joinMs = ((System.nanoTime() - tJ0) / 1e9 * 1000).toLong
        // candidate count — the quantity prefix filtering bounds —
        // costs its own pass, so join_ms carries the curve's time and
        // the family wall time includes both
        val cands = SetSimJoin
          .candidatePairs(input, "doc_id", "grams", tau = 0.5).count()
        (n, Map("cands" -> cands, "join_ms" -> joinMs))
      case "suffix_rank" =>
        val sub = docs.filter(col("doc_id") % 10 === 0)
        val ranked = SuffixRank.rank(sub, "doc_id", "text", depth = 32)
        val n = ranked.queryExecution.toRdd.count()
        (n, Map.empty)
      case "span_dedup" =>
        // the q179 corpus shape: every-10th subcorpus + per-replica
        // mod-30 exact copies so full-window repeated spans exist
        val sub = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"))
        val corpus = sub.unionByName(
          sub.filter(col("doc_id") % 10000000L % 30 === 0)
            .withColumn("doc_id", col("doc_id") + lit(1000000L)))
        val cuts = SpanDedup.cutIntervals(corpus, "doc_id", "text")
        val n = cuts.queryExecution.toRdd.count()
        (n, Map.empty)
      case "hll" =>
        val grams = docs.select(col("source"),
          explode(TextFunctions.md5Grams60Udf(col("text"), lit(5)))
            .as("h"))
        val est = PortableHll.estimate(
          PortableHll.sketch(grams, Seq("source"), col("h"), p = 8),
          Seq("source"), p = 8)
        val n = est.queryExecution.toRdd.count()
        (n, Map.empty)
      case "ann" =>
        // IVF top-k over the inflated embedding space: a FIXED 100-query
        // workload against a growing corpus, nlist scaled ~√n (the IVF
        // sizing rule) with nprobe fixed — per-query probed work grows
        // ~√n while the scan stays one streaming corpus pass. The
        // brute-force twin is deliberately absent above factor 1: its
        // broadcast cap refusing at scale is the operator's documented
        // contract, and IVF is the scale path it names.
        val emb = spark.read.parquet(
          new java.io.File(dir, "embeddings.parquet").getPath)
        val queries = emb
          .filter(col("vec_id") < 10000000L && col("vec_id") % 20 === 0)
        val nlist = math.max(16, 16 * math.sqrt(factor.toDouble).toInt)
        val topk = graft.operators.Similarity.ivfTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          dim = 64, k = 5, nlist = nlist, nprobe = 4)
        val n = topk.queryExecution.toRdd.count()
        (n, Map("nlist" -> nlist.toLong))
      case "etl_merge" =>
        // the FHIR headline pipeline (scrub projection P1 + bucketed
        // merge K1), measured at growing BASE size with the bucket
        // count scaled like a production table (16·f → bucket size
        // stays constant). Fixture + cold base load are built ONCE per
        // factor and cached; the per-run timed region is the
        // INCREMENTAL path — a fixed 2000-update batch (touches
        // ~min(2000, buckets) buckets) and a 5-update tiny batch
        // (touches ≤5 buckets — the bucketed layout's claim is that
        // THIS cost stays flat while the base grows 100×). Each run
        // adds one version (+2005 rows ≈ ≤0.1% drift); versions are
        // immutable so timings stay comparable.
        val fx = etlMergeFixture(spark, factor)
        val tasks = graft.etl.EtlPipeline.DefaultTasks
          .filter(_.resourceType == "Observation")
        val nObs = 200000L * factor
        def updates(n: Int, tag: String): String = {
          val d = java.nio.file.Files
            .createTempDirectory(s"scale-etl-upd-$tag").toString
          val step = math.max(1L, nObs / n)
          val sb = new StringBuilder()
          var i = 0L
          while (i < n) { sb.append(obsJson(i * step, nObs)).append('\n'); i += 1 }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, "Observation.000.ndjson"),
            sb.toString.getBytes("UTF-8"))
          d
        }
        val incDir = updates(2000, "incr")
        val tI0 = System.nanoTime()
        graft.etl.EtlPipeline.run(spark, incDir, fx.out, fx.phi,
          tasks = tasks, groupName = "scale-incr",
          exportTime = "2024-02-01T00:00:00Z", buckets = fx.buckets)
        val incrMs = ((System.nanoTime() - tI0) / 1e9 * 1000).toLong
        val tinyDir = updates(5, "tiny")
        val tT0 = System.nanoTime()
        graft.etl.EtlPipeline.run(spark, tinyDir, fx.out, fx.phi,
          tasks = tasks, groupName = "scale-tiny",
          exportTime = "2024-02-02T00:00:00Z", buckets = fx.buckets)
        val tinyMs = ((System.nanoTime() - tT0) / 1e9 * 1000).toLong
        // keep the cached fixture bounded across repeated invocations:
        // drop the version dirs the runs above retired (each timed run
        // appends one) and the update temp dirs — ADVICE r9
        graft.sinks.GraftTable(spark, s"${fx.out}/observation",
          graft.operators.MergeOps.MergeSpec(Seq("id")),
          buckets = fx.buckets).vacuum()
        Seq(incDir, tinyDir).foreach { d =>
          val p = java.nio.file.Paths.get(d)
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        }
        (fx.rows, Map("cold_ms" -> fx.coldMs, "incr_ms" -> incrMs,
          "tiny_ms" -> tinyMs, "buckets" -> fx.buckets.toLong))
      case "asof" =>
        val purchases = events.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("value"))
        val clicks = events.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts"))
        val joined = TemporalJoins.asOfJoinBucketed(purchases, clicks,
          "user_id", "ts", "ts", bucketMicros = 3600L * 1000000)
        val n = joined.queryExecution.toRdd.count()
        (n, Map.empty)
    }
  }
}
