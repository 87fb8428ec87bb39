package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession, SparkEntry}
import graft.etl.EtlPipeline
import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM: one workload, one seed, one closed loop.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR [--tables DIR] [--t0-ms EPOCH_MS] [--layer-keys K,...]
  *
  * `--layer-keys` names the per-layer metrics to report (run.py passes
  * the `per_layer` names of BENCHMARK.json); the `spark.jobs.<module>`
  * names among them choose the modules jobs are attributed to.
  * Writes `result.json` (and, when traced, `trace.json`) under the work
  * directory; `run.py` turns it into the benchmark's output line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, tables: Option[String], t0Ms: Long,
      layerKeys: Seq[String]) {
    /** Zero for each layer metric whose layer (the name up to its first
      * '.') the workload never reaches.
      */
    def unreached(reached: Set[String]): Map[String, Double] =
      layerKeys.filterNot(k => reached(k.takeWhile(_ != '.'))).map(_ -> 0.0).toMap
  }

  /** `samples`: timed samples behind each end-to-end timing. */
  final case class Result(attempted: Int, failed: Int,
      e2e: Map[String, Double], layers: Map[String, Double],
      samples: Map[String, Double], queryExecs: Map[String, Int] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), Paths.get(kv("work")).toAbsolutePath,
      kv.get("tables"),
      kv.get("t0-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      kv.get("layer-keys").toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val (steal0, total0) = Bench.cpuJiffies()
    val spark = GraftSession.builder("graft-perfbench")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val modules = a.layerKeys.filter(_.startsWith("spark.jobs."))
      .map(_.stripPrefix("spark.jobs."))
    val tracer = new Tracer(spark, cores, listen = a.trace, modules)
    val r = try a.workload match {
      case "etl_incremental" => EtlWorkload.run(spark, tracer, a)
      case "query_mix" => QueryWorkload.run(spark, tracer, a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally tracer.on = false
    // ambient-load witness, outside the timed part
    val cal = Bench.loadCal(cores)
    val (steal1, total1) = Bench.cpuJiffies()
    val steal = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val layers = if (a.trace) r.layers ++ Map("load_cal_s" -> cal, "steal_pct" -> steal) else Map.empty[String, Double]
    if (a.trace) Files.writeString(a.work.resolve("trace.json"), tracer.toJson)
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    Files.writeString(a.work.resolve("result.json"),
      s"""{"attempted":${r.attempted},"failed":${r.failed},"e2e":${obj(r.e2e)},"layers":${obj(layers)},""" +
        s""""ambient":{"load_cal_s":${num(cal)},"steal_pct":${num(steal)}},""" +
        s""""samples":${obj(r.samples)},""" +
        r.queryExecs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
          .mkString("\"query_execs\":{", ",", "}}") + "\n")
    spark.stop()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Live heap after forced collections, in MB. The pauses let Spark's
    * context cleaner drop the blocks of RDDs and broadcasts the first
    * collection found unreachable, so the last one sees the settled heap.
    */
  def heapLiveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def secondsSince(ms: Long): Double = (System.currentTimeMillis() - ms) / 1e3

  /** Bytes of every regular file under `dir`, keyed by path. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }

  /** Layers every traced run reaches: the engine, and the run-wide
    * overhead and ambient-load figures.
    */
  val Everywhere: Set[String] =
    Set("spark", "trace_overhead_frac", "load_cal_s", "steal_pct")
}

/** Base load in set-up, then closed-loop incremental exports. */
object EtlWorkload {
  import Main._

  /** One of the generator's types: Encounter runs every per-type step
    * the pipeline has (codebook mapping side-output, completion fan-out).
    * Each type adds the same per-run constant, and one four-type batch
    * does not fit the run's time budget on a 4-core host.
    */
  val Types: Seq[String] = Seq("Encounter")
  val BaseResources = 2000
  val Reached: Set[String] = Everywhere ++
    Set("etl", "sources", "deid", "operators", "sinks", "replay_coverage")
  val BatchFrac = 0.01

  def run(spark: SparkSession, tr: Tracer, a: Args): Result = {
    val gen = new FhirExport(a.seed, Types)
    val tasks = Checks.tasksFor(Types)
    val out = a.work.resolve("etl-out")
    val phi = a.work.resolve("etl-phi")
    var attempted, failed = 0
    var ingested = 0L
    def load(dir: Path, batch: Int): Unit = EtlPipeline.run(spark,
      dir.toString, out.toString, phi.toString, tasks = tasks,
      groupName = "perfbench", exportTime = f"2024-03-01T00:00:$batch%02dZ")
    def check(what: String): Unit = {
      val f = Checks.etlOutput(spark, gen, out.toString, phi.toString)
      if (f.nonEmpty) {
        failed += 1
        System.err.println(s"[perfbench] $what failed checks: ${f.mkString(", ")}")
      }
    }
    // set-up: the base export and its cold load, which also warms the
    // JVM; each batch's check covers the base rows as well
    val base = gen.writeBase(a.work.resolve("in-0"), BaseResources)
    ingested += base.bytes
    load(base.dir, 0)
    val setupS = secondsSince(a.t0Ms)

    val times = mutable.ArrayBuffer.empty[Double]
    var resources = 0L
    var layers = Map.empty[String, Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run traces (and replays) its second batch only; the first
    // and third are its untraced twins for trace_overhead_frac
    while (times.isEmpty || (a.trace && times.size < 3) || elapsed < a.seconds) {
      val n = times.size + 1
      val x = gen.writeIncrement(a.work.resolve(s"in-$n"), BatchFrac)
      val traceThis = a.trace && n == 2
      val before = if (traceThis) files(out) else Map.empty[String, Long]
      if (traceThis) {
        copyTree(out, a.work.resolve("replay-out"))
        copyTree(phi, a.work.resolve("replay-phi"))
      }
      attempted += 1
      tr.on = traceThis
      val (ok, dt) = tr.timed("etl.run") {
        try { load(x.dir, n); true }
        catch { case e: Exception =>
          System.err.println(s"[perfbench] batch $n threw: $e"); false }
      }
      tr.on = false
      ingested += x.bytes
      resources += x.resources
      times += dt
      if (!ok) failed += 1 else check(s"batch $n")
      if (!traceThis) untraced += dt
      if (traceThis) layers = traced(spark, tr, a, tasks, x, out, before, n,
        gen) { f => failed += f }
    }
    if (a.trace) layers += "trace_overhead_frac" ->
      (times(1) / (untraced.sum / untraced.size) - 1)
    val heap = heapLiveMb()
    val stored = files(out).values.sum
    Result(attempted, failed,
      Map("setup_s" -> setupS, "op_s" -> median(times.toSeq),
        "rate_per_s" -> resources / times.sum, "heap_live_mb" -> heap),
      layers + ("sinks.store_amp" -> stored.toDouble / ingested),
      Map("setup_s" -> 1.0, "op_s" -> times.size.toDouble,
        "rate_per_s" -> times.size.toDouble, "heap_live_mb" -> 1.0))
  }

  /** Layer metrics for one traced batch, then its staged replay on a copy
    * of the output as it was before the batch.
    */
  private def traced(spark: SparkSession, tr: Tracer, a: Args,
      tasks: Seq[EtlPipeline.EtlTask], x: FhirExport.Export, out: Path,
      before: Map[String, Long], n: Int,
      gen: FhirExport)(addFailed: Int => Unit): Map[String, Double] = {
    val after = files(out)
    val written = after.filter { case (p, _) => !before.contains(p) && p.endsWith(".parquet") }
    val buckets = written.keys.flatMap { p =>
      "/([a-z_]+)/v[0-9]+/__b=([0-9]+)/".r.findFirstMatchIn(p).map(m => m.group(1) + m.group(2))
    }.toSet
    tr.drain()
    val span = tr.spansNamed("etl.run").last
    val js = tr.jobsOf(span)
    val engine = tr.engine(js)
    val driver = tr.driverS(span)
    // the modules' job times split the union of the jobs' intervals,
    // which is what driverS subtracts from the span
    val jobS = engine.collect { case (k, v) if k.startsWith("spark.job_s.") => v }.sum

    // replay the same batch on the pre-batch copy
    val rOut = a.work.resolve("replay-out")
    val rPhi = a.work.resolve("replay-phi")
    tr.on = true
    val counts = tr.span("replay") {
      Replay.run(spark, tr, x.dir.toString, rOut.toString, rPhi.toString,
        tasks, "perfbench", f"2024-03-01T00:00:$n%02dZ")
    }
    tr.on = false
    tr.drain()
    val f = Checks.etlOutput(spark, gen, rOut.toString, rPhi.toString)
    if (f.nonEmpty) {
      addFailed(1)
      System.err.println(s"[perfbench] replay failed checks: ${f.mkString(", ")}")
    }
    val replay = tr.spansNamed("replay").last
    def sumOf(name: String) = tr.allSpans
      .filter(s => s.name == name && s.startMs >= replay.startMs && s.endMs <= replay.endMs)
      .map(_.seconds).sum
    val topLevel = tr.allSpans.filter(_.parent == replay.id).map(_.seconds).sum
    val inBatch = Seq(span)
    a.unreached(Reached) ++ engine ++ Map(
      "etl.run_s" -> span.seconds,
      "etl.driver_s" -> driver,
      "etl.jobs" -> js.size.toDouble,
      "etl.completion_s" -> sumOf("etl.completion"),
      "etl.accounted_frac" -> (driver + jobS) / span.seconds,
      "sources.detect_s" -> (sumOf("sources.detect") + sumOf("sources.list")),
      "sources.read_s" -> sumOf("sources.read"),
      "sources.rows" -> counts.rowsRead.toDouble,
      "sources.bytes" -> x.bytes.toDouble,
      "deid.scrub_plan_s" -> sumOf("deid.scrub_plan"),
      "deid.census_s" -> sumOf("deid.census"),
      "deid.kept_frac" -> counts.rowsScrubbed.toDouble / counts.rowsRead,
      "operators.dedup_s" -> sumOf("operators.dedup"),
      "operators.dedup_kept_frac" -> counts.rowsKept.toDouble / counts.rowsScrubbed,
      "sinks.merge_s" -> sumOf("sinks.merge"),
      "sinks.delete_s" -> sumOf("sinks.delete"),
      "sinks.row_count_s" -> sumOf("sinks.row_count"),
      "sinks.buckets_touched" -> buckets.size.toDouble,
      "sinks.files_written" -> written.size.toDouble,
      "sinks.bytes_written" -> written.values.sum.toDouble,
      "sinks.write_amp" -> written.values.sum.toDouble / x.bytes,
      "spark.analysis_s" -> tr.phaseS("analysis", inBatch),
      "spark.optimization_s" -> tr.phaseS("optimization", inBatch),
      "spark.planning_s" -> tr.phaseS("planning", inBatch),
      "replay_coverage" -> topLevel / span.seconds)
  }
}

/** Registry queries in a seeded order, closed loop. */
object QueryWorkload {
  import Main._

  /** Planning- and scheduling-floor-bound queries (q11, q13, q15, q60,
    * q65 and q83 are left out to fit the run's time budget).
    */
  val Small: Seq[String] = Seq("q2", "q9", "q10", "q14", "q40", "q163")
  /** The heavy kernels: text dedup, similarity and suffix ranking. At
    * the sf0.01 sizes their time sits mostly in building them (eager
    * jobs) and in driver work, not in task compute. The slowest heavy
    * queries (q87, q100, q101, q121, q132, q133, q142, q148, q151, q180,
    * q195) are left out to fit the run's time budget.
    */
  val Heavy: Seq[String] = Seq("q25", "q30", "q38", "q176")
  val Reached: Set[String] = Everywhere + "queries"

  def mix: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    (Small ++ Heavy).map { id =>
      SparkEntry.queries.find(_._1.takeWhile(_ != '_') == id)
        .getOrElse(throw new IllegalStateException(s"query $id not registered"))
    }.sortBy(_._1)

  def run(spark: SparkSession, tr: Tracer, a: Args): Result = {
    val dir = a.tables.getOrElse(throw new IllegalArgumentException("--tables"))
    val qs = mix
    var attempted, failed = 0
    // between queries, outside the timed part: drop what the last query
    // persisted, so it cannot crowd later queries' memory
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def release(pre: collection.Set[Int]): Unit = spark.sparkContext
      .getPersistentRDDs.filter { case (id, _) => !pre.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    // set-up: one warm-up pass that also writes each output for the
    // oracle check
    val outs = a.work.resolve("query-out")
    qs.foreach { case (name, fn) =>
      attempted += 1
      val (pre, t) = (persisted, System.nanoTime())
      try fn(spark, dir).repartition(1).write.mode("overwrite")
        .parquet(outs.resolve(name).toString)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name threw in warm-up: $e")
      }
      System.err.println(f"[perfbench] warm-up $name ${(System.nanoTime() - t) / 1e9}%.2fs")
      release(pre)
    }
    val oracle = qs.map(_._1).map(n => n -> SparkEntry.oracleSql.get(n))
    Files.writeString(a.work.resolve("oracle_sql.json"), oracle.map {
      case (n, sql) => s""""$n":${sql.map(jsonStr).getOrElse("null")}"""
    }.mkString("{", ",", "}"))
    val setupS = secondsSince(a.t0Ms)

    val rnd = new scala.util.Random(a.seed)
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    // (query, phase, traced) → seconds
    val phaseT = mutable.Map.empty[(String, String, Boolean), mutable.ArrayBuffer[Double]]
    val execs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val rows = mutable.Map.empty[String, Long]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    // a traced run traces its second pass only; the first and third are
    // its untraced twins for trace_overhead_frac
    while (pass == 0 || (a.trace && pass < 3) || elapsed < a.seconds) {
      val traceThis = a.trace && pass == 1
      var passS = 0.0
      rnd.shuffle(qs).foreach { case (name, fn) =>
        attempted += 1
        execs(name) += 1
        tr.on = traceThis
        val (pre, t) = (persisted, System.nanoTime())
        try {
          val (df, b) = tr.timed("queries.build")(fn(spark, dir))
          val (_, p) = tr.timed("queries.plan")(df.queryExecution.executedPlan)
          val (n, e) = tr.timed("queries.exec")(df.queryExecution.toRdd.count())
          tr.recordPhases(df.queryExecution)
          rows(name) = n
          Seq("build" -> b, "plan" -> p, "exec" -> e).foreach { case (k, v) =>
            phaseT.getOrElseUpdate((name, k, traceThis), mutable.ArrayBuffer()) += v
          }
        } catch { case ex: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $name threw: $ex")
        }
        val dt = (System.nanoTime() - t) / 1e9
        tr.on = false
        release(pre)
        times.getOrElseUpdate(name, mutable.ArrayBuffer()) += dt
        passS += dt
      }
      passTimes += ((traceThis, passS))
      pass += 1
    }
    val heap = heapLiveMb()
    def phaseMedian(n: String, k: String, traced: Boolean) =
      phaseT.get((n, k, traced)).map(ts => median(ts.toSeq)).getOrElse(0.0)
    times.toSeq.sortBy(_._1).foreach { case (n, ts) =>
      val split = Seq("build", "plan", "exec")
        .map(k => f"$k=${phaseMedian(n, k, false)}%.3f").mkString(" ")
      System.err.println(f"[perfbench] timed $n rows=${rows.getOrElse(n, -1L)} " +
        f"$split total ${ts.map(v => f"$v%.3f").mkString(" ")}")
    }
    val medians = times.values.map(ts => median(ts.toSeq)).toSeq
    val all = times.values.flatten.toSeq
    val e2e = Map("setup_s" -> setupS, "op_s" -> geomean(medians),
      "rate_per_s" -> all.size / all.sum, "heap_live_mb" -> heap)
    val layers = if (!a.trace) Map.empty[String, Double] else {
      tr.drain()
      val spans = tr.allSpans.filter(_.module == "queries")
      val js = tr.tracedJobs
      def mixSum(k: String) = qs.map(_._1).map(phaseMedian(_, k, true)).sum
      val driver = spans.map(tr.driverS).sum
      val (on, off) = passTimes.partition(_._1)
      a.unreached(Reached) ++ tr.engine(js) ++ Map(
        "queries.build_s" -> mixSum("build"),
        "queries.plan_s" -> mixSum("plan"),
        "queries.exec_s" -> mixSum("exec"),
        "queries.driver_s" -> driver,
        "spark.analysis_s" -> tr.phaseS("analysis", spans),
        "spark.optimization_s" -> tr.phaseS("optimization", spans),
        "spark.planning_s" -> tr.phaseS("planning", spans),
        "trace_overhead_frac" ->
          ((on.map(_._2).sum / on.size) / (off.map(_._2).sum / off.size) - 1))
    }
    Result(attempted, failed, e2e, layers,
      Map("setup_s" -> 1.0, "op_s" -> times.values.map(_.size).min.toDouble,
        "rate_per_s" -> all.size.toDouble, "heap_live_mb" -> 1.0), execs.toMap)
  }

  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
