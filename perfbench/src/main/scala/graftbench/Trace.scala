package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes the program from outside: every call the benchmark makes
  * runs in a span, the span id is the Spark job group, and a
  * SparkListener plus a QueryExecutionListener on the benchmark's own
  * session join each job, stage and query to the span that issued it.
  *
  * Spans and job records stay in memory; nothing is written until the
  * run ends. With tracing off `span` is a plain call; the listeners are
  * only attached when `listen` is set, and then record every event
  * (the bus delivers them late), so analysis keeps only the jobs whose
  * group is a span.
  */
final class Tracer(spark: SparkSession, cores: Int, listen: Boolean,
    modules: Seq[String]) {
  import Tracer._

  @volatile var on = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val phases = mutable.ArrayBuffer.empty[(Long, String, Double)]

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Run `f` in a span named `name` (module = text before the first '.'). */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        nowMs())
      spans.synchronized(spans += s)
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"$GroupPrefix${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        s.endMs = nowMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"$GroupPrefix${p.id}", p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wall seconds of `f`, also run as a span. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Catalyst phase times of a query the benchmark materialised itself
    * (no listener event fires for `queryExecution.toRdd`).
    */
  def recordPhases(qe: QueryExecution): Unit = if (on) {
    qe.tracker.phases.foreach { case (p, s) =>
      phases.synchronized(phases += ((s.startTimeMs, p, s.durationMs / 1e3)))
    }
  }

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toInt).getOrElse(-1)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val last = e.stageInfos.sortBy(_.stageId).lastOption
      val j = Job(e.jobId, group, exec, e.time.toDouble,
        moduleOf(last.map(_.details).getOrElse("")),
        last.map(_.name).getOrElse(""))
      jobs.synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        val info = e.stageInfo
        for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid)) {
          val m = info.taskMetrics
          j.stages += 1
          j.tasks += info.numTasks
          if (m != null) {
            j.runS += m.executorRunTime / 1e3
            j.cpuS += m.executorCpuTime / 1e9
            j.gcS += m.jvmGCTime / 1e3
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.tracker.phases.foreach { case (p, s) =>
        phases.synchronized(phases += ((s.startTimeMs, p, s.durationMs / 1e3)))
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (listen) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Block until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

  // ---- analysis --------------------------------------------------------

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Spans whose name matches, with their subtree's jobs. */
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)

  private def subtree(s: Span): Set[Int] = {
    val kids = allSpans.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(k => go(k.id))
    go(s.id).toSet
  }

  def jobsOf(s: Span): Seq[Job] = {
    val ids = subtree(s)
    jobs.synchronized(jobs.values.filter(j => ids.contains(j.group)).toSeq)
  }

  /** Jobs issued inside some span. */
  def tracedJobs: Seq[Job] = jobs.synchronized(jobs.values.filter(_.group >= 0).toSeq)

  /** A span's duration minus the time its direct children cover. */
  def selfS(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    (s.endMs - s.startMs - unionMs(kids)) / 1e3
  }

  /** Wall time of the span no Spark job of its subtree covers. */
  def driverS(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs > 0) j.endMs else s.endMs, s.endMs)))
    (s.endMs - s.startMs - unionMs(iv)) / 1e3
  }

  def phaseS(name: String, inSpans: Seq[Span] = Nil): Double =
    phases.synchronized(phases.toSeq).filter { case (t, p, _) =>
      p == name && (inSpans.isEmpty ||
        inSpans.exists(s => t >= s.startMs - 1 && t <= s.endMs + 1))
    }.map(_._3).sum

  /** Engine totals over `js`: counts, task time, data movement, slots,
    * and per module (of `modules`, else "other") the jobs and the job
    * time. Jobs overlap (adaptive execution runs shuffle stages side by
    * side), so a module's job time is its share of the union of the job
    * intervals: an instant that k jobs cover counts 1/k for each. The
    * modules' shares add up to that union, the time `driverS` subtracts;
    * `spark.job_overlap_s` is what a plain sum of job durations would
    * count twice.
    */
  def engine(js: Seq[Job]): Map[String, Double] = {
    val spanModule = allSpans.map(s => s.id -> s.module).toMap
    // adaptive execution submits shuffle stages from a pool thread, whose
    // call site has no program frame: such a job takes the module of a
    // job of the same SQL execution that has one
    val execModule = tracedJobs.filter(j => j.module.nonEmpty && j.execution >= 0)
      .map(j => j.execution -> j.module).toMap
    def moduleOf(j: Job): String =
      Some(j.module).filter(_.nonEmpty).orElse(execModule.get(j.execution))
        .orElse(spanModule.get(j.group))
        .filter(modules.contains).getOrElse("other")
    def end(j: Job) = math.max(j.startMs, j.endMs)
    val wall = js.map(j => end(j) - j.startMs).sum / 1e3
    val union = unionMs(js.map(j => (j.startMs, end(j)))) / 1e3
    val share = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val cuts = js.flatMap(j => Seq(j.startMs, end(j))).distinct.sorted
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val on = js.filter(j => j.startMs <= a && end(j) >= b)
      on.foreach(j => share(moduleOf(j)) += (b - a) / 1e3 / on.size)
    }
    val run = js.map(_.runS).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> run,
      "spark.task_cpu_s" -> js.map(_.cpuS).sum,
      "spark.gc_s" -> js.map(_.gcS).sum,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.slot_util" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "spark.job_overlap_s" -> (wall - union)
    ) ++ (modules :+ "other").distinct.flatMap { m =>
      Seq(s"spark.jobs.$m" -> js.count(moduleOf(_) == m).toDouble,
        s"spark.job_s.$m" -> share(m))
    }
  }

  /** Spans and jobs as JSON, for the trace file. */
  def toJson: String = {
    val sp = allSpans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_s":${selfS(s)}%.4f,"driver_s":${driverS(s)}%.4f}"""
    }
    val js = tracedJobs.map { j =>
      f"""{"id":${j.id},"span":${j.group},"module":"${if (j.module.nonEmpty) j.module else "-"}","site":"${j.site.replace("\"", "'")}","start_ms":${j.startMs}%.0f,"end_ms":${j.endMs}%.0f,"stages":${j.stages},"tasks":${j.tasks},"run_s":${j.runS}%.3f,"cpu_s":${j.cpuS}%.3f,"gc_s":${j.gcS}%.3f,"shuffle_write":${j.shuffleWrite},"shuffle_read":${j.shuffleRead},"spill":${j.spill}}"""
    }
    sp.mkString("{\"spans\":[", ",\n", "],\n") + js.mkString("\"jobs\":[", ",\n", "]}\n")
  }
}

object Tracer {
  private val GroupPrefix = "graftbench-span-"

  final case class Span(id: Int, name: String, parent: Int, startMs: Double) {
    var endMs: Double = startMs
    def module: String = name.takeWhile(_ != '.')
    def seconds: Double = (endMs - startMs) / 1e3
  }

  final case class Job(id: Int, group: Int, execution: Long, startMs: Double,
      module: String, site: String) {
    var endMs: Double = 0
    var stages = 0
    var tasks = 0L
    var runS, cpuS, gcS = 0.0
    var shuffleWrite, shuffleRead, spill = 0L
  }

  private val Frame = """^\s*graft\.([a-z]+)\.""".r.unanchored

  /** The package under `graft.` owning the innermost program frame of a
    * call site ("other" for a class directly in `graft`). The long
    * call-site form lists frames innermost first. Empty when no program
    * frame is on the stack: the job then belongs to the module of its SQL
    * execution, else of the span that issued it.
    */
  def moduleOf(site: String): String =
    site.linesIterator.collectFirst {
      case l if l.trim.startsWith("graft.") =>
        l.trim match {
          case Frame(m) => m
          case _ => "other"
        }
    }.getOrElse("")

  /** Length of the union of [start, end] intervals (same unit). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS, curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
