package graft.etl

import java.util.concurrent.{ExecutionException, FutureTask}

import scala.util.{Failure, Success, Try}

import graft.deid.{Codebook, DefaultScrubPolicy, ScrubCompiler, ScrubPolicy}
import graft.operators.{MergeOps, Sizing}
import graft.operators.MergeOps.MergeSpec
import graft.sinks.{GraftTable, Store}
import graft.sources.NdjsonSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The end-to-end ETL flow (SURVEY §3.1): per resource task,
  * read NDJSON → scrub → dedup (last-wins) → merge into the output
  * table, with the export's deleted ids of that type → completion
  * bookkeeping — each stage one of the already-tested operators; this
  * driver only sequences them. Tasks run one after another.
  *
  * == Commit order ==
  *
  * A task commits each table at most once. Its side-table commits
  * (census, codebook mappings) run on their own threads beside the
  * resource-table merge, and so does the staging of its completion
  * rows: their versions are written but not yet visible
  * (`GraftTable.stage`). The completion rows are published only once the
  * resource merge and every side commit have succeeded, so a completion
  * row never names data that is not committed, a failed task publishes
  * none, and a run that fails keeps the completion rows of the tasks
  * before it. A staged version that is never published stays invisible
  * until the next commit of its table overwrites it.
  */
object EtlPipeline {

  /** One per-resource task (the reference's task classes,
    * etl/tasks/task_factory.py:48-80, collapsed to configuration).
    */
  final case class EtlTask(
      resourceType: String,
      tableName: String,
      groupField: Option[String] = None,
      updateExisting: Boolean = true
  ) {
    /** K2/J2: every FHIR task merge is guarded by `meta.lastUpdated`,
      * exactly as the reference guards every Delta merge whenever the
      * schema carries the field (deltalake.py:120-122,187-232) — the wide
      * schemas here always do (FhirSchemas), so a re-run of an OLDER
      * export can never clobber newer rows. MergeOps skips the guard for
      * schemas without the path, so non-FHIR tables are unaffected.
      */
    def mergeSpec: MergeSpec = MergeSpec(
      keys = Seq("id"),
      updateExisting = updateExisting,
      guardField = Some("meta.lastUpdated"),
      groupField = groupField
    )
  }

  /** The reference's 20 default tasks (task_factory.py:48-80): Encounter
    * and Patient first (codebook-churn ordering, O6), the rest
    * alphabetical.
    */
  val DefaultTasks: Seq[EtlTask] = Seq(
    EtlTask("Encounter", "encounter"),
    EtlTask("Patient", "patient"),
    EtlTask("AllergyIntolerance", "allergyintolerance"),
    EtlTask("Condition", "condition"),
    EtlTask("Device", "device"),
    EtlTask("DiagnosticReport", "diagnosticreport"),
    EtlTask("DocumentReference", "documentreference"),
    EtlTask("EpisodeOfCare", "episodeofcare"),
    EtlTask("Immunization", "immunization"),
    EtlTask("Location", "location"),
    EtlTask("Medication", "medication"),
    EtlTask("MedicationDispense", "medicationdispense"),
    EtlTask("MedicationRequest", "medicationrequest"),
    EtlTask("Observation", "observation"),
    EtlTask("Organization", "organization"),
    EtlTask("Practitioner", "practitioner"),
    EtlTask("PractitionerRole", "practitionerrole"),
    EtlTask("Procedure", "procedure"),
    EtlTask("ServiceRequest", "servicerequest"),
    EtlTask("Specimen", "specimen")
  )

  /** The fixed bucket count resource tables had before `run` sized a
    * new table from its rows (`Sizing.tableBuckets`). Kept only for the
    * benchmark harness (`perfbench/`), which passes it to
    * `MergeTable.open` on tables that hold rows, so their manifests'
    * counts win and the value never takes effect. No program code
    * reads it.
    */
  val ResourceTableBuckets = 16

  final case class TaskResult(
      table: String,
      attempted: Boolean,
      rows: Long,
      rowsRead: Long = 0L,
      rowsScrubbed: Long = 0L
  ) {
    /** A5/A7: rejection funnel — rows dropped by scrub policy. */
    def rowsRejected: Long = rowsRead - rowsScrubbed
  }

  /** The `n` an observation counted. Spark reports an empty metrics map
    * when adaptive execution prunes the empty shuffle the observed rows
    * feed, which happens exactly when there were no rows.
    */
  private def observedCount(obs: org.apache.spark.sql.Observation): Long =
    obs.get.get("n").fold(0L)(_.asInstanceOf[Long])

  /** Run the pipeline: returns per-task summaries (A7-style). */
  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      phiDir: String,
      tasks: Seq[EtlTask] = DefaultTasks,
      policy: ScrubPolicy = DefaultScrubPolicy.policy,
      groupName: String = "",
      exportTime: String = "",
      nlpMode: Boolean = false,
      philterEnabled: Boolean = false
  ): Seq[TaskResult] = {
    val codebook = Codebook.loadOrCreate(phiDir)
    // ONE detection pass (first line of each file) feeds resource
    // reconciliation AND every task's file list
    val filesByType = NdjsonSource.detectResourceFiles(spark, inputDir)
    val available = filesByType.keySet
    JobConfig.write(outputDir, Map(
      "input_dir" -> inputDir,
      "group_name" -> groupName,
      "export_time" -> exportTime,
      "codebook_id" -> codebook.codebookId,
      "tasks" -> tasks.map(_.tableName).mkString(",")
    ))

    // deleted-ids bundles (S5 → K3), read once and hashed to fake ids:
    // each task folds its type's ids into its own table merge. One
    // listing: a batch with no bundles runs no job for its deletes
    val deletedFiles =
      NdjsonSource.listResourceFiles(spark, s"$inputDir/deleted")
    val deletedIds: Map[String, Seq[String]] =
      if (deletedFiles.isEmpty) Map.empty
      else NdjsonSource.readDeletedIds(spark, deletedFiles)
        .filter(col("resource_type").isin(tasks.map(_.resourceType): _*))
        .select(col("resource_type"), codebook.fakeId(col("id")))
        .collect().toSeq.groupMap(_.getString(0))(_.getString(1))

    val results = tasks.map { task =>
      // one partition: a local relation runs a task per row (up to the
      // core count) in every job over it, such as the deletes' broadcast
      val deletes = deletedIds.get(task.resourceType).map { ids =>
        import spark.implicits._
        ids.toDF("id").coalesce(1)
      }
      val tablePath = s"$outputDir/${task.tableName}"
      if (!available.contains(task.resourceType)) {
        // touch-empty-tables (etl/tasks/base.py:222-227): a selected task
        // with no input still leaves a valid empty wide-schema table so
        // downstream SQL never breaks on a missing table; its deleted ids
        // still apply to rows earlier runs wrote
        if (!Init.touchTable(spark, outputDir, task, policy))
          deletes.foreach(
            GraftTable(spark, tablePath, task.mergeSpec).deleteIds)
        TaskResult(task.tableName, attempted = false, rows = 0)
      } else {
        // parsed ONCE, read three times (census, scrub→merge, and the
        // Patient/Encounter mapping side-output) — JSON parsing of
        // nested resources dominates the cold path, so cache the parsed
        // frame for the task's duration (MEMORY_AND_DISK: spills, never
        // recomputes the parse)
        // A1: last-wins on id follows EXPORT order ("updates appended
        // later win", etl/tasks/base.py:308-316): each row carries the
        // position of its file in the type's sorted file list (partition
        // ids alone don't track file order), taken over the scan itself
        val files = filesByType.getOrElse(task.resourceType, Nil)
        val raw = NdjsonSource.readResourceFiles(spark, files,
          task.resourceType,
          graft.fhir.FhirSchemas.forResource(task.resourceType),
          widen = true)
          .withColumn(NdjsonSource.FileSeq, NdjsonSource.fileSeqCol(files))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // A5: funnel metrics ride actions that run anyway via observe():
        // the read count rides the census below, the scrubbed count the
        // checkpoint — no extra jobs. (The scrub returns a leaf over
        // raw's rows, so an observation on its input would never fire.)
        val readObs = org.apache.spark.sql.Observation()
        val scrubObs = org.apache.spark.sql.Observation()
        // P2/A4: dropped-extension census side-output (the report the
        // reference prints at run end, persisted as a mergeable table)
        val census = ScrubCompiler.extensionCensus(
          raw.observe(readObs, count(lit(1)).as("n")),
          task.resourceType, policy)
        // evaluate the census ONCE (it is small by definition: one row
        // per distinct dropped-extension url) — `isEmpty` + `merge`
        // would run the input aggregation twice
        val censusRows = census.collect()

        // Commit order (see the object doc): the census and
        // Patient/Encounter codebook-mappings merges need only `raw` and
        // the census rows, so they run on their own threads while this
        // one scrubs, dedups and merges the resource table (its batch and
        // its deleted ids in one version). No two threads ever commit the
        // same table: tasks stay serial.
        val sideCommits = Seq(
          Option.when(censusRows.nonEmpty)(Overlap.fork {
            GraftTable(spark, s"$outputDir/etl__extension_census",
              MergeSpec(Seq("resource_type", "url"))).merge(
              spark.createDataFrame(
                java.util.Arrays.asList(censusRows: _*), census.schema))
          }),
          // Patient/Encounter reversibility side-output (SURVEY §7.4.3)
          Option.when(task.resourceType == "Patient" ||
            task.resourceType == "Encounter")(Overlap.fork {
            GraftTable(spark, s"$phiDir/codebook-mappings",
              MergeSpec(Seq("resource_type", "real_id"))).merge(
              codebook.mappingTable(
                raw.filter(col("resourceType") === task.resourceType),
                "id", task.resourceType))
          })
        ).flatten
        val (rows, completions) = try Overlap.joinAfter(sideCommits) {
          // nlpMode keeps note text (mask-note leaves), mirroring the
          // reference's prepare_pipeline(nlp=True) (etl/pipeline.py:213-215)
          val scrubbed = ScrubCompiler.scrub(raw, task.resourceType, codebook,
            policy, nlpMode, philterEnabled)
          // ties within a file are broken by the partition-local id
          val kept = MergeOps.dedupLastWins(
            scrubbed.observe(scrubObs, count(lit(1)).as("n"))
              .withColumn("__seq", monotonically_increasing_id()),
            Seq("id"),
            Seq(col(NdjsonSource.FileSeq), col("__seq"))
          ).drop(NdjsonSource.FileSeq, "__seq")
            // materialized ONCE before the merge: the bucketed merge and
            // the completion fan-out run several actions over `kept`,
            // and each would otherwise execute the scrub and the dedup
            // shuffle again. This checkpoint is their one execution.
            .localCheckpoint(true)
          // the completion rows, staged beside the resource merge; J7:
          // Encounter rows fan out into the per-encounter completion
          // table as well (etl/tasks/basic_tasks.py:36-68)
          val staged = Seq(
            Option.when(task.resourceType == "Encounter")(Overlap.fork(
              Completion.stageEncounters(spark, outputDir, kept.select("id"),
                groupName, exportTime))),
            Some(Overlap.fork(Completion.stageTable(spark, outputDir,
              task.tableName, groupName, exportTime)))
          ).flatten
          // bucketed incremental layout: re-runs merge only the key-hash
          // buckets their rows and deleted ids touch instead of rewriting
          // the table. A new (or still empty) table is sized from the
          // scrubbed count, which the checkpoint above has observed; a
          // table with rows keeps its manifest's count
          val rows = Overlap.joinAfter(staged) {
            GraftTable(spark, tablePath, task.mergeSpec,
              Sizing.tableBuckets(observedCount(scrubObs)))
              .stage(kept, deletes).publish()
          }
          (rows, staged.map(_.join().get))
        } finally raw.unpersist()
        // every data commit of the task succeeded: its completion rows
        // become visible, the per-table row last
        completions.foreach(_.publish())
        TaskResult(task.tableName, attempted = true, rows = rows,
          rowsRead = observedCount(readObs),
          rowsScrubbed = observedCount(scrubObs))
      }
    }

    // K10: last-successful-run record for resume UX (etl/context.py)
    JobContext.recordSuccess(phiDir, inputDir, outputDir,
      results.map(r => r.table -> r.rows).toMap)
    results
  }
}

/** Runs an ETL task's independent commits at the same time. */
private[etl] object Overlap {

  /** `f`, started now on a thread of its own. The caller creates the
    * thread, so it starts with a copy of the caller's Spark local
    * properties (job group, job tags, scheduler pool) and active
    * session: its jobs are cancelled by the caller's `cancelJobGroup`
    * and attributed like the caller's own.
    */
  final class Forked[T] private[Overlap] (f: => T) {
    private val task = new FutureTask[T](() => f)
    private val thread = new Thread(task, "graft-etl-commit")
    thread.setDaemon(true)
    thread.start()

    /** Wait for `f`: its value, or what it threw. */
    def join(): Try[T] =
      try Success(task.get())
      catch { case e: ExecutionException => Failure(e.getCause) }
  }

  def fork[T](f: => T): Forked[T] = new Forked(f)

  /** `body` on the calling thread, then a wait for every `started`
    * fork, whatever `body` did: it returns only once all of them have
    * finished, and throws the first failure (the body's first; the
    * others ride along as suppressed).
    */
  def joinAfter[T](started: Seq[Forked[_]])(body: => T): T = {
    val result = try Success(body) catch { case e: Throwable => Failure(e) }
    (result +: started.map(_.join())).flatMap(_.failed.toOption) match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => result.get
    }
  }
}

/** K10: frozen run configuration under OUTPUT/JobConfig/{timestamp}/
  * (etl/config.py:71-133) — run provenance for later `convert`s,
  * written through the output dir's Hadoop filesystem.
  */
object JobConfig {
  def write(outputDir: String, entries: Map[String, String]): String = {
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd__HH.mm.ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val store = Store(outputDir)
    val dir = store(s"JobConfig/$ts")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    entries.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    store.put(new org.apache.hadoop.fs.Path(dir, "job_config.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    dir.toString
  }

  /** O5: most recent JobConfig dir (the highest timestamp). */
  def latest(outputDir: String): Option[String] = {
    val store = Store(outputDir)
    store.list(store("JobConfig")).map(_.getPath.getName).maxOption
      .map(d => store(s"JobConfig/$d").toString)
  }
}

/** K8: quarantine sink — failed/unprocessable rows appended as
  * batch-indexed NDJSON under {errorsDir}/{task}/
  * (etl/tasks/base.py:356-364).
  */
object ErrorSink {
  def quarantine(df: org.apache.spark.sql.DataFrame, errorsDir: String,
      task: String, name: String = "write-error"): Option[String] =
    if (df.isEmpty) None
    else Some(graft.sinks.NdjsonSink.writeBatch(df,
      s"$errorsDir/$task", name))

  /** NLP-task quarantine (etl/tasks/nlp_task.py:91-100): unprocessable
    * notes land under {errorsDir}/{task}/nlp-errors.*.ndjson.
    */
  def quarantineNlp(df: org.apache.spark.sql.DataFrame, errorsDir: String,
      task: String): Option[String] =
    quarantine(df, errorsDir, task, "nlp-errors")
}

/** Completion-tracking tables (SURVEY §2.2 K9; completion/schema.py:12-75:
  * all-string columns by design so NDJSON replay round-trips). Each
  * table's name, merge spec and schema live here; [[Init]] and the
  * writers below open the tables through it.
  */
object Completion {

  /** An insert-only completion table at `outputDir/name`, keyed on
    * `keys`, with the all-string `columns`.
    */
  final case class Table(name: String, keys: Seq[String],
      columns: Seq[String]) {
    val schema: StructType =
      StructType(columns.map(StructField(_, StringType)))

    def open(spark: SparkSession, outputDir: String): GraftTable =
      GraftTable(spark, s"$outputDir/$name",
        MergeSpec(keys, updateExisting = false))

    /** Create the table empty when absent; whether it did. */
    def touch(spark: SparkSession, outputDir: String): Boolean =
      open(spark, outputDir).touch(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
  }

  /** One row per (table, group, export) a run completed. */
  val ByTable: Table = Table("etl__completion",
    Seq("table_name", "group_name", "export_time"),
    Seq("table_name", "group_name", "export_time", "etl_time"))

  /** Encounter completion fan-out (J7): one row per encounter, insert-only
    * so the first export time wins (etl/tasks/basic_tasks.py:36-68).
    */
  val ByEncounter: Table = Table("etl__completion_encounters",
    Seq("encounter_id", "group_name"),
    Seq("encounter_id", "group_name", "export_time"))

  /** Commit `tableName`'s completion row for (`groupName`,
    * `exportTime`): [[stageTable]], then publish. Its `etl_time` is the
    * time of staging. Kept for the benchmark harness (`perfbench/`);
    * `EtlPipeline.run` stages and publishes apart.
    */
  def recordTable(
      spark: SparkSession,
      outputDir: String,
      tableName: String,
      groupName: String,
      exportTime: String
  ): Unit =
    stageTable(spark, outputDir, tableName, groupName, exportTime).publish()

  /** `tableName`'s completion row, staged and not yet visible. Its
    * `etl_time` is stamped now, at staging: `EtlPipeline.run` stages it
    * beside the task's resource merge, so it can precede the publish of
    * the task's data by up to one merge.
    */
  def stageTable(
      spark: SparkSession,
      outputDir: String,
      tableName: String,
      groupName: String,
      exportTime: String
  ): GraftTable.Staged = {
    import spark.implicits._
    val etlTime = java.time.Instant.now().toString
    ByTable.open(spark, outputDir).stage(
      Seq((tableName, groupName, exportTime, etlTime))
        .toDF(ByTable.columns: _*))
  }

  /** Commit one completion row per encounter id: [[stageEncounters]],
    * then publish. Kept for the benchmark harness, like [[recordTable]].
    */
  def recordEncounters(
      spark: SparkSession,
      outputDir: String,
      encounterIds: DataFrame,
      groupName: String,
      exportTime: String
  ): Unit =
    stageEncounters(spark, outputDir, encounterIds, groupName, exportTime)
      .publish()

  /** One completion row per encounter id (`encounterIds`' one column),
    * staged and not yet visible.
    */
  def stageEncounters(
      spark: SparkSession,
      outputDir: String,
      encounterIds: DataFrame,
      groupName: String,
      exportTime: String
  ): GraftTable.Staged =
    ByEncounter.open(spark, outputDir).stage(encounterIds
      .select(col(encounterIds.columns.head).as("encounter_id"))
      .withColumn("group_name", lit(groupName))
      .withColumn("export_time", lit(exportTime)))
}
