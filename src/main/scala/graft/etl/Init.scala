package graft.etl

import java.nio.file.{Files, Paths}

import graft.deid.{Codebook, DefaultScrubPolicy, ScrubCompiler, ScrubPolicy}
import graft.operators.Sizing
import graft.sinks.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `init` subcommand (reference: etl/init/cli.py:46-75): pre-create
  * every default task table — plus both completion tables — as valid
  * EMPTY tables with their full post-scrub wide schemas, so downstream
  * SQL (Athena views, the library's study queries) works before the
  * first export lands. Also creates an empty `JobConfig/` folder so
  * `convert` recognizes the directory as an ETL output folder.
  *
  * Idempotent by the reference's contract ("safe to run multiple times
  * … or even on an existing folder with data already in it"): tables
  * that already exist are left untouched.
  *
  * The same table-touching primitive backs the run-end behavior of
  * `etl/tasks/base.py:222-227` (`_touch_remaining_tables`): a selected
  * task whose resource never appeared in the input still leaves a valid
  * empty table behind ([[EtlPipeline.run]] calls [[touchTable]] for
  * unattempted tasks).
  */
object Init {

  /** Schema-only scrub: the post-scrub schema is a pure function of the
    * wide resource schema + policy, so a zero-row frame through the real
    * scrub compiler yields EXACTLY the schema a real run would write
    * (reference equivalent: `task_class.get_schema(resource_type, [])`,
    * etl/init/cli.py:33). The codebook only affects values, never the
    * schema — a fixed throwaway salt keeps init PHI-dir-free like the
    * reference's init.
    */
  def emptyTaskFrame(
      spark: SparkSession,
      resourceType: String,
      policy: ScrubPolicy = DefaultScrubPolicy.policy
  ): DataFrame = {
    val wide = graft.fhir.FhirSchemas.forResource(resourceType)
      .getOrElse(throw new IllegalArgumentException(
        s"no wide schema for resource type $resourceType"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], wide)
    ScrubCompiler.scrub(empty, resourceType,
      Codebook("init", "00" * 32), policy)
  }

  /** Create `tableName` as a valid empty table when absent (no-op when
    * present), with the count the ETL's sizing rule gives no rows: one
    * bucket. The table's first data commit re-sizes it from its own rows
    * (see `GraftTable.merge`), so a bulk load into it is not held to one
    * bucket.
    */
  def touchTable(
      spark: SparkSession,
      outputDir: String,
      task: EtlPipeline.EtlTask,
      policy: ScrubPolicy = DefaultScrubPolicy.policy
  ): Boolean = {
    val table = GraftTable(spark, s"$outputDir/${task.tableName}",
      task.mergeSpec, buckets = Sizing.tableBuckets(0L))
    if (table.exists) false
    else {
      table.merge(emptyTaskFrame(spark, task.resourceType, policy))
      true
    }
  }

  /** Initialize `outputDir`: returns the table names actually created. */
  def run(
      spark: SparkSession,
      outputDir: String,
      tasks: Seq[EtlPipeline.EtlTask] = EtlPipeline.DefaultTasks,
      policy: ScrubPolicy = DefaultScrubPolicy.policy
  ): Seq[String] = {
    Files.createDirectories(Paths.get(outputDir, "JobConfig"))
    val created = tasks.filter(touchTable(spark, outputDir, _, policy))
      .map(_.tableName)
    // the Encounter task's second output (basic_tasks.py:45-51) and the
    // general completion table (init/cli.py:45-46)
    created ++ Seq(Completion.ByEncounter, Completion.ByTable)
      .filter(_.touch(spark, outputDir)).map(_.name)
  }
}
