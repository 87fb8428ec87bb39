package graftbench

import graft.deid.Codebook
import graft.etl.EtlPipeline
import graft.sinks.MergeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness checks on one ETL output, run outside the timed part.
  * Each returns the failed checks by name; empty means the output is
  * what the generator's ground truth says it must be.
  */
object Checks {

  def tasksFor(types: Seq[String]): Seq[EtlPipeline.EtlTask] =
    EtlPipeline.DefaultTasks.filter(t => types.contains(t.resourceType))

  def openTable(spark: SparkSession, outDir: String,
      task: EtlPipeline.EtlTask): DataFrame =
    MergeTable.open(spark, s"$outDir/${task.tableName}", task.mergeSpec,
      buckets = EtlPipeline.ResourceTableBuckets).read()

  /** Check every table of an ETL output against the generator's truth. */
  def etlOutput(spark: SparkSession, gen: FhirExport, outDir: String,
      phiDir: String): Seq[String] = {
    val codebook = Codebook.loadOrCreate(phiDir)
    tasksFor(gen.types).flatMap { task =>
      table(spark, gen, task.resourceType, openTable(spark, outDir, task),
        codebook).map(f => s"${task.tableName}: $f")
    }
  }

  /** The checks for one table:
    *  - `count`: row count equals the number of live ids;
    *  - `missing`: every live id is present (under its pseudonym);
    *  - `deleted`: no deleted id is present;
    *  - `stale`: each row carries the expected lastUpdated, so an update
    *    with an older lastUpdated never overwrote a newer row;
    *  - `real_id`: no real id survives in `id` or any reference.
    */
  def table(spark: SparkSession, gen: FhirExport, resourceType: String,
      out: DataFrame, codebook: Codebook): Seq[String] = {
    import spark.implicits._
    val truth = gen.live(resourceType).toSeq.toDF("real_id", "expect_ts")
      .withColumn("fid", codebook.fakeId(col("real_id")))
    val deletedIds = gen.deleted(resourceType).toSeq.toDF("real_id")
      .withColumn("fid", codebook.fakeId(col("real_id")))
      .withColumn("is_deleted", lit(true))
    val got = out.select(
      col("id").as("oid"),
      col("meta.lastUpdated").cast("timestamp").as("got_ts"),
      to_json(struct(out.columns.map(col): _*))
        .rlike("\"" + FhirExport.RealIdPattern + "\"|/" +
          FhirExport.RealIdPattern + "\"").as("leak"))
    val joined = got
      .join(truth, got("oid") === truth("fid"), "full_outer")
      .join(deletedIds.select(col("fid").as("dfid"), col("is_deleted")),
        col("oid") === col("dfid"), "left_outer")
    val r = joined.agg(
      count(col("oid")).as("rows"),
      countIf(col("oid").isNull).as("missing"),
      countIf(col("is_deleted")).as("deleted"),
      countIf(col("oid").isNotNull && col("fid").isNotNull &&
        !(col("got_ts") <=> col("expect_ts").cast("timestamp"))).as("stale"),
      countIf(col("leak")).as("leak")
    ).head()
    val expected = gen.live(resourceType).size.toLong
    Seq(
      "count" -> (r.getLong(0) != expected),
      "missing" -> (r.getLong(1) != 0),
      "deleted" -> (r.getLong(2) != 0),
      "stale" -> (r.getLong(3) != 0),
      "real_id" -> (r.getLong(4) != 0)
    ).collect { case (name, true) => name }
  }

  private def countIf(c: org.apache.spark.sql.Column) =
    count(when(c, lit(1)))
}
