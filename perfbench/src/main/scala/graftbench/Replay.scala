package graftbench

import graft.deid.{Codebook, DefaultScrubPolicy, ScrubCompiler}
import graft.etl.{Completion, EtlPipeline, JobConfig, JobContext}
import graft.fhir.FhirSchemas
import graft.operators.MergeOps
import graft.operators.MergeOps.MergeSpec
import graft.sinks.{GraftTable, MergeTable}
import graft.sources.NdjsonSource
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Staged replay of one `EtlPipeline.run`: the same layer functions in
  * the same order, each call in its own span, so a layer's time can be
  * read off directly. Its summed span time against the real run's wall
  * time (`replay_coverage`) shows when the replay drifts from the
  * pipeline it imitates.
  */
object Replay {

  final case class Counts(rowsRead: Long, rowsScrubbed: Long, rowsKept: Long)

  def run(spark: SparkSession, tr: Tracer, inputDir: String,
      outputDir: String, phiDir: String, tasks: Seq[EtlPipeline.EtlTask],
      groupName: String, exportTime: String): Counts = {
    val policy = DefaultScrubPolicy.policy
    val codebook = tr.span("etl.codebook")(Codebook.loadOrCreate(phiDir))
    val filesByType = tr.span("sources.detect")(
      NdjsonSource.detectResourceFiles(spark, inputDir))
    tr.span("etl.job_config")(JobConfig.write(outputDir, Map(
      "input_dir" -> inputDir, "group_name" -> groupName,
      "export_time" -> exportTime, "codebook_id" -> codebook.codebookId,
      "tasks" -> tasks.map(_.tableName).mkString(","))))
    var read, scrubbedN, kept = 0L
    tasks.foreach { task =>
      val t = task.resourceType
      val raw = tr.span("sources.read") {
        val r = NdjsonSource.readResourceFiles(spark,
          filesByType.getOrElse(t, Nil), t, FhirSchemas.forResource(t),
          widen = true).persist(StorageLevel.MEMORY_AND_DISK)
        read += r.count()
        r
      }
      val census = tr.span("deid.census") {
        val c = ScrubCompiler.extensionCensus(raw, t, policy)
        (c, c.collect())
      }
      if (census._2.nonEmpty) tr.span("sinks.census_merge") {
        GraftTable(spark, s"$outputDir/etl__extension_census",
          MergeSpec(Seq("resource_type", "url"))).merge(spark.createDataFrame(
            java.util.Arrays.asList(census._2: _*), census._1.schema))
      }
      val scrubbed = tr.span("deid.scrub_plan")(
        ScrubCompiler.scrub(raw, t, codebook, policy))
      val inputFiles = tr.span("sources.list")(
        NdjsonSource.listResourceFiles(spark, inputDir))
      val scrubObs = Observation()
      val deduped = tr.span("operators.dedup") {
        val d = MergeOps.dedupLastWins(
          scrubbed.observe(scrubObs, count(lit(1)).as("n"))
            .withColumn("__file_seq", NdjsonSource.fileSeqCol(inputFiles))
            .withColumn("__seq", monotonically_increasing_id()),
          Seq("id"), Seq(col("__file_seq"), col("__seq"))
        ).drop("__file_seq", "__seq").localCheckpoint(true)
        kept += d.count()
        d
      }
      scrubbedN += scrubObs.get("n").asInstanceOf[Long]
      val table = MergeTable.open(spark, s"$outputDir/${task.tableName}",
        task.mergeSpec, buckets = EtlPipeline.ResourceTableBuckets)
      tr.span("sinks.merge")(table.merge(deduped))
      if (t == "Patient" || t == "Encounter") tr.span("sinks.mapping_merge") {
        GraftTable(spark, s"$phiDir/codebook-mappings",
          MergeSpec(Seq("resource_type", "real_id"))).merge(
          codebook.mappingTable(raw.filter(col("resourceType") === t), "id", t))
      }
      tr.span("sinks.row_count")(table.rowCount)
      tr.span("etl.completion") {
        Completion.recordTable(spark, outputDir, task.tableName, groupName,
          exportTime)
        if (t == "Encounter")
          Completion.recordEncounters(spark, outputDir, deduped.select("id"),
            groupName, exportTime)
      }
      raw.unpersist()
    }
    val deletedDir = s"$inputDir/deleted"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(deletedDir)))
      tr.span("sinks.delete") {
        val deleted = NdjsonSource.readDeletedIds(spark, deletedDir).cache()
        tasks.foreach { task =>
          val ids = deleted.filter(col("resource_type") === task.resourceType)
            .select(codebook.fakeId(col("id")).as("id"))
          val table = GraftTable(spark, s"$outputDir/${task.tableName}",
            task.mergeSpec)
          if (table.exists) table.deleteIds(ids)
        }
        deleted.unpersist()
      }
    tr.span("etl.job_context")(JobContext.recordSuccess(phiDir, inputDir,
      outputDir, Map.empty))
    Counts(read, scrubbedN, kept)
  }
}
