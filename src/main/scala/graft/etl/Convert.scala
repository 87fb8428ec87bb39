package graft.etl

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.operators.MergeOps.MergeSpec
import graft.operators.Sizing
import graft.sinks.GraftTable
import org.apache.spark.sql.SparkSession

/** `convert`: replay a batched-NDJSON output tree into merge tables
  * (SURVEY §3.3, etl/convert/cli.py:130-201). Each `{table}.NNN.ndjson`
  * + `.meta` sidecar is applied in index order — batch rows merged and
  * sidecar deleted ids removed, one version per batch — proving the
  * NDJSON output is a complete, lossless log of the table's mutations.
  */
object Convert {

  private val mapper = new ObjectMapper()

  final case class BatchFile(index: Int, dataPath: String,
      groups: Seq[String], deleted: Seq[String])

  /** Discover a table dir's batches in replay order. */
  def listBatches(tableDir: String, table: String): Seq[BatchFile] = {
    val dir = Paths.get(tableDir)
    if (!Files.exists(dir)) return Nil
    val pattern = s"""\\Q$table\\E\\.(\\d+)\\.ndjson""".r
    val batches = scala.collection.mutable.ArrayBuffer[BatchFile]()
    GraftTable.listDir(dir).foreach { p =>
      p.getFileName.toString match {
        case pattern(i) =>
          val metaPath = Paths.get(tableDir, s"$table.$i.meta")
          val (groups, deleted) =
            if (Files.exists(metaPath)) {
              val node = mapper.readTree(Files.readAllBytes(metaPath))
              def arr(k: String): Seq[String] = {
                val a = node.get(k)
                if (a == null) Nil
                else (0 until a.size()).map(a.get(_).asText())
              }
              (arr("groups"), arr("deleted"))
            } else (Nil, Nil)
          batches += BatchFile(i.toInt, p.toString, groups, deleted)
        case _ =>
      }
    }
    batches.sortBy(_.index).toSeq
  }

  /** Replay one table into a GraftTable at `targetDir/table`. */
  def convertTable(
      spark: SparkSession,
      sourceTableDir: String,
      table: String,
      targetDir: String,
      spec: MergeSpec
  ): Long = {
    import spark.implicits._
    val batches = listBatches(sourceTableDir, table)
    // sized by the ETL's rule from the first batch it replays (one count
    // of that batch): a new or still empty target takes that count, and
    // a target with rows keeps its manifest's
    val target = GraftTable(spark, s"$targetDir/$table", spec,
      Sizing.tableBuckets(batches.headOption.fold(0L)(b =>
        spark.read.json(b.dataPath).count())))
    // one version per batch: its rows and its sidecar's deleted ids
    batches.foreach { batch =>
      target.merge(spark.read.json(batch.dataPath),
        Option.when(batch.deleted.nonEmpty)(batch.deleted.toDF("id")))
    }
    if (target.exists) target.rowCount else 0L
  }

  /** Replay a whole output tree: every subdirectory containing
    * `{name}.NNN.ndjson` files is a table.
    */
  def convertTree(
      spark: SparkSession,
      sourceDir: String,
      targetDir: String,
      specFor: String => MergeSpec = _ => MergeSpec(Seq("id"))
  ): Map[String, Long] = {
    val src = Paths.get(sourceDir)
    if (!Files.exists(src)) return Map.empty
    val tables = scala.collection.mutable.Map[String, Long]()
    GraftTable.listDir(src).foreach { p =>
      if (Files.isDirectory(p)) {
        val table = p.getFileName.toString
        if (listBatches(p.toString, table).nonEmpty)
          tables += table -> convertTable(spark, p.toString, table,
            targetDir, specFor(table))
      }
    }
    tables.toMap
  }
}
