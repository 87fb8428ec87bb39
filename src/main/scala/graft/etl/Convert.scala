package graft.etl

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.operators.MergeOps.MergeSpec
import graft.operators.Sizing
import graft.sinks.{GraftTable, Store}
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
    val store = Store(tableDir)
    val names = store.list().map(_.getPath.getName).toSet
    val pattern = s"""\\Q$table\\E\\.(\\d+)\\.ndjson""".r
    names.toSeq.collect { case name @ pattern(i) =>
      val meta = Option.when(names(s"$table.$i.meta"))(
        mapper.readTree(store.read(store(s"$table.$i.meta"))))
      def arr(k: String): Seq[String] = meta.flatMap(m => Option(m.get(k)))
        .fold(Seq.empty[String])(_.elements().asScala.map(_.asText()).toSeq)
      BatchFile(i.toInt, store(name).toString, arr("groups"), arr("deleted"))
    }.sortBy(_.index)
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
    val src = Store(sourceDir, spark)
    src.list().filter(_.isDirectory).map(_.getPath.getName).flatMap { table =>
      val dir = src(table).toString
      Option.when(listBatches(dir, table).nonEmpty)(
        table -> convertTable(spark, dir, table, targetDir, specFor(table)))
    }.toMap
  }
}
