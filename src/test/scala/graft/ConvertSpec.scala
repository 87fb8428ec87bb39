package graft

import java.nio.file.Files

import graft.etl.Convert
import graft.operators.MergeOps.MergeSpec
import graft.sinks.{GraftTable, NdjsonSink}
import org.apache.spark.sql.functions._

class ConvertSpec extends SparkSpecBase {
  import spark.implicits._

  test("NDJSON batches + sidecars replay losslessly into merge tables") {
    val ndjsonOut = Files.createTempDirectory("conv-src").toString
    val tableDir = s"$ndjsonOut/patient"

    // batch 0: two rows
    NdjsonSink.writeBatch(
      Seq(("a", "v1"), ("b", "v1")).toDF("id", "val"),
      tableDir, "patient")
    // batch 1: update a, insert c, delete b via sidecar
    NdjsonSink.writeBatch(
      Seq(("a", "v2"), ("c", "v1")).toDF("id", "val"),
      tableDir, "patient", deleted = Seq("b"))

    val target = Files.createTempDirectory("conv-dst").toString
    val counts = Convert.convertTree(spark, ndjsonOut, target)
    assert(counts === Map("patient" -> 2L))

    val rows = GraftTable(spark, s"$target/patient", MergeSpec(Seq("id")))
      .read().orderBy("id").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("val")))
    assert(rows.toSeq === Seq(("a", "v2"), ("c", "v1")))
    // one version per batch: batch 1's merge and its deletes commit once
    assert(GraftTable(spark, s"$target/patient", MergeSpec(Seq("id")))
      .currentVersion === Some(1))
  }

  test("replay equals direct merge for the same mutation stream") {
    // direct path
    val direct = GraftTable(spark,
      Files.createTempDirectory("direct").toString, MergeSpec(Seq("id")))
    direct.merge(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    direct.merge(Seq((2L, "y2"), (3L, "z")).toDF("id", "v"))
    direct.deleteIds(Seq(1L).toDF("id"))

    // logged path
    val log = Files.createTempDirectory("log-src").toString
    NdjsonSink.writeBatch(Seq((1L, "x"), (2L, "y")).toDF("id", "v"),
      s"$log/t", "t")
    NdjsonSink.writeBatch(Seq((2L, "y2"), (3L, "z")).toDF("id", "v"),
      s"$log/t", "t", deleted = Seq("1"))
    val target = Files.createTempDirectory("log-dst").toString
    Convert.convertTree(spark, log, target)

    val a = direct.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val b = GraftTable(spark, s"$target/t", MergeSpec(Seq("id"))).read()
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v")))
    assert(a.toSeq === b.toSeq)
    assert(direct.currentVersion === Some(2))
    assert(GraftTable(spark, s"$target/t", MergeSpec(Seq("id")))
      .currentVersion === Some(1))
  }
}
