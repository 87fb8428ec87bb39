package graft

import graft.operators.MergeOps.MergeSpec
import graft.sinks.MergeTable
import org.apache.spark.sql.functions._

/** `MergeTable.open`, the ETL's entry to its sink, drives a bucketed
  * merge table through a full lifecycle.
  */
class MergeTableSpec extends SparkSpecBase {

  test("trait surface drives a full merge lifecycle through the fallback") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt2").toString
    val t = MergeTable.open(spark, dir, MergeSpec(Seq("id")), buckets = 4)
    assert(!t.exists)
    t.merge(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.merge(Seq((2, "B"), (3, "c")).toDF("id", "v"))
    assert(t.exists)
    assert(t.rowCount === 3L)
    assert(t.read().filter(col("id") === 2).select("v")
      .collect().map(_.getString(0)).toSeq === Seq("B"))
    t.deleteIds(Seq(1).toDF("id"))
    assert(t.rowCount === 2L)
    t.optimize()
    t.vacuum()
    assert(t.rowCount === 2L)
  }
}
