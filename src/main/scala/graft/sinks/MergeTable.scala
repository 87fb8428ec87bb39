package graft.sinks

import graft.operators.MergeOps.MergeSpec
import org.apache.spark.sql.SparkSession

/** Opens a merge table on `path`: a [[GraftTable]], the one sink. Kept
  * as the entry the benchmark harness (`perfbench/`) opens ETL tables
  * through; program code calls `GraftTable(...)` directly.
  */
object MergeTable {
  def open(spark: SparkSession, path: String, spec: MergeSpec,
      buckets: Int = 1): GraftTable =
    new GraftTable(spark, path, spec, buckets)
}
