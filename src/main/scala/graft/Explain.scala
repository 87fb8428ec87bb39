package graft

/** Plan-audit helper: prints the formatted physical plan of the named
  * registered queries (default sf0.001 so analysis is instant). Usage:
  * `sbt "runMain graft.Explain q101_bm25 [q38_dedup_corpus ...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession.builder("graft-explain", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      println(s"===== $name =====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
