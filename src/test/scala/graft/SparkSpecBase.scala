package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM — tests assert
  * semantics, not throughput).
  *
  * master local[16], shuffle.partitions 4: suites run in PARALLEL
  * (build.sbt ScalaTest -P4 — the serial suite took 31 min, past the
  * verification harness's test timeout), so the 16 task slots let ~4
  * concurrent suites' 4-partition jobs back-fill each other
  * (optimization guide §2.6: overlap independent jobs) instead of
  * queueing on 4 slots. Per-job parallelism is unchanged. Suites that
  * must mutate session conf (the broadcast threshold) use
  * `spark.newSession()` so nothing races the shared conf.
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[16]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
