package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM — tests assert
  * semantics, not throughput), built by [[GraftSession]] like every
  * other entry point's.
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
    val s = GraftSession.builder("graft-test", 16)
      .config("spark.sql.shuffle.partitions", 4L)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
