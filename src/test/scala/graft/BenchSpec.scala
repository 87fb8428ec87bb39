package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class BenchSpec extends SparkSpecBase {

  test("the ETL leg loads its export and deletes everything it wrote") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def legDirs(): Set[String] = {
      val entries = Files.list(tmp)
      try entries.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("etlbench-")).toSet
      finally entries.close()
    }
    val before = legDirs()
    val t = Bench.etlOnce(spark, nPat = 20, nObs = 200)
    assert(t.rows === 220L)
    assert(t.coldS > 0 && t.incrS > 0 && t.tinyS > 0)
    assert(legDirs() === before)
  }
}
