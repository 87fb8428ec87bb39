package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The sink, the ETL and the de-identification code reach files only
  * through their path's Hadoop filesystem (`graft.sinks.Store`): a local
  * file API there would read `s3a://bucket/dir` as a relative local
  * path.
  */
class StoragePathSpec extends AnyFunSuite {

  test("no source under sinks/, etl/ or deid/ names the local file API") {
    val dirs = Seq("sinks", "etl", "deid")
      .map(d => Paths.get("src/main/scala/graft", d))
    dirs.foreach(d => assert(Files.isDirectory(d), d))
    val sources = dirs.flatMap { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    }
    assert(sources.nonEmpty)
    val offending = sources.filter((p: Path) =>
      new String(Files.readAllBytes(p), "UTF-8").contains("java.nio.file"))
    assert(offending.isEmpty, offending)
  }
}
