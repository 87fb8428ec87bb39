package graftbench

import java.nio.file.{Path, Paths}

import graft.GraftSession
import graft.deid.Codebook
import graft.etl.EtlPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own checks of the ETL side.
  *
  *   graftbench.SelfTest WORK_DIR checks|defects
  *
  * `checks` shows that each ETL correctness check fires on a
  * deliberately corrupted output and stays quiet on the real one; it
  * exits non-zero when a check misses its corruption. `defects` loads
  * the export shapes the timed workload cannot carry because the program
  * fails on them, and exits non-zero while any of them still fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val mode = args(1)
    val spark = GraftSession.builder("graft-perfbench-selftest")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val types = EtlWorkload.Types
    val gen = new FhirExport(7, types)
    val tasks = Checks.tasksFor(types)
    val out = work.resolve("out").toString
    val phi = work.resolve("phi").toString
    Seq(gen.writeBase(work.resolve("in-0"), 600),
      gen.writeIncrement(work.resolve("in-1"), 0.05)).foreach { x =>
      EtlPipeline.run(spark, x.dir.toString, out, phi, tasks = tasks)
    }
    val ok = mode match {
      case "checks" => checks(spark, gen, out, phi)
      case "defects" => defects(spark, work, gen, out, phi)
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private def checks(spark: SparkSession, gen: FhirExport, out: String,
      phi: String): Boolean = {
    import spark.implicits._
    val tasks = Checks.tasksFor(gen.types)
    val codebook = Codebook.loadOrCreate(phi)
    val t = "Encounter"
    val task = tasks.find(_.resourceType == t).get
    val real = Checks.openTable(spark, out, task).cache()
    def fake(id: String): String =
      Seq(id).toDF("id").select(codebook.fakeId(col("id"))).head.getString(0)
    val deletedId = fake(gen.deleted(t).head)
    val staleId = fake(gen.staleUpdated(t).head)
    val someId = real.select("id").head.getString(0)
    val cases: Seq[(String, DataFrame, String)] = Seq(
      ("dropped row", real.filter(col("id") =!= someId), "count"),
      ("dropped row", real.filter(col("id") =!= someId), "missing"),
      ("deleted id back", real.unionByName(
        real.filter(col("id") === someId).withColumn("id", lit(deletedId))),
        "deleted"),
      ("stale update applied", real.withColumn("meta",
        when(col("id") === staleId, col("meta").withField("lastUpdated",
          lit("2023-06-01T12:00:00Z"))).otherwise(col("meta"))), "stale"),
      ("real id in id", real.withColumn("id",
        when(col("id") === someId, lit("enc-1")).otherwise(col("id"))),
        "real_id"),
      ("real id in reference", real.withColumn("subject",
        col("subject").withField("reference", lit("Patient/pat-3"))),
        "real_id"))
    val clean = Checks.table(spark, gen, t, real, codebook)
    var ok = clean.isEmpty
    println(s"clean output: ${if (clean.isEmpty) "passes" else s"FAILS $clean"}")
    cases.foreach { case (what, df, expect) =>
      val got = Checks.table(spark, gen, t, df, codebook)
      val fired = got.contains(expect)
      ok &&= fired
      println(s"$what: $expect ${if (fired) "fires" else s"MISSED (got $got)"}")
    }
    ok
  }

  /** Program defects the timed workload's exports steer around (every
    * export keeps its duplicates in one file, carries a rejected row and
    * deletes at least one id), so that no timed operation fails. Each
    * one fails here until the program is fixed.
    */
  private def defects(spark: SparkSession, work: Path, gen: FhirExport,
      out: String, phi: String): Boolean = {
    val types = gen.types
    val tasks = Checks.tasksFor(types)
    var ok = true
    def defect(what: String)(reproduces: => Option[String]): Unit = {
      val r = try reproduces catch {
        case e: Exception => Some(e.getClass.getSimpleName)
      }
      ok &&= r.isEmpty
      println(s"known defect, $what: " +
        r.map(x => s"REPRODUCES ($x)").getOrElse("fixed"))
    }
    // a duplicate whose later copy sits in a later FILE of the export:
    // last-wins does not follow file order (the file-order column reads
    // an empty input file name over the persisted parse)
    defect("cross-file in-export duplicates") {
      val g = new FhirExport(11, types)
      val (o, p) = (work.resolve("cross-out").toString, work.resolve("cross-phi").toString)
      val x = g.writeBase(work.resolve("cross-in"), 12000, crossFileDups = true)
      EtlPipeline.run(spark, x.dir.toString, o, p, tasks = tasks)
      Some(Checks.etlOutput(spark, g, o, p)).filter(_.nonEmpty).map(_.mkString(", "))
    }
    // an export whose nested schema is narrower than the table's (no
    // rejected row, so no modifierExtension.valueBoolean): the merge fails
    defect("export with a narrower nested schema") {
      val x = gen.writeIncrement(work.resolve("in-narrow"), 0.05, rejectedRow = false)
      EtlPipeline.run(spark, x.dir.toString, out, phi, tasks = tasks)
      Some(Checks.etlOutput(spark, gen, out, phi)).filter(_.nonEmpty).map(_.mkString(", "))
    }
    // a deleted-ids bundle with no entries: the run fails
    defect("empty deleted-ids bundle") {
      val x = gen.writeIncrement(work.resolve("in-nodel"), 0.05)
      java.nio.file.Files.writeString(x.dir.resolve("deleted/Bundle.000.ndjson"),
        "{\"resourceType\":\"Bundle\",\"type\":\"transaction\",\"entry\":[]}\n")
      EtlPipeline.run(spark, x.dir.toString, work.resolve("nodel-out").toString,
        work.resolve("nodel-phi").toString, tasks = tasks)
      None
    }
    ok
  }
}
