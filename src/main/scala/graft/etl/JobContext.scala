package graft.etl

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sinks.Store

/** K10: persistent between-run state in the PHI/build dir
  * (`context.json`, reference: etl/context.py:10-75) — the
  * last-successful-run record a next run can key incremental work off
  * (and the resume-UX "where did I leave off" answer). Kept in the PHI
  * dir because the input path may itself be identifying.
  *
  * Reference keys preserved verbatim (`last_successful_datetime` /
  * `_input_dir` / `_output_dir`); `last_successful_tables` adds the
  * per-task row summary, which the reference logs but does not persist.
  * [[save]] replaces the file whole through the PHI dir's `Store`.
  */
final case class JobContext(
    lastSuccessfulDatetime: Option[String] = None,
    lastSuccessfulInputDir: Option[String] = None,
    lastSuccessfulOutputDir: Option[String] = None,
    lastSuccessfulTables: Map[String, Long] = Map.empty
) {
  def save(phiDir: String): Unit = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    lastSuccessfulDatetime.foreach(
      node.put("last_successful_datetime", _))
    lastSuccessfulInputDir.foreach(
      node.put("last_successful_input_dir", _))
    lastSuccessfulOutputDir.foreach(
      node.put("last_successful_output_dir", _))
    if (lastSuccessfulTables.nonEmpty) {
      val tables = node.putObject("last_successful_tables")
      lastSuccessfulTables.toSeq.sortBy(_._1).foreach {
        case (t, n) => tables.put(t, n)
      }
    }
    val store = Store(phiDir)
    // pretty-print like the reference (context.py:68-70): it isn't large
    store.put(store(JobContext.File),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }
}

object JobContext {
  private val File = "context.json"

  /** Missing/empty file → empty context (context.py:34 `default={}`). */
  def load(phiDir: String): JobContext = {
    val store = Store(phiDir)
    val p = store(File)
    if (!store.fs.exists(p)) JobContext()
    else {
      val node = new ObjectMapper().readTree(store.read(p))
      def str(k: String): Option[String] =
        Option(node.get(k)).map(_.asText()).filter(_.nonEmpty)
      val tables = Option(node.get("last_successful_tables"))
        .fold(Map.empty[String, Long])(_.fields().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap)
      JobContext(str("last_successful_datetime"),
        str("last_successful_input_dir"),
        str("last_successful_output_dir"), tables)
    }
  }

  /** Record a successful run (the reference sets exactly these fields
    * after the ETL completes, etl/cli.py equivalent).
    */
  def recordSuccess(
      phiDir: String,
      inputDir: String,
      outputDir: String,
      tables: Map[String, Long]
  ): JobContext = {
    val ctx = JobContext(
      Some(java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)),
      Some(inputDir), Some(outputDir), tables)
    ctx.save(phiDir)
    ctx
  }
}
