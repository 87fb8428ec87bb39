package graft.sinks

import graft.fhir.FhirSchemas
import org.apache.spark.sql.types.StructType

/** Athena integration behind a narrow client trait (SURVEY §2.1 S9 /
  * §2.2 K7): the engine owns the SQL it submits — registration DDL and
  * cohort reads — while the network boundary (pyathena in the
  * reference; an Athena JDBC driver on a real deployment) stays
  * pluggable and fake-able in tests.
  */
trait AthenaClient {

  /** Execute a statement with no result set (DDL). */
  def execute(sql: String): Unit

  /** Execute a scalar query, returning the single value. */
  def scalar(sql: String): Long

  /** Run `SELECT *` and return the result-file location (the reference
    * reads Athena's output CSV from S3, selection.py:101).
    */
  def unload(sql: String): String
}

/** In-memory client for tests and dry runs: records every statement,
  * answers `scalar` from a canned map.
  */
final class RecordingAthenaClient(
    counts: Map[String, Long] = Map.empty
) extends AthenaClient {
  val statements = scala.collection.mutable.ArrayBuffer[String]()
  override def execute(sql: String): Unit = statements += sql
  override def scalar(sql: String): Long = {
    statements += sql
    counts.collectFirst { case (t, n) if sql.contains(t) => n }.getOrElse(0L)
  }
  override def unload(sql: String): String = { statements += sql; sql }
}

object Athena {

  /** K7: (re)register a study table — DROP then CREATE EXTERNAL TABLE
    * at the `{workgroup_results}/{study}/{table}_v{version}/` layout the
    * reference writes (formats/nlp.py:30-95). `dbName` is the
    * `{study}__{table}` form; the location carries the version.
    */
  def registerTable(
      client: AthenaClient,
      dbName: String,
      schema: StructType,
      workgroupResults: String,
      version: Int
  ): String = {
    require(dbName.matches("[A-Za-z0-9_]+"),
      s"invalid Athena table name: $dbName") // selection.py:80-84 guard
    require(dbName.contains("__"),
      s"Athena table name must be {study}__{table}, got: $dbName")
    val Array(study, table) = dbName.split("__", 2)
    val location = s"$workgroupResults/$study/${table}_v$version/"
    client.execute(s"DROP TABLE IF EXISTS $dbName")
    val ddl = FhirSchemas.toAthenaDdl(schema, dbName, location)
    client.execute(ddl)
    location
  }

  /** S9: cohort selection query with the reference's size guard — fail
    * when the cohort exceeds `maxRows` unless the caller explicitly
    * allows it (selection.py:91-99), then return the unloaded result
    * location for `spark.read.csv`.
    */
  def queryCohortTable(
      client: AthenaClient,
      table: String,
      maxRows: Long = 50000L,
      allowLarge: Boolean = false
  ): String = {
    require(table.matches("[A-Za-z0-9_.]+"),
      s"invalid Athena table name: $table")
    val n = client.scalar(s"""SELECT count(*) FROM "$table"""")
    if (n > maxRows && !allowLarge)
      throw new IllegalStateException(
        s"Athena cohort in '$table' is very large ($n rows); " +
          "pass allowLarge to use it anyway")
    client.unload(s"""SELECT * FROM "$table"""")
  }
}
