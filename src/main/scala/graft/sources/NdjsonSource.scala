package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** FHIR bulk-export NDJSON scanning (SURVEY §2.1 S1/S2/S5).
  *
  * The reference streams files row-by-row and types each file by its
  * first row's resourceType (loaders/fhir/ndjson_loader.py:31-38,
  * common.py:129-168). Spark-first: one `spark.read.json` per resource
  * type over the whole directory (executors read the files directly —
  * the reference's local staging copy S3 is unnecessary), with the
  * resourceType mismatch filter applied as a cheap predicate.
  */
object NdjsonSource {

  /** NDJSON-bearing file names: .ndjson/.jsonl, plain or gzipped (the
    * reference tolerates .gz exports — SURVEY §2.1 S1).
    */
  private def isNdjsonName(name: String): Boolean =
    name.endsWith(".ndjson") || name.endsWith(".jsonl") ||
      name.endsWith(".ndjson.gz") || name.endsWith(".jsonl.gz")

  /** Per-resource file map: each file [[listResourceFiles]] finds, typed
    * by its first row's resourceType (the reference's per-file
    * detection, loaders/fhir/ndjson_loader.py:31-38) — driver-side
    * planning (S2), cheap because it never reads past line 1. File lists
    * come back name-sorted (export append order).
    */
  def detectResourceFiles(
      spark: SparkSession, dir: String): Map[String, Seq[String]] = {
    val fs = graft.sinks.Store(dir, spark).fs
    listResourceFiles(spark, dir).flatMap { file =>
      val in = fs.open(new Path(file))
      try {
        // .gz exports decompress transparently for detection (the
        // reference tolerates gzipped NDJSON, common.py:228; Spark's
        // JSON scan decompresses by extension on its own)
        val stream: java.io.InputStream =
          if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(in)
          else in
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(stream, "UTF-8"))
        Option(reader.readLine()).flatMap { line =>
          "\"resourceType\"\\s*:\\s*\"([A-Za-z]+)\"".r
            .findFirstMatchIn(line).map(_.group(1) -> file)
        }
      } finally in.close()
    }.groupMap(_._1)(_._2)
  }

  /** Detect which resource types exist in a directory. */
  def detectResources(spark: SparkSession, dir: String): Set[String] =
    detectResourceFiles(spark, dir).keySet

  /** List the NDJSON-bearing files of a dir, sorted by name — the export
    * append order for bulk exports, which number their files
    * sequentially. Driver-side planning metadata. The dir is listed
    * through its own filesystem, so an export read in place on another
    * scheme (s3a://…) lists like a local one.
    */
  def listResourceFiles(spark: SparkSession, dir: String): Seq[String] =
    graft.sinks.Store(dir, spark).list()
      .filter(s => s.isFile && isNdjsonName(s.getPath.getName))
      .map(_.getPath.toString).sorted

  /** Read every row of one resource type from a bulk-export dir.
    * With an explicit schema the JSON scan prunes to exactly the
    * policy-needed columns; rows of other types are filtered (the
    * reference warns & skips them — common.py:150-161). Reads the
    * explicit detected file list so .jsonl exports work identically.
    */
  def readResource(
      spark: SparkSession,
      dir: String,
      resourceType: String,
      schema: Option[StructType] = None,
      widen: Boolean = false
  ): DataFrame = {
    // only the files DETECTED as this resource type (per-file first-line
    // typing, like the reference): a 20-task run scans each file once
    // for its own task, not once per task — and the widening inference
    // pass below sees only this type's data
    val files = detectResourceFiles(spark, dir)
      .getOrElse(resourceType, Nil)
    readResourceFiles(spark, files, resourceType, schema, widen)
  }

  /** Same as [[readResource]] with a pre-detected file list — callers
    * that already ran [[detectResourceFiles]] (the ETL driver does it
    * once per run) avoid re-opening every file's first line per task.
    */
  def readResourceFiles(
      spark: SparkSession,
      files: Seq[String],
      resourceType: String,
      schema: Option[StructType] = None,
      widen: Boolean = false
  ): DataFrame = {
    // "wide schema, widened by observed rows" (SURVEY §1.2, the
    // reference's cfs.pyarrow_schema_from_rows): the catalog schema is
    // authoritative on types, but fields the export nests DEEPER than
    // the catalog still load — the scrub policy then decides their
    // fate. Widening pays one inference pass over every row.
    val effective: Option[StructType] =
      if (widen && schema.isDefined && files.nonEmpty) {
        val observed = spark.read.json(files: _*).schema
        Some(graft.fhir.SchemaWidening.widen(schema.get, observed))
      } else schema
    val reader = spark.read
    val withSchema = effective.fold(reader)(reader.schema)
    val df =
      if (files.isEmpty) {
        val s = schema.getOrElse(StructType(Seq(
          org.apache.spark.sql.types.StructField("resourceType",
            org.apache.spark.sql.types.StringType))))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      } else withSchema.json(files: _*)
    df.filter(col("resourceType") === lit(resourceType))
  }

  /** Column the ETL adds to each parsed row: the [[fileSeqCol]] position
    * of the row's file. It is added right over the JSON scan, where
    * input_file_name() is still known, and replaces any input field of
    * the same name, so its value always comes from the engine.
    */
  val FileSeq = "__file_seq"

  /** A real "appended later" ordering signal for last-wins dedup (A1):
    * the position of each row's source file in the sorted export file
    * list. monotonically_increasing_id alone is NOT export order — Spark
    * packs file splits sorted by size, so partition order ≠ file order;
    * this maps input_file_name() back to the listing index. Ties within
    * one file fall to the caller's secondary column (files below
    * maxPartitionBytes are a single split, where partition-local ids do
    * follow line order). Evaluate it over the file scan itself: over a
    * cached or checkpointed frame input_file_name() is empty.
    */
  def fileSeqCol(files: Seq[String]): Column = {
    def base(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    if (files.isEmpty) lit(0L)
    else {
      val pairs = files.zipWithIndex.flatMap { case (p, i) =>
        Seq(lit(base(p)), lit(i.toLong))
      }
      element_at(map(pairs: _*),
        regexp_extract(input_file_name(), "[^/]+$", 0))
    }
  }

  private val DeletedBundleSchema = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("type", StringType),
    StructField("entry", ArrayType(StructType(Seq(
      StructField("request", StructType(Seq(
        StructField("method", StringType),
        StructField("url", StringType))))))))))

  /** S5: deleted-ids bundles — FHIR transaction Bundles under deleted/
    * whose DELETE entries name "Type/id" URLs; returns (resourceType, id)
    * rows (loaders/fhir/ndjson_loader.py:92-114). The bundles are the
    * dir's NDJSON-named files, as [[listResourceFiles]] finds them; a dir
    * with none yields no rows. Read with the Bundle schema, not an
    * inferred one: a bundle with no entries would infer no `entry`
    * struct and fail the run.
    */
  def readDeletedIds(spark: SparkSession, dir: String): DataFrame =
    readDeletedIds(spark, listResourceFiles(spark, dir))

  /** [[readDeletedIds]] over bundle files already listed. */
  def readDeletedIds(spark: SparkSession, files: Seq[String]): DataFrame = {
    val bundles =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          DeletedBundleSchema)
      else spark.read.schema(DeletedBundleSchema).json(files: _*)
    bundles
      .filter(col("resourceType") === "Bundle" && col("type") === "transaction")
      .select(explode(col("entry")).as("entry"))
      .select(col("entry.request.method").as("method"),
        col("entry.request.url").as("url"))
      .filter(col("method") === "DELETE")
      .select(
        substring_index(col("url"), "/", 1).as("resource_type"),
        substring_index(col("url"), "/", -1).as("id")
      )
  }

  /** S4: bulk-export log — find the last kickoff's export group and the
    * completion transactionTime (loaders/fhir/export_log.py:38-109).
    * Tiny file: collected to the driver as run metadata.
    */
  def parseExportLog(spark: SparkSession, logPath: String):
      Option[(String, String)] = {
    val rows = spark.read.json(logPath)
    if (!rows.columns.contains("eventId")) return None
    val kickoff = rows
      .filter(col("eventId") === "kickoff")
      .orderBy(col("timestamp").desc)
      .select(col("eventDetail.exportUrl"))
      .collect()
      .headOption
      .map(_.getString(0))
    val completeTime = rows
      .filter(col("eventId") === "status_complete")
      .orderBy(col("timestamp").desc)
      .select(col("eventDetail.transactionTime"))
      .collect()
      .headOption
      .map(_.getString(0))
    for (url <- kickoff; t <- completeTime) yield {
      // group name = path segment before $export, e.g. .../Group/G1/$export
      val group = "/Group/([^/]+)/".r
        .findFirstMatchIn(url).map(_.group(1)).getOrElse("")
      (group, t)
    }
  }
}
