package graft.nlp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** External NLP/LLM model invocation (SURVEY §2.10, §3.2): per-partition
  * batched calls behind the content-addressed cache join, so executors
  * amortize connection setup and the driver never sees note text.
  */
object ModelRunner {

  /** The provider boundary: one batch of prompts in, one answer per
    * prompt out, executor-side. HTTP/bedrock/vLLM clients implement
    * this; tests use deterministic fakes. Implementations must be
    * Serializable (constructed on the driver, used on executors) and
    * should lazily open connections per partition.
    */
  trait ModelClient extends Serializable {
    def complete(prompts: Seq[String]): Seq[String]
  }

  /** Annotate notes with model results, cache-first:
    *  1. checksum join against `cache` (checksum, result) — hits skip
    *     the model entirely (J8/S10);
    *  2. misses stream through `client` in `batchSize` groups per
    *     partition (mapPartitions — the reference's async batching,
    *     nlp/models.py:207-448, collapsed to the Spark-native form);
    *  3. returns (annotated notes, fresh cache entries to merge back).
    */
  def annotate(
      notes: DataFrame,
      idCol: String,
      textCol: String,
      cache: DataFrame,
      client: ModelClient,
      batchSize: Int = 32
  ): (DataFrame, DataFrame) = {
    val spark = notes.sparkSession
    val withSum = notes
      .withColumn("__checksum", sha2(col(textCol), 256))
    val joined = withSum.join(
      cache.select(col("checksum").as("__checksum"),
        col("result").as("__cached")),
      Seq("__checksum"), "left_outer")

    val hitRows = joined.filter(col("__cached").isNotNull)
      .select(col(idCol), col("__checksum").as("checksum"),
        col("__cached").as("result"))

    val missSchema = StructType(Seq(
      StructField(idCol, joined.schema(idCol).dataType),
      StructField("checksum", StringType),
      StructField("result", StringType)
    ))
    val misses = joined.filter(col("__cached").isNull)
      .select(col(idCol), col("__checksum"), col(textCol))
    val computed = spark.createDataFrame(
      misses.rdd.mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { group =>
          val answers = client.complete(group.map(_.getString(2)))
          group.zip(answers).map { case (r, a) =>
            Row(r.get(0), r.getString(1), a)
          }
        }
      },
      missSchema
    )

    val annotated = hitRows.unionByName(computed)
    val fresh = computed
      .select("checksum", "result")
      .dropDuplicates("checksum")
      .join(cache.select("checksum"), Seq("checksum"), "left_anti")
    (annotated, fresh)
  }

  /** Provider batch API boundary (Azure/Bedrock batch jobs in the
    * reference, 0.5× price): submit one spooled prompt file, poll until
    * the result file is ready.
    */
  trait BatchModelClient extends Serializable {

    /** Start a batch job for a JSONL prompt file; returns the job id. */
    def submit(promptFile: String): String

    /** Non-blocking status check: Some(resultFile) once finished. The
      * result file is JSONL rows {"checksum": …, "result": …}.
      */
    def poll(jobId: String): Option[String]
  }

  /** The reference's LLM batch mode (nlp/models.py:207-448,584-624),
    * Spark-native: distinct cache-miss prompts spool to JSONL files
    * capped at `maxLines` rows each (the ≤50k-prompts-per-batch provider
    * limit), jobs submit per file with their ids PERSISTED to a sidecar
    * so an interrupted run resumes polling instead of resubmitting
    * (models.py:352-373), results land in the cache, and the notes are
    * answered entirely from the updated cache. Returns (annotated,
    * fresh cache entries).
    */
  /** @param promptCol column holding the full prompt to submit when it
    *                  differs from `textCol` (study tasks assemble
    *                  system+user prompts around the note, but the
    *                  cache stays keyed on the note text)
    */
  def annotateViaBatch(
      notes: DataFrame,
      idCol: String,
      textCol: String,
      cache: DataFrame,
      client: BatchModelClient,
      spoolDir: String,
      maxLines: Int = 50000,
      pollIntervalMs: Long = 1000L,
      maxPolls: Int = 10000,
      promptCol: Option[String] = None
  ): (DataFrame, DataFrame) = {
    val spark = notes.sparkSession
    val jobsFile = java.nio.file.Paths.get(spoolDir, "batch-jobs.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    val jobIds: Seq[String] =
      if (java.nio.file.Files.exists(jobsFile)) {
        // resume: poll the persisted jobs, never respool/resubmit
        val node = mapper.readTree(java.nio.file.Files.readAllBytes(jobsFile))
        (0 until node.size()).map(node.get(_).asText())
      } else {
        val withSum = notes.withColumn("checksum", sha2(col(textCol), 256))
        val misses = withSum
          .join(cache.select("checksum"), Seq("checksum"), "left_anti")
          .select(col("checksum"),
            col(promptCol.getOrElse(textCol)).as("prompt"))
          .dropDuplicates("checksum")
        val promptDir = s"$spoolDir/prompts"
        misses.write.option("maxRecordsPerFile", maxLines)
          .mode("overwrite").json(promptDir)
        val files = graft.sinks.GraftTable
          .listDir(java.nio.file.Paths.get(promptDir))
          .filter(_.getFileName.toString.endsWith(".json"))
          .map(_.toString).sorted
        // sidecar rewritten after EVERY submit, so a crash mid-way
        // resumes the already-submitted jobs instead of double-paying
        // for them; prompts never submitted stay cache-misses and
        // respool on the next clean run
        java.nio.file.Files.createDirectories(jobsFile.getParent)
        val ids = scala.collection.mutable.ArrayBuffer[String]()
        files.foreach { f =>
          ids += client.submit(f)
          val arr = mapper.createArrayNode()
          ids.foreach(arr.add)
          java.nio.file.Files.write(jobsFile, mapper.writeValueAsBytes(arr))
        }
        ids.toSeq
      }

    // poll every job to completion (reference: every 5 min; tests tune)
    val resultFiles = jobIds.map { id =>
      var out: Option[String] = None
      var n = 0
      while (out.isEmpty && n < maxPolls) {
        out = client.poll(id)
        if (out.isEmpty) { Thread.sleep(pollIntervalMs); n += 1 }
      }
      out.getOrElse(throw new IllegalStateException(
        s"batch job $id did not finish within $maxPolls polls"))
    }

    val fresh =
      if (resultFiles.isEmpty)
        cache.select("checksum", "result").limit(0)
      else
        // explicit schema: no inference pass, and empty result shards
        // (a batch whose prompts all failed) read as zero rows
        spark.read
          .schema(StructType(Seq(
            StructField("checksum", StringType),
            StructField("result", StringType))))
          .json(resultFiles: _*)
          .select("checksum", "result")
          .join(cache.select("checksum"), Seq("checksum"), "left_anti")
          // sever lineage from the transient spool/result files: the
          // returned frames must stay valid after the next run cleans
          // or overwrites the spool directory
          .localCheckpoint(true)
    val updatedCache = cache.select("checksum", "result").unionByName(fresh)

    // batch done → sidecar cleared so the next export spools anew
    java.nio.file.Files.deleteIfExists(jobsFile)

    val annotated = notes
      .withColumn("checksum", sha2(col(textCol), 256))
      .join(updatedCache, Seq("checksum"), "left_outer")
      .select(col(idCol), col("checksum"), col("result"))
    (annotated, fresh)
  }
}
