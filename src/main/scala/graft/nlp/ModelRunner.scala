package graft.nlp

import graft.functions.DeidFunctions.contentChecksum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** External NLP/LLM model invocation (SURVEY §2.10, §3.2). Every model
  * path — per-row batches, the provider batch API, the study tasks and
  * embedding pipelines — resolves through ONE content-addressed result
  * cache, [[cached]]: the note text's checksum is the only key, hits
  * never reach the model, and each distinct missing content is paid
  * for once. Executors amortize connection setup and the driver never
  * sees note text.
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

  /** J8/S10/F11: the content-addressed result cache
    * (nlp/utils.py:89-126). `rows` get a `checksum` column
    * (`contentChecksum(textCol)`) and look it up in `cache`
    * (checksum, `valueCol`), one row per checksum. A row whose
    * checksum has a non-null cache value is a hit; every other row is
    * a miss — a cached NULL is a miss, so a failed answer is retried,
    * never pinned.
    *
    * `compute` receives one row per distinct missing checksum, with
    * that row's columns, and returns (checksum, `valueCol`) rows. Rows
    * with a null text have no address: they resolve to null and never
    * reach `compute`. Its answers are materialised once, lazily
    * (`localCheckpoint(eager = false)`): a lazy model runs when the
    * first output is consumed and never again, whichever output that is.
    *
    * Returns (`rows` with `checksum` and `valueCol`, fresh cache rows).
    * The fresh-row rule: `fresh` holds, once per checksum, every
    * non-null answer whose checksum has no non-null cache value —
    * answers for checksums outside this call's misses (a resumed batch
    * job's) included, so a paid answer is never thrown away.
    */
  def cached(
      rows: DataFrame,
      textCol: String,
      cache: DataFrame,
      valueCol: String = "result"
  )(compute: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val known = cache.select(col("checksum"), col(valueCol))
      .filter(col(valueCol).isNotNull)
    val keyed = rows.withColumn("checksum", contentChecksum(col(textCol)))
      .join(known, Seq("checksum"), "left_outer")
    val misses = keyed.filter(col(valueCol).isNull).drop(valueCol)
    val answers = compute(
        misses.filter(col("checksum").isNotNull).dropDuplicates("checksum"))
      .select(col("checksum"), col(valueCol))
      .localCheckpoint(eager = false)
    val paid = answers.filter(col(valueCol).isNotNull)
      .dropDuplicates("checksum")
    val resolved = keyed.filter(col(valueCol).isNotNull)
      .unionByName(misses.join(paid, Seq("checksum"), "left_outer"))
    (resolved, paid.join(known.select("checksum"), Seq("checksum"), "left_anti"))
  }

  /** Annotate notes with model results through [[cached]]: the
    * distinct misses stream through `client` in `batchSize` groups per
    * partition (the reference's async batching, nlp/models.py:207-448,
    * in its Spark-native form). Returns (annotated notes as (idCol,
    * checksum, result), fresh cache rows (checksum, result)).
    */
  def annotate(
      notes: DataFrame,
      idCol: String,
      textCol: String,
      cache: DataFrame,
      client: ModelClient,
      batchSize: Int = 32
  ): (DataFrame, DataFrame) = {
    val (resolved, fresh) = cached(notes, textCol, cache) { misses =>
      val spark = misses.sparkSession
      import spark.implicits._
      misses.select(col("checksum"), col(textCol)).as[(String, String)]
        .mapPartitions(_.grouped(batchSize).flatMap { group =>
          group.map(_._1).zip(client.complete(group.map(_._2)))
        })
        .toDF("checksum", "result")
    }
    (resolved.select(col(idCol), col("checksum"), col("result")), fresh)
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

  /** The reference's LLM batch mode (nlp/models.py:207-448,584-624)
    * through [[cached]]: the distinct miss prompts spool to JSONL files
    * capped at `maxLines` rows each (the ≤50k-prompts-per-batch provider
    * limit), jobs submit per file with their ids PERSISTED to a sidecar
    * so an interrupted run resumes polling instead of resubmitting
    * (models.py:352-373), and the result files are the computed
    * answers. Returns (annotated, fresh cache rows) like [[annotate]].
    *
    * @param promptCol column holding the full prompt to submit when it
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
    val jobsFile = java.nio.file.Paths.get(spoolDir, "batch-jobs.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    val (resolved, fresh) = cached(notes, textCol, cache) { misses =>
      val jobIds: Seq[String] =
        if (java.nio.file.Files.exists(jobsFile)) {
          // resume: poll the persisted jobs, never respool/resubmit
          val node =
            mapper.readTree(java.nio.file.Files.readAllBytes(jobsFile))
          (0 until node.size()).map(node.get(_).asText())
        } else {
          val promptDir = s"$spoolDir/prompts"
          misses.select(col("checksum"),
              col(promptCol.getOrElse(textCol)).as("prompt"))
            .write.option("maxRecordsPerFile", maxLines)
            .mode("overwrite").json(promptDir)
          val files = new java.io.File(promptDir).listFiles().toSeq
            .map(_.getPath).filter(_.endsWith(".json")).sorted
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
      val results =
        if (resultFiles.isEmpty) cache.select("checksum", "result").limit(0)
        else
          // explicit schema: no inference pass, and empty result shards
          // (a batch whose prompts all failed) read as zero rows
          misses.sparkSession.read
            .schema(StructType(Seq(
              StructField("checksum", StringType),
              StructField("result", StringType))))
            .json(resultFiles: _*)
            // sever lineage from the transient spool/result files: the
            // returned frames must stay valid after the next run cleans
            // or overwrites the spool directory
            .localCheckpoint(true)
      // batch done → sidecar cleared so the next export spools anew
      java.nio.file.Files.deleteIfExists(jobsFile)
      results
    }
    (resolved.select(col(idCol), col("checksum"), col("result")), fresh)
  }
}
