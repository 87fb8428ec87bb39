package graft

import graft.nlp.ModelRunner
import org.apache.spark.sql.functions._

class ModelRunnerSpec extends SparkSpecBase {
  import spark.implicits._

  test("batch mode: spool-submit-poll fills cache; resume reuses job ids") {
    import graft.nlp.ModelRunner
    // fake provider: "uploads" are read locally, results written as
    // JSONL next to them; first poll round reports pending
    class FakeBatchClient extends ModelRunner.BatchModelClient {
      val submitted = scala.collection.mutable.ArrayBuffer[String]()
      private val polls = scala.collection.mutable.Map[String, Int]()
      override def submit(promptFile: String): String = {
        submitted += promptFile; promptFile
      }
      override def poll(jobId: String): Option[String] = {
        val n = polls.getOrElse(jobId, 0) + 1
        polls(jobId) = n
        if (n < 2) None // pending once, done after
        else {
          val out = jobId + ".results"
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val lines = scala.jdk.CollectionConverters.IteratorHasAsScala(
            java.nio.file.Files.lines(java.nio.file.Paths.get(jobId))
              .iterator()).asScala.map { l =>
            val row = mapper.readTree(l)
            s"""{"checksum":"${row.get("checksum").asText()}","result":"ANS:${row.get("prompt").asText()}"}"""
          }.mkString("\n")
          java.nio.file.Files.write(java.nio.file.Paths.get(out),
            lines.getBytes("UTF-8"))
          Some(out)
        }
      }
    }
    val spool = java.nio.file.Files.createTempDirectory("spool").toString
    val notes = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("note_id", "text")
    val emptyCache = Seq.empty[(String, String)].toDF("checksum", "result")
    val client = new FakeBatchClient
    val (annotated, fresh) = ModelRunner.annotateViaBatch(
      notes, "note_id", "text", emptyCache, client, spool,
      pollIntervalMs = 1L)
    val byId = annotated.collect()
      .map(r => r.getAs[Long]("note_id") -> r.getAs[String]("result")).toMap
    assert(byId === Map(1L -> "ANS:alpha", 2L -> "ANS:beta",
      3L -> "ANS:alpha"))
    assert(fresh.count() === 2) // distinct content only
    assert(client.submitted.nonEmpty)
    // sidecar cleared after success → a rerun with a filled cache spools
    // nothing new
    val cache2 = fresh
    val client2 = new FakeBatchClient
    val (annotated2, fresh2) = ModelRunner.annotateViaBatch(
      notes, "note_id", "text", cache2, client2, spool,
      pollIntervalMs = 1L)
    assert(annotated2.count() === 3)
    assert(fresh2.count() === 0)
  }

  test("batch mode resumes from persisted job ids without resubmitting") {
    import graft.nlp.ModelRunner
    val spool = java.nio.file.Files.createTempDirectory("spool2").toString
    // pre-cook a "previous run": a prompt file + persisted job id
    val promptFile = java.nio.file.Paths.get(spool, "leftover.json")
    val sum = Seq("delta").toDF("t")
      .select(org.apache.spark.sql.functions.sha2(col("t"), 256))
      .head().getString(0)
    java.nio.file.Files.write(promptFile,
      s"""{"checksum":"$sum","prompt":"delta"}""".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(spool, "batch-jobs.json"),
      s"""["$promptFile"]""".getBytes("UTF-8"))
    class ResumeClient extends ModelRunner.BatchModelClient {
      var submits = 0
      override def submit(f: String): String = { submits += 1; f }
      override def poll(jobId: String): Option[String] = {
        val out = jobId + ".results"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          s"""{"checksum":"$sum","result":"RESUMED"}""".getBytes("UTF-8"))
        Some(out)
      }
    }
    val client = new ResumeClient
    val notes = Seq((9L, "delta")).toDF("note_id", "text")
    val emptyCache = Seq.empty[(String, String)].toDF("checksum", "result")
    val (annotated, _) = ModelRunner.annotateViaBatch(
      notes, "note_id", "text", emptyCache, client, spool,
      pollIntervalMs = 1L)
    assert(client.submits === 0) // resumed, not resubmitted
    assert(annotated.head().getAs[String]("result") === "RESUMED")
  }

  test("annotate: cache hits skip the model, misses batch through it") {
    val calls = spark.sparkContext.longAccumulator("calls")
    val prompts = spark.sparkContext.longAccumulator("prompts")
    val client = new FakeModelClient(calls, prompts)

    val notes = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("note_id", "text")
    val alphaSum = Seq("alpha").toDF("t")
      .select(sha2(col("t"), 256)).head().getString(0)
    val cache = Seq((alphaSum, "CACHED")).toDF("checksum", "result")

    val (annotated, fresh) = ModelRunner.annotate(
      notes, "note_id", "text", cache, client, batchSize = 2)
    val byId = annotated.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(1L) === "CACHED")
    assert(byId(2L) === "ANN:BETA")
    assert(byId(3L) === "ANN:GAMMA")
    assert(prompts.value === 2) // only the two misses hit the model
    assert(fresh.count() === 2)

    // merge fresh entries, rerun: zero model traffic
    val cache2 = cache.unionByName(fresh)
    val calls2 = spark.sparkContext.longAccumulator("calls2")
    val prompts2 = spark.sparkContext.longAccumulator("prompts2")
    val (annotated2, fresh2) = ModelRunner.annotate(
      notes, "note_id", "text", cache2,
      new FakeModelClient(calls2, prompts2))
    annotated2.collect()
    assert(prompts2.value === 0)
    assert(fresh2.count() === 0)
  }

  private def checksumOf(text: String): String =
    Seq(text).toDF("t").select(sha2(col("t"), 256)).head().getString(0)

  test("annotate pays the model once per distinct miss, whichever output is consumed") {
    val notes = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("note_id", "text")
    val emptyCache = Seq.empty[(String, String)].toDF("checksum", "result")
    for (freshFirst <- Seq(false, true)) {
      val prompts = spark.sparkContext.longAccumulator("prompts")
      val client =
        new FakeModelClient(spark.sparkContext.longAccumulator, prompts)
      val (annotated, fresh) = ModelRunner.annotate(
        notes, "note_id", "text", emptyCache, client)
      assert(prompts.value === 0) // no model call before an output is read
      val (first, second) =
        if (freshFirst) (fresh, annotated) else (annotated, fresh)
      first.collect()
      assert(prompts.value === 2) // 2 distinct misses, not 3 rows
      second.collect()
      assert(prompts.value === 2) // the second output reuses the answers
      assert(annotated.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ===
        Map(1L -> "ANN:ALPHA", 2L -> "ANN:BETA", 3L -> "ANN:ALPHA"))
      assert(fresh.count() === 2)
      assert(prompts.value === 2)
    }
  }

  test("annotate: a null answer is never fresh, a cached null is recomputed") {
    val notes = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("note_id", "text")
    val cache = Seq((checksumOf("alpha"), null: String)).toDF("checksum", "result")
    val prompts = spark.sparkContext.longAccumulator("prompts")
    val client = new FakeModelClient(spark.sparkContext.longAccumulator,
      prompts, p => if (p == "beta") null else s"ANN:$p")
    val (annotated, fresh) =
      ModelRunner.annotate(notes, "note_id", "text", cache, client)
    assert(annotated.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ===
      Map(1L -> "ANN:alpha", 2L -> null, 3L -> "ANN:gamma"))
    assert(fresh.collect().map(r => r.getString(0) -> r.getString(1)).toMap ===
      Map(checksumOf("alpha") -> "ANN:alpha", checksumOf("gamma") -> "ANN:gamma"))
    assert(prompts.value === 3)
  }

  test("batch mode: a null answer is never fresh, a cached null is recomputed") {
    // fake provider answering every spooled prompt at once; "beta" fails
    class NullBetaClient extends ModelRunner.BatchModelClient {
      override def submit(promptFile: String): String = promptFile
      override def poll(jobId: String): Option[String] = {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.jdk.CollectionConverters.IteratorHasAsScala(
          java.nio.file.Files.lines(java.nio.file.Paths.get(jobId))
            .iterator()).asScala.map { l =>
          val row = mapper.readTree(l)
          val p = row.get("prompt").asText()
          val out = mapper.createObjectNode()
          out.put("checksum", row.get("checksum").asText())
          out.put("result", if (p == "beta") null else s"ANS:$p")
          out.toString
        }.mkString("\n")
        val out = jobId + ".results"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          lines.getBytes("UTF-8"))
        Some(out)
      }
    }
    val spool = java.nio.file.Files.createTempDirectory("spool-null").toString
    val notes = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("note_id", "text")
    val cache = Seq((checksumOf("alpha"), null: String)).toDF("checksum", "result")
    val (annotated, fresh) = ModelRunner.annotateViaBatch(
      notes, "note_id", "text", cache, new NullBetaClient, spool,
      pollIntervalMs = 1L)
    assert(annotated.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ===
      Map(1L -> "ANS:alpha", 2L -> null, 3L -> "ANS:gamma"))
    assert(fresh.collect().map(r => r.getString(0) -> r.getString(1)).toMap ===
      Map(checksumOf("alpha") -> "ANS:alpha", checksumOf("gamma") -> "ANS:gamma"))
  }

  test("cached: hits reused, misses computed and returned fresh") {
    val notes = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    val alphaSum = Seq("alpha").toDF("t")
      .select(sha2(col("t"), 256)).head().getString(0)
    val cache = Seq((alphaSum, "CACHED")).toDF("checksum", "result")
    val (resolved, fresh) = ModelRunner.cached(notes, "text", cache)(misses =>
      misses.select(col("checksum"), upper(col("text")).as("result")))
    val byId = resolved.select("id", "result").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) === "CACHED") // hit wins over compute
    assert(byId(2L) === "BETA") // miss computed
    val freshRows = fresh.collect()
    assert(freshRows.length === 1)
    assert(freshRows.head.getString(1) === "BETA")
  }

  test("cached embeddings: model runs only on distinct misses") {
    import graft.functions.DeidFunctions.contentChecksum
    val docs = Seq(
      (1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"), // dup content
      (4L, "gamma text")
    ).toDF("doc_id", "text")
    // pre-seed the cache with alpha's embedding
    val seeded = docs.filter($"doc_id" === 1L)
      .select(contentChecksum($"text").as("checksum"),
        array(lit(9.0f)).as("embedding"))
    val modelCalls = spark.sparkContext.longAccumulator("modelCalls")
    val (all, fresh) = ModelRunner.cached(docs, "text", seeded, "embedding") {
      misses =>
        misses.map { r =>
          modelCalls.add(1)
          (r.getAs[String]("checksum"),
            Array(r.getAs[String]("text").length.toFloat))
        }.toDF("checksum", "embedding")
    }
    val byId = all.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").head).toMap
    // cached content (docs 1 AND 3 — same checksum) comes from the cache
    assert(byId(1L) === 9.0f && byId(3L) === 9.0f)
    assert(byId(2L) === "beta text".length.toFloat)
    assert(byId(4L) === "gamma text".length.toFloat)
    // fresh rows: beta + gamma only (alpha already cached)
    assert(fresh.count() === 2)
    assert(modelCalls.value === 2) // distinct misses, not 3 rows
  }
}
