package graft

import graft.nlp.{ModelRunner, StudyTasks}
import org.apache.spark.sql.types._

/** Checks the tasks.toml expansion against the reference's rules
  * (nlp_task.py:485-560): shared fallbacks, per-model task naming,
  * versioning, prompt placeholder assembly, and response-schema →
  * StructType conversion with the spans rewrite. The engine cases run
  * on the small study under `src/test/resources/studies/sample`; the
  * parity cases parse the reference's own study files and are skipped
  * when the reference checkout is absent.
  */
class StudyTasksSpec extends SparkSpecBase {

  private val studies = "/root/reference/cumulus_etl/etl/studies"
  private def referenceStudies(): Unit =
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(studies)),
      s"reference studies not found at $studies")

  private val sampleToml =
    getClass.getResource("/studies/sample/tasks.toml").getPath
  private def sampleTask: StudyTasks.StudyTask =
    StudyTasks.load("sample", sampleToml).find(t =>
      t.name.isEmpty && t.model == "gpt4").get

  test("sample study: per-model expansion and shared-prompt fallback") {
    val tasks = StudyTasks.load("sample", sampleToml)
    assert(tasks.map(_.tableName) === Seq("sample__nlp_gpt4",
      "sample__nlp_llama3_70b", "sample__nlp_gpt_oss_120b",
      "sample__nlp_age_review_gpt4"))
    val nameless = sampleTask
    assert(nameless.version === 1)
    assert(nameless.systemPrompt.startsWith("Find the patient's age."))
    assert(nameless.systemPrompt.contains("\"AgeMention\""))
    assert(!nameless.systemPrompt.contains("%JSON-SCHEMA%"))
    // explicitly-empty user prompt: the bare note, not the shared one
    assert(nameless.userPrompt("NOTE TEXT") === "NOTE TEXT")
    val named = tasks.find(_.name.contains("age_review")).get
    assert(named.version === 0)
    assert(named.systemPromptTemplate.contains("chart abstractor"))
    assert(named.userPrompt("the note") === "Clinical note:\nthe note")
    val result = named.resultSchema
    assert(result("has_mention").dataType === BooleanType)
    assert(result("age").dataType === IntegerType)
    assert(result("spans").dataType === ArrayType(ArrayType(IntegerType)))
    assert(named.cacheNamespace === "sample__nlp_age_review_gpt4_v0")
  }

  test("example study: nameless task expands per model with age schema") {
    referenceStudies()
    val tasks = StudyTasks.load("example", s"$studies/example/tasks.toml")
    // example/tasks.toml: one nameless task, six models
    assert(tasks.length === 6)
    assert(tasks.map(_.tableName).contains("example__nlp_gpt4"))
    assert(tasks.map(_.tableName).contains("example__nlp_claude_sonnet45"))
    assert(tasks.map(_.tableName).contains("example__nlp_gpt_oss_120b"))
    val t = tasks.find(_.model == "gpt4").get
    assert(t.version === 1)
    assert(t.name.isEmpty)
    // system prompt: schema inlined, placeholder gone
    assert(t.systemPrompt.contains("\"AgeMention\""))
    assert(!t.systemPrompt.contains("%JSON-SCHEMA%"))
    // no user-prompt in the file → bare note
    assert(t.userPrompt("NOTE TEXT") === "NOTE TEXT")
    // age.json: has_mention bool?, spans list[str] → array<array<int>>,
    // age int?
    val result = t.resultSchema
    assert(result("has_mention").dataType === BooleanType)
    assert(result("age").dataType === IntegerType)
    assert(result("spans").dataType === ArrayType(ArrayType(IntegerType)))
    // full output row matches the reference's get_schema column set
    assert(t.outputSchema.fieldNames.toSeq === Seq("note_ref",
      "encounter_ref", "subject_ref", "generated_on", "task_version",
      "system_fingerprint", "result"))
    assert(t.cacheNamespace === "example__nlp_gpt4_v1")
  }

  test("ibd study: shared prompts fall back; named tasks expand per model") {
    referenceStudies()
    val tasks = StudyTasks.load("ibd", s"$studies/ibd/tasks.toml")
    val names = tasks.map(_.tableName)
    assert(names.contains("ibd__nlp_diagnosis_claude_sonnet45"))
    assert(names.contains("ibd__nlp_diagnosis_gpt51"))
    assert(names.contains("ibd__nlp_genetic_findings_gpt_oss_120b"))
    // every task gets the shared prompts and model list
    val byName = tasks.groupBy(_.name.get)
    assert(byName("diagnosis").length === 3) // 3 shared models
    val diag = byName("diagnosis").head
    assert(diag.version === 4)
    assert(diag.systemPromptTemplate.contains("chart reviewer"))
    assert(diag.userPromptTemplate.contains("%CLINICAL-NOTE%"))
    assert(diag.userPrompt("the note").contains("the note"))
    assert(!diag.userPrompt("the note").contains("%CLINICAL-NOTE%"))
    // nested span fields rewritten at depth too
    def hasRawSpanStrings(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists { f =>
        (f.name == "spans" && f.dataType == ArrayType(StringType)) ||
          hasRawSpanStrings(f.dataType)
      }
      case ArrayType(e, _) => hasRawSpanStrings(e)
      case _ => false
    }
    assert(!hasRawSpanStrings(diag.resultSchema))
  }

  test("glioma and irae studies parse without errors") {
    referenceStudies()
    val g = StudyTasks.load("glioma", s"$studies/glioma/tasks.toml")
    val i = StudyTasks.load("irae", s"$studies/irae/tasks.toml")
    assert(g.nonEmpty && i.nonEmpty)
    // table names are unique across the expansion
    assert(g.map(_.tableName).distinct.length === g.length)
    assert(i.map(_.tableName).distinct.length === i.length)
  }

  test("annotate runs a study task over notes with typed results") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val task = sampleTask
    val notes = Seq(
      (1L, "Patient is 42 years old."),
      (2L, "No age documented."),
      (3L, "Patient is 42 years old.")
    ).toDF("note_id", "text")
    val emptyCache = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("checksum", StringType),
        StructField("result", StringType))))
    // fake model: proves the full prompt (system with inlined schema +
    // user with inlined note) reaches the client, answers with JSON
    // conforming to the response schema, and counts the prompts
    val prompts = spark.sparkContext.longAccumulator("prompts")
    val client = new FakeModelClient(spark.sparkContext.longAccumulator,
      prompts, { p =>
        assert(p.contains("AgeMention")) // schema inlined via system
        val age = if (p.contains("42")) "42" else "null"
        s"""{"has_mention": ${age != "null"}, "spans": [], "age": $age}"""
      })
    val (annotated, fresh) = StudyTasks.annotate(
      task, notes, "note_id", "text", emptyCache, client)
    val byId = annotated
      .select(col("note_id"), col("result.age"), col("result.has_mention"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), r.getBoolean(2)))
      .toMap
    assert(byId(1L) === ((Some(42), true)))
    assert(byId(2L) === ((None, false)))
    assert(byId(3L) === ((Some(42), true)))
    assert(prompts.value === 2) // one prompt per distinct note text
    assert(fresh.count() === 2) // the distinct notes were cache misses
    assert(prompts.value === 2) // fresh reuses the paid answers
  }

  test("annotateDocuments quarantines unprocessable notes (K8 parity)") {
    // mirrors etl/tasks/nlp_task.py:91-100,135-151: a DocumentReference
    // with only a remote-URL attachment (no inline data) must land in
    // the task's nlp-errors quarantine, not be silently dropped
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val task = sampleTask
    val b64 = java.util.Base64.getEncoder.encodeToString(
      "Patient is 42 years old.".getBytes("UTF-8"))
    val docRefs = Seq(
      ("good", "text/plain", b64),
      ("remote-only", "text/plain", null),
      ("non-text", "application/pdf", b64)
    ).toDF("id", "ct", "data").select(col("id"), array(struct(
      struct(col("ct").as("contentType"), col("data").as("data"),
        lit("https://example.invalid/binary/1").as("url")).as("attachment")
    )).as("content"))
    val emptyCache = Seq.empty[(String, String)].toDF("checksum", "result")
    val client = new ModelRunner.ModelClient {
      def complete(prompts: Seq[String]): Seq[String] =
        prompts.map(_ => """{"has_mention": true, "spans": [], "age": 42}""")
    }
    val errDir = java.nio.file.Files.createTempDirectory("nlp-errors")
    val (annotated, _) = StudyTasks.annotateDocuments(
      task, docRefs, "id", emptyCache, client, Some(errDir.toString))
    // only the processable note is annotated
    assert(annotated.select("id").as[String].collect().toSeq === Seq("good"))
    // the two unprocessable originals are in {errors}/{table}/nlp-errors*
    val taskDir = errDir.resolve(task.tableName)
    val errFiles = java.nio.file.Files.list(taskDir).iterator()
    val names = scala.jdk.CollectionConverters
      .IteratorHasAsScala(errFiles).asScala.map(_.getFileName.toString).toSeq
    assert(names.exists(_.startsWith("nlp-errors")))
    val errRows = spark.read.json(taskDir.toString + "/*.ndjson")
    assert(errRows.select("id").as[String].collect().toSet ===
      Set("remote-only", "non-text"))
  }

  test("annotateBatch spools full prompts but keys the cache on note text") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val task = sampleTask
    val notes = Seq((1L, "note one"), (2L, "note two"), (3L, "note one"))
      .toDF("note_id", "text")
    val emptyCache = Seq.empty[(String, String)].toDF("checksum", "result")
    // fake provider: answers each spooled prompt with a schema-typed
    // JSON embedding proof the FULL prompt (system+user) was submitted
    val client = new ModelRunner.BatchModelClient {
      def submit(promptFile: String): String = promptFile
      def poll(jobId: String): Option[String] = {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.jdk.CollectionConverters.IteratorHasAsScala(
          java.nio.file.Files.lines(java.nio.file.Paths.get(jobId))
            .iterator()).asScala.map { l =>
          val row = mapper.readTree(l)
          val p = row.get("prompt").asText()
          assert(p.contains("AgeMention")) // system prompt w/ schema
          val res = mapper.createObjectNode()
          res.put("has_mention", true)
          res.set("spans", mapper.createArrayNode())
          res.put("age", p.length) // distinguishes prompts
          val out = mapper.createObjectNode()
          out.put("checksum", row.get("checksum").asText())
          out.put("result", res.toString)
          out.toString
        }.mkString("\n")
        val out = jobId + ".results"
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          lines.getBytes("UTF-8"))
        Some(out)
      }
    }
    val spool = java.nio.file.Files.createTempDirectory("study-spool")
    val (annotated, fresh) = StudyTasks.annotateBatch(
      task, notes, "note_id", "text", emptyCache, client, spool.toString,
      pollIntervalMs = 1L)
    val byId = annotated
      .select(col("note_id"), col("result.has_mention"), col("result.age"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getInt(2)))
      .toMap
    assert(byId.keySet === Set(1L, 2L, 3L))
    assert(byId(1L) === byId(3L)) // same note text → same cached answer
    assert(fresh.count() === 2) // distinct note contents only
  }

  test("validation failures mirror the reference's required keys") {
    val dir = java.nio.file.Files.createTempDirectory("toml-test")
    def write(body: String): String = {
      val f = dir.resolve("tasks.toml")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      f.toString
    }
    java.nio.file.Files.write(dir.resolve("s.json"),
      """{"type":"object","properties":{"x":{"type":"string"}}}"""
        .getBytes("UTF-8"))
    intercept[IllegalArgumentException] { // missing response-schema
      StudyTasks.load("t", write(
        "[[task]]\nsystem-prompt = \"p\"\nmodels = [\"m\"]\n"))
    }
    intercept[IllegalArgumentException] { // missing system-prompt
      StudyTasks.load("t", write(
        "[[task]]\nresponse-schema = \"s.json\"\nmodels = [\"m\"]\n"))
    }
    intercept[IllegalArgumentException] { // missing models
      StudyTasks.load("t", write(
        "[[task]]\nresponse-schema = \"s.json\"\nsystem-prompt = \"p\"\n"))
    }
    intercept[IllegalArgumentException] { // path elements forbidden
      StudyTasks.load("t", write(
        "[[task]]\nresponse-schema = \"../s.json\"\n" +
          "system-prompt = \"p\"\nmodels = [\"m\"]\n"))
    }
    // minimal valid file
    val ok = StudyTasks.load("t", write(
      "[[task]]\nresponse-schema = \"s.json\"\n" +
        "system-prompt = \"p %JSON-SCHEMA%\"\nmodels = [\"m-1\"]\n"))
    assert(ok.length === 1)
    assert(ok.head.tableName === "t__nlp_m_1")
    assert(ok.head.version === 0)
    assert(ok.head.resultSchema("x").dataType === StringType)
  }

  test("explicitly-empty user-prompt falls back to the bare note") {
    // mirrors the reference's `self.user_prompt or "%CLINICAL-NOTE%"`:
    // "" is falsy, so the note must still reach the model
    val dir = java.nio.file.Files.createTempDirectory("toml-empty")
    java.nio.file.Files.write(dir.resolve("s.json"),
      """{"type":"object","properties":{"x":{"type":"string"}}}"""
        .getBytes("UTF-8"))
    val f = dir.resolve("tasks.toml")
    java.nio.file.Files.write(f,
      ("[[task]]\nresponse-schema = \"s.json\"\n" +
        "system-prompt = \"p\"\nuser-prompt = \"\"\n" +
        "models = [\"m\"]\n").getBytes("UTF-8"))
    val t = StudyTasks.load("t", f.toString).head
    assert(t.userPromptTemplate === "%CLINICAL-NOTE%")
    assert(t.userPrompt("NOTE") === "NOTE")
    // whitespace-only behaves the same (trim-then-falsy)
    java.nio.file.Files.write(f,
      ("[[task]]\nresponse-schema = \"s.json\"\n" +
        "system-prompt = \"p\"\nuser-prompt = \"  \"\n" +
        "models = [\"m\"]\n").getBytes("UTF-8"))
    assert(StudyTasks.load("t", f.toString).head.userPrompt("N") === "N")
  }

  test("TOML strings: unicode escapes decode, bad constructs fail loudly") {
    import graft.nlp.StudyTasks.Toml
    val doc = Toml.parse("k = \"a\\u00e9b \\U0001F600 c\"\n")
    assert(doc.tables("")("k") === "a\u00e9b \ud83d\ude00 c")
    // unknown escape: TOML reserves it — must throw, not pass through
    intercept[IllegalArgumentException] { Toml.parse("k = \"a\\qb\"\n") }
    // truncated/invalid hex
    intercept[IllegalArgumentException] { Toml.parse("k = \"\\u12\"\n") }
    intercept[IllegalArgumentException] { Toml.parse("k = \"\\uZZZZ\"\n") }
    // parseInt would accept a sign character — strict digits only
    intercept[IllegalArgumentException] { Toml.parse("k = \"\\u+12f\"\n") }
    // Character.digit accepts fullwidth Unicode digits — ASCII only
    intercept[IllegalArgumentException] {
      Toml.parse("k = \"\\u\uff10\uff10\uff14\uff11\"\n")
    }
    // raw newline inside a single-line basic string
    intercept[IllegalArgumentException] { Toml.parse("k = \"a\nb\"\n") }
    // unterminated string
    intercept[IllegalArgumentException] { Toml.parse("k = \"abc") }
  }
}
