package graft.nlp

import java.nio.file.{Files, Paths}

import graft.functions.JsonSchemaConverter
import org.apache.spark.sql.types._

/** Declarative NLP study tasks (SURVEY §3.2): the reference defines
  * per-study LLM tasks in a `tasks.toml` — shared/per-task system and
  * user prompts with `%JSON-SCHEMA%` / `%CLINICAL-NOTE%` placeholders,
  * a response JSON-Schema file, a version, and a model list — and
  * expands every (task × model) combination into an ETL task class
  * (etl/tasks/nlp_task.py:485-560 `_parse_nlp_config_helper`). This is
  * the Spark-native equivalent: the same file format parses into
  * [[StudyTask]] values whose response schema compiles to a `StructType`
  * (via [[JsonSchemaConverter]], our pydantic→pyarrow stand-in) and
  * whose prompts assemble identically, in one place
  * ([[StudyTask.prompt]]) for row and batch mode alike. Both modes
  * resolve through the one result cache, [[ModelRunner.cached]].
  *
  * Divergence, by design: `%JSON-SCHEMA%` substitutes the response
  * schema file's own JSON text (the reference substitutes pydantic's
  * re-serialization of the same schema — semantically identical, not
  * byte-identical), and model ids are not validated against a provider
  * registry (any [[ModelRunner.ModelClient]] can serve a task).
  */
object StudyTasks {

  /** One expanded (task × model) definition.
    *
    * @param tableName    output table, `{study}__nlp[_{name}]_{model}`
    *                     with `-` → `_` in the model id (reference
    *                     naming, nlp_task.py:535)
    * @param resultSchema response JSON-Schema as a StructType, spans
    *                     fields rewritten to `array<array<int>>`
    *                     (nlp_task.py:454-482)
    */
  final case class StudyTask(
      study: String,
      name: Option[String],
      tableName: String,
      version: Int,
      model: String,
      systemPromptTemplate: String,
      userPromptTemplate: String,
      responseSchemaJson: String,
      resultSchema: StructType
  ) {
    /** System prompt with the response schema inlined. */
    def systemPrompt: String =
      systemPromptTemplate.replace("%JSON-SCHEMA%", responseSchemaJson)

    /** User prompt for one clinical note (nlp_task.py:331-333). */
    def userPrompt(noteText: String): String =
      userPromptTemplate.replace("%CLINICAL-NOTE%", noteText)

    /** The full prompt sent for one note, in row and batch mode alike. */
    def prompt(noteText: String): String =
      systemPrompt + "\n\n" + userPrompt(noteText)

    /** Content-addressed cache namespace (nlp_task.py:257). */
    def cacheNamespace: String = s"${tableName}_v$version"

    /** Full output-row schema (nlp_task.py:339-351): metadata columns
      * are strings (SURVEY §1.3 — dates ride as ISO strings), the
      * result struct is the converted response schema.
      */
    def outputSchema: StructType = StructType(Seq(
      StructField("note_ref", StringType),
      StructField("encounter_ref", StringType),
      StructField("subject_ref", StringType),
      StructField("generated_on", StringType),
      StructField("task_version", IntegerType),
      StructField("system_fingerprint", StringType),
      StructField("result", resultSchema)
    ))
  }

  /** Parse a study's tasks.toml and expand every (task × model) pair,
    * mirroring the reference's fallback and validation rules:
    * `[shared]` provides system-prompt/user-prompt/models defaults;
    * each `[[task]]` requires response-schema (a bare filename, loaded
    * from the toml's directory), a system prompt, and a model list;
    * a missing user prompt means the bare note (`%CLINICAL-NOTE%`);
    * version defaults to 0.
    */
  def load(prefix: String, tomlPath: String): Seq[StudyTask] = {
    val text = new String(
      Files.readAllBytes(Paths.get(tomlPath)), "UTF-8")
    val doc = Toml.parse(text)
    val shared = doc.tables.getOrElse("shared", Map.empty)
    val fallbackSystem = shared.get("system-prompt").map(_.toString)
    val fallbackUser = shared.get("user-prompt").map(_.toString)
    val fallbackModels = shared.get("models")
      .map(_.asInstanceOf[Seq[String]]).getOrElse(Seq.empty)

    doc.arrayTables.getOrElse("task", Seq.empty).flatMap { t =>
      val name = t.get("name").map(_.toString)
      val version = t.get("version").map(_.asInstanceOf[Long].toInt)
        .getOrElse(0)
      val schemaFile = t.get("response-schema").map(_.toString)
        .getOrElse(throw new IllegalArgumentException(
          "The 'response-schema' key is required for each task"))
      val system = t.get("system-prompt").map(_.toString)
        .orElse(fallbackSystem)
        .getOrElse(throw new IllegalArgumentException(
          "The 'system-prompt' key is required for each task"))
        .trim
      // filter(_.nonEmpty) mirrors the reference's
      // `self.user_prompt or "%CLINICAL-NOTE%"` (nlp_task.py): an
      // explicitly-empty prompt is falsy there, so it falls back to the
      // bare note rather than sending an empty template
      val user = t.get("user-prompt").map(_.toString).orElse(fallbackUser)
        .map(_.trim).filter(_.nonEmpty).getOrElse("%CLINICAL-NOTE%")
      val models = t.get("models").map(_.asInstanceOf[Seq[String]])
        .getOrElse(fallbackModels)
      if (models.isEmpty)
        throw new IllegalArgumentException(
          "The 'models' key is required for each task")
      if (schemaFile.contains("/"))
        throw new IllegalArgumentException(
          "response-schema must be a simple filename, no path elements")

      val schemaJson = new String(Files.readAllBytes(
        Paths.get(tomlPath).getParent.resolve(schemaFile)), "UTF-8")
      val resultSchema =
        convertSpanFields(JsonSchemaConverter.fromJson(schemaJson))

      val suffix = name.map("_" + _).getOrElse("")
      models.map { model =>
        StudyTask(
          study = prefix,
          name = name,
          tableName = s"${prefix}__nlp${suffix}_${model.replace('-', '_')}",
          version = version,
          model = model,
          systemPromptTemplate = system,
          userPromptTemplate = user,
          responseSchemaJson = schemaJson,
          resultSchema = resultSchema
        )
      }
    }
  }

  /** Run a study task over a notes frame, cache-first: the full prompt
    * ([[StudyTask.prompt]]) is assembled executor-side per note, while
    * the content-addressed cache stays keyed on the NOTE text (the
    * reference checksums note_text, not the prompt — nlp_task.py:259);
    * results parse against the task's response schema. Returns
    * (annotated, fresh cache rows) like [[ModelRunner.annotate]], with
    * `result` as a typed struct column. An answer that is not valid
    * JSON parses to a NULL result (the reference pydantic-validates and
    * routes failures to the error sink, K8) — callers route `result IS
    * NULL` rows to their ErrorSink for the same semantics.
    */
  def annotate(
      task: StudyTask,
      notes: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      cache: org.apache.spark.sql.DataFrame,
      client: ModelRunner.ModelClient,
      batchSize: Int = 32
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val t = task // serializable case class captured by the wrapper
    val wrapped = new ModelRunner.ModelClient {
      def complete(noteTexts: Seq[String]): Seq[String] =
        client.complete(noteTexts.map(t.prompt))
    }
    val (annotated, fresh) =
      ModelRunner.annotate(notes, idCol, textCol, cache, wrapped, batchSize)
    (annotated.withColumn("result",
      from_json(col("result"), task.resultSchema)), fresh)
  }

  /** End-to-end task entry over raw DocumentReference rows, with K8
    * error parity (etl/tasks/nlp_task.py:91-100,135-151): rows whose
    * `content` has no inline text attachment are written to the task's
    * `nlp-errors` quarantine instead of silently dropped, and the
    * processable rest flows through the cache-first [[annotate]] path
    * on the extracted `note_text` column. Returns (annotated, fresh
    * cache rows); the quarantine write is eager (like every ErrorSink
    * write) so the error file exists even if the caller never
    * materializes the annotations.
    */
  def annotateDocuments(
      task: StudyTask,
      docRefs: org.apache.spark.sql.DataFrame,
      idCol: String,
      cache: org.apache.spark.sql.DataFrame,
      client: ModelRunner.ModelClient,
      errorsDir: Option[String],
      batchSize: Int = 32
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (notes, unprocessable) = NoteOps.splitNotesForNlp(docRefs)
    errorsDir.foreach { dir =>
      graft.etl.ErrorSink.quarantineNlp(unprocessable, dir, task.tableName)
    }
    annotate(task, notes, idCol, "note_text", cache, client, batchSize)
  }

  /** Batch-mode variant (the reference's `--batch` flag, 0.5× provider
    * pricing): cache-miss prompts spool to capped JSONL files, jobs
    * submit with crash-safe resume, results land in the cache — see
    * [[ModelRunner.annotateViaBatch]]. The spooled prompt is
    * [[StudyTask.prompt]], the one row mode sends; the cache key stays
    * the note text, so batch and per-row modes share one cache.
    */
  def annotateBatch(
      task: StudyTask,
      notes: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      cache: org.apache.spark.sql.DataFrame,
      client: ModelRunner.BatchModelClient,
      spoolDir: String,
      maxLines: Int = 50000,
      pollIntervalMs: Long = 1000L,
      maxPolls: Int = 10000
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val withPrompt =
      notes.withColumn("__prompt", udf(task.prompt _).apply(col(textCol)))
    val (annotated, fresh) = ModelRunner.annotateViaBatch(
      withPrompt, idCol, textCol, cache, client, spoolDir,
      maxLines, pollIntervalMs, maxPolls, promptCol = Some("__prompt"))
    (annotated.withColumn("result",
      from_json(col("result"), task.resultSchema)), fresh)
  }

  /** Rewrite every field named `spans` (a list of quoted strings in the
    * model's response) to `array<array<int>>` — the span back-matcher
    * (F12, NoteOps.matchSpans) replaces the text spans with (begin, end)
    * offset pairs, and the output schema reflects that
    * (nlp_task.py:454-482; fixed-size list(int32, 2) → array<int>,
    * SURVEY §1.3).
    */
  private[nlp] def convertSpanFields(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      f.dataType match {
        case _ if f.name == "spans" =>
          f.copy(dataType = ArrayType(ArrayType(IntegerType)))
        case s: StructType => f.copy(dataType = convertSpanFields(s))
        case ArrayType(s: StructType, n) =>
          f.copy(dataType = ArrayType(convertSpanFields(s), n))
        case _ => f
      }
    })

  // ---- minimal TOML subset parser ---------------------------------------

  /** Parsed document: plain tables (`[shared]`) and arrays of tables
    * (`[[task]]`), each a key → value map. Values are String, Long,
    * Boolean, or Seq[String].
    */
  final case class TomlDoc(
      tables: Map[String, Map[String, Any]],
      arrayTables: Map[String, Seq[Map[String, Any]]]
  )

  /** The TOML subset the study files use (the reference reads them with
    * Python's tomllib): `[table]` / `[[array-table]]` headers, bare
    * keys with `-`, basic and multi-line basic strings (with escape
    * sequences and line-ending backslash continuation), string arrays
    * (optionally multi-line with trailing commas and comments), integer
    * and boolean scalars, and `#` comments. Not a general TOML parser —
    * unsupported constructs fail loudly rather than misparse.
    */
  object Toml {
    def parse(text: String): TomlDoc = {
      val tables = scala.collection.mutable.LinkedHashMap[String,
        scala.collection.mutable.LinkedHashMap[String, Any]]()
      val arrays = scala.collection.mutable.LinkedHashMap[String,
        scala.collection.mutable.ArrayBuffer[
          scala.collection.mutable.LinkedHashMap[String, Any]]]()
      // rootless keys before any header go to an implicit "" table
      var current = tables.getOrElseUpdate("",
        scala.collection.mutable.LinkedHashMap[String, Any]())

      var pos = 0
      val n = text.length

      def skipWsAndComments(stopAtNewline: Boolean): Unit = {
        var done = false
        while (!done && pos < n) {
          val c = text.charAt(pos)
          if (c == '#') { while (pos < n && text.charAt(pos) != '\n') pos += 1 }
          else if (c == '\n') { if (stopAtNewline) done = true else pos += 1 }
          else if (c.isWhitespace) pos += 1
          else done = true
        }
      }

      def parseBasicString(): String = {
        // at opening quote; multi-line if """
        if (text.startsWith("\"\"\"", pos)) {
          pos += 3
          if (pos < n && text.charAt(pos) == '\n') pos += 1 // trim first NL
          val sb = new StringBuilder
          while (!text.startsWith("\"\"\"", pos)) {
            if (pos >= n) throw new IllegalArgumentException(
              "unterminated multi-line string")
            val c = text.charAt(pos)
            if (c == '\\') {
              // line-ending backslash = TOML line continuation: swallow
              // the newline and all following whitespace
              val nl = text.indexOf('\n', pos + 1)
              val restOfLine =
                if (nl < 0) text.substring(pos + 1)
                else text.substring(pos + 1, nl)
              if (nl >= 0 && restOfLine.forall(_.isWhitespace)) {
                pos = nl + 1
                while (pos < n && (text.charAt(pos) == ' ' ||
                    text.charAt(pos) == '\t' || text.charAt(pos) == '\n'))
                  pos += 1
              } else {
                sb.append(readEscape())
              }
            } else { sb.append(c); pos += 1 }
          }
          pos += 3
          sb.toString
        } else {
          pos += 1 // opening "
          val sb = new StringBuilder
          while (pos < n && text.charAt(pos) != '"') {
            val c = text.charAt(pos)
            if (c == '\n')
              // TOML basic strings are single-line; a raw newline means
              // the file is malformed (or uses a construct we don't
              // support) — fail loudly rather than silently absorb it
              throw new IllegalArgumentException(
                "raw newline inside single-line basic string")
            if (c == '\\') sb.append(readEscape())
            else { sb.append(c); pos += 1 }
          }
          if (pos >= n) throw new IllegalArgumentException(
            "unterminated basic string")
          pos += 1
          sb.toString
        }
      }

      // at a backslash inside a basic string: consume the escape
      // sequence, return its value. Unrecognized escapes throw (TOML
      // reserves them) instead of silently passing the char through.
      def readEscape(): String = {
        if (pos + 1 >= n) throw new IllegalArgumentException(
          "dangling backslash at end of input")
        val c = text.charAt(pos + 1)
        c match {
          case 'n' => pos += 2; "\n"
          case 't' => pos += 2; "\t"
          case 'r' => pos += 2; "\r"
          case 'b' => pos += 2; "\b"
          case 'f' => pos += 2; "\f"
          case '"' => pos += 2; "\""
          case '\\' => pos += 2; "\\"
          case 'u' | 'U' =>
            val width = if (c == 'u') 4 else 8
            if (pos + 2 + width > n) throw new IllegalArgumentException(
              s"truncated \\$c escape")
            val hex = text.substring(pos + 2, pos + 2 + width)
            // strict ASCII hex check: parseInt alone accepts a leading
            // sign, and Character.digit also accepts Unicode/fullwidth
            // digits — both would silently mis-decode malformed escapes
            if (!hex.forall(ch =>
                (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f') ||
                  (ch >= 'A' && ch <= 'F')))
              throw new IllegalArgumentException(
                s"invalid hex in \\$c escape: '$hex'")
            val cp = Integer.parseInt(hex, 16)
            pos += 2 + width
            new String(Character.toChars(cp))
          case other => throw new IllegalArgumentException(
            s"unsupported escape sequence '\\$other'")
        }
      }

      def parseValue(): Any = {
        skipWsAndComments(stopAtNewline = true)
        val c = text.charAt(pos)
        if (c == '"') parseBasicString()
        else if (c == '[') {
          pos += 1
          val items = scala.collection.mutable.ArrayBuffer[String]()
          var closed = false
          while (!closed) {
            skipWsAndComments(stopAtNewline = false)
            text.charAt(pos) match {
              case ']' => pos += 1; closed = true
              case ',' => pos += 1
              case '"' => items += parseBasicString()
              case other => throw new IllegalArgumentException(
                s"unsupported array element starting with '$other'")
            }
          }
          items.toSeq
        } else {
          val eol = { val i = text.indexOf('\n', pos); if (i < 0) n else i }
          val raw = text.substring(pos, eol)
          val cut = { val i = raw.indexOf('#'); if (i < 0) raw else raw.take(i) }
          pos = eol
          val v = cut.trim
          if (v == "true") java.lang.Boolean.TRUE
          else if (v == "false") java.lang.Boolean.FALSE
          else v.toLong
        }
      }

      while (pos < n) {
        skipWsAndComments(stopAtNewline = false)
        if (pos < n) {
          val c = text.charAt(pos)
          if (c == '[') {
            val isArray = text.startsWith("[[", pos)
            val close = text.indexOf(if (isArray) "]]" else "]", pos)
            val headerName = text
              .substring(pos + (if (isArray) 2 else 1), close).trim
            pos = close + (if (isArray) 2 else 1)
            if (isArray) {
              val fresh =
                scala.collection.mutable.LinkedHashMap[String, Any]()
              arrays.getOrElseUpdate(headerName,
                scala.collection.mutable.ArrayBuffer()) += fresh
              current = fresh
            } else {
              current = tables.getOrElseUpdate(headerName,
                scala.collection.mutable.LinkedHashMap[String, Any]())
            }
          } else {
            val eq = text.indexOf('=', pos)
            val key = text.substring(pos, eq).trim
            pos = eq + 1
            current.put(key, parseValue())
          }
        }
      }
      TomlDoc(
        tables.map { case (k, v) => k -> v.toMap }.toMap
          .filter(_._2.nonEmpty),
        arrays.map { case (k, v) => k -> v.map(_.toMap).toSeq }.toMap
      )
    }
  }
}
