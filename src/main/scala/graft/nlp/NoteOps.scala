package graft.nlp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clinical-note operators for the NLP flow (SURVEY §3.2): text
  * extraction, cohort selection, span back-matching, note grouping,
  * reservoir sampling. The content-addressed result cache is
  * [[ModelRunner.cached]].
  */
object NoteOps {

  /** P7: extract inline note text from a DocumentReference-shaped
    * `content` array — first attachment with contentType "text/..." and
    * inline base64 data, decoded to a string; null when only remote URLs
    * exist (those rows go to the error sink, reference:
    * etl/tasks/nlp_task.py:135-154).
    */
  def noteText(content: Column): Column = {
    val textAttachment = get(
      filter(
        content,
        c =>
          c.getField("attachment").getField("contentType")
            .startsWith("text/") &&
            c.getField("attachment").getField("data").isNotNull
      ),
      lit(0)
    ).getField("attachment")
    unbase64(textAttachment.getField("data")).cast("string")
  }

  /** P9: strip trailing whitespace per line before NLP
    * (nlp_task.py:26-27,156-159).
    */
  def stripTrailingWhitespace(text: Column): Column =
    regexp_replace(text, "(?m)[ \\t]+$", "")

  /** P7+K8: split a DocumentReference-shaped frame into (processable
    * notes with a `note_text` column, unprocessable rows). Unprocessable
    * = no inline text attachment — remote-URL-only, missing data, or
    * non-text content — exactly the rows the reference's `read_notes`
    * routes to the nlp-errors quarantine instead of silently dropping
    * (etl/tasks/nlp_task.py:135-151). One projection, no shuffle; the
    * two sides are complementary filters over the same scan.
    */
  def splitNotesForNlp(
      df: DataFrame,
      contentCol: String = "content"
  ): (DataFrame, DataFrame) = {
    val withText = df.withColumn("note_text",
      stripTrailingWhitespace(noteText(col(contentCol))))
    (withText.filter(col("note_text").isNotNull),
      withText.filter(col("note_text").isNull).drop("note_text"))
  }

  /** P4: whole-word cohort filter — keep notes containing ANY of the
    * words (case-insensitive, word-boundary). reference:
    * nlp/selection.py:129-166.
    */
  def filterByWords(df: DataFrame, textCol: String,
      words: Seq[String]): DataFrame = {
    val pattern = words
      .map(java.util.regex.Pattern.quote)
      .mkString("(?i)\\b(", "|", ")\\b")
    df.filter(col(textCol).rlike(pattern))
  }

  /** J4: cohort semi-join — notes whose ref column appears in the cohort
    * id set (CSV/Athena-sourced; small by contract → broadcast).
    */
  def filterByCohort(df: DataFrame, refCol: String,
      cohort: DataFrame): DataFrame = {
    val idCol = cohort.columns.head
    df.join(broadcast(cohort.select(col(idCol).as(refCol)).distinct()),
      Seq(refCol), "left_semi")
  }

  /** P6: skip notes already processed — anti-join against finished group
    * ids (nlp_task.py:79-89).
    */
  def filterFinished(df: DataFrame, groupCol: String,
      finished: DataFrame): DataFrame = {
    val idCol = finished.columns.head
    df.join(broadcast(finished.select(col(idCol).as(groupCol)).distinct()),
      Seq(groupCol), "left_anti")
  }

  /** F12: span back-matching — locate each extracted span in the
    * original note as [begin, end) offsets; punctuation-trimmed,
    * whitespace-fuzzy, case-insensitive, like the reference
    * (nlp_task.py:397-452). UDF: per-row regex search loop has no
    * builtin equivalent.
    */
  val matchSpansUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (note: String, spans: Seq[String]) =>
      if (note == null || spans == null) Seq.empty[Seq[Int]]
      else {
        spans.flatMap { raw =>
          Option(raw).map(_.trim).filter(_.nonEmpty).flatMap { s =>
            val trimmed = s
              .replaceAll("^[\\p{Punct}\\s]+", "")
              .replaceAll("[\\p{Punct}\\s]+$", "")
            val fuzzy = trimmed
              .split("\\s+")
              .map(java.util.regex.Pattern.quote)
              .mkString("\\s+")
            val m = java.util.regex.Pattern
              .compile(fuzzy, java.util.regex.Pattern.CASE_INSENSITIVE)
              .matcher(note)
            if (m.find()) Some(Seq(m.start, m.end)) else None
          }
        }
      }
    }

  def matchSpans(note: Column, spans: Column): Column =
    matchSpansUdf(note, spans)

  /** P5: category-code predicate (the ED-note shape,
    * covid_tasks.py:18-79): true when any (system, code) pair in the
    * flattened codings appears in the allowed broadcast set.
    */
  def codingMatches(codings: Column,
      allowed: Map[String, Set[String]]): Column = {
    val entries = allowed.toSeq.sortBy(_._1).flatMap { case (sys, codes) =>
      codes.toSeq.sorted.map(c => lit(s"$sys|$c"))
    }
    val allowedArr = array(entries: _*)
    exists(
      codings,
      c =>
        array_contains(
          allowedArr,
          concat_ws("|", c.getField("system"), c.getField("code"))
        )
    )
  }

  /** A9: merge all notes sharing a unique id (e.g. one encounter) into a
    * single chronological text blob, tracking each note's offset so
    * span annotations can be remapped (upload_notes/cli.py:205-260).
    * Output: unique_id, merged_text, offsets array<struct<begin,text_len>>.
    */
  def groupNotes(df: DataFrame, uniqueIdCol: String, dateCol: String,
      textCol: String): DataFrame = {
    val sep = "\n\n"
    val sorted = array_sort(
      collect_list(struct(col(dateCol).as("date"),
        col(textCol).as("text"))))
    df.groupBy(col(uniqueIdCol))
      .agg(sorted.as("notes"))
      .select(
        col(uniqueIdCol),
        concat_ws(sep, transform(col("notes"),
          n => n.getField("text"))).as("merged_text"),
        // running begin offset per note: sum of previous lengths + seps
        expr(
          s"""transform(notes, (n, i) ->
             |  struct(
             |    aggregate(slice(notes, 1, i), 0,
             |      (acc, p) -> acc + length(p.text) + ${sep.length}) AS begin,
             |    length(n.text) AS text_len))""".stripMargin
        ).as("offsets")
      )
  }

  /** O3: seedable uniform sample of n rows (the reference's reservoir
    * sampling, sample/cli.py:118-137 — in Spark an orderBy over a seeded
    * hash is exact-uniform and distributed; TakeOrdered keeps it
    * top-n-cheap).
    */
  /** O2: chart-review note ordering (upload_notes/cli.py:176-202) —
    * three stable sorts expressed as window minimums: notes sort by
    * date (nulls last), then group by each encounter's FIRST appearance
    * in that date order, then by each patient's first appearance, so a
    * reviewer reads encounters and patients chronologically. One rank
    * column per grouping level, no driver-side index maps.
    */
  def chartReviewOrder(
      df: DataFrame,
      patientCol: String,
      encounterCol: String,
      dateCol: String
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // date order with nulls last = (isNull, date) ascending
    val dateKey = struct(col(dateCol).isNull.as("n"), col(dateCol).as("d"))
    val encFirst = min(dateKey)
      .over(Window.partitionBy(col(encounterCol)))
    val patFirst = min(dateKey)
      .over(Window.partitionBy(col(patientCol)))
    df.withColumn("__ef", encFirst)
      .withColumn("__pf", patFirst)
      .orderBy(col("__pf"), col(patientCol), col("__ef"),
        col(encounterCol), col(dateCol).asc_nulls_last)
      .drop("__ef", "__pf")
  }

  /** O3: seeded uniform sample over the FULL row content (unlike
    * [[hashSample]]'s id-only key, re-ingesting the same note under a
    * new id keeps its selection odds independent). Selection rule
    * pinned to `md5(seed : col₁ : col₂ : …)` — engine-portable (md5 is
    * identical in Spark and DuckDB; concat_ws skips nulls in both), so
    * the sample itself is oracle-checkable. TakeOrdered plan: per-
    * partition top-n + tiny driver merge, no full-sort materialization.
    */
  def sampleNotes(df: DataFrame, n: Int, seed: Long): DataFrame =
    df.orderBy(md5(concat_ws(":",
        lit(seed.toString) +: df.columns.map(c => col(c).cast("string")): _*)))
      .limit(n)

  /** O3 (scale path): deterministic hash sample — order by md5(seed:id),
    * take n. No RNG state, reproducible across engines/re-runs, and the
    * plan is TakeOrdered (per-partition top-n + tiny final merge), so it
    * never materializes a full sort at 100 TB.
    */
  def hashSample(df: DataFrame, idCol: String, n: Int,
      seed: String): DataFrame =
    df.orderBy(md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .limit(n)
}
