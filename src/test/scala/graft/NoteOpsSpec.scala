package graft

import java.util.Base64

import graft.nlp.NoteOps
import org.apache.spark.sql.functions._

class NoteOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("noteText decodes the first inline text attachment") {
    val rows = Seq(
      s"""{"id":"d1","content":[{"attachment":{"contentType":"application/pdf","data":"${b64("pdf")}"}},{"attachment":{"contentType":"text/plain","data":"${b64("the note text")}"}}]}""",
      s"""{"id":"d2","content":[{"attachment":{"contentType":"text/plain","url":"http://remote"}}]}"""
    )
    val df = spark.read.json(rows.toDS())
    val out = df.select(col("id"), NoteOps.noteText(col("content")).as("t"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("d1") === Some("the note text"))
    assert(out("d2") === None) // remote URL → null → error sink
  }

  test("filterByWords: whole-word, case-insensitive") {
    val df = Seq(
      (1L, "Patient has COUGH and fever"),
      (2L, "coughing is not a whole-word match"),
      (3L, "nothing relevant")
    ).toDF("id", "text")
    val out = NoteOps.filterByWords(df, "text", Seq("cough", "chills"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L))
  }

  test("cohort semi-join and finished anti-join") {
    val notes = Seq((1L, "Patient/a"), (2L, "Patient/b"), (3L, "Patient/c"))
      .toDF("id", "subject_ref")
    val cohort = Seq("Patient/a", "Patient/c").toDF("ref")
    val selected = NoteOps.filterByCohort(notes, "subject_ref", cohort)
    assert(selected.select("id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
    val finished = Seq("Patient/a").toDF("ref")
    val remaining = NoteOps.filterFinished(selected, "subject_ref", finished)
    assert(remaining.select("id").collect().map(_.getLong(0)).toSet
      === Set(3L))
  }

  test("matchSpans finds fuzzy case-insensitive offsets") {
    val df = Seq(
      ("The patient reports severe   headache today.",
        Seq("Severe headache", "unfindable", "  today.  "))
    ).toDF("note", "spans")
    val out = df.select(NoteOps.matchSpans(col("note"), col("spans")))
      .head().getAs[scala.collection.Seq[scala.collection.Seq[Int]]](0)
    assert(out.length === 2) // unfindable dropped
    val Seq(begin, end) = out.head.toSeq
    assert(begin === 20 && end === 37) // "severe   headache" = 17 chars
  }

  test("codingMatches against a system→codes table") {
    val rows = Seq(
      """{"id":1,"codings":[{"system":"http://loinc.org","code":"18842-5"}]}""",
      """{"id":2,"codings":[{"system":"http://loinc.org","code":"99999-9"}]}"""
    )
    val df = spark.read.json(rows.toDS())
    val allowed = Map("http://loinc.org" -> Set("18842-5", "34878-9"))
    val out = df.select(col("id"),
        NoteOps.codingMatches(col("codings"), allowed).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L) === true)
    assert(out(2L) === false)
  }

  test("groupNotes merges chronologically with correct offsets") {
    val df = Seq(
      ("enc1", "2024-01-02", "second note"),
      ("enc1", "2024-01-01", "first"),
      ("enc2", "2024-01-01", "solo")
    ).toDF("enc", "date", "text")
    val out = NoteOps.groupNotes(df, "enc", "date", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("enc1").getAs[String]("merged_text")
      === "first\n\nsecond note")
    val offsets = out("enc1")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("offsets")
    assert(offsets.map(o => (o.getInt(0), o.getInt(1))).toSeq
      === Seq((0, 5), (7, 11))) // "second note" starts after "first\n\n"
    assert(out("enc2").getAs[String]("merged_text") === "solo")
  }

  test("chartReviewOrder: patients then encounters by first appearance") {
    // p2's earliest note (day 1) predates p1's (day 2), so p2 reads
    // first despite p1 sorting lexicographically earlier; within p1,
    // encB appears (day 2) before encA (day 3); dateless notes last
    val notes = Seq(
      ("p1", "encA", "2021-01-03", "n4"),
      ("p1", "encB", "2021-01-02", "n2"),
      ("p1", "encB", "2021-01-04", "n3"),
      ("p2", "encC", "2021-01-01", "n1"),
      ("p2", "encC", null, "n5")
    ).toDF("patient_id", "encounter_id", "date", "note_id")
    val ordered = NoteOps
      .chartReviewOrder(notes, "patient_id", "encounter_id", "date")
      .select("note_id").collect().map(_.getString(0)).toSeq
    assert(ordered === Seq("n1", "n5", "n2", "n3", "n4"))
  }

  test("sampleNotes is seeded-deterministic and uniform-ish") {
    val df = spark.range(1000).toDF("id")
    val s1 = NoteOps.sampleNotes(df, 50, seed = 7)
      .collect().map(_.getLong(0)).toSet
    val s2 = NoteOps.sampleNotes(df, 50, seed = 7)
      .collect().map(_.getLong(0)).toSet
    val s3 = NoteOps.sampleNotes(df, 50, seed = 8)
      .collect().map(_.getLong(0)).toSet
    assert(s1 === s2)
    assert(s1 !== s3)
    assert(s1.size === 50)
  }
}
