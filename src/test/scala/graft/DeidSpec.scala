package graft

import graft.deid.Codebook
import graft.functions.{DeidFunctions, HmacSha256Hex}
import org.apache.spark.sql.functions._

class DeidSpec extends SparkSpecBase {
  import spark.implicits._

  test("HmacSha256Hex matches RFC 4231 test vectors") {
    // public test vectors from RFC 4231 §4.2 / §4.3
    val key1 = Array.fill[Byte](20)(0x0b)
    val df1 = Seq("Hi There").toDF("msg")
      .select(HmacSha256Hex(key1, col("msg")))
    assert(df1.head().getString(0) ===
      "b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7")

    val key2 = "Jefe".getBytes("UTF-8")
    val df2 = Seq("what do ya want for nothing?").toDF("msg")
      .select(HmacSha256Hex(key2, col("msg")))
    assert(df2.head().getString(0) ===
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
  }

  test("fakeId is deterministic and salt-sensitive") {
    val a = Codebook.withSalt("42" * 32)
    val b = Codebook.withSalt("43" * 32)
    val df = Seq("patient-1").toDF("id")
    val ha = df.select(a.fakeId(col("id"))).head().getString(0)
    val ha2 = df.select(a.fakeId(col("id"))).head().getString(0)
    val hb = df.select(b.fakeId(col("id"))).head().getString(0)
    assert(ha === ha2)
    assert(ha !== hb)
    assert(ha.matches("[0-9a-f]{64}"))
  }

  test("anonRef handles Type/id, contained, and bare forms") {
    val cb = Codebook.withSalt("42" * 32)
    val df = Seq("Patient/abc", "#contained1", "bare-id").toDF("ref")
    val out = df.select(col("ref"), cb.anonRef(col("ref")).as("anon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val hashOf = (s: String) =>
      Seq(s).toDF("x").select(cb.fakeId(col("x"))).head().getString(0)
    assert(out("Patient/abc") === s"Patient/${hashOf("abc")}")
    assert(out("#contained1") === s"#${hashOf("contained1")}")
    assert(out("bare-id") === hashOf("bare-id"))
  }

  test("zipGeneralize: restricted prefixes, digit zeroing, non-digits") {
    val cases = Seq(
      ("12345", "12300"),
      ("03601", "00000"), // restricted prefix → 000
      ("1230A", "1230A"), // non-digit suffix kept
      ("999", "999"),
      ("10277", "10200") // restricted 102 → wait: 102 IS restricted
    )
    val out = cases.map(_._1).toDF("zip")
      .select(col("zip"), DeidFunctions.zipGeneralize(col("zip")).as("z"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("12345") === "12300")
    assert(out("03601") === "00000")
    assert(out("1230A") === "1230A")
    assert(out("999") === "999")
    assert(out("10277") === "00000") // 102 restricted, suffix zeroed
  }

  test("cleanString trims and nulls empties") {
    val out = Seq("  x  ", "   ", "ok").toDF("s")
      .select(DeidFunctions.cleanString(col("s"))).collect()
      .map(r => Option(r.getString(0)))
    assert(out.toSeq === Seq(Some("x"), None, Some("ok")))
  }

  test("conceptDisplay prefers text, falls back to first coding display") {
    val df = spark.read.json(Seq(
      """{"id":1,"cc":{"text":"from-text","coding":[{"display":"d1"}]}}""",
      """{"id":2,"cc":{"coding":[{"code":"x"},{"display":"d2"}]}}""",
      """{"id":3,"cc":{"coding":[{"code":"y"}]}}"""
    ).toDS())
    val out = df.select(col("id"),
        DeidFunctions.conceptDisplay(col("cc")).as("d"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) === Some("from-text"))
    assert(out(2L) === Some("d2"))
    assert(out(3L) === None)
  }

  test("bestHumanName prefers official > usual > other") {
    val df = spark.read.json(Seq(
      """{"id":1,"names":[{"use":"nickname","text":"Nick"},{"use":"official","text":"Official"}]}""",
      """{"id":2,"names":[{"use":"usual","text":"Usual"},{"use":"maiden","text":"Maiden"}]}"""
    ).toDS())
    val out = df.select(col("id"),
        DeidFunctions.bestHumanName(col("names")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "Official")
    assert(out(2L) === "Usual")
  }

  test("codebook persists and reloads its salt") {
    val dir = java.nio.file.Files.createTempDirectory("cb").toString
    val created = Codebook.loadOrCreate(dir)
    val reloaded = Codebook.loadOrCreate(dir)
    assert(created.saltHex === reloaded.saltHex)
    assert(created.codebookId === reloaded.codebookId)
    assert(created.salt.length === 32)
  }

  test("a version-0 codebook keeps the salt drawn for it") {
    // version 0 has no id_salt, only the "mrn" legacy section: the salt
    // drawn on first load must be persisted, or every run pseudonymizes
    // non-legacy ids differently and a re-run duplicates rows
    val dir = java.nio.file.Files.createTempDirectory("cb0")
    java.nio.file.Files.write(dir.resolve("codebook.json"),
      """{"version": 0, "mrn": {"p1": {"deid": "fake-p1",
        |  "encounter": {"e1": {"deid": "fake-e1"}}}}}"""
        .stripMargin.getBytes("UTF-8"))
    val first = Codebook.loadOrCreate(dir.toString)
    val second = Codebook.loadOrCreate(dir.toString)
    assert(first.saltHex === second.saltHex)
    assert(first.salt.length === 32)
    def fake(cb: Codebook, rt: String, id: String): String =
      spark.range(1).select(cb.fakeIdFor(rt, lit(id))).head().getString(0)
    assert(fake(first, "Patient", "p1") === "fake-p1")
    assert(fake(second, "Patient", "p1") === "fake-p1")
    assert(fake(second, "Encounter", "e1") === "fake-e1")
    assert(fake(first, "Condition", "c1") === fake(second, "Condition", "c1"))
  }
}
