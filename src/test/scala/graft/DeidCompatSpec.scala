package graft

import java.nio.file.{Files, Paths}

import graft.deid.{Codebook, ScrubCompiler}
import org.apache.spark.sql.functions._

/** Cross-validation of the scrubber against the REFERENCE's adversarial
  * deid fixture (tests/data/deid: one resource per file, every field a
  * deliberate keep/drop/mask/hash case; tests/deid/test_deid_scrubber
  * test_expected_transform, salt pinned to "1234", philter off): scrub
  * each input file and demand canonical-JSON equality with the paired
  * expected file.
  */
class DeidCompatSpec extends SparkSpecBase {

  private val refData = "/root/reference/tests/data/deid"
  private def available: Boolean = Files.exists(Paths.get(refData))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  mapper.configure(com.fasterxml.jackson.databind.SerializationFeature
    .ORDER_MAP_ENTRIES_BY_KEYS, true)

  /** Canonicalize like the reference's structural compare, where Python
    * `10 == 10.0`: integral doubles print as integers on BOTH sides.
    */
  private def normNumbers(o: Object): Object = o match {
    case d: java.lang.Double
        if d == Math.floor(d) && !d.isInfinite &&
          Math.abs(d) < (1L << 52).toDouble =>
      java.lang.Long.valueOf(d.toLong)
    case m: java.util.Map[_, _] =>
      val out = new java.util.TreeMap[String, Object]()
      m.forEach((k, v) => out.put(k.toString,
        normNumbers(v.asInstanceOf[Object])))
      out
    case l: java.util.List[_] =>
      val out = new java.util.ArrayList[Object]()
      l.forEach(v => out.add(normNumbers(v.asInstanceOf[Object])))
      out
    case other => other
  }

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col): _*),
        Map("ignoreNullFields" -> "true")).as("j"))
      .collect().map { r =>
        val node = mapper.readTree(r.getString(0))
        mapper.writeValueAsString(normNumbers(
          mapper.treeToValue(node, classOf[Object])))
      }.toSeq

  private def canonFile(path: String): String = {
    val node = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    mapper.writeValueAsString(normNumbers(
      mapper.treeToValue(node, classOf[Object])))
  }

  test("version-0 codebooks migrate to the reference's exact ids") {
    // the reference's tests/data/codebook0 fixture + the ids its
    // test_version0 asserts (tests/deid/test_deid_codebook.py:173-191)
    val dir = "/root/reference/tests/data/codebook0"
    assume(Files.exists(Paths.get(dir)))
    // loaded from a copy: a version-0 load writes its drawn salt back
    val copy = Files.createTempDirectory("codebook0")
    Files.copy(Paths.get(dir, "codebook.json"), copy.resolve("codebook.json"))
    val cb = Codebook.loadOrCreate(copy.toString)
    def fake(rt: String, id: String): String = {
      import org.apache.spark.sql.functions._
      val df = spark.range(1).select(lit(id).as("id"))
      df.select(cb.fakeIdFor(rt, col("id"))).collect()(0).getString(0)
    }
    assert(fake("Patient", "323456") ===
      "1de9ea66-70d3-da1f-c735-df5ef7697fb9")
    assert(fake("Patient", "3123456") ===
      "c07666e7-9ef6-62f8-8dee-ba7ec0ea7563")
    assert(fake("Patient", "3234567") ===
      "861abd5d-c0ae-6995-27aa-e362c6c0ac72")
    assert(fake("Encounter", "21") ===
      "458c3cdb-2d66-5a7b-0a4a-db41ce779a93")
    assert(fake("Encounter", "212") ===
      "4e9e5e14-a289-0d0d-81ee-8062b8b984c3")
  }

  test("every deid fixture file scrubs to its expected golden") {
    assume(available)
    val phi = Files.createTempDirectory("deid-compat").toString
    Files.write(Paths.get(phi, "codebook.json"),
      """{"version":1,"id_salt":"1234"}""".getBytes("UTF-8"))
    val cb = Codebook.loadOrCreate(phi)
    val inputs = Files.list(Paths.get(refData, "input")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.endsWith(".json")).sorted
    assert(inputs.nonEmpty)
    var checked = 0
    val problems = inputs.toSeq.flatMap { name =>
      val rt = name.split("\\.").head
      val expectedPath = s"$refData/output/$name"
      if (!Files.exists(Paths.get(expectedPath))) None
      else {
        // catalog schema widened by the file's own fields, as the
        // pipeline's observed-row widening does
        val observed = spark.read.option("multiLine", true)
          .json(s"$refData/input/$name").schema
        val schema = graft.fhir.FhirSchemas.forResource(rt)
          .map(s => graft.fhir.SchemaWidening.widen(s, observed))
          .getOrElse(observed)
        val in = spark.read.option("multiLine", true).schema(schema)
          .json(s"$refData/input/$name")
        val ours = canonRows(ScrubCompiler.scrub(in, rt, cb))
        val expected = canonFile(expectedPath)
        checked += 1
        if (ours == Seq(expected)) None
        else Some(s"$name:\n  ours:     ${ours.mkString("|")}\n" +
          s"  expected: $expected")
      }
    }
    assert(problems.isEmpty,
      s"\n${problems.size}/$checked differ\n" + problems.mkString("\n"))
    assert(checked >= 20, s"only $checked fixture files compared")
  }
}
