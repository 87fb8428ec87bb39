package graft

import graft.deid.{Codebook, ScrubCompiler}
import graft.sources.NdjsonSource
import org.apache.spark.sql.functions._

/** End-to-end scrubber behavior over self-authored FHIR R4 rows (shapes
  * follow the public FHIR spec; values invented here).
  */
class ScrubberSpec extends SparkSpecBase {
  import spark.implicits._

  private val cb = Codebook.withSalt("42" * 32)

  private def hashOf(s: String): String =
    Seq(s).toDF("x").select(cb.fakeId(col("x"))).head().getString(0)

  private val patients = Seq(
    """{"resourceType":"Patient","id":"pat1","gender":"female","birthDate":"1982-07-15","name":[{"family":"Smith","given":["Jane"]}],"telecom":[{"system":"phone","value":"555-1234"}],"address":[{"city":"Boston","state":"MA","postalCode":"02115","line":["1 Main St"]}],"managingOrganization":{"reference":"Organization/org1"}}""",
    """{"resourceType":"Patient","id":"pat2","gender":"male","birthDate":"1990-01-02","address":[{"state":"NH","postalCode":"03601"}]}""",
    """{"resourceType":"Patient","id":"pat3","gender":"other","modifierExtension":[{"url":"http://example.com/sneaky","valueString":"changes-meaning"}]}"""
  )

  test("scrub: allow-list projection, generalization, hashing, rejection") {
    val df = spark.read.json(patients.toDS())
    val out = ScrubCompiler.scrub(df, "Patient", cb)

    // pat3 rejected for its unknown modifierExtension
    assert(out.count() === 2)
    // dropped fields are gone from the schema entirely
    val cols = out.columns.toSet
    assert(!cols.contains("name") && !cols.contains("telecom"))
    assert(cols.contains("id") && cols.contains("address"))

    val rows = out.orderBy("gender").collect()
    val jane = rows(0) // female
    assert(jane.getAs[String]("id") === hashOf("pat1"))
    assert(jane.getAs[String]("birthDate") === "1982")
    val addr = jane.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("address").head
    assert(addr.getAs[String]("postalCode") === "02100")
    assert(addr.getAs[String]("state") === "MA")
    // address.city / line are not in the allow-list
    assert(!addr.schema.fieldNames.contains("city"))
    val managingOrg: org.apache.spark.sql.Row =
      jane.getAs[org.apache.spark.sql.Row]("managingOrganization")
    assert(managingOrg.getAs[String]("reference") ===
      s"Organization/${hashOf("org1")}")

    val pat2 = rows(1) // male; restricted zip prefix 036 → 00000
    val addr2 = pat2.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("address").head
    assert(addr2.getAs[String]("postalCode") === "00000")
  }

  test("scrub: unknown extensions dropped, allowed ones kept") {
    val rows = Seq(
      """{"resourceType":"Patient","id":"p1","extension":[{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex","valueCode":"F"},{"url":"http://example.com/secret","valueString":"phi"}]}"""
    )
    val df = spark.read.json(rows.toDS())
    val out = ScrubCompiler.scrub(df, "Patient", cb).head()
    val exts = out.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("extension")
    assert(exts.length === 1)
    assert(exts.head.getAs[String]("url").contains("us-core-birthsex"))
    assert(exts.head.getAs[String]("valueCode") === "F")
  }

  test("scrub: observation values keep codes, mask free text") {
    val rows = Seq(
      """{"resourceType":"Observation","id":"obs1","status":"final","code":{"coding":[{"system":"http://loinc.org","code":"8867-4","display":"Heart rate"}],"text":"  HR  "},"subject":{"reference":"Patient/pat1"},"valueQuantity":{"value":72,"unit":"beats/min"},"valueString":"free text PHI"}"""
    )
    val df = spark.read.json(rows.toDS())
    val out = ScrubCompiler.scrub(df, "Observation", cb).head()
    val code = out.getAs[org.apache.spark.sql.Row]("code")
    assert(code.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("coding")
      .head.getAs[String]("code") === "8867-4")
    // Philter leaf keeps text but cleans whitespace
    assert(code.getAs[String]("text") === "HR")
    assert(out.getAs[String]("valueString") === null) // Mask
    assert(out.getAs[org.apache.spark.sql.Row]("subject")
      .getAs[String]("reference") === s"Patient/${hashOf("pat1")}")
  }

  test("masked fields gain a data-absent-reason sibling extension") {
    val rows = Seq(
      """{"resourceType":"Observation","id":"obs1","status":"final","valueString":"free text PHI"}""",
      """{"resourceType":"Observation","id":"obs2","status":"final"}"""
    )
    val df = spark.read.json(rows.toDS())
    val out = ScrubCompiler.scrub(df, "Observation", cb)
    assert(out.columns.contains("_valueString"))
    val byStatusCount = out.collect().map { r =>
      Option(r.getAs[org.apache.spark.sql.Row]("_valueString"))
    }
    // obs1 had a value → masked marker present; obs2 didn't → null
    assert(byStatusCount.count(_.isDefined) === 1)
    val marker = byStatusCount.flatten.head
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("extension").head
    assert(marker.getAs[String]("url").endsWith("data-absent-reason"))
    assert(marker.getAs[String]("valueCode") === "masked")
  }

  test("extension census counts dropped urls") {
    val rows = Seq(
      """{"resourceType":"Patient","id":"p1","extension":[{"url":"http://example.com/a","valueString":"x"},{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex","valueCode":"F"}]}""",
      """{"resourceType":"Patient","id":"p2","extension":[{"url":"http://example.com/a","valueString":"y"}]}"""
    )
    val df = spark.read.json(rows.toDS())
    val census = ScrubCompiler.extensionCensus(df, "Patient")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(census === Map("http://example.com/a" -> 2L))
  }

  test("medication/procedure/immunization/allergy policies scrub") {
    val rows = Seq(
      """{"resourceType":"MedicationRequest","id":"m1","status":"active","intent":"order","medicationCodeableConcept":{"coding":[{"system":"http://www.nlm.nih.gov/research/umls/rxnorm","code":"1049221"}]},"subject":{"reference":"Patient/pat-1"},"authoredOn":"2021-02-03","note":[{"text":"PHI free text"}]}"""
    )
    val med = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "MedicationRequest", cb).head()
    assert(med.getAs[String]("id").matches("[0-9a-f]{64}"))
    assert(med.getAs[org.apache.spark.sql.Row]("subject")
      .getAs[String]("reference") === s"Patient/${hashOf("pat-1")}")
    assert(!med.schema.fieldNames.contains("note")) // not allow-listed

    val imm = ScrubCompiler.scrub(
      spark.read.json(Seq(
        """{"resourceType":"Immunization","id":"i1","status":"completed","vaccineCode":{"coding":[{"system":"http://hl7.org/fhir/sid/cvx","code":"208"}]},"patient":{"reference":"Patient/pat-2"},"occurrenceDateTime":"2021-04-05"}"""
      ).toDS()), "Immunization", cb).head()
    assert(imm.getAs[org.apache.spark.sql.Row]("patient")
      .getAs[String]("reference") === s"Patient/${hashOf("pat-2")}")
  }

  test("empty structs prune to null, empty strings to null") {
    val rows = Seq(
      """{"resourceType":"Observation","id":"o1","status":"","valueQuantity":{"value":null,"unit":null}}"""
    )
    val df = spark.read.json(rows.toDS())
    val out = ScrubCompiler.scrub(df, "Observation", cb).head()
    assert(out.getAs[String]("status") === null)
    assert(out.getAs[Any]("valueQuantity") === null)
  }

  test("ndjson source: detection, typed read, deleted ids") {
    val dir = java.nio.file.Files.createTempDirectory("ndjson").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "Patient.ndjson"),
      patients.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "mixed.ndjson"),
      """{"resourceType":"Observation","id":"obsX","status":"final"}"""
        .getBytes("UTF-8"))
    assert(NdjsonSource.detectResources(spark, dir) ===
      Set("Patient", "Observation"))
    assert(NdjsonSource.readResource(spark, dir, "Patient").count() === 3)
    assert(NdjsonSource.readResource(spark, dir, "Observation").count() === 1)

    val delDir = java.nio.file.Files.createTempDirectory("deleted").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(delDir, "deleted.ndjson"),
      """{"resourceType":"Bundle","type":"transaction","entry":[{"request":{"method":"DELETE","url":"Patient/p9"}},{"request":{"method":"DELETE","url":"Observation/o9"}},{"request":{"method":"GET","url":"Patient/keep"}}]}"""
        .getBytes("UTF-8"))
    val deleted = NdjsonSource.readDeletedIds(spark, delDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(deleted === Set(("Patient", "p9"), ("Observation", "o9")))
  }

  test("ndjson source: a deleted bundle with no entries deletes nothing") {
    val delDir = java.nio.file.Files.createTempDirectory("deleted").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(delDir, "deleted.ndjson"),
      ("""{"resourceType":"Bundle","type":"transaction","entry":[]}""" +
        "\n" + """{"resourceType":"Bundle","type":"transaction"}""")
        .getBytes("UTF-8"))
    assert(NdjsonSource.readDeletedIds(spark, delDir).count() === 0L)
  }

  test("ndjson source: an export dir on a non-default filesystem") {
    // the dir is named by another scheme than the default FS's file:///,
    // the way an export read in place on s3a:// is
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = s"fs.${OtherSchemeFileSystem.Scheme}.impl"
    conf.set(impl, classOf[OtherSchemeFileSystem].getName)
    try {
      val local = java.nio.file.Files.createTempDirectory("scheme")
      java.nio.file.Files.write(local.resolve("Patient.ndjson"),
        patients.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(local.resolve("Observation.ndjson"),
        """{"resourceType":"Observation","id":"obsX","status":"final"}"""
          .getBytes("UTF-8"))
      java.nio.file.Files.write(
        java.nio.file.Files.createDirectory(local.resolve("deleted"))
          .resolve("deleted.ndjson"),
        """{"resourceType":"Bundle","type":"transaction","entry":[{"request":{"method":"DELETE","url":"Patient/p9"}}]}"""
          .getBytes("UTF-8"))
      val dir = s"${OtherSchemeFileSystem.Scheme}://$local"
      def names(files: Seq[String]): Seq[String] = {
        assert(files.forall(_.startsWith(OtherSchemeFileSystem.Scheme + ":")))
        files.map(f => f.substring(f.lastIndexOf('/') + 1))
      }
      assert(names(NdjsonSource.listResourceFiles(spark, dir)) ===
        Seq("Observation.ndjson", "Patient.ndjson"))
      val detected = NdjsonSource.detectResourceFiles(spark, dir)
      assert(detected.keySet === Set("Patient", "Observation"))
      assert(names(detected("Patient")) === Seq("Patient.ndjson"))
      assert(NdjsonSource.readResource(spark, dir, "Patient").count() === 3)
      assert(NdjsonSource.readDeletedIds(spark, s"$dir/deleted").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq ===
        Seq(("Patient", "p9")))
    } finally conf.unset(impl)
  }

  test("check-system guard strips Epic custom codes and marks the coding") {
    val rows = Seq(
      // non-numeric code in the Epic extension-point OID → code+display
      // stripped, coding marked with data-absent-reason
      """{"resourceType":"Encounter","id":"e1","status":"finished","class":{"system":"urn:oid:1.2.840.114350.1.13.1","code":"JOHN DOE","display":"John Doe"}}""",
      // code "0" with display → display stripped, code kept
      """{"resourceType":"Encounter","id":"e2","status":"finished","class":{"system":"urn:oid:1.2.840.114350.1.13.1","code":"0","display":"custom free text"}}""",
      // numeric Epic code → untouched
      """{"resourceType":"Encounter","id":"e3","status":"finished","class":{"system":"urn:oid:1.2.840.114350.1.13.1","code":"13","display":"Outpatient"}}""",
      // non-Epic system → untouched
      """{"resourceType":"Encounter","id":"e4","status":"finished","class":{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode","code":"AMB","display":"ambulatory"}}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "Encounter", cb)
    val byId = out.collect().map { r =>
      val cls = r.getAs[org.apache.spark.sql.Row]("class")
      val ext = Option(cls.getAs[scala.collection.Seq[
        org.apache.spark.sql.Row]]("extension"))
      (r.getAs[String]("status"),
        cls.getAs[String]("code"), cls.getAs[String]("display"),
        ext.map(_.head.getAs[String]("url")))
    }
    assert(byId.length === 4)
    val stripped = byId.filter(t => t._2 == null && t._3 == null)
    assert(stripped.length === 1) // e1 only
    assert(stripped.head._4.exists(_.endsWith("data-absent-reason")))
    val zeroCode = byId.find(_._2 == "0").get
    assert(zeroCode._3 === null) // display stripped
    assert(zeroCode._4.exists(_.endsWith("data-absent-reason")))
    assert(byId.exists(t => t._2 == "13" && t._3 == "Outpatient" &&
      t._4.isEmpty))
    assert(byId.exists(t => t._2 == "AMB" && t._3 == "ambulatory" &&
      t._4.isEmpty))
  }

  test("check-system applies inside CodeableConcept coding arrays") {
    val rows = Seq(
      """{"resourceType":"Observation","id":"o1","status":"final","code":{"coding":[{"system":"urn:oid:1.2.840.114350.1.72.1","code":"SECRET NAME","display":"Jane"},{"system":"http://loinc.org","code":"8867-4","display":"Heart rate"}]}}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "Observation", cb).head()
    val codings = out.getAs[org.apache.spark.sql.Row]("code")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("coding")
    val epic = codings.find(c =>
      c.getAs[String]("system").startsWith("urn:oid:")).get
    assert(epic.getAs[String]("code") === null)
    assert(epic.getAs[String]("display") === null)
    assert(epic.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "extension").head.getAs[String]("url").endsWith("data-absent-reason"))
    val loinc = codings.find(c =>
      c.getAs[String]("system") == "http://loinc.org").get
    assert(loinc.getAs[String]("code") === "8867-4")
    assert(loinc.getAs[String]("display") === "Heart rate")
  }

  test("philter pass scrubs free-text leaves only when enabled") {
    val rows = Seq(
      """{"resourceType":"Observation","id":"o1","status":"final","code":{"coding":[{"system":"http://loinc.org","code":"1"}],"text":"call 617-555-1234 re ssn 123-45-6789"}}"""
    )
    val df = spark.read.json(rows.toDS())
    val off = ScrubCompiler.scrub(df, "Observation", cb)
      .head().getAs[org.apache.spark.sql.Row]("code").getAs[String]("text")
    assert(off === "call 617-555-1234 re ssn 123-45-6789")
    val on = ScrubCompiler.scrub(df, "Observation", cb,
      philterEnabled = true)
      .head().getAs[org.apache.spark.sql.Row]("code").getAs[String]("text")
    assert(on === "call ************ re ssn ***********")
  }

  test("unknown modifierExtension on a NESTED backbone rejects the resource") {
    val rows = Seq(
      """{"resourceType":"Procedure","id":"pr1","status":"completed","subject":{"reference":"Patient/p1"},"performer":[{"actor":{"reference":"Practitioner/doc1"},"modifierExtension":[{"url":"http://example.com/changes-meaning","valueString":"x"}]}]}""",
      """{"resourceType":"Procedure","id":"pr2","status":"completed","subject":{"reference":"Patient/p1"},"performer":[{"actor":{"reference":"Practitioner/doc2"}}]}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "Procedure", cb)
    val ids = out.select("id").collect().map(_.getString(0)).toSet
    assert(ids === Set(hashOf("pr2"))) // pr1 rejected at depth 2
  }

  test("jsonl files are detected AND read") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "Patient.jsonl"),
      """{"resourceType":"Patient","id":"pj1","gender":"female"}"""
        .getBytes("UTF-8"))
    assert(NdjsonSource.detectResources(spark, dir) === Set("Patient"))
    assert(NdjsonSource.readResource(spark, dir, "Patient").count() === 1)
  }

  test("gzipped ndjson files are detected AND read") {
    val dir = java.nio.file.Files.createTempDirectory("gz").toString
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/Patient.ndjson.gz"))
    out.write(
      """{"resourceType":"Patient","id":"pg1","gender":"other"}"""
        .getBytes("UTF-8"))
    out.close()
    assert(NdjsonSource.detectResources(spark, dir) === Set("Patient"))
    assert(NdjsonSource.readResource(spark, dir, "Patient").count() === 1)
    // and the reference's own gzipped example-study export detects too
    val example =
      "/root/reference/cumulus_etl/etl/studies/example/ndjson"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(example))) {
      val types = NdjsonSource.detectResources(spark, example)
      assert(types.contains("DocumentReference"))
      assert(NdjsonSource
        .readResource(spark, example, "DocumentReference").count() > 0)
    }
  }

  test("last-wins dedup follows export FILE order, not partition order") {
    val dir = java.nio.file.Files.createTempDirectory("fileorder").toString
    // earlier file is much larger: size-ordered split packing would rank
    // it first, so a partition-id ordering would pick the WRONG winner
    val big = (1 to 500).map(i =>
      s"""{"resourceType":"Patient","id":"f$i","gender":"female"}""") :+
      """{"resourceType":"Patient","id":"dup","gender":"unknown"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "Patient.000.ndjson"),
      big.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "Patient.001.ndjson"),
      """{"resourceType":"Patient","id":"dup","gender":"male"}"""
        .getBytes("UTF-8"))
    val files = NdjsonSource.listResourceFiles(spark, dir)
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) ===
      Seq("Patient.000.ndjson", "Patient.001.ndjson"))
    val df = NdjsonSource.readResource(spark, dir, "Patient")
      .withColumn("__file_seq", NdjsonSource.fileSeqCol(files))
      .withColumn("__seq", monotonically_increasing_id())
    val winner = graft.operators.MergeOps
      .dedupLastWins(df, Seq("id"),
        Seq(col("__file_seq"), col("__seq")))
      .filter(col("id") === "dup")
      .head().getAs[String]("gender")
    assert(winner === "male") // the later-appended export file wins
  }

  test("conditional sub-schema keeps only NPI-system identifiers") {
    val rows = Seq(
      """{"resourceType":"Practitioner","id":"doc1","active":true,"identifier":[{"system":"http://hl7.org/fhir/sid/us-npi","value":"1234567890"},{"system":"http://hospital.example.com/internal-id","value":"SECRET-EMP-42"}]}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "Practitioner", cb).head()
    val ids = out.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "identifier")
    // the non-NPI identifier node is dropped entirely; NPI one keeps value
    assert(ids.length === 1)
    assert(ids.head.getAs[String]("system")
      .endsWith("us-npi"))
    assert(ids.head.getAs[String]("value") === "1234567890")
  }

  test("primitive _field extension nodes pass through the Element policy") {
    val rows = Seq(
      """{"resourceType":"Patient","id":"p1","gender":"female","_gender":{"extension":[{"url":"http://hl7.org/fhir/StructureDefinition/data-absent-reason","valueCode":"masked"},{"url":"http://example.com/unknown","valueString":"x"}]},"_name":{"extension":[{"url":"http://example.com/whatever","valueString":"y"}]}}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "Patient", cb).head()
    // _gender kept (gender is allowed), unknown url inside filtered out
    val g = out.getAs[org.apache.spark.sql.Row]("_gender")
    val exts = g.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "extension")
    assert(exts.length === 1)
    assert(exts.head.getAs[String]("url").endsWith("data-absent-reason"))
    // _name dropped (name is not allowed)
    assert(!out.schema.fieldNames.contains("_name"))
  }

  test("widened resources scrub: Organization, Specimen, ServiceRequest") {
    val orgRow = ScrubCompiler.scrub(spark.read.json(Seq(
      """{"resourceType":"Organization","id":"org1","active":true,"name":"General Hospital","identifier":[{"system":"urn:oid:2.16.840.1.113883.4.7","value":"CL-999"},{"system":"http://example.com/private","value":"secret"}],"telecom":[{"system":"phone","value":"555-0000"}]}"""
    ).toDS()), "Organization", cb).head()
    assert(orgRow.getAs[String]("name") === "General Hospital")
    assert(!orgRow.schema.fieldNames.contains("telecom"))
    val orgIds = orgRow.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](
      "identifier")
    assert(orgIds.length === 1 &&
      orgIds.head.getAs[String]("value") === "CL-999")

    val spec = ScrubCompiler.scrub(spark.read.json(Seq(
      """{"resourceType":"Specimen","id":"s1","status":"available","subject":{"reference":"Patient/p7"},"collection":{"collector":{"reference":"Practitioner/d2"},"collectedDateTime":"2021-05-06T01:02:03Z"},"note":[{"text":"phi"}]}"""
    ).toDS()), "Specimen", cb).head()
    assert(spec.getAs[org.apache.spark.sql.Row]("subject")
      .getAs[String]("reference") === s"Patient/${hashOf("p7")}")
    val coll = spec.getAs[org.apache.spark.sql.Row]("collection")
    assert(coll.getAs[org.apache.spark.sql.Row]("collector")
      .getAs[String]("reference") === s"Practitioner/${hashOf("d2")}")
    assert(!spec.schema.fieldNames.contains("note"))

    val sr = ScrubCompiler.scrub(spark.read.json(Seq(
      """{"resourceType":"ServiceRequest","id":"sr1","status":"active","intent":"order","subject":{"reference":"Patient/p7"},"patientInstruction":"call Jane at 555-1234"}"""
    ).toDS()), "ServiceRequest", cb).head()
    assert(sr.getAs[String]("status") === "active")
    assert(!sr.schema.fieldNames.contains("patientInstruction"))
  }

  test("leaf rule on a struct-typed field drops it instead of leaking") {
    // onset[x] struct forms carry nested extensions; a mis-paired leaf
    // rule must never pass the struct through verbatim
    val rows = Seq(
      """{"resourceType":"AllergyIntolerance","id":"a1","type":"allergy","patient":{"reference":"Patient/p1"},"onsetPeriod":{"start":"2020-01-02","extension":[{"url":"http://example.com/raw","valueString":"Jane Doe"}]}}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "AllergyIntolerance", cb).head()
    // Period policy applies: start kept, unknown nested extension gone
    val onset = out.getAs[org.apache.spark.sql.Row]("onsetPeriod")
    assert(onset.getAs[String]("start") === "2020-01-02")
    assert(!onset.schema.fieldNames.contains("extension") ||
      onset.getAs[Any]("extension") == null)
  }

  test("absolute and urn references reject the resource, like the reference") {
    val rows = Seq(
      """{"resourceType":"Condition","id":"c1","subject":{"reference":"http://external.example.com/fhir/Patient/123"}}""",
      """{"resourceType":"Condition","id":"c2","subject":{"reference":"urn:uuid:0e678f0a-3a6c-4a04-ac5a-0d3a0c5a0d3a"}}""",
      """{"resourceType":"Condition","id":"c3","subject":{"reference":"Patient/p1"}}"""
    )
    val out = ScrubCompiler.scrub(spark.read.json(rows.toDS()),
      "Condition", cb)
    assert(out.count() === 1)
    assert(out.head().getAs[String]("id") === hashOf("c3"))
  }

  test("export log parsing extracts group and transaction time") {
    val dir = java.nio.file.Files.createTempDirectory("log").toString
    val log = java.nio.file.Paths.get(dir, "log.ndjson")
    java.nio.file.Files.write(log, Seq(
      """{"eventId":"kickoff","timestamp":"2024-01-01T00:00:00Z","eventDetail":{"exportUrl":"https://fhir.example.com/Group/cohort-a/$export"}}""",
      """{"eventId":"status_complete","timestamp":"2024-01-01T01:00:00Z","eventDetail":{"transactionTime":"2024-01-01T00:59:00Z"}}"""
    ).mkString("\n").getBytes("UTF-8"))
    assert(NdjsonSource.parseExportLog(spark, log.toString) ===
      Some(("cohort-a", "2024-01-01T00:59:00Z")))
  }

  /** Expression nodes in `df`'s analyzed plan beyond its output columns:
    * zero for a bare leaf relation.
    */
  private def extraExpressionNodes(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collect { case p => p }
      .flatMap(_.expressions).map(_.collect { case e => e }.size).sum -
      df.columns.length

  test("scrub: a repeat call over a wide schema plans no scrub expression") {
    def scrubbedWide() = ScrubCompiler.scrub(
      spark.read.schema(graft.fhir.FhirSchemas.forResource("Patient").get)
        .json(patients.toDS()), "Patient", cb)
    val first = scrubbedWide()
    val again = scrubbedWide()
    val plan = again.queryExecution.analyzed
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      plan.treeString)
    assert(extraExpressionNodes(again) === 0)
    // a narrow schema's scrub is just as small: the plan holds no
    // expression that grows with the schema
    val narrow = ScrubCompiler.scrub(spark.read.json(patients.toDS()),
      "Patient", cb)
    assert(extraExpressionNodes(narrow) === 0)
    assert(again.schema === first.schema)
    assert(again.collect().map(_.toString).sorted ===
      first.collect().map(_.toString).sorted)
    assert(again.count() === 2)
  }

  test("scrub: the file-order column passes through as the last column") {
    val df = spark.read.json(patients.toDS())
    val withSeq = ScrubCompiler.scrub(df.withColumn(NdjsonSource.FileSeq,
      when(col("id") === "pat1", lit(1L)).otherwise(lit(2L))), "Patient", cb)
    val without = ScrubCompiler.scrub(df, "Patient", cb)
    assert(withSeq.columns.toSeq ===
      without.columns.toSeq :+ NdjsonSource.FileSeq)
    val seqOf = Map(hashOf("pat1") -> 1L, hashOf("pat2") -> 2L)
    assert(withSeq.collect().map(_.toString).sorted ===
      without.collect().map(r => org.apache.spark.sql.Row.fromSeq(
        r.toSeq :+ seqOf(r.getAs[String]("id"))).toString).sorted)
  }

  test("scrub: three input partitions give the rows one partition gives") {
    val many = (1 to 30).map(i =>
      s"""{"resourceType":"Patient","id":"p$i","gender":"female","birthDate":"19${10 + i}-03-04","address":[{"state":"MA","postalCode":"0${2100 + i}"}]}""") ++
      patients
    val df = spark.read.json(many.toDS())
    def rows(in: org.apache.spark.sql.DataFrame) =
      ScrubCompiler.scrub(in, "Patient", cb).collect().map(_.toString).sorted
    val three = df.repartition(3)
    assert(three.rdd.getNumPartitions === 3)
    val one = rows(df.coalesce(1))
    assert(one.length === 32) // pat3 rejected
    assert(rows(three) === one)
  }

  test("scrub: one schema under two codebook salts hashes ids apart") {
    val df = spark.read.json(patients.toDS())
    val other = Codebook.withSalt("43" * 32)
    def ids(c: Codebook) = ScrubCompiler.scrub(df, "Patient", c)
      .select("id").collect().map(_.getString(0)).toSet
    assert(ids(cb) === Set(hashOf("pat1"), hashOf("pat2")))
    val otherIds = ids(other)
    assert(otherIds === Set("pat1", "pat2").map(id =>
      Seq(id).toDF("x").select(other.fakeId(col("x"))).head().getString(0)))
    assert((otherIds & ids(cb)).isEmpty)
  }

  test("scrub: a session's time zone is not served another session's plan") {
    // a timestamp-typed birthDate is cast to string (in the session time
    // zone) before the year is kept: 02:00 UTC on 2000-01-01 is still
    // 1999 in Los Angeles
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2000-01-01T02:00:00Z"))
    def year(s: org.apache.spark.sql.SparkSession): String = {
      val df = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("Patient", "p1", ts)),
        org.apache.spark.sql.types.StructType.fromDDL(
          "resourceType STRING, id STRING, birthDate TIMESTAMP"))
      ScrubCompiler.scrub(df, "Patient", cb)
        .select("birthDate").head().getString(0)
    }
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    assert(year(spark) === "2000")
    assert(year(la) === "1999")
    assert(year(spark) === "2000")
  }
}

/** The local filesystem under a scheme of its own, so a test can name a
  * dir that the default filesystem (file:///) refuses as a wrong FS.
  */
class OtherSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${OtherSchemeFileSystem.Scheme}:///")
}

object OtherSchemeFileSystem {
  val Scheme = "graftother"
}
