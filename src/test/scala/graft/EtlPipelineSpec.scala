package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.etl.EtlPipeline
import graft.operators.MergeOps.MergeSpec
import graft.sinks.{GraftTable, NdjsonSink}
import org.apache.spark.sql.functions._

class EtlPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("GraftTable: merge/read/delete/optimize/vacuum lifecycle") {
    val path = tmp("gt")
    val t = GraftTable(spark, path, MergeSpec(Seq("id")))
    assert(!t.exists)
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.read().count() === 2)
    t.merge(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"))
    val afterUpsert = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(afterUpsert.toSeq === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    t.deleteIds(Seq(1L).toDF("id"))
    assert(t.read().count() === 2)
    t.optimize()
    t.vacuum()
    assert(t.read().count() === 2)
    // only the live version dir remains
    val versions = Files.list(Paths.get(path)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("v"))
    assert(versions.length === 1)
  }

  test("NdjsonSink: batch-indexed sparse files with sidecars, resume") {
    val dir = tmp("ndj")
    val df = Seq(("a", Some(1)), ("b", None)).toDF("id", "x")
    val f0 = NdjsonSink.writeBatch(df, dir, "patient",
      groups = Seq("g1"), deleted = Seq("dead1"))
    assert(f0.endsWith("patient.000.ndjson"))
    val lines = Files.readAllLines(Paths.get(f0))
    assert(lines.size() === 2)
    // sparse: null x omitted
    assert(lines.toArray.exists(_.toString === """{"id":"b"}"""))
    val meta = new String(Files.readAllBytes(
      Paths.get(dir, "patient.000.meta")), "UTF-8")
    assert(meta.contains("g1") && meta.contains("dead1"))
    val f1 = NdjsonSink.writeBatch(df, dir, "patient")
    assert(f1.endsWith("patient.001.ndjson"))
  }

  test("ETL pipeline: scrub+dedup+merge end-to-end, idempotent rerun") {
    val input = tmp("etl-in")
    val output = tmp("etl-out")
    val phi = tmp("etl-phi")
    Files.write(Paths.get(input, "Patient.ndjson"), Seq(
      """{"resourceType":"Patient","id":"p1","gender":"female","birthDate":"1982-07-15"}""",
      """{"resourceType":"Patient","id":"p2","gender":"male","birthDate":"1990-01-02"}""",
      """{"resourceType":"Patient","id":"p2","gender":"male","birthDate":"1991-12-31"}"""
    ).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(input, "Observation.ndjson"), Seq(
      """{"resourceType":"Observation","id":"o1","status":"final","subject":{"reference":"Patient/p1"}}"""
    ).mkString("\n").getBytes("UTF-8"))

    val results = EtlPipeline.run(spark, input, output, phi,
      groupName = "g1", exportTime = "2024-01-01T00:00:00Z")
    val byTable = results.map(r => r.table -> r).toMap
    assert(byTable("patient").rows === 2) // p2 deduped last-wins
    assert(byTable("observation").rows === 1)
    assert(!byTable("condition").attempted) // no input present
    // A5 funnel via observe(): 3 read, none rejected, dedup to 2
    assert(byTable("patient").rowsRead === 3)
    assert(byTable("patient").rowsScrubbed === 3)
    assert(byTable("patient").rowsRejected === 0)

    // last-wins: p2 kept the LATER row (birthDate 1991 → year)
    val patients = GraftTable(spark, s"$output/patient",
      MergeSpec(Seq("id"))).read()
    val years = patients.select("birthDate").collect()
      .map(_.getString(0)).toSet
    assert(years === Set("1982", "1991"))
    // ids are hashed
    assert(patients.select("id").collect()
      .forall(_.getString(0).matches("[0-9a-f]{64}")))

    // codebook mapping side-output exists with real→fake rows
    val mapping = GraftTable(spark, s"$phi/codebook-mappings",
      MergeSpec(Seq("resource_type", "real_id"))).read()
    assert(mapping.filter(col("resource_type") === "Patient").count() === 2)

    // idempotent rerun: same outputs, no duplicates
    EtlPipeline.run(spark, input, output, phi,
      groupName = "g1", exportTime = "2024-01-01T00:00:00Z")
    assert(GraftTable(spark, s"$output/patient",
      MergeSpec(Seq("id"))).read().count() === 2)

    // completion rows recorded once per (table, group, export)
    val completion = GraftTable(spark, s"$output/etl__completion",
      MergeSpec(Seq("table_name", "group_name", "export_time"))).read()
    assert(completion.filter(col("table_name") === "patient").count() === 1)
  }

  test("encounter runs fan out into the per-encounter completion table") {
    val input = tmp("enc-in")
    val output = tmp("enc-out")
    val phi = tmp("enc-phi")
    Files.write(Paths.get(input, "Encounter.ndjson"), Seq(
      """{"resourceType":"Encounter","id":"e1","status":"finished"}""",
      """{"resourceType":"Encounter","id":"e2","status":"finished"}"""
    ).mkString("\n").getBytes("UTF-8"))
    EtlPipeline.run(spark, input, output, phi,
      groupName = "g1", exportTime = "2024-02-02T00:00:00Z")
    val enc = GraftTable(spark, s"$output/etl__completion_encounters",
      MergeSpec(Seq("encounter_id", "group_name"))).read()
    assert(enc.count() === 2)
    assert(enc.select("group_name").distinct().head().getString(0) === "g1")
    // JobConfig provenance written and discoverable
    val latest = graft.etl.JobConfig.latest(output)
    assert(latest.isDefined)
    val cfg = new String(Files.readAllBytes(
      Paths.get(latest.get, "job_config.json")), "UTF-8")
    assert(cfg.contains("\"group_name\" : \"g1\""))
  }

  test("dropped-extension census lands in its side-output table") {
    val input = tmp("cen-in")
    val output = tmp("cen-out")
    val phi = tmp("cen-phi")
    Files.write(Paths.get(input, "Patient.ndjson"), Seq(
      """{"resourceType":"Patient","id":"p1","extension":[{"url":"http://example.com/secret","valueString":"x"}]}""",
      """{"resourceType":"Patient","id":"p2","extension":[{"url":"http://example.com/secret","valueString":"y"}]}"""
    ).mkString("\n").getBytes("UTF-8"))
    EtlPipeline.run(spark, input, output, phi)
    val census = GraftTable(spark, s"$output/etl__extension_census",
      MergeSpec(Seq("resource_type", "url"))).read().collect()
    assert(census.length === 1)
    assert(census.head.getAs[String]("url") === "http://example.com/secret")
    assert(census.head.getAs[Long]("n_dropped") === 2L)
  }

  test("init pre-creates every task + completion table with its wide schema") {
    val output = tmp("init-out")
    val created = graft.etl.Init.run(spark, output)
    assert(created.toSet ===
      (EtlPipeline.DefaultTasks.map(_.tableName).toSet ++
        Set("etl__completion", "etl__completion_encounters")))
    // convert-recognizable folder marker (init/cli.py:66-68)
    assert(Files.isDirectory(Paths.get(output, "JobConfig")))
    // every table reads back empty with the exact post-scrub wide schema
    for (task <- EtlPipeline.DefaultTasks) {
      val t = GraftTable(spark, s"$output/${task.tableName}",
        task.mergeSpec)
      assert(t.exists, task.tableName)
      val df = t.read()
      assert(df.count() === 0, task.tableName)
      assert(df.schema ===
        graft.etl.Init.emptyTaskFrame(spark, task.resourceType).schema,
        task.tableName)
    }
    val comp = GraftTable(spark, s"$output/etl__completion",
      MergeSpec(Seq("table_name", "group_name", "export_time"))).read()
    assert(comp.schema === graft.etl.Completion.ByTable.schema)
    assert(comp.count() === 0)
    val enc = GraftTable(spark, s"$output/etl__completion_encounters",
      MergeSpec(Seq("encounter_id", "group_name"))).read()
    assert(enc.schema === graft.etl.Completion.ByEncounter.schema)
    assert(enc.count() === 0)
    // idempotent: second init creates nothing, tables untouched
    assert(graft.etl.Init.run(spark, output).isEmpty)

    // a later REAL run merges into the init-created empty bucketed table
    val input = tmp("init-in")
    val phi = tmp("init-phi")
    Files.write(Paths.get(input, "Patient.ndjson"),
      """{"resourceType":"Patient","id":"p1","gender":"female"}"""
        .getBytes("UTF-8"))
    EtlPipeline.run(spark, input, output, phi,
      tasks = EtlPipeline.DefaultTasks.filter(_.tableName == "patient"))
    assert(GraftTable(spark, s"$output/patient",
      MergeSpec(Seq("id"))).read().count() === 1)
  }

  test("a run over resource-absent input touches valid empty tables") {
    val input = tmp("touch-in")
    val output = tmp("touch-out")
    val phi = tmp("touch-phi")
    Files.write(Paths.get(input, "Patient.ndjson"),
      """{"resourceType":"Patient","id":"p1","gender":"female"}"""
        .getBytes("UTF-8"))
    val two = EtlPipeline.DefaultTasks
      .filter(t => Set("patient", "condition").contains(t.tableName))
    val results = EtlPipeline.run(spark, input, output, phi, tasks = two)
    assert(!results.find(_.table == "condition").get.attempted)
    // condition produced no rows but still exists as a valid empty table
    val cond = GraftTable(spark, s"$output/condition",
      MergeSpec(Seq("id")))
    assert(cond.exists)
    assert(cond.read().count() === 0)
    assert(cond.read().schema ===
      graft.etl.Init.emptyTaskFrame(spark, "Condition").schema)
  }

  test("JobContext: run success recorded in phi dir and read back") {
    val phi = tmp("ctx-phi")
    // missing file → empty context (context.py:34 default={})
    assert(graft.etl.JobContext.load(phi) === graft.etl.JobContext())
    graft.etl.JobContext.recordSuccess(phi, "/in", "/out",
      Map("patient" -> 2L, "condition" -> 0L))
    val ctx = graft.etl.JobContext.load(phi)
    assert(ctx.lastSuccessfulInputDir === Some("/in"))
    assert(ctx.lastSuccessfulOutputDir === Some("/out"))
    assert(ctx.lastSuccessfulDatetime.exists(_.startsWith("20")))
    assert(ctx.lastSuccessfulTables === Map("patient" -> 2L, "condition" -> 0L))

    // the pipeline itself writes one after a successful run
    val input = tmp("ctx-in")
    val output = tmp("ctx-out")
    val phi2 = tmp("ctx-phi2")
    Files.write(Paths.get(input, "Patient.ndjson"),
      """{"resourceType":"Patient","id":"p1","gender":"female"}"""
        .getBytes("UTF-8"))
    EtlPipeline.run(spark, input, output, phi2,
      tasks = EtlPipeline.DefaultTasks.filter(_.tableName == "patient"))
    val ctx2 = graft.etl.JobContext.load(phi2)
    assert(ctx2.lastSuccessfulInputDir === Some(input))
    assert(ctx2.lastSuccessfulTables === Map("patient" -> 1L))
  }

  test("error sink quarantines bad rows as indexed ndjson") {
    val errors = tmp("errs")
    val bad = Seq(("d9", "no text")).toDF("id", "reason")
    val path = graft.etl.ErrorSink.quarantine(bad, errors, "nlp_task")
    assert(path.isDefined)
    assert(path.get.endsWith("write-error.000.ndjson"))
    assert(graft.etl.ErrorSink.quarantine(
      spark.emptyDataFrame, errors, "nlp_task").isEmpty)
  }

  test("ETL merges are guarded by meta.lastUpdated (deltalake.py:108-180 parity)") {
    // The reference guards every FHIR merge whenever the schema carries
    // meta.lastUpdated (formats/deltalake.py:120-122,187-232). Full
    // fixture from tests/formats/test_deltalake.py:108-180: value 1 =
    // original = gender "male", value 2 = update = gender "female";
    // timestamps compared as TIMESTAMPS, so offsets that are lexically
    // misleading must still resolve correctly.
    val past = "2000-01-01T01:00:00.000-00:00"
    val pastWithOffset = "2000-01-01T04:00:00.000+03:00" // lexically later than now
    val now = "2000-01-01T02:00:00.000Z"
    val nowWithoutZed = "2000-01-01T02:00:00.000-00:00" // lexically earlier than now
    val future = "2000-01-01T03:00:00.000-00:00"
    val futureWithOffset = "2000-01-01T00:00:00.000-03:00" // lexically earlier than now

    def patientJson(id: String, meta: Option[String], gender: String): String = {
      val metaPart = meta match {
        case Some("") => """"meta":{},"""
        case Some(ts) => s""""meta":{"lastUpdated":"$ts"},"""
        case None => ""
      }
      s"""{"resourceType":"Patient","id":"$id",${metaPart}"gender":"$gender"}"""
    }

    val original = Seq(
      patientJson("past", Some(past), "male"),
      patientJson("past-with-offset", Some(pastWithOffset), "male"),
      patientJson("now", Some(now), "male"),
      patientJson("now-without-zed", Some(nowWithoutZed), "male"),
      patientJson("future", Some(future), "male"),
      patientJson("future-with-offset", Some(futureWithOffset), "male"),
      patientJson("future-partial", Some("3000-01-01"), "male"), // off-spec, still honored
      patientJson("missing-date-table", Some(""), "male"),
      patientJson("missing-date-update", Some(future), "male"),
      patientJson("missing-date-both", Some(""), "male"),
      patientJson("missing-meta-table", None, "male"),
      patientJson("missing-meta-update", Some(future), "male"),
      patientJson("missing-meta-both", None, "male"),
      patientJson("unmatched-table", None, "male")
    )
    val update = Seq(
      patientJson("past", Some(now), "female"),
      patientJson("past-with-offset", Some(now), "female"),
      patientJson("now", Some(now), "female"),
      patientJson("now-without-zed", Some(now), "female"),
      patientJson("future", Some(now), "female"),
      patientJson("future-with-offset", Some(now), "female"),
      patientJson("future-partial", Some(now), "female"),
      patientJson("missing-date-table", Some(now), "female"),
      patientJson("missing-date-update", Some(""), "female"),
      patientJson("missing-date-both", Some(""), "female"),
      patientJson("missing-meta-table", Some(now), "female"),
      patientJson("missing-meta-update", None, "female"),
      patientJson("missing-meta-both", None, "female"),
      patientJson("unmatched-update", None, "female")
    )
    // expected winner per id ("male" = original kept, "female" = updated)
    val expected = Map(
      "past" -> "female", "past-with-offset" -> "female", "now" -> "female",
      "now-without-zed" -> "female",
      "future" -> "male", "future-with-offset" -> "male",
      "future-partial" -> "male",
      "missing-date-table" -> "female", "missing-date-update" -> "female",
      "missing-date-both" -> "female", "missing-meta-table" -> "female",
      "missing-meta-update" -> "female", "missing-meta-both" -> "female",
      "unmatched-table" -> "male", "unmatched-update" -> "female"
    )

    val input1 = tmp("guard-in1")
    val input2 = tmp("guard-in2")
    val output = tmp("guard-out")
    val phi = tmp("guard-phi")
    Files.write(Paths.get(input1, "Patient.ndjson"),
      original.mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(input2, "Patient.ndjson"),
      update.mkString("\n").getBytes("UTF-8"))
    val patientOnly = EtlPipeline.DefaultTasks.filter(_.tableName == "patient")
    EtlPipeline.run(spark, input1, output, phi, tasks = patientOnly)
    EtlPipeline.run(spark, input2, output, phi, tasks = patientOnly)

    // map hashed ids back through the codebook side-output
    val mapping = GraftTable(spark, s"$phi/codebook-mappings",
      MergeSpec(Seq("resource_type", "real_id"))).read()
      .filter(col("resource_type") === "Patient")
      .select(col("real_id"), col("fake_id"))
    val patients = GraftTable(spark, s"$output/patient",
      MergeSpec(Seq("id"))).read()
      .join(mapping, col("id") === col("fake_id"))
      .select("real_id", "gender").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(patients === expected)
  }

  test("ETL pipeline: deleted-id bundles remove rows via hashed ids") {
    val input = tmp("etl2-in")
    val output = tmp("etl2-out")
    val phi = tmp("etl2-phi")
    Files.write(Paths.get(input, "Patient.ndjson"), Seq(
      """{"resourceType":"Patient","id":"p1","gender":"female"}""",
      """{"resourceType":"Patient","id":"p2","gender":"male"}"""
    ).mkString("\n").getBytes("UTF-8"))
    Files.createDirectories(Paths.get(input, "deleted"))
    Files.write(Paths.get(input, "deleted", "deleted.ndjson"),
      """{"resourceType":"Bundle","type":"transaction","entry":[{"request":{"method":"DELETE","url":"Patient/p1"}}]}"""
        .getBytes("UTF-8"))
    EtlPipeline.run(spark, input, output, phi)
    val patients = GraftTable(spark, s"$output/patient",
      MergeSpec(Seq("id"))).read()
    assert(patients.count() === 1)
  }

  test("ETL pipeline: last-wins follows file order across export files") {
    val input = tmp("xfile-in")
    val output = tmp("xfile-out")
    val phi = tmp("xfile-phi")
    Files.write(Paths.get(input, "Patient.000.ndjson"),
      """{"resourceType":"Patient","id":"p1","birthDate":"1980-01-01"}"""
        .getBytes("UTF-8"))
    // the later file is the larger one, so Spark packs its split FIRST:
    // partition order runs against file order here
    Files.write(Paths.get(input, "Patient.001.ndjson"), (
      """{"resourceType":"Patient","id":"p1","birthDate":"1995-01-01"}""" +:
        (2 to 40).map(i =>
          s"""{"resourceType":"Patient","id":"p$i","birthDate":"2000-01-01"}""")
    ).mkString("\n").getBytes("UTF-8"))
    EtlPipeline.run(spark, input, output, phi,
      tasks = Seq(EtlPipeline.EtlTask("Patient", "patient")))
    val years = GraftTable(spark, s"$output/patient", MergeSpec(Seq("id")))
      .read().groupBy("birthDate").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(years === Map("1995" -> 1L, "2000" -> 39L))
  }

  private val patientTask = Seq(EtlPipeline.EtlTask("Patient", "patient"))

  test("ETL pipeline: the row funnel counts a rejected row") {
    val input = tmp("funnel-in")
    val output = tmp("funnel-out")
    val phi = tmp("funnel-phi")
    Files.write(Paths.get(input, "Patient.ndjson"), Seq(
      """{"resourceType":"Patient","id":"p1","gender":"female"}""",
      """{"resourceType":"Patient","id":"p2","gender":"male"}""",
      """{"resourceType":"Patient","id":"p3","gender":"other","modifierExtension":[{"url":"http://example.com/changes-meaning","valueString":"x"}]}"""
    ).mkString("\n").getBytes("UTF-8"))
    val r = EtlPipeline.run(spark, input, output, phi, tasks = patientTask)
      .head
    assert((r.rowsRead, r.rowsScrubbed, r.rowsRejected) === ((3L, 2L, 1L)))
    assert(r.rows === 2L)
    // a batch the scrub rejects whole
    val allRejected = tmp("funnel-in2")
    Files.write(Paths.get(allRejected, "Patient.ndjson"), Seq(
      """{"resourceType":"Patient","id":"p4","modifierExtension":[{"url":"http://example.com/changes-meaning","valueString":"y"}]}"""
    ).mkString("\n").getBytes("UTF-8"))
    val r2 = EtlPipeline.run(spark, allRejected, output, phi,
      tasks = patientTask).head
    assert((r2.rowsRead, r2.rowsScrubbed, r2.rowsRejected) === ((1L, 0L, 1L)))
    assert(r2.rows === 2L)
  }

  test("ETL pipeline: a file that parses to no rows loads an empty batch") {
    val input = tmp("empty-in")
    val output = tmp("empty-out")
    val phi = tmp("empty-phi")
    // detection types the file by its first line; the truncated record
    // parses to no Encounter row, so the task's input is empty
    Files.write(Paths.get(input, "Encounter.ndjson"),
      """{"resourceType":"Encounter","id":"e1"""".getBytes("UTF-8"))
    val r = EtlPipeline.run(spark, input, output, phi,
      tasks = Seq(EtlPipeline.EtlTask("Encounter", "encounter"))).head
    assert(r.attempted)
    assert((r.rowsRead, r.rowsScrubbed, r.rows) === ((0L, 0L, 0L)))
    val table = GraftTable(spark, s"$output/encounter", MergeSpec(Seq("id")))
    assert(table.exists)
    assert(table.read().count() === 0)
  }

  Seq(
    "holds no bundle" -> Seq.empty[String],
    "holds only .jsonl bundles" -> Seq("deleted.jsonl")
  ).foreach { case (shape, bundles) =>
    test(s"ETL pipeline: a deleted/ dir that $shape") {
      val input = tmp("del-in")
      val output = tmp("del-out")
      val phi = tmp("del-phi")
      Files.write(Paths.get(input, "Patient.ndjson"), Seq(
        """{"resourceType":"Patient","id":"p1","gender":"female"}""",
        """{"resourceType":"Patient","id":"p2","gender":"male"}"""
      ).mkString("\n").getBytes("UTF-8"))
      Files.createDirectories(Paths.get(input, "deleted"))
      bundles.foreach(name => Files.write(Paths.get(input, "deleted", name),
        """{"resourceType":"Bundle","type":"transaction","entry":[{"request":{"method":"DELETE","url":"Patient/p1"}}]}"""
          .getBytes("UTF-8")))
      EtlPipeline.run(spark, input, output, phi, tasks = patientTask)
      assert(GraftTable(spark, s"$output/patient", MergeSpec(Seq("id")))
        .read().count() === 2L - bundles.size)
    }
  }

  private def patients(input: String, lines: String*): Unit =
    Files.write(Paths.get(input, "Patient.ndjson"),
      lines.mkString("\n").getBytes("UTF-8"))

  private def deletedBundle(input: String, urls: String*): Unit = {
    Files.createDirectories(Paths.get(input, "deleted"))
    val entries = urls.map(u => s"""{"request":{"method":"DELETE","url":"$u"}}""")
    Files.write(Paths.get(input, "deleted", "deleted.ndjson"),
      s"""{"resourceType":"Bundle","type":"transaction","entry":[${entries.mkString(",")}]}"""
        .getBytes("UTF-8"))
  }

  test("ETL pipeline: an export with deletes commits its resource table once") {
    val output = tmp("once-out")
    val phi = tmp("once-phi")
    val base = tmp("once-in0")
    patients(base,
      """{"resourceType":"Patient","id":"p1","gender":"female"}""",
      """{"resourceType":"Patient","id":"p2","gender":"male"}""",
      """{"resourceType":"Patient","id":"p3","gender":"other"}""")
    EtlPipeline.run(spark, base, output, phi, tasks = patientTask)
    val table = GraftTable(spark, s"$output/patient", MergeSpec(Seq("id")))
    val v = table.currentVersion.get
    // p2 is both updated and deleted by the same export, p1 only deleted
    val next = tmp("once-in1")
    patients(next,
      """{"resourceType":"Patient","id":"p2","gender":"unknown"}""",
      """{"resourceType":"Patient","id":"p4","gender":"female"}""")
    deletedBundle(next, "Patient/p1", "Patient/p2")
    val r = EtlPipeline.run(spark, next, output, phi, tasks = patientTask)
    assert(table.currentVersion === Some(v + 1))
    assert(r.head.rows === 2L)
    val codebook = graft.deid.Codebook.loadOrCreate(phi)
    val expected = Seq("p3", "p4").toDF("id")
      .select(codebook.fakeId(col("id"))).collect().map(_.getString(0)).toSet
    assert(table.read().collect().map(_.getAs[String]("id")).toSet === expected)
  }

  test("ETL pipeline: a new resource table is sized from its scrubbed rows") {
    val input = tmp("size-in")
    val output = tmp("size-out")
    val phi = tmp("size-phi")
    patients(input, (1 to 5).map(i =>
      s"""{"resourceType":"Patient","id":"p$i","gender":"female"}"""): _*)
    val r = EtlPipeline.run(spark, input, output, phi, tasks = patientTask).head
    assert(r.rowsScrubbed === 5L)
    assert(GraftTableSpec.manifestBuckets(s"$output/patient") ===
      graft.operators.Sizing.tableBuckets(r.rowsScrubbed))
  }

  test("ETL pipeline: updates and deletes into an existing 16-bucket table") {
    val output = tmp("b16-out")
    val phi = tmp("b16-phi")
    val base = tmp("b16-in0")
    val staging = tmp("b16-staging")
    val ids = (1 to 40).map(i => s"p$i")
    patients(base, ids.map(id =>
      s"""{"resourceType":"Patient","id":"$id","gender":"female","meta":{"lastUpdated":"2024-01-01T00:00:00Z"}}"""): _*)
    // the base rows, loaded into a 16-bucket table as a table made
    // before new tables were sized from their rows would hold them
    EtlPipeline.run(spark, base, staging, phi, tasks = patientTask)
    val spec = patientTask.head.mergeSpec
    GraftTable(spark, s"$output/patient", spec, 16)
      .merge(GraftTable(spark, s"$staging/patient", spec).read())
    val table = GraftTable(spark, s"$output/patient", spec)
    val v = table.currentVersion.get
    assert(GraftTableSpec.manifestBuckets(s"$output/patient") === 16)

    // p1 and p2 updated, p3 re-exported with an OLDER lastUpdated (the
    // guard keeps the table's row), p41 inserted, p4 and p5 deleted
    val next = tmp("b16-in1")
    patients(next,
      """{"resourceType":"Patient","id":"p1","gender":"male","meta":{"lastUpdated":"2024-02-01T00:00:00Z"}}""",
      """{"resourceType":"Patient","id":"p2","gender":"other","meta":{"lastUpdated":"2024-02-01T00:00:00Z"}}""",
      """{"resourceType":"Patient","id":"p3","gender":"male","meta":{"lastUpdated":"2023-01-01T00:00:00Z"}}""",
      """{"resourceType":"Patient","id":"p41","gender":"male","meta":{"lastUpdated":"2024-02-01T00:00:00Z"}}""")
    deletedBundle(next, "Patient/p4", "Patient/p5")
    val r = EtlPipeline.run(spark, next, output, phi, tasks = patientTask)
    assert(table.currentVersion === Some(v + 1))
    assert(GraftTableSpec.manifestBuckets(s"$output/patient") === 16)
    assert(r.head.rows === 39L)

    val codebook = graft.deid.Codebook.loadOrCreate(phi)
    val live = ids.filterNot(Set("p4", "p5")) :+ "p41"
    val gender = live.map(id => id -> (id match {
      case "p1" | "p41" => "male"
      case "p2" => "other"
      case _ => "female"
    })).toMap
    val fake = live.toDF("id").select(col("id"), codebook.fakeId(col("id")))
      .collect().map(r => r.getString(1) -> r.getString(0)).toMap
    val got = table.read().select("id", "gender").collect()
      .map(r => fake.getOrElse(r.getString(0), r.getString(0)) -> r.getString(1))
      .toMap
    assert(got === gender)
    // the merge probed its buckets: only the ones its keys and deleted
    // ids hash into were rewritten (a bucket the deletes emptied writes
    // no file)
    def bucketsOf(real: String*): Set[String] = real.toDF("id")
      .select(pmod(xxhash64(codebook.fakeId(col("id"))), lit(16)))
      .collect().map(r => s"__b=${r.getLong(0)}").toSet
    val rewritten = Files.list(Paths.get(output, "patient", s"v${v + 1}"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("__b=")).toSet
    val touched = bucketsOf("p1", "p2", "p3", "p41", "p4", "p5")
    assert(bucketsOf("p1", "p2", "p3", "p41").subsetOf(rewritten))
    assert(rewritten.subsetOf(touched))
    assert(touched.size < 16)
  }

  test("ETL pipeline: a failing overlapped commit fails the run") {
    val input = tmp("fail-in")
    val output = tmp("fail-out")
    val phi = tmp("fail-phi")
    patients(input, """{"resourceType":"Patient","id":"p1","gender":"female"}""")
    // a regular file where the codebook-mappings table should be
    Files.write(Paths.get(phi, "codebook-mappings"), "x".getBytes("UTF-8"))
    def tree(): Map[String, Long] = Seq(output, phi).flatMap { d =>
      Files.walk(Paths.get(d)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p))
    }.toMap
    intercept[Exception](EtlPipeline.run(spark, input, output, phi,
      tasks = patientTask))
    val after = tree()
    Thread.sleep(2000)
    assert(tree() === after, "a commit landed after the run returned")
    val completion = GraftTable(spark, s"$output/etl__completion",
      MergeSpec(Seq("table_name", "group_name", "export_time")))
    assert(!completion.exists ||
      completion.read().filter(col("table_name") === "patient").isEmpty)
  }

  test("ETL pipeline: a failed task publishes no completion row") {
    val input = tmp("cfail-in")
    val output = tmp("cfail-out")
    val phi = tmp("cfail-phi")
    patients(input, """{"resourceType":"Patient","id":"p1","gender":"female"}""")
    Files.write(Paths.get(input, "Encounter.ndjson"),
      """{"resourceType":"Encounter","id":"e1","status":"finished"}"""
        .getBytes("UTF-8"))
    // a regular file where the encounter table should be: the Encounter
    // task's resource merge fails while its completion rows are staged
    Files.write(Paths.get(output, "encounter"), "x".getBytes("UTF-8"))
    def tree(): Map[String, Long] =
      Files.walk(Paths.get(output)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p))
        .toMap
    intercept[Exception](EtlPipeline.run(spark, input, output, phi,
      tasks = Seq(EtlPipeline.EtlTask("Patient", "patient"),
        EtlPipeline.EtlTask("Encounter", "encounter"))))
    val after = tree()
    Thread.sleep(2000)
    assert(tree() === after, "a commit landed after the run returned")
    // the finished task keeps its row; the failed one published none
    val completion = graft.etl.Completion.ByTable.open(spark, output)
    assert(completion.read().select("table_name").collect()
      .map(_.getString(0)).toSeq === Seq("patient"))
    val encounters = graft.etl.Completion.ByEncounter.open(spark, output)
    assert(!encounters.exists || encounters.read().isEmpty)
  }

  test("ETL pipeline: input, output and PHI dirs on a non-default filesystem") {
    // every dir is named by another scheme than the default FS's
    // file:///, the way an output on s3a:// is
    val conf = spark.sparkContext.hadoopConfiguration
    val scheme = OtherSchemeFileSystem.Scheme
    val impl = s"fs.$scheme.impl"
    conf.set(impl, classOf[OtherSchemeFileSystem].getName)
    try {
      val local = Files.createTempDirectory("scheme-etl")
      def on(name: String): String = s"$scheme://$local/$name"
      def localOf(path: String): java.nio.file.Path =
        Paths.get(new java.net.URI(path).getPath)
      val in = Files.createDirectory(local.resolve("in")).toString
      patients(in,
        """{"resourceType":"Patient","id":"p1","gender":"female"}""",
        """{"resourceType":"Patient","id":"p2","gender":"male"}""")
      Files.write(Paths.get(in, "Encounter.ndjson"), Seq(
        """{"resourceType":"Encounter","id":"e1","status":"finished","subject":{"reference":"Patient/p1"}}""",
        """{"resourceType":"Encounter","id":"e2","status":"finished","subject":{"reference":"Patient/p2"}}""",
        """{"resourceType":"Encounter","id":"e3","status":"finished","subject":{"reference":"Patient/p2"}}"""
      ).mkString("\n").getBytes("UTF-8"))
      val (out, phi) = (on("out"), on("phi"))
      val tasks = Seq(EtlPipeline.EtlTask("Patient", "patient"),
        EtlPipeline.EtlTask("Encounter", "encounter"))
      def load() = EtlPipeline.run(spark, on("in"), out, phi, tasks = tasks,
        groupName = "g1", exportTime = "2024-01-01T00:00:00Z")
      val tables = Seq(s"$out/patient", s"$out/encounter",
        s"$out/etl__completion", s"$out/etl__completion_encounters",
        s"$phi/codebook-mappings")
      def rows(): Map[String, Set[String]] = tables.map(t =>
        t -> GraftTable(spark, t, MergeSpec(Seq("id"))).read().toJSON
          .collect().toSet).toMap

      assert(load().map(r => r.table -> r.rows).toMap ===
        Map("patient" -> 2L, "encounter" -> 3L))
      val first = rows()
      // every table, and every side file, is where the scheme points
      tables.foreach(t => assert(
        Files.exists(localOf(t).resolve("manifest-v0.json")), t))
      assert(first(s"$out/patient").size === 2)
      assert(first(s"$out/encounter").size === 3)
      assert(first(s"$out/etl__completion_encounters").size === 3)
      assert(graft.etl.Completion.ByTable.open(spark, out).read()
        .select("table_name").collect().map(_.getString(0)).toSet ===
        Set("patient", "encounter"))
      assert(Files.exists(local.resolve("phi/codebook.json")))
      assert(Files.exists(local.resolve("phi/context.json")))
      assert(graft.etl.JobContext.load(phi).lastSuccessfulTables ===
        Map("patient" -> 2L, "encounter" -> 3L))
      val config = graft.etl.JobConfig.latest(out).get
      assert(config.startsWith(s"$scheme:"), config)
      assert(Files.exists(localOf(config).resolve("job_config.json")))

      // the same export again: the same codebook, so the same rows
      load()
      assert(rows() === first)

      // an NDJSON tree written on the scheme replays from it
      val ndjson = on("ndjson")
      val f0 = NdjsonSink.writeBatch(
        Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v"), s"$ndjson/t", "t")
      assert(f0.startsWith(s"$scheme:") && Files.exists(localOf(f0)), f0)
      NdjsonSink.writeBatch(Seq(("b", 20)).toDF("id", "v"), s"$ndjson/t", "t",
        deleted = Seq("a"))
      assert(graft.etl.Convert.convertTree(spark, ndjson, on("converted")) ===
        Map("t" -> 2L))
      assert(GraftTable(spark, on("converted/t"), MergeSpec(Seq("id"))).read()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("b" -> 20L, "c" -> 3L))
    } finally conf.unset(impl)
    // no dir named by the scheme under the working directory
    assert(!Files.exists(Paths.get(s"$scheme:")))
  }

  test("ETL pipeline: every job of a run carries the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val input = tmp("grp-in")
    val output = tmp("grp-out")
    val phi = tmp("grp-phi")
    patients(input,
      """{"resourceType":"Patient","id":"p1","gender":"female"}""",
      """{"resourceType":"Patient","id":"p2","gender":"male","extension":[{"url":"http://example.com/unknown","valueString":"y"}]}""")
    deletedBundle(input, "Patient/p1")
    // a session conf is copied into the local properties of every job
    // the session's queries run, whichever thread runs them, so it marks
    // this run's jobs apart from concurrent suites' without relying on
    // the local-property inheritance under test
    val marker = "spark.graft.test.run"
    val runId = java.util.UUID.randomUUID().toString
    val session = spark.newSession()
    session.conf.set(marker, runId)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(marker) == runId)
          .foreach(p => groups.add(String.valueOf(p.getProperty("spark.jobGroup.id"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(s"etl-$runId", "etl run")
    try EtlPipeline.run(session, input, output, phi, tasks = patientTask)
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == s"etl-$runId"), seen.distinct)
  }
}
