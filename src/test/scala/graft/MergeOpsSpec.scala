package graft

import graft.operators.MergeOps
import graft.operators.MergeOps.MergeSpec
import org.apache.spark.sql.functions._

class MergeOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("merge handles schema evolution: update adds a column") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val updates = Seq((2L, "b2", "extra"), (3L, "c", "x"))
      .toDF("id", "v", "w")
    val out = MergeOps
      .merge(target, updates, MergeSpec(Seq("id")))
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(out.toSeq === Seq(
      (1L, "a", None),
      (2L, "b2", Some("extra")),
      (3L, "c", Some("x"))
    ))
  }

  test("guard: null timestamps on either side still update; equal updates") {
    val target = Seq(
      (1L, "old1", "2024-01-02"),
      (2L, "old2", null.asInstanceOf[String]),
      (3L, "old3", "2024-01-02"),
      (4L, "old4", "2024-01-02")
    ).toDF("id", "v", "lastUpdated")
    val updates = Seq(
      (1L, "new1", "2024-01-01"), // strictly older → keep target
      (2L, "new2", "2024-01-01"), // target null → update
      (3L, "new3", null.asInstanceOf[String]), // update null → update
      (4L, "new4", "2024-01-02") // equal → update (<= semantics)
    ).toDF("id", "v", "lastUpdated")
    val out = MergeOps
      .merge(target, updates,
        MergeSpec(Seq("id"), guardField = Some("lastUpdated")))
      .orderBy("id")
      .collect()
      .map(_.getString(1))
    assert(out.toSeq === Seq("old1", "new2", "new3", "new4"))
  }

  test("group replace deletes only touched groups' unmatched rows") {
    val target = Seq(
      (1L, "g1", "keep-or-die"),
      (2L, "g1", "will-update"),
      (3L, "g2", "untouched-group")
    ).toDF("id", "grp", "v")
    val updates = Seq((2L, "g1", "updated")).toDF("id", "grp", "v")
    val out = MergeOps
      .merge(target, updates,
        MergeSpec(Seq("id"), groupField = Some("grp")))
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getString(2)))
    // id=1 deleted (g1 touched, not in update); id=3 kept (g2 untouched)
    assert(out.toSeq === Seq((2L, "updated"), (3L, "untouched-group")))
  }

  test("merge aligns nested schemas: a narrower or wider batch merges") {
    def json(rows: String*) = spark.read.json(rows.toDS())
    val target = json(
      """{"id":"a","ext":[{"url":"u1","valueBoolean":true}],"meta":{"lastUpdated":"2024-01-01","source":"s"}}""",
      """{"id":"b","ext":[{"url":"ub","valueBoolean":false}],"meta":{"lastUpdated":"2024-01-01","source":"s"}}""")
    // no valueBoolean, no meta.source, and one row without meta at all
    val narrower = json(
      """{"id":"a","ext":[{"url":"u2"}],"meta":{"lastUpdated":"2024-02-01"}}""",
      """{"id":"c","ext":[{"url":"u3"}]}""")
    val spec = MergeSpec(Seq("id"), guardField = Some("meta.lastUpdated"))
    val merged = MergeOps.merge(target, narrower, spec)
    assert(merged.schema.catalogString === target.schema.catalogString)
    def exts(df: org.apache.spark.sql.DataFrame) = df.orderBy("id")
      .select(col("id"), col("ext")(0)("url"), col("ext")(0)("valueBoolean"),
        col("meta.source")).collect().map(r =>
        (r.getString(0), r.getString(1), Option(r.get(2)), Option(r.get(3))))
      .toSeq
    assert(exts(merged) === Seq(("a", "u2", None, None),
      ("b", "ub", Some(false), Some("s")), ("c", "u3", None, None)))
    assert(merged.filter(col("id") === "c").head().isNullAt(
      merged.schema.fieldIndex("meta")))
    assert(MergeOps.changeFeed(target, narrower, spec)
      .filter(col("_change_type") === "insert").count() === 1)
    // a batch carrying a nested field the table lacks widens the table
    val wider = json("""{"id":"b","ext":[{"url":"ub2","valueString":"x"}]}""")
    val widened = MergeOps.merge(merged, wider, spec)
    assert(widened.filter(col("id") === "b")
      .select(col("ext")(0)("valueString")).head().getString(0) === "x")
    assert(widened.count() === 3)
  }

  test("merge widens a nested leaf: a long in the table, a double in the batch") {
    def json(rows: String*) = spark.read.json(rows.toDS())
    val target = json(
      """{"id":"a","vq":{"value":5,"unit":"mg"},"comp":[{"v":1}]}""",
      """{"id":"b","vq":{"value":7,"unit":"mg"},"comp":[{"v":2}]}""")
    // the same nested fields inferred as double, and vq.unit missing
    val batch = json("""{"id":"a","vq":{"value":5.5},"comp":[{"v":2.5}]}""")
    val spec = MergeSpec(Seq("id"))
    val merged = MergeOps.merge(target, batch, spec)
    assert(merged.schema("vq").dataType.catalogString ===
      "struct<unit:string,value:double>")
    assert(merged.schema("comp").dataType.catalogString ===
      "array<struct<v:double>>")
    val rows = merged.orderBy("id")
      .select(col("vq.value"), col("vq.unit"), col("comp")(0)("v"))
      .collect().map(r => (r.getDouble(0), Option(r.getString(1)),
        r.getDouble(2))).toSeq
    assert(rows === Seq((5.5, None, 2.5), (7.0, Some("mg"), 2.0)))
    val post = MergeOps.changeFeed(target, batch, spec)
      .filter(col("_change_type") === "update_postimage")
      .select(col("vq.value")).head().getDouble(0)
    assert(post === 5.5)
  }

  test("bucketed table: incremental merge rewrites only touched buckets") {
    import graft.sinks.GraftTable
    val dir = java.nio.file.Files.createTempDirectory("bucketed").toString
    val t = GraftTable(spark, dir,
      MergeOps.MergeSpec(Seq("id")), buckets = 8)
    val base = (1 to 200).map(i => (s"id-$i", s"v1-$i")).toDF("id", "data")
    t.merge(base)
    assert(t.read().count() === 200)

    // second merge: update 2 rows + insert 1 — far fewer than 8 buckets
    val upd = Seq(("id-1", "v2-1"), ("id-2", "v2-2"), ("id-999", "new"))
      .toDF("id", "data")
    t.merge(upd)
    val after = t.read()
    assert(after.count() === 201)
    assert(after.filter(col("id") === "id-1").head().getString(1) === "v2-1")
    assert(after.filter(col("id") === "id-77").head().getString(1) === "v1-77")

    // proof of incrementality: v1 holds only the touched buckets, the
    // rest are carried forward from v0 by reference
    val v1Dirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "v1")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .count(_.startsWith("__b="))
    assert(v1Dirs > 0 && v1Dirs < 8, s"v1 rewrote $v1Dirs buckets")

    // delete by id: only that id's bucket rewritten; reads stay whole
    t.deleteIds(Seq("id-77").toDF("id"))
    assert(t.read().count() === 200)
    assert(t.read().filter(col("id") === "id-77").isEmpty)

    // a layout-agnostic reader instance sees the same table
    val reader = GraftTable(spark, dir, MergeOps.MergeSpec(Seq("id")))
    assert(reader.read().count() === 200)

    // optimize compacts all buckets into one version; vacuum drops the rest
    t.optimize()
    t.vacuum()
    assert(t.read().count() === 200)
    val liveDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
    assert(liveDirs.length === 1)
    // vacuumed historical versions must THROW, never return a partial
    // bucket snapshot via a manifest-less fallback
    intercept[IllegalArgumentException] { t.readVersion(1) }
  }

  test("bucketed table: multi-key spec deletes fall back to all buckets") {
    import graft.sinks.GraftTable
    val dir = java.nio.file.Files.createTempDirectory("bucketed2").toString
    val t = GraftTable(spark, dir,
      MergeOps.MergeSpec(Seq("k1", "k2")), buckets = 4)
    t.merge((1 to 50).map(i => (s"a$i", s"b$i", i)).toDF("k1", "k2", "v"))
    // id list names k1 values only — bucket hash is over (k1, k2), so
    // the single-column probe can't locate buckets; correctness path
    t.deleteIds(Seq("a7", "a9").toDF("id"))
    assert(t.read().count() === 48)
    assert(t.read().filter(col("k1") === "a7").isEmpty)
  }

  test("readForKeys scans only the probed keys' buckets") {
    import graft.sinks.GraftTable
    val dir = java.nio.file.Files.createTempDirectory("skip").toString
    val t = GraftTable(spark, dir,
      MergeOps.MergeSpec(Seq("id")), buckets = 8)
    t.merge((1L to 200L).map(i => (i, s"v$i")).toDF("id", "v"))

    val got = t.readForKeys(Seq(7L, 42L, 7L).toDF("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((7L, "v7"), (42L, "v42")))

    // the sharp proof of skipping: physically remove every bucket the
    // probe does NOT hash into — the pruned read must still succeed
    // (it never lists those directories), while a full read breaks
    val probeBuckets = Seq(7L, 42L).map { i =>
      spark.range(i, i + 1).select(
        pmod(xxhash64(col("id")), lit(8)).cast("int")).head().getInt(0)
    }.toSet
    val vdir = java.nio.file.Paths.get(dir, "v0")
    java.nio.file.Files.list(vdir).forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("__b=") &&
        !probeBuckets.contains(name.drop(4).toInt)) {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator
          .reverseOrder[java.nio.file.Path]()).forEach(
          java.nio.file.Files.delete(_))
      }
    }
    val afterDelete = t.readForKeys(Seq(7L, 42L).toDF("id"))
      .collect().map(_.getLong(0)).toSet
    assert(afterDelete === Set(7L, 42L))
    intercept[Exception] { t.read().count() }
  }

  test("readForKeys casts the probe to the table's key type") {
    import graft.sinks.GraftTable
    val dir = java.nio.file.Files.createTempDirectory("skip2").toString
    val t = GraftTable(spark, dir,
      MergeOps.MergeSpec(Seq("id")), buckets = 8)
    t.merge((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    // Int probe against a Long-keyed table: xxhash64 hashes Int and
    // Long differently, so an uncast probe prunes to the WRONG buckets
    val got = t.readForKeys(Seq(7, 42).toDF("id"))
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(7L, 42L))
  }

  test("incremental aggregate merges the null group like a recompute") {
    import graft.operators.IncrementalAgg
    val target = Seq((1L, null.asInstanceOf[String], 10.0),
      (2L, "g1", 20.0)).toDF("id", "grp", "v")
    val updates = Seq((3L, null.asInstanceOf[String], 5.0))
      .toDF("id", "grp", "v")
    val spec = MergeSpec(Seq("id"))
    val incremental = IncrementalAgg.applyChanges(
      IncrementalAgg.countSum(target, "grp", "v"),
      MergeOps.changeFeed(target, updates, spec), "grp", "v")
    val full = IncrementalAgg
      .countSum(MergeOps.merge(target, updates, spec), "grp", "v")
    val toMap = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(toMap(incremental) === toMap(full))
    assert(toMap(incremental)(None) === ((2L, 15.0))) // ONE null group
  }

  test("dedupLastWins keeps the last occurrence per key") {
    val df = Seq(
      (1L, "first", 1L),
      (1L, "second", 2L),
      (2L, "only", 1L)
    ).toDF("id", "v", "seq")
    val out = MergeOps
      .dedupLastWins(df, Seq("id"), Seq(col("seq")))
      .orderBy("id")
      .collect()
      .map(_.getString(1))
    assert(out.toSeq === Seq("second", "only"))
  }

  test("deleteByIds removes listed ids only") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val ids = Seq(2L).toDF("id")
    val out = MergeOps.deleteByIds(df, "id", ids)
      .orderBy("id").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(1L, 3L))
  }

  test("deleteByIds: duplicate ids delete the same rows, broadcast unshuffled") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
    def kept(ids: Seq[Long]) = {
      val out = MergeOps.deleteByIds(df, "id", ids.toDF("x"))
      (out.collect().map(_.getLong(0)).sorted.toSeq, out)
    }
    val (once, _) = kept(Seq(2L, 5L))
    val (dup, plan) = kept(Seq(5L, 2L, 5L, 2L, 2L))
    assert(once === Seq(1L, 3L, 4L, 6L))
    assert(dup === once)
    // the driver-local ids go straight into the broadcast: no
    // de-duplicating shuffle job runs before it
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).flatMap(nodes)
    val executed = plan.queryExecution.executedPlan
    assert(!nodes(executed).exists(_.isInstanceOf[ShuffleExchangeExec]),
      executed.toString)
  }

  test("changeFeed emits all four change classes of a group merge") {
    val target = Seq(
      (1L, "g1", 10.0), // matched → pre/post
      (2L, "g1", 20.0), // unmatched, touched group → delete
      (3L, "g2", 30.0)  // unmatched, untouched group → no change
    ).toDF("id", "grp", "v")
    val updates = Seq(
      (1L, "g1", 11.0),
      (4L, "g1", 40.0) // new key → insert
    ).toDF("id", "grp", "v")
    val out = MergeOps
      .changeFeed(target, updates,
        MergeSpec(Seq("id"), groupField = Some("grp")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .toSet
    assert(out === Set(
      ("update_preimage", 1L, 10.0),
      ("update_postimage", 1L, 11.0),
      ("delete", 2L, 20.0),
      ("insert", 4L, 40.0)
    ))
  }

  test("changeFeed: guard-blocked and insert-only updates emit nothing") {
    val target = Seq((1L, "old", "2024-01-02")).toDF("id", "v", "ts")
    val older = Seq((1L, "new", "2024-01-01")).toDF("id", "v", "ts")
    assert(MergeOps.changeFeed(target, older,
      MergeSpec(Seq("id"), guardField = Some("ts"))).isEmpty)
    val matched = Seq((1L, "new", "2024-01-03")).toDF("id", "v", "ts")
    assert(MergeOps.changeFeed(target, matched,
      MergeSpec(Seq("id"), updateExisting = false)).isEmpty)
  }

  test("incremental count/sum aggregate equals full recompute") {
    import graft.operators.IncrementalAgg
    val target = Seq(
      (1L, "g1", 10.0), (2L, "g1", 20.0), (3L, "g2", 30.0),
      (5L, "g3", 50.0)
    ).toDF("id", "grp", "v")
    val updates = Seq(
      (1L, "g1", 11.0), (4L, "g2", 40.0)
    ).toDF("id", "grp", "v")
    val spec = MergeSpec(Seq("id"), groupField = Some("grp"))
    val incremental = IncrementalAgg
      .applyChanges(
        IncrementalAgg.countSum(target, "grp", "v"),
        MergeOps.changeFeed(target, updates, spec), "grp", "v")
    val full = IncrementalAgg
      .countSum(MergeOps.merge(target, updates, spec), "grp", "v")
    val toMap = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue())).toMap
    assert(toMap(incremental) === toMap(full))
    // g1 lost id=2 (touched-group delete) and updated id=1
    assert(toMap(incremental)("g1") === ((1L, 11.0)))
  }
}
