package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.MergeOps.MergeSpec
import graft.sinks.GraftTable
import org.apache.spark.sql.functions._

/** GraftTable's on-disk commit contract: one manifest per version, and
  * the latest version is the highest manifest claimed.
  */
class GraftTableSpec extends SparkSpecBase {
  import spark.implicits._

  private val spec = MergeSpec(Seq("id"))

  private def names(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path]
      .getFileName.toString).toSeq

  Seq(16, 1).foreach { buckets =>
    test(s"$buckets-bucket table: a crashed commit's debris stays invisible") {
      val dir = Files.createTempDirectory("debris").toString
      val t = GraftTable(spark, dir, spec, buckets)
      t.merge((1 to 100).map(i => (s"id-$i", i)).toDF("id", "v"))
      t.merge(Seq(("id-1", -1), ("id-200", 200)).toDF("id", "v"))
      val n = t.currentVersion.get
      // a commit of n+1 that died after writing part of its data and its
      // manifest, before the manifest was claimed
      val partial = Paths.get(dir, s"v${n + 1}", "__b=0", "part-00000.parquet")
      Files.createDirectories(partial.getParent)
      Files.write(partial, "PAR1 torn".getBytes("UTF-8"))
      Files.write(Paths.get(dir, s"v${n + 1}", "_manifest.json"),
        s"""{"buckets":$buckets,"keys":["id"],"dirs":{"0":"v${n + 1}"},"counts":{"0":7}}"""
          .getBytes("UTF-8"))

      val reader = GraftTable(spark, dir, spec)
      assert(reader.currentVersion === Some(n))
      assert(reader.read().count() === 101)
      assert(reader.rowCount === 101L)

      t.merge(Seq(("id-2", -2)).toDF("id", "v"))
      assert(t.currentVersion === Some(n + 1))
      assert(!Files.exists(partial))
      assert(!Files.exists(Paths.get(dir, s"v${n + 1}", "_manifest.json")))
      assert(t.rowCount === 101L)
      val v = t.read().filter(col("id").isin("id-1", "id-2", "id-200"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(v === Map("id-1" -> -1, "id-2" -> -2, "id-200" -> 200))
      // each committed version is one manifest plus its data dir
      assert(names(dir).toSet === (0 to n + 1).flatMap(i =>
        Seq(s"v$i", s"manifest-v$i.json")).toSet)
      assert(names(s"$dir/v${n + 1}").filter(_.startsWith("__b="))
        .forall(b => b.drop(4).toInt < buckets))
    }
  }

  test("a staged merge stays invisible until published; vacuum drops it") {
    val dir = Files.createTempDirectory("staged").toString
    val t = GraftTable(spark, dir, spec, 4)
    val rows = (1 to 40).map(i => s"id-$i" -> i)
    t.merge(rows.toDF("id", "v"))
    t.stage(Seq(("id-1", -1), ("id-99", 99)).toDF("id", "v"))
    assert(Files.isDirectory(Paths.get(dir, "v1")))
    assert(t.currentVersion === Some(0))
    assert(rowsOf(t) === rows.toMap)
    assert(GraftTable(spark, dir, spec).rowCount === 40L)
    assert(manifests(dir) === Set("manifest-v0.json"))
    // vacuum removes the unpublished version
    t.vacuum()
    assert(!Files.exists(Paths.get(dir, "v1")))
    assert(rowsOf(t) === rows.toMap)

    // the next merge commits over a staged version's debris: its own
    // buckets only, not the staged ones it does not touch
    t.stage((1 to 40).map(i => (s"id-$i", -i)).toDF("id", "v"))
    assert(bucketDirs(dir, 1).size > 1)
    t.merge(Seq(("id-2", -2)).toDF("id", "v"))
    assert(t.currentVersion === Some(1))
    assert(bucketDirs(dir, 1) === bucketOf(Seq("id-2"), 4).values.toSet)
    assert(rowsOf(t) === rows.toMap + ("id-2" -> -2))
    assert(t.rowCount === 40L)
  }

  test("publish returns the row count and refuses a table another commit moved") {
    val dir = Files.createTempDirectory("moved").toString
    val t = GraftTable(spark, dir, spec)
    assert(t.stage(Seq(("a", 1), ("b", 2)).toDF("id", "v")).publish() === 2L)
    val stale = t.stage(Seq(("c", 3)).toDF("id", "v"))
    // another commit lands on the same base version first
    t.merge(Seq(("a", 10), ("d", 4)).toDF("id", "v"))
    val e = intercept[IllegalStateException](stale.publish())
    assert(e.getMessage.contains(dir) && e.getMessage.contains("not published"),
      e.getMessage)
    assert(t.currentVersion === Some(1))
    assert(rowsOf(t) === Map("a" -> 10, "b" -> 2, "d" -> 4))
    assert(t.rowCount === 3L)
    // a published version cannot be published again
    val once = t.stage(Seq(("e", 5)).toDF("id", "v"))
    assert(once.publish() === 4L)
    intercept[IllegalStateException](once.publish())
    assert(t.currentVersion === Some(2))
    assert(rowsOf(t) === Map("a" -> 10, "b" -> 2, "d" -> 4, "e" -> 5))
  }

  test("a stray pointer file naming an older version is ignored") {
    val dir = Files.createTempDirectory("pointer").toString
    val t = GraftTable(spark, dir, spec)
    t.merge(Seq(("a", 1)).toDF("id", "v"))
    t.merge(Seq(("a", 2), ("b", 3)).toDF("id", "v"))
    // the pointer a table written before manifests were the commit point
    // carries, left behind naming version 0
    Files.write(Paths.get(dir, "_latest"), "0".getBytes("UTF-8"))
    val reader = GraftTable(spark, dir, spec)
    assert(reader.currentVersion === Some(1))
    assert(rowsOf(reader) === Map("a" -> 2, "b" -> 3))
    assert(reader.rowCount === 2L)
    t.merge(Seq(("c", 4)).toDF("id", "v"))
    assert(t.currentVersion === Some(2))
    assert(rowsOf(reader) === Map("a" -> 2, "b" -> 3, "c" -> 4))
  }

  test("vacuum leaves the highest manifest and the dirs it references") {
    val dir = Files.createTempDirectory("vacuum").toString
    val t = GraftTable(spark, dir, spec, 4)
    val rows = (1 to 40).map(i => s"id-$i" -> i)
    t.merge(rows.toDF("id", "v"))
    t.merge(Seq(("id-1", -1)).toDF("id", "v"))
    t.merge(Seq(("id-2", -2)).toDF("id", "v"))
    // debris: a stray pointer and its temp file, a crashed claim's
    // manifest inside an unclaimed version, and a never-published stage
    Files.write(Paths.get(dir, "_latest"), "1".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "_latest.tmp"), "2".getBytes("UTF-8"))
    t.stage(Seq(("id-3", -3)).toDF("id", "v"))
    Files.write(Paths.get(dir, "v3", "_manifest.json"), "{".getBytes("UTF-8"))
    t.vacuum()
    val dirs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(dir, "manifest-v2.json")))
      .get("dirs").elements().asScala.map(_.asText()).toSet
    assert(dirs("v0") && dirs("v2"))
    assert(names(dir).toSet === dirs + "manifest-v2.json")
    // no temp file anywhere under the table
    val all = Files.walk(Paths.get(dir)).toArray.map(_.asInstanceOf[Path]
      .getFileName.toString)
    assert(!all.exists(n => n.contains("tmp") || n.contains("_manifest")), all.toSeq)
    assert(rowsOf(t) === rows.toMap ++ Map("id-1" -> -1, "id-2" -> -2))
    assert(t.rowCount === 40L)
  }

  test("a table in an older manifest format fails loudly") {
    val dir = Files.createTempDirectory("oldfmt").toString
    Files.write(Paths.get(dir, "_latest"), "3".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "manifest-v3.json"),
      """{"0":"v3","1":"v2"}""".getBytes("UTF-8"))
    val t = GraftTable(spark, dir, spec, 2)
    val e = intercept[IllegalStateException](t.rowCount)
    assert(e.getMessage.contains(dir) && e.getMessage.contains("version 3"),
      e.getMessage)
    intercept[IllegalStateException](t.merge(Seq(("a", 1)).toDF("id", "v")))
  }

  test("a multi-bucket table refuses a merge keyed on other columns") {
    val dir = Files.createTempDirectory("keys").toString
    GraftTable(spark, dir, spec, 4).merge(Seq(("a", 1)).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](GraftTable(spark, dir,
      MergeSpec(Seq("v"))).merge(Seq(("b", 2)).toDF("id", "v")))
    assert(e.getMessage.contains("bucketed by"), e.getMessage)
  }

  test("a bucket count below one is rejected") {
    intercept[IllegalArgumentException](
      GraftTable(spark, Files.createTempDirectory("b0").toString, spec, 0))
  }

  test("a merge that adds a column keeps it in every later read and merge") {
    val dir = Files.createTempDirectory("evolve").toString
    val t = GraftTable(spark, dir, spec, 4)
    t.merge((1 to 40).map(i => (s"id-$i", i)).toDF("id", "a"))
    // touches one bucket; the other three stay at version 0, without `b`
    t.merge(Seq(("id-1", 1, "x")).toDF("id", "a", "b"))
    val v1 = t.read()
    assert(v1.columns.toSet === Set("id", "a", "b"))
    assert(v1.filter(col("b") === "x").count() === 1)
    assert(v1.count() === 40)
    // a merge touching buckets of both versions keeps `b` and its value
    t.merge((2 to 40).map(i => (s"id-$i", -i)).toDF("id", "a"))
    val v2 = t.read()
    assert(v2.columns.toSet === Set("id", "a", "b"))
    assert(v2.filter(col("id") === "id-1").select("b").head().getString(0)
      === "x")
    assert(v2.filter(col("a") < 0).count() === 39)
    assert(t.rowCount === 40L)
  }

  private def manifests(dir: String): Set[String] =
    names(dir).filter(_.startsWith("manifest-v")).toSet

  private def bucketDirs(dir: String, v: Int): Set[Int] =
    names(s"$dir/v$v").filter(_.startsWith("__b=")).map(_.drop(4).toInt).toSet

  /** The bucket of each of `ids` in a `n`-bucket table keyed on `id`. */
  private def bucketOf(ids: Seq[String], n: Int): Map[String, Int] =
    ids.toDF("id").select(col("id"), pmod(xxhash64(col("id")), lit(n)))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap

  test("merge with deletes on a 16-bucket table commits one version") {
    val dir = Files.createTempDirectory("mergedel").toString
    val t = GraftTable(spark, dir, spec, 16)
    val ids = (1 to 100).map(i => s"id-$i")
    t.merge(ids.map(i => (i, 0)).toDF("id", "v"))
    val bucket = bucketOf(ids, 16)
    // one id upserted, one upserted AND deleted in the same bucket, and
    // one deleted in a bucket no upsert touches
    val up = "id-1"
    val both = ids.find(i => i != up && bucket(i) == bucket(up)).get
    val far = ids.find(i => bucket(i) != bucket(up)).get
    val before = manifests(dir)
    t.merge(Seq((up, 1), (both, 1), ("id-new", 1)).toDF("id", "v"),
      Some(Seq(both, far).toDF("id")))
    assert(t.currentVersion === Some(1))
    assert(manifests(dir) -- before === Set("manifest-v1.json"))
    val rows = t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(!rows.contains(both) && !rows.contains(far))
    assert(rows(up) === 1 && rows("id-new") === 1)
    assert(rows.size === 99)
    assert(t.rowCount === 99L)
    // only the buckets of the batch's keys and of the ids were rewritten
    val touched = Set(bucket(up), bucket(far)) ++ bucketOf(Seq("id-new"), 16).values
    assert(bucketDirs(dir, 1) === touched)
  }

  test("the first write to a new table honours the deleted ids") {
    val dir = Files.createTempDirectory("firstdel").toString
    val t = GraftTable(spark, dir, spec, 16)
    t.merge(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v"),
      Some(Seq("b", "zz").toDF("id")))
    assert(t.currentVersion === Some(0))
    assert(manifests(dir) === Set("manifest-v0.json"))
    assert(t.read().collect().map(_.getString(0)).toSet === Set("a", "c"))
    assert(t.rowCount === 2L)
  }

  test("merge with deletes on a composite-key table rewrites every bucket") {
    val dir = Files.createTempDirectory("compdel").toString
    val comp = MergeSpec(Seq("id", "k"))
    val t = GraftTable(spark, dir, comp, 16)
    t.merge((1 to 200).map(i => (s"id-$i", i % 3, i)).toDF("id", "k", "v"))
    assert(bucketDirs(dir, 0).size === 16)
    t.merge(Seq(("id-1", 1, -1)).toDF("id", "k", "v"),
      Some(Seq("id-2", "id-3").toDF("id")))
    assert(t.currentVersion === Some(1))
    assert(manifests(dir) === Set("manifest-v0.json", "manifest-v1.json"))
    assert(bucketDirs(dir, 1).size === 16)
    val rows = t.read()
    assert(rows.filter(col("id").isin("id-2", "id-3")).count() === 0)
    assert(rows.filter(col("id") === "id-1").select("v").head().getInt(0) === -1)
    assert(t.rowCount === 198L)
  }

  private def rowsOf(t: GraftTable): Map[String, Int] =
    t.read().collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("an empty table takes its bucket count from its first data commit") {
    val dir = Files.createTempDirectory("emptyfirst").toString
    GraftTable(spark, dir, spec, 1).merge(Seq.empty[(String, Int)].toDF("id", "v"))
    assert(GraftTableSpec.manifestBuckets(dir) === 1)
    val t = GraftTable(spark, dir, spec, buckets = 4)
    val rows = (1 to 40).map(i => s"id-$i" -> i)
    t.merge(rows.toDF("id", "v"))
    assert(GraftTableSpec.manifestBuckets(dir) === 4)
    assert(bucketDirs(dir, 1) === bucketOf(rows.map(_._1), 4).values.toSet)
    assert(rowsOf(t) === rows.toMap)
    assert(t.rowCount === 40L)
    // once it holds rows, the manifest's count wins over the caller's
    GraftTable(spark, dir, spec, 16).merge(Seq(("id-1", -1)).toDF("id", "v"))
    assert(GraftTableSpec.manifestBuckets(dir) === 4)
    assert(bucketDirs(dir, 2) === bucketOf(Seq("id-1"), 4).values.toSet)
    assert(rowsOf(t) === rows.toMap + ("id-1" -> -1))
  }

  test("optimize re-derives the bucket count from the row count") {
    val dir = Files.createTempDirectory("optsize").toString
    val t = GraftTable(spark, dir, spec, 16)
    val rows = (1 to 20).map(i => s"id-$i" -> i)
    t.merge(rows.toDF("id", "v"))
    assert(GraftTableSpec.manifestBuckets(dir) === 16)
    assert(bucketDirs(dir, 0).size > 1)
    t.optimize()
    assert(t.currentVersion === Some(1))
    assert(GraftTableSpec.manifestBuckets(dir) === 1)
    assert(bucketDirs(dir, 1) === Set(0))
    assert(rowsOf(t) === rows.toMap)
    assert(t.rowCount === 20L)
    // the next merge rewrites that one bucket
    t.merge(Seq(("id-1", -1), ("id-99", 99)).toDF("id", "v"))
    assert(GraftTableSpec.manifestBuckets(dir) === 1)
    assert(bucketDirs(dir, 2) === Set(0))
    assert(rowsOf(t) === rows.toMap ++ Map("id-1" -> -1, "id-99" -> 99))
    assert(t.rowCount === 21L)
  }
}

object GraftTableSpec {
  /** The bucket count the latest (highest) manifest of the table at
    * `dir` records.
    */
  def manifestBuckets(dir: String): Int = {
    val listing = Files.list(Paths.get(dir))
    val v = try listing.toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .collect { case s"manifest-v$n.json" => n.toInt }.max
    finally listing.close()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(dir, s"manifest-v$v.json")))
      .get("buckets").asInt()
  }
}
