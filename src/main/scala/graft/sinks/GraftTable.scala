package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.operators.{MergeOps, Sizing}
import graft.operators.MergeOps.MergeSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned parquet merge table — the engine's sink, with the merge
  * semantics of the reference's Delta Lake sink
  * (formats/deltalake.py:92-168, K1-K4): idempotent keyed merge,
  * delete-by-id, compaction, vacuum, metadata row count.
  *
  * == On-disk format ==
  *
  * Rows live in key-hash buckets (`__b = pmod(xxhash64(keys), buckets)`).
  * A version `N` is its data under `v{N}/__b=K/` plus ONE file,
  * `manifest-v{N}.json`, holding:
  *  - `buckets`: the bucket count. The first commit that writes rows
  *    fixes it (an empty table takes the count its first data commit
  *    is opened with), and only [[optimize]] changes it later;
  *  - `keys`: the merge keys the buckets hash;
  *  - `dirs`: bucket → the version dir that last rewrote it;
  *  - `counts`: bucket → row count (the role Delta's log stats play, so
  *    [[rowCount]] never opens a data file);
  *  - `schema`: the table schema, which also serves an empty table and
  *    types the key probes.
  *
  * A commit is two steps. [[stage]] writes the version's data under
  * `v{N}`, reads its footers and builds the manifest in memory;
  * [[GraftTable.Staged.publish]] writes the manifest and atomically
  * moves the `_latest` pointer to the new version. Readers follow the
  * pointer, so they never see a partial write and keep their version
  * while a writer commits (the snapshot contract Delta's log gives).
  * Files of a version the pointer never reached (a staged version never
  * published, or a crashed commit) are ignored; the next commit
  * overwrites them and [[vacuum]] removes them. Publish first checks
  * that the table is still at the version the stage was built on, and
  * throws if another commit moved it: it never replaces a committed
  * version. The check is not a lock, so two writers must not commit one
  * table at the same time.
  *
  * Every mutation is ONE commit: a merge that also deletes ids (an ETL
  * task's batch with its export's deleted ids, a replayed batch with
  * its sidecar's) rewrites each touched bucket once, in one version.
  *
  * A merge reads and rewrites ONLY the buckets its update rows and its
  * deleted ids hash into; untouched buckets are carried forward by
  * reference in the manifest, so rewrite cost follows the touched data,
  * not the table size (the liquid-clustering role of the reference's
  * `clusterBy(uniqueness_fields)`, deltalake.py:105). Bucket id is a pure
  * function of the merge key, so matching target/update rows always
  * share a bucket and per-bucket merging is exactly global merging.
  * Tables opened without a bucket count get one bucket; the ETL sizes a
  * new resource table from its rows (`Sizing.tableBuckets`), so a small
  * table is one bucket and a merge into it one file. Group-replace
  * merges (`groupField` set) and composite-key deletes rewrite every
  * bucket: group membership and a single id column are orthogonal to
  * the key hash, so they may touch any bucket.
  */
final class GraftTable(
    spark: SparkSession,
    path: String,
    spec: MergeSpec,
    buckets: Int = 1
) {
  require(buckets >= 1, s"GraftTable $path: buckets must be >= 1, got $buckets")

  private val mapper = new ObjectMapper()

  private case class Manifest(
      version: Int,
      buckets: Int,
      keys: Seq[String],
      dirs: Map[Int, String],
      counts: Map[Int, Long],
      schema: StructType
  ) {
    def all: Set[Int] = (0 until buckets).toSet
    def rows: Long = counts.values.sum
  }

  private def latestFile = Paths.get(path, "_latest")
  private def manifestFile(v: Int) = Paths.get(path, s"manifest-v$v.json")

  def currentVersion: Option[Int] =
    if (Files.exists(latestFile))
      Some(new String(Files.readAllBytes(latestFile), "UTF-8").trim.toInt)
    else None

  def exists: Boolean = currentVersion.isDefined

  private def manifest(v: Int): Manifest = {
    val p = manifestFile(v)
    if (!Files.exists(p))
      throw new IllegalArgumentException(
        s"version $v of GraftTable $path is gone (vacuumed?)")
    val node = mapper.readTree(Files.readAllBytes(p))
    def field(name: String): JsonNode = Option(node.get(name)).getOrElse(
      throw new IllegalStateException(
        s"GraftTable $path version $v: manifest has no '$name' field"))
    def byBucket[A](name: String)(f: JsonNode => A): Map[Int, A] =
      field(name).fields().asScala.map(e => e.getKey.toInt -> f(e.getValue)).toMap
    Manifest(v, field("buckets").asInt(),
      field("keys").elements().asScala.map(_.asText()).toSeq,
      byBucket("dirs")(_.asText()),
      byBucket("counts")(_.asLong()),
      DataType.fromJson(field("schema").toString).asInstanceOf[StructType])
  }

  private def latest: Option[Manifest] = currentVersion.map(manifest)

  private def current: Manifest = latest.getOrElse(
    throw new IllegalStateException(s"GraftTable $path has no data yet"))

  /** The rows of `which` buckets of the version `m` describes, read
    * with the manifest's schema: buckets last rewritten by different
    * versions may hold different columns, and no file is opened to
    * infer it.
    */
  private def snapshot(m: Manifest, which: Set[Int]): DataFrame = {
    val dirs = m.dirs.toSeq.filter(e => which(e._1)).sortBy(_._1)
      .map { case (b, dir) => s"$path/$dir/__b=$b" }
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else spark.read.schema(m.schema).parquet(dirs: _*)
  }

  def read(): DataFrame = {
    val m = current
    snapshot(m, m.all)
  }

  /** Time travel: read a specific historical version (available until
    * [[vacuum]] drops it) — the reference's tests read Delta tables
    * with time travel the same way (tests/utils.py:188-210).
    */
  def readVersion(version: Int): DataFrame = {
    val m = manifest(version)
    snapshot(m, m.all)
  }

  /** Data-skipping point-lookup read: hash the requested key tuples to
    * their buckets, scan ONLY those buckets' files, and semi-join down
    * to the exact keys — the read-side counterpart of the merge path's
    * touched-bucket pruning (the role Delta's file-stats skipping
    * plays for key lookups). On a 1024-bucket table a 10-key probe
    * reads ≤10/1024ths of the data regardless of table size. The probe
    * is broadcast — point lookups are small by contract (large probes
    * should join against [[read]] instead).
    */
  def readForKeys(keyValues: DataFrame): DataFrame = {
    val m = current
    val probe = keyValues.select(spec.keys.map(k => keyCol(m, k, col(k))): _*)
      .distinct()
    snapshot(m, bucketsOf(m, probe)).join(broadcast(probe), spec.keys, "left_semi")
  }

  /** Exact current row count from the manifest — no file is opened. */
  def rowCount: Long = current.rows

  /** K1/J1-J3 + K3: merge a batch in and delete `deletes`' ids (a
    * single-column frame) as ONE version: [[stage]], then publish.
    */
  def merge(updates: DataFrame, deletes: Option[DataFrame] = None): Unit =
    stage(updates, deletes).publish()

  /** The version [[merge]] commits, staged and not yet visible: the
    * result is `deleteByIds(merge(snapshot(touched), updates), ids)`, so
    * an id both upserted and deleted ends absent. `touched` is every
    * bucket the batch's keys or the ids hash into, found by one probe
    * job over their union. The first write creates the table from the
    * batch less the ids. A table that holds no rows yet (as `Init`
    * leaves it) commits with this table's bucket count, not its
    * manifest's.
    */
  def stage(updates: DataFrame, deletes: Option[DataFrame] = None)
      : GraftTable.Staged =
    latest match {
      case None =>
        val key = spec.keys.head
        val rows = deletes.fold(updates) { ids =>
          MergeOps.deleteByIds(updates, key,
            ids.select(col(ids.columns.head).cast(updates.schema(key).dataType)))
        }
        stageVersion(None, rows, buckets, (0 until buckets).toSet)
      case Some(m) =>
        val ids = deletes.map(idsOf(m, _))
        val empty = m.rows == 0L
        val touched =
          if (empty || spec.groupField.isDefined ||
            (ids.isDefined && spec.keys.length > 1)) m.all
          else {
            val keys = updates.select(spec.keys.map(k => keyCol(m, k, col(k))): _*)
            bucketsOf(m, ids.fold(keys)(keys.union))
          }
        val merged = MergeOps.merge(snapshot(m, touched), updates, spec)
        stageVersion(Some(m),
          ids.fold(merged)(MergeOps.deleteByIds(merged, spec.keys.head, _)),
          if (empty) buckets else m.buckets, touched)
    }

  /** K3: delete by id values (single-column DataFrame) on their own
    * version. Only the buckets the ids hash into are read and
    * rewritten; a composite-key table rewrites every bucket.
    */
  def deleteIds(ids: DataFrame): Unit = latest.foreach { m =>
    val keyed = idsOf(m, ids)
    val touched = if (spec.keys.length > 1) m.all else bucketsOf(m, keyed)
    stageVersion(Some(m), MergeOps.deleteByIds(snapshot(m, touched),
      spec.keys.head, keyed), m.buckets, touched).publish()
  }

  /** `ids`' one column as the table's first key, cast to its type. */
  private def idsOf(m: Manifest, ids: DataFrame): DataFrame =
    ids.select(keyCol(m, spec.keys.head, col(ids.columns.head)))

  /** K4: compaction — rewrite every bucket, one file each, into one new
    * version, which collapses the manifest's version spread. The bucket
    * count is derived again from the manifest's row count
    * (`Sizing.tableBuckets`): since every bucket is rewritten anyway,
    * this is where a table that started small grows, and where one
    * created with more buckets than its rows need shrinks.
    */
  def optimize(): Unit = latest.foreach { m =>
    val n = Sizing.tableBuckets(m.rows)
    val all = snapshot(m, m.all)
    stageVersion(Some(m), if (n == 1) all.repartition(1) else all, n, m.all)
      .publish()
  }

  /** K4: drop version directories and manifests the latest version does
    * not reference.
    */
  def vacuum(): Unit = currentVersion.foreach { keep =>
    val live = manifest(keep).dirs.values.toSet
    GraftTable.listDir(Paths.get(path)).foreach { p =>
      val name = p.getFileName.toString
      if (name.matches("v\\d+") && !live(name))
        GraftTable.deleteRecursively(p)
      if (name.startsWith("manifest-v") && name != s"manifest-v$keep.json")
        Files.deleteIfExists(p)
    }
  }

  private def bucketCol(n: Int) =
    pmod(xxhash64(spec.keys.map(col): _*), lit(n)).cast("int")

  /** `c` cast to the table's type for key `k` and named `k`: xxhash64
    * hashes e.g. Int and Long differently, so an uncast probe would
    * land in the wrong buckets.
    */
  private def keyCol(m: Manifest, k: String, c: org.apache.spark.sql.Column) =
    c.cast(m.schema(k).dataType).as(k)

  /** The buckets `df`'s key rows hash into; every bucket when there is
    * only one, without running a job.
    */
  private def bucketsOf(m: Manifest, df: DataFrame): Set[Int] =
    if (m.buckets == 1) m.all
    else {
      require(m.keys == spec.keys,
        s"GraftTable $path is bucketed by ${m.keys}, not ${spec.keys}")
      df.select(bucketCol(m.buckets)).distinct().collect()
        .map(_.getInt(0)).toSet
    }

  /** Stage the next version of an `n`-bucket table: `df` holds the new
    * rows of the `rewritten` buckets, every other bucket of `prev` is
    * carried forward. A version that changes the count must rewrite
    * every bucket of `prev`. On a multi-bucket table the co-locating
    * repartition writes one file per bucket, and sizing it by the
    * buckets written keeps an incremental merge from launching a write
    * task per bucket of the TABLE. A one-bucket table skips it: its
    * every commit rewrites the whole table, so each write task keeps its
    * own file in `__b=0` and the write stays parallel.
    */
  private def stageVersion(prev: Option[Manifest], df: DataFrame, n: Int,
      rewritten: Set[Int]): GraftTable.Staged = {
    val resized = prev.exists(_.buckets != n)
    val next = prev.fold(0)(_.version + 1)
    val dir = s"$path/v$next"
    val bucketed = df.withColumn("__b", bucketCol(n))
    (if (n == 1) bucketed
     else bucketed.repartition(
       if (resized) n else math.max(1, rewritten.size), col("__b")))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)
    val carried = prev.toSeq.flatMap(m => (m.dirs.keySet -- rewritten)
      .toSeq.map(b => (b, m.dirs(b), m.counts(b))))
    val written = footerRecordCounts(dir).toSeq
      .map { case (b, c) => (b, s"v$next", c) }
    val node = mapper.createObjectNode()
    node.put("buckets", n)
    val keys = node.putArray("keys")
    spec.keys.foreach(keys.add)
    val dirs = node.putObject("dirs")
    val counts = node.putObject("counts")
    val all = (carried ++ written).sortBy(_._1)
    all.foreach { case (b, d, c) =>
      dirs.put(b.toString, d)
      counts.put(b.toString, c)
    }
    node.set[JsonNode]("schema", mapper.readTree(df.schema.json))
    new GraftTable.Staged(this, prev.map(_.version), next,
      mapper.writeValueAsBytes(node), all.map(_._3).sum)
  }

  /** Make staged version `v` the latest, if the table is still at
    * `base`, the version it was staged on.
    */
  private def publish(base: Option[Int], v: Int, manifestJson: Array[Byte])
      : Unit = {
    val now = currentVersion
    if (now != base)
      throw new IllegalStateException(s"GraftTable $path moved to version " +
        s"${now.getOrElse("none")} while version $v was staged on " +
        s"${base.getOrElse("none")}; not published")
    Files.write(manifestFile(v), manifestJson)
    val tmp = Paths.get(path, "_latest.tmp")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, latestFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Footer record counts per bucket of ONE version dir — IO ∝ the
    * buckets that version wrote, never the whole table.
    */
  private def footerRecordCounts(versionDir: String): Map[Int, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val base = new org.apache.hadoop.fs.Path(versionDir)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) Map.empty
    else fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__b="))
      .map { d =>
        val files = fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val n = java.util.Arrays.stream(files).parallel().mapToLong { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum()
        d.getPath.getName.drop(4).toInt -> n
      }.toMap
  }
}

object GraftTable {
  /** A version of `table` written under `v{version}` with its manifest
    * built, on top of version `base` (`None`: the table's first). It is
    * invisible to every reader until [[publish]].
    */
  final class Staged private[GraftTable] (table: GraftTable,
      base: Option[Int], version: Int, manifestJson: Array[Byte],
      rows: Long) {
    /** Write the manifest and move `_latest` to this version; the row
      * count its manifest records. Throws, and changes nothing, when
      * another commit has moved the table off `base`.
      */
    def publish(): Long = {
      table.publish(base, version, manifestJson)
      rows
    }
  }

  /** The entries of directory `p`. `Files.list` holds a directory
    * handle open until its stream is closed; this closes it.
    */
  private[graft] def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val entries = Files.list(p)
    try entries.iterator().asScala.toVector finally entries.close()
  }

  /** Delete a file, or a directory with everything under it. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** `buckets` sets the key-hash bucket count of a new table, or of one
    * that holds no rows yet (see the class doc); a table with rows keeps
    * the count its manifest records.
    */
  def apply(spark: SparkSession, path: String, spec: MergeSpec,
      buckets: Int = 1): GraftTable =
    new GraftTable(spark, path, spec, buckets)
}
