package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.operators.MergeOps
import graft.operators.MergeOps.MergeSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned parquet merge table — the engine's sink, with the merge
  * semantics of the reference's Delta Lake sink
  * (formats/deltalake.py:92-168, K1-K4): idempotent keyed merge,
  * delete-by-id, compaction, vacuum, metadata row count.
  *
  *  - each mutation writes a NEW version directory `v{N}` then atomically
  *    publishes it via a `_latest` pointer file (readers never see
  *    partial writes; concurrent readers keep their version — the same
  *    snapshot-isolation contract Delta's log gives)
  *  - merge = read-current ⋈ updates via MergeOps (one shuffle)
  *  - optimize() rewrites the current version with right-sized files
  *    (compaction, K4); vacuum() drops versions unreferenced by the
  *    latest manifest
  *
  * == Bucketed incremental layout (the 100 TB path) ==
  *
  * With `buckets > 0` and no group field, rows are laid out in
  * key-hash buckets (`__b = pmod(xxhash64(keys), buckets)`) and each
  * version's manifest maps every bucket to the version directory that
  * last rewrote it. A merge then reads ONLY the buckets its update rows
  * hash into and rewrites only those; untouched buckets are carried
  * forward by reference in the manifest. Rewrite cost is proportional
  * to touched data — a small incremental batch against a huge table no
  * longer rewrites the table (the liquid-clustering role of the
  * reference's `clusterBy(uniqueness_fields)`, deltalake.py:105).
  * Since bucket id is a pure function of the merge key, matching
  * target/update rows always share a bucket, so per-bucket merging is
  * exactly global merging. Group-replace tables (`groupField` set) use
  * the whole-snapshot path: group membership is orthogonal to key
  * hashes, so group deletes may touch any bucket.
  */
final class GraftTable(
    spark: SparkSession,
    path: String,
    spec: MergeSpec,
    buckets: Int = 0
) {

  private val mapper = new ObjectMapper()

  private def latestFile = Paths.get(path, "_latest")
  private def manifestFile(v: Int) = Paths.get(path, s"manifest-v$v.json")
  private def layoutFile = Paths.get(path, "_layout.json")
  // per-bucket row counts sidecar (the role Delta's log stats play):
  // written incrementally by publishBuckets — O(touched buckets) footer
  // reads per mutation — so rowCount never walks the full file set
  private def countsFile(v: Int) = Paths.get(path, s"counts-v$v.json")
  // schema sidecar per bucketed version: a zero-row merge (init-created
  // table, §2.2 init) writes no __b partition dirs, so the schema must
  // survive outside the (absent) parquet footers
  private def schemaFile(v: Int) = Paths.get(path, s"schema-v$v.json")

  private def emptyFromSchema(v: Int): DataFrame = {
    val json = new String(Files.readAllBytes(schemaFile(v)), "UTF-8")
    val schema = org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def currentVersion: Option[Int] =
    if (Files.exists(latestFile))
      Some(new String(Files.readAllBytes(latestFile), "UTF-8").trim.toInt)
    else None

  def exists: Boolean = currentVersion.isDefined

  /** Bucket count for WRITES: a persisted layout wins (any instance
    * opening the table inherits it); an existing layout-less table stays
    * whole-snapshot regardless of the constructor (never reinterpret
    * legacy data); a fresh table takes the constructor's value. READS
    * never consult this — manifest presence per version decides.
    */
  private lazy val effectiveBuckets: Int =
    if (Files.exists(layoutFile))
      mapper.readTree(Files.readAllBytes(layoutFile)).get("buckets").asInt()
    else if (exists) 0
    else buckets

  private def bucketed: Boolean =
    effectiveBuckets > 0 && spec.groupField.isEmpty

  private def bucketCol =
    pmod(xxhash64(spec.keys.map(col): _*), lit(effectiveBuckets))

  /** bucket → version-dir name currently holding that bucket's data. */
  private def manifest(v: Int): Map[Int, String] = {
    val p = manifestFile(v)
    if (!Files.exists(p)) Map.empty
    else {
      val node = mapper.readTree(Files.readAllBytes(p))
      val out = scala.collection.mutable.Map[Int, String]()
      node.fields().forEachRemaining { e =>
        out(e.getKey.toInt) = e.getValue.asText()
      }
      out.toMap
    }
  }

  private def bucketDirs(v: Int): Seq[String] =
    manifest(v).toSeq.sortBy(_._1).map { case (b, dir) =>
      s"$path/$dir/__b=$b"
    }

  def read(): DataFrame = currentVersion match {
    case Some(v) if Files.exists(manifestFile(v)) =>
      val dirs = bucketDirs(v)
      if (dirs.isEmpty) emptyFromSchema(v)
      else spark.read.parquet(dirs: _*)
    case Some(v) => spark.read.parquet(s"$path/v$v")
    case None =>
      throw new IllegalStateException(s"GraftTable $path has no data yet")
  }

  /** Time travel: read a specific historical version (available until
    * [[vacuum]] drops it) — the reference's tests read Delta tables
    * with time travel the same way (tests/utils.py:188-210).
    */
  def readVersion(version: Int): DataFrame =
    if (Files.exists(manifestFile(version))) {
      val dirs = bucketDirs(version)
      if (dirs.isEmpty) emptyFromSchema(version)
      else spark.read.parquet(dirs: _*)
    }
    else if (Files.exists(layoutFile))
      // bucketed table without this version's manifest: the version dir
      // (if still present) holds only the buckets THAT version rewrote,
      // not the full snapshot — never fall back to a partial read
      throw new IllegalArgumentException(
        s"version $version of bucketed table $path is gone (vacuumed?)")
    else {
      val dir = Paths.get(path, s"v$version")
      if (!Files.exists(dir))
        throw new IllegalArgumentException(
          s"version $version of $path does not exist (vacuumed?)")
      spark.read.parquet(dir.toString)
    }

  /** Data-skipping point-lookup read: hash the requested key tuples to
    * their buckets, scan ONLY those buckets' files, and semi-join down
    * to the exact keys — the read-side counterpart of the merge path's
    * touched-bucket pruning (the role Delta's file-stats skipping
    * plays for key lookups). On a 1024-bucket table a 10-key probe
    * reads ≤10/1024ths of the data regardless of table size;
    * non-bucketed snapshots degrade to a full scan + the same
    * semi-join. The probe is broadcast — point lookups are small by
    * contract (large probes should join against [[read]] instead).
    */
  /** The current schema read from ONE existing data directory — never
    * lists every bucket, so point lookups stay prunable even when
    * other buckets' storage is unavailable.
    */
  private def schemaFromOneDir: org.apache.spark.sql.types.StructType =
    currentVersion match {
      case Some(v) if Files.exists(manifestFile(v)) =>
        bucketDirs(v).find(d => Files.exists(Paths.get(d))) match {
          case Some(d) => spark.read.parquet(d).schema
          case None => read().schema // empty table: surface read()'s error
        }
      case _ => read().schema
    }

  def readForKeys(keyValues: DataFrame): DataFrame = {
    // cast the probe to the TABLE's key types before hashing:
    // xxhash64 hashes e.g. Int and Long differently, so an uncast
    // probe would prune to the wrong buckets and silently return
    // nothing (same discipline as deleteIds)
    val schema = schemaFromOneDir
    val keyTypes = spec.keys.map(k => k -> schema(k).dataType).toMap
    val probe = keyValues
      .select(spec.keys.map(k => col(k).cast(keyTypes(k)).as(k)): _*)
      .distinct()
    val base = currentVersion match {
      case Some(v) if Files.exists(manifestFile(v)) &&
          effectiveBuckets > 0 =>
        readBuckets(manifest(v), touchedBuckets(probe))
      case _ => read()
    }
    base.join(broadcast(probe), spec.keys, "left_semi")
  }

  /** Exact current row count from parquet FOOTERS only — no data scan
    * (the role Delta's transaction-log stats play; a production bucket
    * count would persist these in the manifest instead of re-reading
    * footers, but either way counting never touches row data).
    */
  def rowCount: Long = {
    val dirs: Seq[String] = currentVersion match {
      case Some(v) if Files.exists(countsFile(v)) =>
        // maintained sidecar: O(1) — the 100 TB path (10⁵ buckets would
        // otherwise mean 10⁵ footer opens per completion record)
        return readCounts(v).map(_.values.sum).getOrElse(0L)
      case Some(v) if Files.exists(manifestFile(v)) => bucketDirs(v)
      case Some(v) => Seq(s"$path/v$v")
      case None =>
        throw new IllegalStateException(s"GraftTable $path has no data yet")
    }
    val conf = spark.sessionState.newHadoopConf()
    val files = dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    }
    // footer opens are driver-side IO — read them concurrently
    java.util.Arrays.stream(files.toArray).parallel().mapToLong { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum()
  }

  private def readCounts(v: Int): Option[Map[Int, Long]] =
    if (!Files.exists(countsFile(v))) None
    else {
      val node = mapper.readTree(Files.readAllBytes(countsFile(v)))
      val out = scala.collection.mutable.Map[Int, Long]()
      node.fields().forEachRemaining(e =>
        out(e.getKey.toInt) = e.getValue.asLong())
      Some(out.toMap)
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
        val b = d.getPath.getName.drop(4).toInt
        val files = fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val n = java.util.Arrays.stream(files).parallel().mapToLong { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum()
        b -> n
      }.toMap
  }

  /** All retained version numbers, oldest first. */
  def versions: Seq[Int] = {
    val dir = Paths.get(path)
    if (!Files.exists(dir)) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      Files.list(dir).forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit))
          out += n.drop(1).toInt
      }
      out.sorted.toSeq
    }
  }

  /** K1/J1-J3: merge a batch in. First write creates the table. */
  def merge(updates: DataFrame): Unit =
    if (!bucketed) currentVersion match {
      case None => publish(updates)
      case Some(_) => publish(MergeOps.merge(read(), updates, spec))
    }
    else currentVersion match {
      case None => publishBuckets(updates, carryFrom = Map.empty)
      case Some(v) =>
        val prev = manifest(v)
        val touched = touchedBuckets(updates)
        val targetTouched = readBuckets(prev, touched)
        val merged = MergeOps.merge(targetTouched, updates, spec)
        // merged rows all hash into `touched` (update keys define it)
        publishBuckets(merged, carryFrom = prev -- touched,
          expectedBuckets = touched.size)
    }

  /** K3: delete by id values (single-column DataFrame). Bucketed: only
    * the buckets the ids hash into are read and rewritten.
    */
  def deleteIds(ids: DataFrame): Unit =
    if (exists) {
      if (!bucketed)
        publish(MergeOps.deleteByIds(read(), spec.keys.head, ids))
      else if (spec.keys.length > 1) {
        // a single id column can't locate buckets keyed on a composite
        // hash — process every bucket (correctness over incrementality)
        publishBuckets(
          MergeOps.deleteByIds(read(), spec.keys.head, ids),
          carryFrom = Map.empty)
      } else {
        val v = currentVersion.get
        val prev = manifest(v)
        val idCol = ids.columns.head
        // hash EXACTLY as bucketCol does: same column name and same
        // type as the table key, else the probe lands in wrong buckets
        val keyType = read().schema(spec.keys.head).dataType
        val keyed = ids.select(
          col(idCol).cast(keyType).as(spec.keys.head))
        val touched = keyed
          .select(bucketCol.cast("int").as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val remaining = MergeOps.deleteByIds(
          readBuckets(prev, touched), spec.keys.head, keyed)
        publishBuckets(remaining, carryFrom = prev -- touched,
          expectedBuckets = touched.size)
      }
    }

  /** K4: compaction — rewrite current data with right-sized files
    * (bucketed tables compact every bucket into the new version, which
    * also collapses the manifest's version spread).
    */
  def optimize(numFiles: Int = 1): Unit =
    if (exists) {
      if (!bucketed) publish(read().repartition(numFiles))
      else publishBuckets(read(), carryFrom = Map.empty)
    }

  /** K4: drop version directories unreferenced by the latest state. */
  def vacuum(): Unit = currentVersion.foreach { keep =>
    val live: Set[String] =
      if (Files.exists(manifestFile(keep))) manifest(keep).values.toSet
      else Set(s"v$keep")
    val dir = Paths.get(path)
    if (Files.exists(dir)) {
      Files.list(dir).forEach { p =>
        val name = p.getFileName.toString
        val isVersionDir =
          name.startsWith("v") && name.drop(1).forall(_.isDigit)
        if (isVersionDir && !live.contains(name)) deleteRecursively(p)
        // stale manifests/schemas of vacuumed versions
        if (name.startsWith("manifest-v") &&
          name != s"manifest-v$keep.json") Files.deleteIfExists(p)
        if (name.startsWith("schema-v") &&
          name != s"schema-v$keep.json") Files.deleteIfExists(p)
        if (name.startsWith("counts-v") &&
          name != s"counts-v$keep.json") Files.deleteIfExists(p)
      }
    }
  }

  private def touchedBuckets(updates: DataFrame): Set[Int] =
    updates.select(bucketCol.cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet

  private def readBuckets(m: Map[Int, String], which: Set[Int]): DataFrame = {
    val dirs = m.collect {
      case (b, dir) if which.contains(b) => s"$path/$dir/__b=$b"
    }.toSeq
    if (dirs.isEmpty)
      // no existing data in the touched buckets → empty target with the
      // current schema (preserves insert path + schema evolution)
      read().limit(0)
    else spark.read.parquet(dirs: _*)
  }

  /** Write `df`'s rows into `v{next}` partitioned by bucket, publish a
    * manifest = carryFrom ++ (df's buckets → v{next}).
    */
  /** @param expectedBuckets upper bound on how many distinct buckets
    *   `df` writes — sizes the co-locating repartition. All rows of a
    *   bucket hash to ONE partition at any width, so one-file-per-
    *   bucket holds at any value; an incremental merge passing
    *   touched.size avoids launching `effectiveBuckets` write tasks
    *   (1595 of them empty for a 5-row batch at 1600 buckets — a
    *   task-count cost that grows with the TABLE, not the batch).
    */
  private def publishBuckets(df: DataFrame, carryFrom: Map[Int, String],
      expectedBuckets: Int = Int.MaxValue): Unit = {
    val next = currentVersion.map(_ + 1).getOrElse(0)
    val dir = s"$path/v$next"
    // co-locate each bucket's rows before the partitioned write: one
    // file per bucket instead of (write tasks × buckets) small files —
    // the compaction Delta's OPTIMIZE does, done at write time
    df.withColumn("__b", bucketCol)
      .repartition(math.max(1, math.min(effectiveBuckets, expectedBuckets)),
        col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(dir)
    // buckets actually written = __b=K subdirs present on disk
    val written = {
      val d = Paths.get(dir)
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      if (Files.exists(d)) Files.list(d).forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("__b=")) out += n.drop(4).toInt
      }
      out.toSet
    }
    val newManifest: Map[Int, String] =
      carryFrom ++ written.map(_ -> s"v$next").toMap
    // row-count sidecar: new buckets counted from THIS version's
    // footers (IO ∝ touched), carried buckets inherit their previous
    // counts. A legacy table (no previous sidecar) under a carry-
    // forward mutation stays legacy until the next full rewrite
    // (optimize/cold) seeds the sidecar.
    val prevCounts: Option[Map[Int, Long]] =
      if (carryFrom.isEmpty) Some(Map.empty)
      else currentVersion.flatMap(readCounts)
    val newCounts: Option[Map[Int, Long]] = prevCounts.flatMap { pc =>
      if (!carryFrom.keys.forall(pc.contains)) None
      else Some(carryFrom.keys.map(b => b -> pc(b)).toMap ++
        footerRecordCounts(dir))
    }
    val node = mapper.createObjectNode()
    newManifest.toSeq.sortBy(_._1).foreach { case (b, d) =>
      node.put(b.toString, d)
    }
    Files.createDirectories(Paths.get(path))
    newCounts.foreach { m =>
      val cn = mapper.createObjectNode()
      m.toSeq.sortBy(_._1).foreach { case (b, n) => cn.put(b.toString, n) }
      Files.write(countsFile(next), mapper.writeValueAsBytes(cn))
    }
    if (!Files.exists(layoutFile)) {
      val layout = mapper.createObjectNode()
      layout.put("buckets", effectiveBuckets)
      val keysArr = layout.putArray("keys")
      spec.keys.foreach(keysArr.add)
      Files.write(layoutFile, mapper.writeValueAsBytes(layout))
    }
    Files.write(manifestFile(next), mapper.writeValueAsBytes(node))
    Files.write(schemaFile(next),
      df.drop("__b").schema.json.getBytes("UTF-8"))
    publishPointer(next)
  }

  private def publish(df: DataFrame): Unit = {
    val next = currentVersion.map(_ + 1).getOrElse(0)
    df.write.mode("overwrite").parquet(s"$path/v$next")
    publishPointer(next)
  }

  private def publishPointer(next: Int): Unit = {
    val tmp = Paths.get(path, "_latest.tmp")
    Files.write(tmp, next.toString.getBytes("UTF-8"))
    Files.move(tmp, latestFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object GraftTable {
  /** `buckets > 0` opens a bucketed incremental table (see class doc):
    * merges/deletes touch only the key-hash buckets their rows map to.
    */
  def apply(spark: SparkSession, path: String, spec: MergeSpec,
      buckets: Int = 0): GraftTable =
    new GraftTable(spark, path, spec, buckets)
}
