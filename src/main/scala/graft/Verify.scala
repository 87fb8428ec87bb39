package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional trailing args = subset of query names (dev loop); the
    // driver passes none and gets the full registry
    val unknown = rest.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (rest.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter(kv => rest.contains(kv._1))
    val spark = GraftSession.builder("graft-verify", GraftSession.cpus(4))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.SortedMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      val preKeys = spark.sparkContext.getPersistentRDDs.keySet
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // final stage into one task, so a query whose projection falls
      // out of codegen re-evaluates it single-threaded (one sf0.1
      // query burned 9 CPU-minutes in one task this way); repartition
      // keeps the computation parallel and only the tiny final write
      // runs on one task — same single-file output the driver reads
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name -> String.valueOf(e.getMessage).take(500)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release one-shot checkpoints/persists the finished query left
      // behind (same isolation discipline as Bench) — across ~200
      // queries they otherwise stack in the storage pool. Scoped to
      // the RDDs THIS query created: a blanket unpersist would also
      // destroy localCheckpoint'ed frames a shared-session caller
      // still references (irrecoverable by design — VERDICT r10 #4)
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !preKeys.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a query that threw has no output dir and would otherwise just be
    // ABSENT from the driver's report (round 5 lost 18 queries to a
    // testdata schema change this way) — record failures explicitly
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed_queries.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
