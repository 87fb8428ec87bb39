package graft.sinks

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame

/** Batch-indexed NDJSON sink (SURVEY §2.2 K5): each batch lands as
  * `{table}/{table}.NNN.ndjson` with nulls dropped (sparse rows) and a
  * `.meta` sidecar recording groups + deleted ids — together a lossless
  * replay log of the table's merge state, which the `convert` flow
  * re-loads (reference: formats/ndjson.py:11-44,
  * formats/batched_files.py:44-99, common.py:171-219).
  */
object NdjsonSink {

  private val mapper = new ObjectMapper()

  /** Next free batch index, resuming after existing files (O4 —
    * formats/batched_files.py:75-80).
    */
  def nextIndex(tableDir: String, table: String): Int = {
    val dir = Paths.get(tableDir)
    if (!Files.exists(dir)) return 0
    val pattern = s"""\\Q$table\\E\\.(\\d+)\\.ndjson""".r
    var max = -1
    GraftTable.listDir(dir).foreach { p =>
      p.getFileName.toString match {
        case pattern(i) => max = math.max(max, i.toInt)
        case _ =>
      }
    }
    max + 1
  }

  /** Write one batch. Spark's JSON writer drops null fields by default
    * (`ignoreNullFields`), matching the reference's sparse_dict. The
    * batch is written distributed, then concatenated to the single
    * indexed file (driver-side append of part files — same output
    * contract as the reference's single-file batches).
    */
  def writeBatch(
      df: DataFrame,
      tableDir: String,
      table: String,
      groups: Seq[String] = Nil,
      deleted: Seq[String] = Nil
  ): String = {
    val idx = nextIndex(tableDir, table)
    val indexStr = f"$idx%03d"
    val tmp = s"$tableDir/.tmp-$table-$indexStr"
    df.write.mode("overwrite")
      .option("ignoreNullFields", "true")
      .json(tmp)

    Files.createDirectories(Paths.get(tableDir))
    val target = Paths.get(tableDir, s"$table.$indexStr.ndjson")
    val out = Files.newOutputStream(target)
    try {
      val parts = GraftTable.listDir(Paths.get(tmp)).sorted
        .filter(_.getFileName.toString.startsWith("part-"))
      parts.foreach(p => Files.copy(p, out))
    } finally out.close()
    GraftTable.deleteRecursively(Paths.get(tmp))

    val meta = mapper.createObjectNode()
    val g = meta.putArray("groups")
    groups.foreach(g.add)
    val d = meta.putArray("deleted")
    deleted.foreach(d.add)
    Files.write(Paths.get(tableDir, s"$table.$indexStr.meta"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    target.toString
  }
}
