package graft.sinks

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
  private def nextIndex(store: Store, table: String): Int = {
    val pattern = s"""\\Q$table\\E\\.(\\d+)\\.ndjson""".r
    store.list().map(_.getPath.getName)
      .collect { case pattern(i) => i.toInt }.maxOption.fold(0)(_ + 1)
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
    val store = Store(tableDir, df.sparkSession)
    val indexStr = f"${nextIndex(store, table)}%03d"
    val tmp = store(s".tmp-$table-$indexStr")
    df.write.mode("overwrite")
      .option("ignoreNullFields", "true")
      .json(tmp.toString)

    val target = store(s"$table.$indexStr.ndjson")
    val out = store.fs.create(target, true)
    try {
      val parts = store.list(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.foreach { p =>
        val in = store.fs.open(p)
        try in.transferTo(out) finally in.close()
      }
    } finally out.close()
    store.delete(tmp)

    val meta = mapper.createObjectNode()
    val g = meta.putArray("groups")
    groups.foreach(g.add)
    val d = meta.putArray("deleted")
    deleted.foreach(d.add)
    store.put(store(s"$table.$indexStr.meta"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(meta))
    target.toString
  }
}
