package graft.streaming

import graft.operators.{IncrementalAgg, IndexStats, MergeOps}
import graft.sinks.GraftTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental merge: a stream of upserts applied to a [[GraftTable]]
  * through foreachBatch — the Structured-Streaming form of the
  * reference's re-run-and-merge incremental model (SURVEY §2.9:
  * "Trigger.AvailableNow with checkpointing is the idiomatic
  * equivalent").
  *
  * Per micro-batch: last-wins dedup on the merge keys (A1 — required
  * because one batch may carry several versions of a row), then the
  * same merge semantics the batch pipeline uses. The checkpoint makes
  * re-runs resume where they stopped; merge idempotency makes replayed
  * batches harmless — together, exactly-once table contents.
  *
  * [[runWithAgg]] and [[runWithIndexStats]] additionally maintain a
  * derived table (a grouped aggregate / the per-term df index) from
  * each batch's change feed at O(changes per batch) — the streaming
  * forms of q84 and q105.
  */
object IncrementalMerge {

  private def dedupBatch(
      batch: DataFrame,
      spec: MergeOps.MergeSpec,
      orderCol: Option[String]
  ): DataFrame = orderCol match {
    case Some(c) => MergeOps.dedupLastWins(batch, spec.keys, Seq(col(c)))
    case None => MergeOps.dedupLastWins(
      // no caller-declared order: use the source file path (file
      // streams list files in order; lexicographic path = append
      // order for sequenced exports) with partition-local ids only
      // breaking ties WITHIN a file — never across files, where
      // split packing reorders partitions
      batch.withColumn("__file", input_file_name())
        .withColumn("__seq", monotonically_increasing_id()),
      spec.keys, Seq(col("__file"), col("__seq")))
      .drop("__file", "__seq")
  }

  /** The drain skeleton every streaming entry point shares: AvailableNow
    * + checkpoint, `onBatch` per micro-batch (side effects and merge
    * ordering are its contract — [[runMaintained]] reads the change
    * feed BEFORE merging). Returns the number of micro-batches applied.
    */
  private[streaming] def drain(stream: DataFrame, checkpointDir: String)(
      onBatch: DataFrame => Unit): Long = {
    var batches = 0L
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onBatch(batch)
        batches += 1
      }
      .start()
      .awaitTermination()
    batches
  }

  /** Drain all available input from `stream` into the table and stop
    * (AvailableNow), last-wins dedup per micro-batch. Returns the
    * number of micro-batches applied.
    */
  def run(
      stream: DataFrame,
      table: GraftTable,
      spec: MergeOps.MergeSpec,
      checkpointDir: String,
      orderCol: Option[String] = None
  ): Long =
    drain(stream, checkpointDir)(b => table.merge(dedupBatch(b, spec, orderCol)))

  /** [[run]] plus streaming view maintenance: the derived state is
    * `seed` over the table's pre-stream contents, or over an empty
    * frame with the stream's schema — never null, even if the stream
    * delivers no micro-batches at all. Before each micro-batch merges,
    * its change feed against the CURRENT table contents
    * ([[MergeOps.changeFeed]]) `fold`s into the state, so per-batch
    * work is O(changes), never a rescan of the table; the state is
    * localCheckpointed per batch to keep lineage flat across many
    * micro-batches. Returns (micro-batches applied, final state).
    */
  private def runMaintained(
      stream: DataFrame,
      table: GraftTable,
      spec: MergeOps.MergeSpec,
      checkpointDir: String,
      orderCol: Option[String]
  )(seed: DataFrame => DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame): (Long, DataFrame) = {
    var state =
      if (table.exists) seed(table.read()).localCheckpoint(true)
      else seed(stream.sparkSession.createDataFrame(
        new java.util.ArrayList[Row](), stream.schema))
    val batches = drain(stream, checkpointDir) { batch =>
      val ordered = dedupBatch(batch, spec, orderCol)
      val current = if (table.exists) table.read() else ordered.limit(0)
      state = fold(state, MergeOps.changeFeed(current, ordered, spec))
        .localCheckpoint(true)
      table.merge(ordered)
    }
    (batches, state)
  }

  /** [[runMaintained]] over a per-`groupCol` (count, sum of
    * `valueCol`) aggregate ([[IncrementalAgg]]) — the streaming form of
    * q84. Returns (micro-batches applied, maintained aggregate).
    */
  def runWithAgg(
      stream: DataFrame,
      table: GraftTable,
      spec: MergeOps.MergeSpec,
      checkpointDir: String,
      groupCol: String,
      valueCol: String,
      orderCol: Option[String] = None
  ): (Long, DataFrame) =
    runMaintained(stream, table, spec, checkpointDir, orderCol)(
      IncrementalAgg.countSum(_, groupCol, valueCol),
      IncrementalAgg.applyChanges(_, _, groupCol, valueCol))

  /** [[runMaintained]] over the per-term document-frequency table
    * ([[IndexStats]]) — the streaming form of q105, i.e. a live
    * BM25/retrieval index whose stats never need a corpus rescan while
    * documents merge in. Returns (micro-batches applied, maintained df
    * table).
    */
  def runWithIndexStats(
      stream: DataFrame,
      table: GraftTable,
      spec: MergeOps.MergeSpec,
      checkpointDir: String,
      textCol: String,
      tokenizeLocal: String => Array[String],
      orderCol: Option[String] = None
  ): (Long, DataFrame) =
    runMaintained(stream, table, spec, checkpointDir, orderCol)(
      IndexStats.termDf(_, textCol, tokenizeLocal),
      IndexStats.applyChanges(_, _, textCol, tokenizeLocal))
}
