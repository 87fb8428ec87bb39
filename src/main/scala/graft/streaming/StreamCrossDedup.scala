package graft.streaming

import graft.operators.{CrossDedup, NearDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus admission control — the always-on form of the q135
  * cross-corpus dedup: an incoming document stream is flagged against
  * the corpus-so-far, and every ADMITTED document immediately joins
  * the reference artifacts, so later micro-batches dedup against
  * earlier admissions too (batch N sees the corpus as of batch N−1).
  *
  * State is exactly the two persistable artifacts of
  * [[CrossDedup.artifacts]] — a distinct content-hash table and the
  * md5-LSH band index. Each batch materializes only its own DELTA
  * (the admitted docs' hash and band rows) and appends it lazily, so
  * per-batch cost is the batch's own kernel pass plus two keyed joins;
  * the historical corpus is never re-hashed and never re-written. In
  * production both artifacts live as stored tables (the band index is
  * what [[NearDedup.applyBandChanges]] maintains under merges) and the
  * lazy union is simply a table append.
  *
  * Crash recovery: the streaming checkpoint commits a batch AFTER the
  * callback returns, so persist the artifacts from INSIDE `onBatch`
  * (both frames are passed to it post-update). If the process dies
  * after persisting but before the checkpoint commit, the batch
  * replays on restart — and re-applying the same admissions is
  * IDEMPOTENT: duplicate hash rows don't change the semi-join verdict
  * and duplicate band rows don't change the distinct-ref-doc count
  * (StreamCrossDedupSpec pins this), so seeding the restart with the
  * last persisted artifacts is correct whether or not the interrupted
  * batch's update survived.
  *
  * Intra-batch duplicates are NOT flagged against each other (same
  * contract as the batch operator — compose exact dedup upstream);
  * they are deduped before indexing so the artifacts stay minimal.
  */
object StreamCrossDedup {

  /** Drain `stream` (micro-batches of (idCol, textCol) rows) with
    * AvailableNow + checkpoint; `onBatch` receives each micro-batch's
    * flag frame (idCol, is_exact, n_near, keep) plus the post-update
    * artifacts (content hashes, bands) — persist them there for crash
    * safety (see the recovery note above). Returns (micro-batches
    * processed, final content-hash artifact, final band artifact); a
    * restarted run MUST be seeded with persisted artifacts (via
    * [[runWithArtifacts]]) or it forgets earlier admissions.
    */
  def run(
      stream: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      checkpointDir: String)(
      onBatch: (DataFrame, DataFrame, DataFrame) => Unit): (Long, DataFrame, DataFrame) = {
    val (h0, b0) = CrossDedup.artifacts(reference, idCol, textCol)
    runWithArtifacts(stream, h0, b0, idCol, textCol, checkpointDir)(onBatch)
  }

  /** [[run]] seeded directly with stored artifacts (restart form). */
  def runWithArtifacts(
      stream: DataFrame,
      hashes0: DataFrame,
      bands0: DataFrame,
      idCol: String,
      textCol: String,
      checkpointDir: String)(
      onBatch: (DataFrame, DataFrame, DataFrame) => Unit): (Long, DataFrame, DataFrame) = {
    var refHashes = hashes0.localCheckpoint(true)
    var refBands = bands0.localCheckpoint(true)
    val batches = IncrementalMerge.drain(stream, checkpointDir) { batch =>
      val docs = batch.select(col(idCol), col(textCol))
        .localCheckpoint(true) // referenced by flags AND admission
      val flags = CrossDedup
        .flagAgainstArtifacts(refHashes, refBands, docs, idCol, textCol)
        .localCheckpoint(true) // evaluated for the sink AND admission
      val admitted = docs
        .join(flags.filter(col("keep")).select(col(idCol)), Seq(idCol))
        // intra-batch exact copies index once (first id wins)
        .withColumn("__h", md5(col(textCol)))
        .groupBy("__h")
        .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
        .localCheckpoint(true) // the DELTA is what materializes —
      // appending it lazily keeps per-batch work O(batch), where
      // re-checkpointing the whole artifact would copy
      // O(corpus-so-far) every batch
      refHashes = refHashes.unionByName(admitted.select(col("__h")))
      refBands = refBands
        .unionByName(NearDedup
          .md5BandTable(admitted.select(col(idCol), col(textCol)),
            idCol, textCol)
          .withColumnRenamed(idCol, "__ref_id")
          .localCheckpoint(true))
      onBatch(flags, refHashes, refBands)
    }
    (batches, refHashes, refBands)
  }
}
