package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** Eager release of localCheckpoint block storage.
  *
  * `Dataset.unpersist` only talks to the cache manager, so the blocks
  * behind a localCheckpoint'ed frame live until GC + ContextCleaner
  * get around to them — which, in an iterative operator that retires
  * one corpus-sized checkpoint per round, means dead rounds stack up
  * in the storage pool and evict/pressure it exactly when downstream
  * stages need execution memory (measured on [[SuffixRank]]: freeing
  * retired rounds cut the 22.6M-position ranking 42.5s → 26.3s).
  *
  * HARD-FAILURE CONTRACT: a localCheckpoint'ed frame's blocks are the
  * ONLY copy of its data — the lineage was truncated at checkpoint
  * time, so a consumer that touches the frame after free() does not
  * recompute, it dies with "Checkpoint block not found". Call free()
  * only when every consumer has either finished or been re-rooted
  * onto a SUCCESSOR checkpoint (materialize the successor FIRST, then
  * free the predecessor — the [[SuffixRank]]/[[GraphOps]] loop
  * discipline), and never on an operator's returned root. The walk
  * only unpersists the checkpoint RDDs reachable from this frame's
  * plan. Kept package-private so external code can't reach a
  * primitive whose misuse fails at a distance.
  */
private[graft] object CheckpointUtil {

  def free(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** [[free]] for several frames — same hard-failure contract. */
  def free(dfs: Seq[DataFrame]): Unit = dfs.foreach(free(_))
}
