package graft.operators

/** Data-derived shuffle sizing for iterative operators.
  *
  * An iterative loop (connected components, prefix doubling, Bellman-
  * Ford) issues many shuffles whose frames are a few longs per input
  * row. Running them at the session's `spark.sql.shuffle.partitions` —
  * sized for corpus-wide scans — makes every round pay scheduling for
  * partitions that carry almost nothing when the loop's input is small
  * (measured: a 1.3k-edge CC cost 4.2s at 32 partitions, 1.3s sized
  * from the data), while a fixed small constant would serialize the
  * rounds at corpus scale. Deriving the count from the loop's own row
  * count keeps both regimes honest (optimization guide §2.2: fewer,
  * larger partitions; scale-adaptive, never a local-mode constant).
  *
  * A loop applies the count through the frames it builds:
  * `repartition(parts, key)` on the inputs it persists, which then
  * place the other side of each loop join at that count, and before
  * each aggregate. The session conf is never touched, so sized loops
  * may run concurrently on one session.
  */
private[graft] object Sizing {

  /** Partition count for ~1M-row (≈50 MB with payload) loop frames,
    * floor 1, capped at 65k (a loop that really needs more partitions
    * is mis-designed upstream).
    */
  def loopPartitions(nRows: Long): Int =
    math.max(1L, math.min(nRows / 1000000L + 1L, 65536L)).toInt
}
