package graft.operators

/** Data-derived sizing: shuffle partitions for iterative operators and
  * key-hash buckets for a new ETL table.
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

  /** The cap on every count this object derives. */
  private val MaxParts = 65536L

  /** Partition count for ~1M-row (≈50 MB with payload) loop frames,
    * floor 1, capped at [[MaxParts]] (a loop that really needs more
    * partitions is mis-designed upstream).
    */
  def loopPartitions(nRows: Long): Int =
    math.max(1L, math.min(nRows / 1000000L + 1L, MaxParts)).toInt

  /** Rows per GraftTable bucket. A merge rewrites each bucket it touches
    * as one file, so a bucket's fixed cost (a write task, a file, a
    * footer read) must buy a real share of rows: a 21-row batch into a
    * 2,000-row table at 16 buckets wrote 13–15 files of about 50 KB each.
    * A larger bucket makes a tiny batch rewrite more rows it never
    * touched: in Bench's ETL leg a 5-row batch into 200k rows took
    * longer at 32k and 50k rows per bucket than at 16k (PERF.md).
    */
  val RowsPerBucket: Long = 16384L

  /** Bucket count of a new table of `rows` rows: rows over
    * [[RowsPerBucket]], rounded up, floor 1, capped like
    * [[loopPartitions]].
    */
  def tableBuckets(rows: Long): Int =
    math.max(1L, math.min((rows - 1) / RowsPerBucket + 1, MaxParts)).toInt
}
