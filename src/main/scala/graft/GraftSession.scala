package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: the benchmark and verification mains, the
  * test base and perfbench all build their session here, each choosing
  * only its master's core count (and, for tests, the shuffle width).
  *
  * It sets only what differs from Spark 4.1.2's defaults. Adaptive
  * execution with partition coalescing and skew-join splitting, nested
  * schema pruning and parquet filter pushdown are all on by default;
  * GraftSessionSpec pins their effective values.
  *
  * A generated class compiles once per JVM: Spark keeps generated
  * classes in an LRU keyed by their source, and its default 100 entries
  * are fewer than the engine's working set, so a warm ETL batch or query
  * pass used to compile again the classes an earlier one had evicted.
  * The cache size is a static conf read when the first session of the
  * JVM creates the cache, which is why every entry point builds here.
  *
  * Parquet TIMESTAMP(NANOS) columns read as nanosecond longs (Spark
  * rejects the type otherwise); `Tables.events` normalizes them. It is
  * set here once, so no loader changes the conf of a session it is
  * handed.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache. The engine's working set,
    * counted with an unbounded cache (PERF.md): a 20-task
    * `EtlPipeline.run` over the golden fixtures compiles 385 distinct
    * classes, a second run over the same input (the merge path) 154
    * more, and one pass of the query_mix queries over sf0.01 184 more,
    * 723 in all. 1,000 holds them with about 40% to spare. An entry
    * keeps its source text and byte code on the heap: about 25 KB each
    * for the query classes, and about 90 KB on average over the whole
    * working set, whose wide scrub classes have the longest source.
    */
  val CodegenCacheEntries = 1000

  /** Cores from `SPARK_GRAFT_CPUS`, else the entry point's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A `local[cores]` session with one shuffle partition per core. */
  def builder(appName: String = "graft",
      cores: Int = cpus(32)): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
