package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness's synthetic parquet tables (TESTDATA.md).
  *
  * Plain parquet scans: Catalyst pushes filters/projections into the scan,
  * so callers should NOT cache or materialize here — each query's plan
  * decides what is actually read.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")


  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** `events.ts` normalization. The harness has shipped this column two
    * ways across data generations: parquet TIMESTAMP(NANOS) (which Spark's
    * reader rejects outright, [PARQUET_TYPE_ILLEGAL], so `GraftSession`
    * sets the legacy conf that reads it as a nanos long) and plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Downstream operators and
    * every oracle assume one contract: `ts` is a session-UTC
    * TimestampType at microsecond precision — equal to DuckDB's
    * `date_trunc('microseconds', ts)`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long generation
        // integer `div`, not `/` — double division loses precision at 1.7e18 ns
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType => // wall clock is UTC; session tz is UTC too
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")

  /** Spread a narrow input across the available parallelism before a
    * heavy per-row kernel (hash signatures, codecs, NFC): a small or
    * unsplittable source — one parquet file at bench scale, a gzip
    * shard in production — otherwise serializes the kernel on a
    * handful of tasks (optimization guide §2.5, input skew: "one huge
    * unsplittable file ... repartition immediately after the read").
    * No-op when the source already carries enough partitions, so a
    * production table with thousands of splits never pays the extra
    * exchange. Round-robin keeps sort-before-repartition determinism;
    * results are partitioning-independent for every registered query
    * (oracle-checked).
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Append an id-shifted copy of every `mod`-th row in a SINGLE scan:
    * each row explodes into itself plus (id % mod == 0) a copy at
    * id + offset. The equivalent two-branch union reads the parquet —
    * wide text column included — once per branch. Shared by the
    * near-dup bench corpora (exact duplicates with known ids).
    */
  def withIdCopies(
      df: DataFrame,
      idCol: String,
      mod: Int,
      offset: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val rest = df.columns.filterNot(_ == idCol).map(col)
    df.select(explode(when(col(idCol) % mod === 0,
          array(lit(0L), lit(offset))).otherwise(array(lit(0L))))
        .as("__off") +: df.columns.map(col): _*)
      .select((col(idCol) + col("__off")).as(idCol) +: rest: _*)
  }
}
