package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose hot keys overwhelm single tasks.
  *
  * AQE's skew-join split (on by default in Spark) handles most cases at
  * runtime; explicit salting remains the tool when one build-side key is
  * so hot that even split shuffle blocks can't balance (e.g. a null-ish
  * default id owning 30% of a 100 TB table).
  */
object SkewOps {

  /** Salted inner equi-join: the skewed (probe) side gets a random salt
    * in [0, saltFactor); the compact (build) side is exploded
    * `saltFactor`× so every salted key finds its partner. Correct for
    * inner/left joins on unique build keys; cost: build side rows ×
    * saltFactor — keep the build side the small one.
    */
  def saltedJoin(
      skewed: DataFrame,
      build: DataFrame,
      key: String,
      saltFactor: Int = 8,
      joinType: String = "inner"
  ): DataFrame = {
    val saltedLeft = skewed.withColumn(
      "__salt",
      (pmod(xxhash64(struct(skewed.columns.map(col): _*)), lit(saltFactor)))
        .cast("int")
    )
    val explodedRight = build
      .withColumn("__salt",
        explode(sequence(lit(0), lit(saltFactor - 1))))
    val out = saltedLeft.join(explodedRight,
      Seq(key, "__salt"), joinType)
    out.drop("__salt")
  }

  /** Bloom-filter semi-join reduction: build a Bloom filter over the
    * dimension side's join keys (one pass, mergeable sketch built
    * distributed via `stat.bloomFilter`), broadcast it, and drop fact
    * rows that can't match BEFORE they reach the shuffle — the
    * runtime-filter pattern for selective joins at 100 TB, where the
    * win is shuffled bytes: a 1% -selective join ships ~1% of the fact
    * table instead of all of it, at `-log2(fpp)` bits per dim key of
    * broadcast. False positives are eliminated by the real join that
    * follows, so `prefilter(...)` then join ≡ plain join, which is
    * what the oracle checks (q85). Null keys can't match an equi-join
    * and are dropped.
    */
  def bloomPrefilter(
      fact: DataFrame,
      factKey: String,
      dim: DataFrame,
      dimKey: String,
      expectedItems: Long,
      fpp: Double = 0.01
  ): DataFrame = {
    import org.apache.spark.sql.types._
    // the filter must test the key in the SAME representation the
    // bloom was built over. Both sides are first cast to the FACT
    // key's type (a dim key of a different type would otherwise render
    // differently — long 7 vs double "7.0" — and produce false
    // NEGATIVES, which the following join cannot repair; a dim value
    // the cast changes couldn't equal any fact key in the real join
    // anyway, so the cast only ever adds removable false positives).
    // Integral keys then use the putLong path, everything else a
    // string cast (a long cast of a string key would null out and
    // silently drop every row).
    val factType = fact.schema(factKey).dataType
    val dimAsFact = col(dimKey).cast(factType)
    val integral = factType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integral) {
      val bf = dim.stat.bloomFilter(dimAsFact.cast("long"),
        expectedItems, fpp)
      val bc = fact.sparkSession.sparkContext.broadcast(bf)
      val mightMatch = udf { (k: Long) => bc.value.mightContain(k) }
      fact.filter(col(factKey).isNotNull &&
        mightMatch(col(factKey).cast("long")))
    } else {
      val bf = dim.stat.bloomFilter(dimAsFact.cast("string"),
        expectedItems, fpp)
      val bc = fact.sparkSession.sparkContext.broadcast(bf)
      val mightMatch = udf { (k: String) => bc.value.mightContain(k) }
      fact.filter(col(factKey).isNotNull &&
        mightMatch(col(factKey).cast("string")))
    }
  }

  /** Top-n heavy-hitter keys with their share — the diagnostic that
    * decides whether salting is warranted (run on a sample at scale).
    */
  def keySkewProfile(df: DataFrame, key: String, topN: Int = 10)
      : DataFrame = {
    val total = df.count().toDouble
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", col("n").cast("double") / lit(total))
      .orderBy(col("n").desc)
      .limit(topN)
  }
}
