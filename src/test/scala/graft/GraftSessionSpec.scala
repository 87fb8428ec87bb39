package graft

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

class GraftSessionSpec extends SparkSpecBase {

  test("the session leaves on the Spark defaults the engine relies on") {
    val defaults = Seq(
      SQLConf.ADAPTIVE_EXECUTION_ENABLED,
      SQLConf.COALESCE_PARTITIONS_ENABLED,
      SQLConf.SKEW_JOIN_ENABLED,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
      SQLConf.PARQUET_FILTER_PUSHDOWN_ENABLED)
    defaults.foreach { c =>
      assert(c.defaultValue === Some(true), c.key)
      assert(spark.conf.get(c.key) === "true", c.key)
    }
    assert(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) === "UTC")
    // parquet TIMESTAMP(NANOS) reads as a long from the session's start,
    // not only once a loader has set it
    assert(spark.conf.get(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key) === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a generated class survives more than 100 other distinct compiles") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt > 200)
    // a primitive literal is inlined into the generated source, so each
    // value is a class of its own; the random base keeps them apart from
    // any other suite's
    val base = scala.util.Random.nextLong() >>> 2
    val in = BoundReference(0, LongType, nullable = false)
    def generated(k: Long): Class[_] =
      GenerateUnsafeProjection.generate(Seq(Add(in, Literal(k)))).getClass
    val first = generated(base)
    (1L to 200L).foreach(i => generated(base + i))
    assert(generated(base) eq first)
  }
}
