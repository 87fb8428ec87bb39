package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into package-private Spark APIs: the Column ↔ Expression
  * converters (Spark 4 wraps Columns in ColumnNodes;
  * `classic.ExpressionUtils` is private[sql]) our custom Catalyst
  * expressions need, and the internal-row DataFrame constructor the
  * planned scrub returns its rows through. Lives in the spark.sql
  * package solely to re-export them.
  */
object GraftColumnBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** `rows`, already laid out as `schema`, as a DataFrame over a leaf
    * relation.
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
