package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The one cosine fold of this engine: the [[FloatVecCosine]]
  * expression and every kernel in [[graft.operators.Similarity]] call
  * these (generated code reaches them through static forwarders, the
  * pattern [[GraftCrypto]] uses). Sums run left to right in double, so
  * every score is bit-identical to the DuckDB oracle's
  * `list_cosine_similarity`. Kernels that score one vector against many
  * take its [[norm]] once and call [[dot]] and the three-argument
  * [[cosine]] per pair.
  */
object VectorKernels {
  /** True if any element slot is null — callers return SQL NULL then,
    * matching the oracle's `list_cosine_similarity` (a silent 0.0 for
    * a null element would be a wrong-but-plausible score).
    */
  def hasNullElement(x: ArrayData): Boolean = {
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** `Σ a_i·b_i`. Ragged vectors fail fast: silent min-length
    * truncation would score wrong-but-plausible where the oracle's
    * `list_cosine_similarity` errors loudly.
    */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length,
      s"cosine: dimension mismatch ${a.length} vs ${b.length}")
    var d = 0.0
    var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    d
  }

  /** L2 norm `sqrt(Σ a_i²)`. */
  def norm(a: Array[Float]): Double = {
    var n = 0.0
    var i = 0
    while (i < a.length) { n += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(n)
  }

  /** Cosine from a dot product and both norms; 0 when a norm is 0. */
  def cosine(dot: Double, normA: Double, normB: Double): Double = {
    val denom = normA * normB
    if (denom == 0.0) 0.0 else dot / denom
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val a = x.toFloatArray()
    val b = y.toFloatArray()
    cosine(dot(a, b), norm(a), norm(b))
  }
}

/** Cosine similarity of two `array<float>` columns as a NATIVE Catalyst
  * expression: codegen emits one static call inside whole-stage codegen
  * (no UDF boxing, no codegen fence), which is the preference order for
  * extending Spark — compose builtins, then a native expression, and a
  * UDF only after that. Used by the pairwise hot paths that score
  * inside a join condition ([[graft.operators.Similarity.semanticDedup]]).
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_cosine"

  // elements can be nullable in parquet-derived schemas: a null slot
  // yields SQL NULL (like the DuckDB oracle), never a silent 0.0. The
  // check is generated only when the schema says nulls are possible.
  private def elemNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }
  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (elemNullable &&
      (VectorKernels.hasNullElement(x) || VectorKernels.hasNullElement(y)))
      null
    else VectorKernels.cosine(x, y)
  }

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode
  ): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      if (elemNullable)
        s"""
           |if (graft.functions.VectorKernels.hasNullElement($a) ||
           |    graft.functions.VectorKernels.hasNullElement($b)) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = graft.functions.VectorKernels.cosine($a, $b);
           |}
         """.stripMargin
      else
        s"${ev.value} = graft.functions.VectorKernels.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression
  ): Expression = copy(left = newLeft, right = newRight)
}

object FloatVecCosine {
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      FloatVecCosine(GraftColumnBridge.expression(a),
        GraftColumnBridge.expression(b)))
}
