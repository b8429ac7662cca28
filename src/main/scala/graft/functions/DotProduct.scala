package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product of two numeric arrays (embeddings).
  *
  * Replaces the `zip_with` + `aggregate` lambda composition in
  * VectorFunctions: higher-order-function lambdas are interpreted per
  * ELEMENT (Spark never codegens them), so a 64-dim dot product paid
  * ~128 interpreter dispatches per row in every similarity hot path
  * (s01/s02/s03/d05). Here the whole loop is one JVM method over the
  * backing array — accumulation in double, strict index order, so
  * results are bit-identical to the lambda version and deterministic
  * across partitionings.
  *
  * Accepts `array<double>` or `array<float>` (both sides the same
  * element type); returns double. Null if either array is null;
  * arrays must be null-element-free (embeddings are).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(et @ (DoubleType | FloatType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> or two array<float> inputs, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Hot loop shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Double =
    if (isFloat) {
      val n = DotProduct.dims(a, b)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
      acc
    } else DotProduct.doubles(a, b)

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dotProduct", this, classOf[DotProduct].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The `array<double>` loop of [[DotProduct.compute]], for a driver
    * path that must score bit-identically to the generated code. */
  private[graft] def doubles(a: ArrayData, b: ArrayData): Double = {
    val n = dims(a, b)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  // fail loudly on dimension mismatch — silently truncating would
  // mask a wrong `dim` in LSH hyperplanes or a mixed-width corpus
  // as quietly degraded recall
  private def dims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"dot_product: mismatched vector lengths $n vs ${b.numElements()}")
    n
  }

  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
