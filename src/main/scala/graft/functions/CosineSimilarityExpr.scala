package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two
  * `array<double>` columns, with full whole-stage codegen (`doGenCode`).
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), ...)`, see
  * [[graft.llm.Similarity.cosine]]) materializes an intermediate array
  * per row and walks each input three times through interpreted
  * higher-order lambdas. This expression emits one fused loop —
  * dot/normA/normB in a single pass, no allocation — which is the shape
  * the inner loop of a 100 TB similarity scan needs.
  *
  * Null semantics: null if either side is null or lengths differ
  * (mirrors SQL null-propagation; a length mismatch is data corruption,
  * surfaced as null not an exception so a scan over dirty data
  * completes). Zero-norm inputs yield null (cosine undefined). NaN or
  * infinite elements yield NaN.
  *
  * The loop itself is [[CosineKernel.cosine]], shared with the
  * driver-side index buffer (`graft.llm.IndexBuffer`), so both
  * paths compute the same double by construction.
  */
final case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val r = CosineKernel.cosine(x, y)
    if (java.lang.Double.isNaN(r) && CosineKernel.undefined(x, y)) null
    else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.CosineKernel.cosine($a, $b);
         |${ev.isNull} = java.lang.Double.isNaN(${ev.value}) &&
         |  graft.functions.CosineKernel.undefined($a, $b);
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarityExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

/** The one cosine loop: dot and both squared norms accumulated in a
  * single i-ascending pass, then `dot / (sqrt(na) * sqrt(nb))`. NaN
  * stands for two outcomes: SQL null (a length mismatch, a null
  * element, a zero norm) and the NaN that NaN or infinite elements
  * produce; [[undefined]] tells them apart, off the hot path.
  */
object CosineKernel {
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Whether the cosine of `x` and `y` is SQL null: lengths differ, an
    * element is null, or a norm is zero. Each squared norm is summed
    * in the same order as in [[cosine]], so the zero test sees the
    * same double.
    */
  def undefined(x: ArrayData, y: ArrayData): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return true
    var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return true
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      na += xi * xi; nb += yi * yi
      i += 1
    }
    na == 0.0 || nb == 0.0
  }
}
