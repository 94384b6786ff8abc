package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression: cosine between an `array<double>` row
  * vector and ITS OWN assigned centroid (`cell` column indexes the
  * embedded matrix) — one dim-loop per row.
  *
  * The composable form (`element_at(array(cos(v,c0), cos(v,c1), …),
  * cell+1)`, the original `Similarity.cellRadii` body) plans k
  * separate cosine expressions per row: k array traversals of wasted
  * compute, and — the actual observed cost at k≈30 — a generated
  * method large enough that codegen compilation dominated the whole
  * radii job (2.2 s of a 4.4 s cold IVF+PQ build). This expression
  * embeds the centroid matrix as a codegen reference object,
  * precomputes each centroid's squared norm in the SAME i-ascending
  * accumulation order [[CosineSimilarityExpr]] uses — so results are
  * bit-identical to the composable form — and emits a single loop.
  *
  * Null semantics (mirroring [[CosineSimilarityExpr]] on the selected
  * centroid): null inputs, length mismatch, null element, zero-norm
  * row, zero-norm centroid, or an out-of-range cell id → null.
  */
final case class CentroidCosineExpr(left: Expression, right: Expression,
    centroids: Array[Array[Double]]) extends BinaryExpression {

  require(centroids.nonEmpty &&
    centroids.forall(_.length == centroids.head.length),
    "centroids must be a non-empty rectangular matrix")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int), got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def k: Int = centroids.length
  private def dim: Int = centroids.head.length

  /** Flat matrix + per-centroid squared norms, both accumulated in
    * i-ascending order so the final double matches the two-sided
    * cosine bit-for-bit.
    */
  @transient private lazy val (flat: Array[Double], norm2: Array[Double]) = {
    val f = new Array[Double](k * dim)
    val n2 = new Array[Double](k)
    var c = 0
    while (c < k) {
      var i = 0
      var acc = 0.0
      while (i < dim) {
        val x = centroids(c)(i)
        f(c * dim + i) = x
        acc += x * x
        i += 1
      }
      n2(c) = acc
      c += 1
    }
    (f, n2)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cell = b.asInstanceOf[Int]
    if (cell < 0 || cell >= k || v.numElements() != dim) return null
    var dot = 0.0; var na = 0.0
    var i = 0
    val off = cell * dim
    while (i < dim) {
      if (v.isNullAt(i)) return null
      val xi = v.getDouble(i)
      dot += xi * flat(off + i); na += xi * xi
      i += 1
    }
    if (na == 0.0 || norm2(cell) == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(norm2(cell)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cell) => {
      val matRef = ctx.addReferenceObj("graftCcCentroids", flat, "double[]")
      val n2Ref = ctx.addReferenceObj("graftCcNorm2", norm2, "double[]")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val ok = ctx.freshName("ok")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val off = ctx.freshName("off")
      s"""
         |boolean $ok = $cell >= 0 && $cell < $k && $v.numElements() == $dim;
         |double $dot = 0.0, $na = 0.0;
         |if ($ok) {
         |  int $off = $cell * $dim;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($v.isNullAt($i)) { $ok = false; break; }
         |    double $xi = $v.getDouble($i);
         |    $dot += $xi * $matRef[$off + $i]; $na += $xi * $xi;
         |  }
         |}
         |if (!$ok || $na == 0.0 || $n2Ref[$cell] == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot /
         |    (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($n2Ref[$cell]));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidCosineExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_centroid_cosine"
}
