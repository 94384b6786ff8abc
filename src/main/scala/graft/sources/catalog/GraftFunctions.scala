package graft.sources.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{AggregateFunction, BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The V2 FUNCTION CATALOG's function set — catalog-resolved SQL
  * functions (`SELECT graft_cat.ns.gcd(a, b)`), the DSv2 quadrant that
  * lets a connector ship its own compute alongside its tables the way
  * Iceberg ships `system.bucket`. Two members exercise both kinds:
  *
  *  - `gcd` — a `ScalarFunction` with the static `invoke` MAGIC
  *    METHOD: Spark's analyzer binds the call to a StaticInvoke of
  *    that method, so the per-row call is CODEGEN'D like a builtin
  *    (no InternalRow boxing; `produceResult` is only the interpreted
  *    fallback).
  *  - `bor` — an `AggregateFunction` (bitwise OR): partial states
  *    update map-side, `merge` combines partials — the V2 aggregate
  *    contract mirrors Spark's own partial/final split, so the
  *    catalog aggregate shuffles one state per group exactly like a
  *    builtin agg.
  *
  * Both are exact integer functions, so oracles replay them
  * bit-identically (DuckDB `gcd` / `bit_or`).
  */
object GraftFunctions {

  private def integral(dt: DataType): Boolean =
    dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType

  /** Euclid on non-negative longs; gcd(0, 0) = 0 by convention. */
  @scala.annotation.tailrec
  private def gcdOf(a: Long, b: Long): Long =
    if (b == 0L) math.abs(a) else gcdOf(b, a % b)

  // package-private, not private: the generated code calls `invoke` on
  // this object's class, which a private object hides from it (Janino
  // then finds no applicable method and the call runs interpreted)
  private[catalog] object GcdBound extends ScalarFunction[java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(LongType, LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "gcd"
    override def canonicalName(): String = "graft.gcd"
    override def isResultNullable: Boolean = false
    // interpreted fallback; the planner prefers the magic method below
    override def produceResult(input: InternalRow): java.lang.Long =
      gcdOf(input.getLong(0), input.getLong(1))
    /** The codegen path: StaticInvoke of this exact signature. */
    def invoke(a: Long, b: Long): Long = gcdOf(a, b)
  }

  private object GcdUnbound extends UnboundFunction {
    override def name(): String = "gcd"
    override def description(): String =
      "gcd(a BIGINT, b BIGINT) -> BIGINT: greatest common divisor"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 2 ||
          !inputType.fields.forall(f => integral(f.dataType)))
        throw new UnsupportedOperationException(
          s"gcd expects two integral arguments, got $inputType")
      GcdBound
    }
  }

  private object BorBound extends AggregateFunction[java.lang.Long, java.lang.Long] {
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def name(): String = "bor"
    override def canonicalName(): String = "graft.bor"
    override def isResultNullable: Boolean = false
    override def newAggregationState(): java.lang.Long = 0L
    override def update(state: java.lang.Long, input: InternalRow)
        : java.lang.Long =
      if (input.isNullAt(0)) state else state | input.getLong(0)
    override def merge(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
      a | b
    override def produceResult(state: java.lang.Long): java.lang.Long = state
  }

  private object BorUnbound extends UnboundFunction {
    override def name(): String = "bor"
    override def description(): String =
      "bor(x BIGINT) -> BIGINT: aggregate bitwise OR"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 1 ||
          !integral(inputType.fields.head.dataType))
        throw new UnsupportedOperationException(
          s"bor expects one integral argument, got $inputType")
      BorBound
    }
  }

  val names: Seq[String] = Seq("gcd", "bor")

  def load(name: String): Option[UnboundFunction] = name.toLowerCase match {
    case "gcd" => Some(GcdUnbound)
    case "bor" => Some(BorUnbound)
    case _ => None
  }
}
