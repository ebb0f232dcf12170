package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path. The
  * higher-order-function formulation (`aggregate` over `zip_with`) is
  * interpreted — measured as the dominant cost in LSH bucketing, which
  * folds 48 dot products per row — while these participate in
  * whole-stage codegen as one call into a tight primitive loop,
  * [[VectorKernel]] (the preference order: native Expression > HOFs >
  * UDF).
  *
  * Semantics match the HOF folds bit-for-bit on well-formed input:
  * left-to-right double accumulation, so the DuckDB oracle comparisons
  * (q13) stay hash-identical. A null element yields NULL (as the HOF
  * chain did); length mismatch folds over the common prefix.
  */
trait VectorBinaryExpression extends BinaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  /** Cosine similarity when true, else the dot product. */
  protected def cosine: Boolean

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // One kernel per expression instance, like the state Spark's own
  // interpreted expressions keep: each task evaluates its own copy, and
  // operators that evaluate children interpreted (an object-hash
  // aggregate's input) call this once per row.
  @transient private lazy val evalKernel = new VectorKernel

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = evalKernel.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right), cosine)
    if (evalKernel.wasNull) null else r
  }

  /** One call into the same kernel; the generated class holds one
    * [[VectorKernel]] as mutable state, so no row allocates. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[VectorKernel].getName
    val k = ctx.addMutableState(cls, "vecKernel", v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""${ev.value} = $k.eval($k.left($x), $k.right($y),
         |  ${elemIsFloat(left)}, ${elemIsFloat(right)}, $cosine);
         |${ev.isNull} = $k.wasNull();""".stripMargin)
  }
}

/** The one implementation of [[DotProduct]] and [[CosineSimilarity]]:
  * interpreted evaluation and generated code both run this loop. A
  * NULL result is reported in `wasNull` instead of a boxed null, so the
  * result stays a primitive double. `lf`/`rf` say whether each side's
  * elements are floats; they are fixed when the plan is built.
  */
final class VectorKernel {
  var wasNull: Boolean = false

  // Generated code passes its inputs through `left`/`right`: an
  // UnsafeArrayData read from a row is re-pointed into one of these
  // views, so the per-row object never reaches the loop, which the JIT
  // often leaves out of line, and the JIT can still drop it, as it did
  // when the loop was generated inline.
  private val xv = new UnsafeArrayData
  private val yv = new UnsafeArrayData
  def left(a: ArrayData): ArrayData = view(a, xv)
  def right(a: ArrayData): ArrayData = view(a, yv)
  private def view(a: ArrayData, v: UnsafeArrayData): ArrayData = a match {
    case u: UnsafeArrayData =>
      v.pointTo(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes); v
    case _ => a
  }

  private def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** One pass over the common prefix, left to right in double: the dot
    * product Σ xᵢ·yᵢ, or when `cosine`, dot/(‖x‖·‖y‖), NULL when either
    * norm is 0. A null element makes either NULL. */
  def eval(x: ArrayData, y: ArrayData, lf: Boolean, rf: Boolean, cosine: Boolean): Double = {
    wasNull = false
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) { wasNull = true; return 0.0 }
      val xe = elem(x, lf, i); val ye = elem(y, rf, i)
      dot += xe * ye; na += xe * xe; nb += ye * ye
      i += 1
    }
    if (!cosine) dot
    else if (na == 0.0 || nb == 0.0) { wasNull = true; 0.0 }
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** dot(a, b) = Σ aᵢ·bᵢ in double, left to right. */
case class DotProduct(left: Expression, right: Expression)
  extends VectorBinaryExpression {

  override protected def cosine: Boolean = false

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cos(a, b) = dot/(‖a‖·‖b‖), all three accumulators in ONE pass —
  * the HOF version paid three separate interpreted folds. NULL when
  * either norm is 0: the cosine is undefined there, and 0/0 = NaN would
  * sort above every score and pass every `>= t` filter.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends VectorBinaryExpression {

  override protected def cosine: Boolean = true

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
