package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path. The
  * higher-order-function formulation (`aggregate` over `zip_with`) is
  * interpreted — measured as the dominant cost in LSH bucketing, which
  * folds 48 dot products per row — while these participate in
  * whole-stage codegen with a tight primitive loop (the preference
  * order: native Expression > HOFs > UDF).
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

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  protected def getElem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
  protected def genGet(v: String, isFloat: Boolean, i: String): String =
    if (isFloat) s"((double) $v.getFloat($i))" else s"$v.getDouble($i)"
}

/** dot(a, b) = Σ aᵢ·bᵢ in double, left to right. */
case class DotProduct(left: Expression, right: Expression)
  extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += getElem(x, lf, i) * getElem(y, rf, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += ${genGet(x, elemIsFloat(left), i)} * ${genGet(y, elemIsFloat(right), i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xe = getElem(x, lf, i); val ye = getElem(y, rf, i)
      dot += xe * ye; na += xe * xe; nb += ye * ye
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xe = ctx.freshName("xe"); val ye = ctx.freshName("ye")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $xe = ${genGet(x, elemIsFloat(left), i)};
         |  double $ye = ${genGet(y, elemIsFloat(right), i)};
         |  $dot += $xe * $ye; $na += $xe * $xe; $nb += $ye * $ye;
         |}
         |if ($na == 0.0 || $nb == 0.0) ${ev.isNull} = true;
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
