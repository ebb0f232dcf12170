package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Lloyd assignment of one quantized vector against the FULL centroid
  * matrix in ONE pass: `struct(cluster, d2)` where `cluster` is the
  * argmin cluster id and `d2` its exact squared distance — exactly the
  * row the former join formulation produced per vector:
  *
  *   x(vec_id, dim, xi) ⋈ broadcast(cent(cluster, dim, ci)) on dim
  *     → groupBy(vec_id, cluster).agg(sumSqDiff(xi, ci))
  *     → row_number() over (partition by vec_id order by d2, cluster)
  *     → rn = 1
  *
  * Why an expression and not the join: the join fans every corpus row
  * out ×k and then pays TWO exchanges (the (vec_id, cluster) aggregate
  * and the per-vec argmin window, the latter with a sort) per Lloyd
  * iteration. Here the centroid matrix is a `references[]` constant
  * (k·dim longs — 4 KB at q121's k=8, dim=64) passed to one kernel
  * call, each vector element is read once per cluster, and assignment
  * needs NO shuffle at all — the 100 TB shape: corpus rows never fan
  * out and never land in a sorter.
  *
  * Bit-parity contract with the join formulation (KMeansAssignSpec):
  *
  *  - arithmetic is [[SumSqDiffAgg]]'s: one long subtract, exact
  *    128-bit square via Math.multiplyHigh, the same carry add held
  *    in two local longs (the kernel has no buffer object); `d2` is
  *    emitted through the same [[WideSums.decimal38]] conversion, one
  *    Decimal per row; with the result row, the only allocation on
  *    the path.
  *  - a null vector element, or a null centroid coordinate, skips that
  *    term (null xi or ci made sumSqDiff skip the row).
  *  - a cluster is a CANDIDATE iff min(len(vec), dims(cluster)) ≥ 1 —
  *    the dims the inner join on `dim` would have matched; extra
  *    vector dims beyond the cluster's are dropped, like the join.
  *  - a candidate whose every term was skipped has d2 = null, and null
  *    orders BEFORE any value (the window's default ASC NULLS FIRST);
  *    ties break toward the smaller cluster id.
  *  - a vector with NO candidate clusters (null/empty array, or every
  *    cluster dimensionless) yields null — the caller filters it out,
  *    exactly as `posexplode` dropped it from the exploded corpus.
  */
case class KMeansAssignExpr(
    child: Expression,
    cent: Array[Array[Long]],
    centNull: Array[Array[Boolean]])
  extends UnaryExpression {
  require(cent.length >= 1, "at least one centroid required")
  require(cent.length == centNull.length &&
    cent.indices.forall(c => cent(c).length == centNull(c).length),
    "centroid value/null-mask shapes must match")

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", LongType, nullable = false),
    StructField("d2", DecimalType(38, 0), nullable = true)))
  // null for a null input AND for a candidate-less vector
  override def nullable: Boolean = true
  override def prettyName: String = "kmeans_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> (quantized coordinates), got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    KMeansAssignExpr.assign(input.asInstanceOf[ArrayData], cent, centNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("kmCent", cent, "long[][]")
    val nullRef = ctx.addReferenceObj("kmCentNull", centNull, "boolean[][]")
    nullSafeCodeGen(ctx, ev, vec =>
      s"""${ev.value} = ${moduleRef(KMeansAssignExpr)}.assign($vec, $centRef, $nullRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): KMeansAssignExpr =
    copy(child = newChild)

  // case-class equality over Array fields is reference identity, which
  // would make two contents-identical instances never semanticEquals
  // (defeating canonicalization/subexpression elimination). Compare by
  // contents instead — the arrays are never mutated after construction
  // (the Lloyd loop builds fresh arrays each round). (ADVICE r15)
  override def equals(other: Any): Boolean = other match {
    case o: KMeansAssignExpr =>
      child == o.child &&
        java.util.Arrays.deepEquals(
          cent.asInstanceOf[Array[AnyRef]], o.cent.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.deepEquals(
          centNull.asInstanceOf[Array[AnyRef]], o.centNull.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() +
      java.util.Arrays.deepHashCode(cent.asInstanceOf[Array[AnyRef]])) +
      java.util.Arrays.deepHashCode(centNull.asInstanceOf[Array[AnyRef]])
}

object KMeansAssignExpr {

  /** The one assignment loop: interpreted evaluation and generated
    * code both call it. Null when the vector has no candidate cluster. */
  def assign(
      vec: ArrayData, cent: Array[Array[Long]], centNull: Array[Array[Boolean]]): InternalRow = {
    val len = vec.numElements()
    var any = false
    var bc = 0L
    var bNull = true
    var bHi = 0L
    var bLo = 0L
    var c = 0
    while (c < cent.length) {
      val cv = cent(c)
      val cn = centNull(c)
      val n = math.min(len, cv.length)
      if (n >= 1) {
        var seen = false
        var hi = 0L
        var lo = 0L
        var i = 0
        while (i < n) {
          if (!vec.isNullAt(i) && !cn(i)) {
            val d = vec.getLong(i) - cv(i)
            val pLo = d * d
            val pHi = Math.multiplyHigh(d, d)
            val nl = lo + pLo
            val carry = ((lo & pLo) | ((lo | pLo) & ~nl)) >>> 63
            hi += pHi + carry
            lo = nl
            seen = true
          }
          i += 1
        }
        val better =
          if (!any) true
          else if (!seen) !bNull // null sorts before any value; null==null keeps earlier
          else if (bNull) false
          else hi < bHi || (hi == bHi && java.lang.Long.compareUnsigned(lo, bLo) < 0)
        if (better) {
          any = true; bc = c.toLong; bNull = !seen; bHi = hi; bLo = lo
        }
      }
      c += 1
    }
    if (!any) null
    else {
      val fields = new Array[Any](2)
      fields(0) = bc
      fields(1) = if (bNull) null else WideSums.decimal38(bHi, bLo)
      new GenericInternalRow(fields)
    }
  }
}
