package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All random-hyperplane LSH bucket hashes of one embedding vector in
  * ONE pass: element t of the result packs, bit p, the sign of
  * `dot(vec, planes(t)(p))` — exactly the bucket that the per-plane
  * column formulation `when(dotProduct(vec, lit(plane)) >= 0,
  * 1L << p).otherwise(0L)` OR-chain produced (SimilaritySpec pins the
  * parity bit-for-bit).
  *
  * Why an expression and not columns: with 16 tables × 6 planes the
  * column formulation is 96 separate `DotProduct(vec, <64-double
  * literal>)` nodes inside one projection — a plan whose analysis +
  * Janino compilation dominated the whole query at small scale
  * (measured ~6.5 s for a 2 000-row corpus) and whose generated code
  * re-reads the vector 96 times. Here the plane matrix is ONE
  * `references[]` constant passed to one kernel call, the loop reads
  * each vector element once per plane, and codegen size is independent of
  * tables × planes.
  *
  * Null-ELEMENT semantics match the column formulation: a null element
  * made each `dotProduct` null, which failed the `>= 0` predicate — so
  * the bit is left unset. A null VECTOR is the ONE deliberate
  * divergence: the column formulation mapped it to bucket 0 of every
  * table (`when(null >= 0, ..).otherwise(0L)`), injecting null
  * embeddings as candidates everywhere; here it yields null, so
  * `posexplode` drops the row from candidate generation — a null
  * vector has no cosine to anything.
  */
case class LshBucketHashes(child: Expression, planes: Array[Array[Array[Double]]])
  extends UnaryExpression {
  require(planes.nonEmpty && planes.forall(_.nonEmpty),
    "planes must be a non-empty tables × planesPerTable × dim matrix")
  require(planes.forall(_.length <= 64),
    s"at most 64 planes per table (bits of a long), got ${planes.map(_.length).max}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "lsh_bucket_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> vector, got ${other.sql}")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    LshBucketHashes.hashes(input.asInstanceOf[ArrayData], planes, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, vec =>
      s"${ev.value} = ${moduleRef(LshBucketHashes)}.hashes($vec, $planesRef, $elemIsFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucketHashes =
    copy(child = newChild)
}

object LshBucketHashes {

  /** The one bucketing loop: interpreted evaluation and generated code
    * both call it. `isFloat` is fixed when the plan is built. */
  def hashes(vec: ArrayData, planes: Array[Array[Array[Double]]], isFloat: Boolean): ArrayData = {
    val out = new Array[Long](planes.length)
    var t = 0
    while (t < planes.length) {
      val tbl = planes(t)
      var acc = 0L
      var p = 0
      while (p < tbl.length) {
        val plane = tbl(p)
        val n = math.min(vec.numElements(), plane.length)
        var dot = 0.0
        var i = 0
        while (i < n && !vec.isNullAt(i)) {
          dot += (if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)) * plane(i)
          i += 1
        }
        // i < n: a null element, whose bit stays unset
        if (i == n && dot >= 0) acc |= (1L << p)
        p += 1
      }
      out(t) = acc
      t += 1
    }
    new GenericArrayData(out)
  }
}
