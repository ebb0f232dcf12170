package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** k-slot MinHash signature over a hashed-shingle array: slot i is
  * `min over s of xxhash64(i, s)` — BIT-IDENTICAL to the HOF
  * formulation `transform(sequence(0, k-1), i => array_min(transform(
  * sh, s => xxhash64(i, s))))` (DedupSpec pins the parity), but a
  * native k×n primitive loop instead of nested interpreted lambdas.
  * Spark's `xxhash64(a, b)` chains seeds: h = 42, then hashInt(i, h),
  * then hashLong(s, h) — replicated here via the same
  * [[XXH64]] static helpers, so signatures (and therefore LSH bucket
  * assignments) are unchanged to the bit.
  *
  * Semantics on edge input match the HOF chain: an EMPTY shingle array
  * yields k null slots (array_min of empty is null); a null array
  * yields null. Null ELEMENTS are not supported (the dedup pipeline
  * hashes non-null strings) and are rejected at runtime.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"k must be positive, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> or array<string> shingles, got ${other.sql}")
  }

  private def elemIsString: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == StringType

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], k, elemIsString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = ${moduleRef(MinHashSignature)}.signature($arr, $k, $elemIsString);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {

  /** The one MinHash loop: interpreted evaluation and generated code
    * both call it. `isString` is fixed when the plan is built. */
  def signature(arr: ArrayData, k: Int, isString: Boolean): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = XXH64.hashInt(i, 42L)
      var min = Long.MaxValue
      var j = 0
      while (j < n) {
        if (arr.isNullAt(j))
          throw new IllegalArgumentException(
            s"minhash_signature: null shingle at index $j")
        val h =
          if (isString) XXH64.hashUTF8String(arr.getUTF8String(j), seed)
          else XXH64.hashLong(arr.getLong(j), seed)
        if (h < min) min = h
        j += 1
      }
      out(i) = min
      i += 1
    }
    new GenericArrayData(out)
  }
}
