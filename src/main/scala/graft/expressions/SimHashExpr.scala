package graft.expressions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** 64-bit portable SimHash over a token array as ONE per-row
  * expression — BIT-IDENTICAL to the explode + 64-conditional-sums
  * formulation in [[graft.operators.Dedup.simhashPortable64]]'s
  * original shape (DedupSpec pins parity), but with no explode, no
  * shuffle and no 64-column aggregate: bit i (0..31) is the majority
  * vote over tokens of hex digit i of md5(token) being >= '8' (i.e.
  * the top bit of nibble i of the raw digest), bits 32..63 the same
  * over md5('x' || token). md5 hex is identical across engines, so the
  * DuckDB oracle can still recompute the fingerprint in SQL.
  *
  * The vote for hex char c >= '8' equals the top bit of the nibble
  * ('8','9','a'-'f' are exactly the nibbles with value >= 8, and ASCII
  * orders them above '0'-'7'), read directly from the digest bytes —
  * no hex-string materialization at all.
  */
case class SimHashPortable64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash_portable64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHashPortable64.hash(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = ${moduleRef(SimHashPortable64)}.hash($arr);")

  override protected def withNewChildInternal(newChild: Expression): SimHashPortable64 =
    copy(child = newChild)
}

/** Engine-fast 64-bit SimHash twin of [[SimHashPortable64]]: bit i is
  * the majority vote of bit i of xxhash64(token) (Spark's default seed
  * 42 — the same value `xxhash64(tk)` yields in SQL). Bit-identical to
  * the explode + 64-conditional-sums formulation over
  * `shiftright(xxhash64(tk), i) & 1`; no explode, no shuffle.
  */
case class SimHashXx64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash_xx64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> tokens, got ${other.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashPortable64.hashXx(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = ${moduleRef(SimHashPortable64)}.hashXx($arr);")

  override protected def withNewChildInternal(newChild: Expression): SimHashXx64 =
    copy(child = newChild)
}

object SimHashPortable64 {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Shared by interpreted eval and codegen (called per row; the
    * tight loops live here rather than in generated source).
    * Throws on null tokens — the dedup pipeline never produces them.
    */
  def hash(arr: ArrayData): Long = {
    val md = digests.get()
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (arr.isNullAt(t))
        throw new IllegalArgumentException(s"simhash_portable64: null token at index $t")
      val bytes = arr.getUTF8String(t).getBytes
      md.reset()
      md.update(bytes)
      val d1 = md.digest() // digest() resets for the next use
      md.update('x'.toByte)
      md.update(bytes)
      val d2 = md.digest()
      var i = 0
      while (i < 32) {
        val b1 = d1(i >> 1)
        val bit1 = (b1 >> (if ((i & 1) == 0) 7 else 3)) & 1
        votes(i) += (if (bit1 == 1) 1 else -1)
        val b2 = d2(i >> 1)
        val bit2 = (b2 >> (if ((i & 1) == 0) 7 else 3)) & 1
        votes(i + 32) += (if (bit2 == 1) 1 else -1)
        i += 1
      }
      t += 1
    }
    fingerprint(votes)
  }

  /** xxhash64-based voting twin (see [[SimHashXx64]]). */
  def hashXx(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (arr.isNullAt(t))
        throw new IllegalArgumentException(s"simhash_xx64: null token at index $t")
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(arr.getUTF8String(t), 42L)
      var i = 0
      while (i < 64) {
        votes(i) += (if (((h >> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      t += 1
    }
    fingerprint(votes)
  }

  /** Bit i is set iff vote i is positive. */
  private def fingerprint(votes: Array[Int]): Long = {
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) fp |= 1L << i
      i += 1
    }
    fp
  }
}
