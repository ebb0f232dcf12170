package graft.expressions

import java.math.BigInteger
import java.nio.ByteBuffer

import org.apache.spark.sql.types.Decimal

/** The one exact-sum kernel behind [[DSumAgg]], [[DecimalMomentsAgg]],
  * [[SumSqDiffAgg]] and [[CovMomentsAgg]]: a growable array of 128-bit
  * two's-complement integer sums with one seen bit per slot (a slot
  * that received no value evaluates to null, matching builtin `sum`).
  * Updates are pure long arithmetic; the only allocation is at
  * [[grow]] and at the per-group conversion out.
  *
  * Growth only appends slots: a buffer of n slots is a prefix of any
  * longer one, which makes [[mergeFrom]] of ragged sizes a plain
  * element-wise walk.
  *
  * Serialized layout (the only one, see [[writeTo]]): the seen bits as
  * ⌈n/8⌉ bytes (slot 8b+t is bit t of byte b), then n big-endian
  * (hi, lo) long pairs — 17 bytes for one slot. The slot count is not
  * written; the aggregate derives it, or writes it itself where it
  * cannot (CovMomentsAgg's dims).
  */
final class WideSums(initialSize: Int) {
  private[this] var n = initialSize
  private[this] var his = new Array[Long](n)
  private[this] var los = new Array[Long](n)
  private[this] var seen = new Array[Long]((n + 63) >> 6)

  def size: Int = n
  def hi(i: Int): Long = his(i)
  def lo(i: Int): Long = los(i)
  def isSeen(i: Int): Boolean = (seen(i >> 6) & (1L << (i & 63))) != 0L

  /** Append unseen zero slots up to `newSize`; a no-op when not larger. */
  def grow(newSize: Int): Unit = if (newSize > n) {
    his = java.util.Arrays.copyOf(his, newSize)
    los = java.util.Arrays.copyOf(los, newSize)
    seen = java.util.Arrays.copyOf(seen, (newSize + 63) >> 6)
    n = newSize
  }

  /** Add a signed 64-bit addend (sign-extended to 128). */
  def add(i: Int, v: Long): Unit = addWide(i, v >> 63, v)

  /** Add a full 128-bit two's-complement addend. */
  def addWide(i: Int, vHi: Long, vLo: Long): Unit = {
    val l = los(i)
    val nl = l + vLo
    // unsigned carry-out of lo + vLo, branch-free
    val carry = ((l & vLo) | ((l | vLo) & ~nl)) >>> 63
    his(i) += vHi + carry
    los(i) = nl
    seen(i >> 6) |= 1L << (i & 63)
  }

  /** Add every seen slot of `o` into the same slot here, growing to
    * `o.size` first when `o` is longer.
    */
  def mergeFrom(o: WideSums): Unit = {
    grow(o.size)
    var i = 0
    while (i < o.size) {
      if (o.isSeen(i)) addWide(i, o.hi(i), o.lo(i))
      i += 1
    }
  }

  def toBigInteger(i: Int): BigInteger = WideSums.toBigInteger(hi(i), lo(i))

  private def seenBytes: Int = (n + 7) >> 3

  def byteSize: Int = seenBytes + 16 * n

  def writeTo(bb: ByteBuffer): Unit = {
    var b = 0
    while (b < seenBytes) {
      bb.put((seen(b >> 3) >>> ((b & 7) * 8)).toByte)
      b += 1
    }
    var i = 0
    while (i < n) { bb.putLong(his(i)); bb.putLong(los(i)); i += 1 }
  }

  /** Overwrite this buffer from [[writeTo]]'s layout at its current size. */
  def readFrom(bb: ByteBuffer): Unit = {
    java.util.Arrays.fill(seen, 0L)
    var b = 0
    while (b < seenBytes) {
      seen(b >> 3) |= (bb.get() & 0xFFL) << ((b & 7) * 8)
      b += 1
    }
    var i = 0
    while (i < n) { his(i) = bb.getLong(); los(i) = bb.getLong(); i += 1 }
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(byteSize)
    writeTo(bb)
    bb.array()
  }
}

object WideSums {
  def fromBytes(bytes: Array[Byte], size: Int): WideSums = {
    val s = new WideSums(size)
    s.readFrom(ByteBuffer.wrap(bytes))
    s
  }

  /** The one 128-bit two's-complement → BigInteger conversion. */
  def toBigInteger(hi: Long, lo: Long): BigInteger = {
    val bytes = new Array[Byte](16)
    var b = 0
    while (b < 8) {
      bytes(b) = (hi >>> (56 - 8 * b)).toByte
      bytes(b + 8) = (lo >>> (56 - 8 * b)).toByte
      b += 1
    }
    new BigInteger(bytes)
  }

  /** The sum as the DECIMAL(38,0) a builtin integral decimal sum holds. */
  def decimal38(hi: Long, lo: Long): Decimal =
    Decimal(new java.math.BigDecimal(toBigInteger(hi, lo), 0), 38, 0)
}
