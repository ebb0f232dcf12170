package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Growable upper-triangle moment accumulator — the buffer of
  * [[CovMomentsAgg]]. Pairs are indexed J-MAJOR (p = j·(j+1)/2 + i for
  * i ≤ j) so growing to a larger dimension count only APPENDS slots:
  * every pair with j < D is a prefix of the layout for any D' > D,
  * which makes ragged-length growth and cross-buffer merge a plain
  * element-wise walk with no re-indexing.
  *
  * Per pair p: a count n(p) plus slot p of three [[WideSums]] — Σxi,
  * Σxj, Σxi·xj — each null until it sees a value exactly like the
  * builtin `sum` it replaces. Three buffers, not one of 3·pairs slots:
  * with a pair's three sums interleaved in one buffer the O(dims²)
  * update loop measured ~25% slower (2,000 64-dim rows, paired runs
  * in one JVM on a 4-core host). Invariant: any row of length L
  * touches EVERY pair with j < L, so once a slot exists its count is
  * ≥ 1 — eval never emits a pair no input row contained.
  */
final class CovMomentsBuf {
  var dims: Int = 0
  var n: Array[Long] = new Array[Long](0)
  val sx = new WideSums(0)
  val sy = new WideSums(0)
  val sxy = new WideSums(0)
  // per-row scratch (reused, never escapes): the row's values and
  // null mask, read once so the O(L²) inner loop touches only locals
  var vals: Array[Long] = null
  var isNull: Array[Boolean] = null

  def pairs: Int = dims * (dims + 1) / 2

  def grow(newDims: Int): Unit = {
    if (newDims <= dims) return
    val p = newDims * (newDims + 1) / 2
    n = java.util.Arrays.copyOf(n, p)
    sx.grow(p); sy.grow(p); sxy.grow(p)
    vals = new Array[Long](newDims)
    isNull = new Array[Boolean](newDims)
    dims = newDims
  }
}

/** All upper-triangle covariance moments of a long-array column in ONE
  * allocation-free pass over UNEXPLODED rows, bit-identical to the
  * builtin idiom it replaces in [[graft.operators.Similarity.embeddingCovariance]]:
  *
  *   posexplode × posexplode (j ≥ i) →
  *   groupBy(i, j).agg(count(1),
  *     sum(xi.cast(DECIMAL(38,0))), sum(xj.cast(DECIMAL(38,0))),
  *     sum(xi.cast(DECIMAL(38,0)) * xj))
  *
  * That shape fans every row out to dims·(dims+1)/2 rows (×2,080 at
  * dims = 64) and pays three BigDecimal-backed decimal sums per
  * exploded row — q159 measured 7.5 GB allocated and 5.8 s per pass at
  * sf0.1 to aggregate 2,000 vectors into 2,080 result rows. Here each
  * input row is read once into a scratch array and the O(dims²) inner
  * loop runs on locals: count bump, two sign-extended 128-bit adds,
  * one exact 128-bit product (Math.multiplyHigh) — no explode, no
  * per-row boxing, no BigDecimal until the single per-group eval.
  *
  * Returns array<struct<i, j, n, sx, sy, sxy>> (j-major order; callers
  * explode and re-sort), with the sums as DECIMAL(38,0) — exactly what
  * the builtin sums produced, so the downstream exact-divide formula
  * sees identical values (CovMomentsSpec pins bitwise parity on ragged
  * null-bearing fuzz and on the sf0.001 embeddings table). Null
  * semantics match the explode formulation: a null array contributes
  * nothing; a pair's count includes rows whose element is null while
  * each sum skips nulls (null product skips sxy); an all-null slot
  * sum is null. Zero rows → empty array (explode yields zero rows,
  * like the empty groupBy it replaces). Overflow: Σxi·xj accrues
  * ≤ 4·10¹⁸/row for nano-quantized values in (−2, 2), so the 128-bit
  * accumulator saturates at ~4·10¹⁹ rows — an order of magnitude LATER
  * than the DECIMAL(38) sum it replaces (10³⁸ / 4·10¹⁸ ≈ 2.5·10¹⁹),
  * and both far past the n ≈ 3.5·10⁹ offset-shift envelope documented
  * at the call site.
  */
case class CovMomentsAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CovMomentsBuf] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("sx", DecimalType(38, 0)),
    StructField("sy", DecimalType(38, 0)),
    StructField("sxy", DecimalType(38, 0)))), containsNull = false)
  override def prettyName: String = "cov_moments_128"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${t.sql}")
  }

  override def createAggregationBuffer(): CovMomentsBuf = new CovMomentsBuf

  // unboxed read through the planner's BoundReference (the
  // TopKByScoreAgg pattern); eval fallback boxes the ArrayData
  @transient private lazy val boundOrdinal: Option[Int] = child match {
    case b: BoundReference => Some(b.ordinal)
    case _ => None
  }

  private def addRow(buf: CovMomentsBuf, a: ArrayData): Unit = {
    val len = a.numElements()
    if (len > buf.dims) buf.grow(len)
    val vals = buf.vals
    val nulls = buf.isNull
    val sx = buf.sx
    val sy = buf.sy
    val sxy = buf.sxy
    var k = 0
    while (k < len) {
      val nu = a.isNullAt(k)
      nulls(k) = nu
      if (!nu) vals(k) = a.getLong(k)
      k += 1
    }
    var j = 0
    while (j < len) {
      val base = j * (j + 1) / 2
      val xjNull = nulls(j)
      val xj = vals(j)
      var i = 0
      while (i <= j) {
        val p = base + i
        buf.n(p) += 1
        if (!nulls(i)) {
          val xi = vals(i)
          sx.add(p, xi)
          if (!xjNull) sxy.addWide(p, Math.multiplyHigh(xi, xj), xi * xj)
        }
        if (!xjNull) sy.add(p, xj)
        i += 1
      }
      j += 1
    }
  }

  override def update(buf: CovMomentsBuf, input: InternalRow): CovMomentsBuf = {
    boundOrdinal match {
      case Some(o) =>
        if (!input.isNullAt(o)) addRow(buf, input.getArray(o))
      case None =>
        val v = child.eval(input)
        if (v != null) addRow(buf, v.asInstanceOf[ArrayData])
    }
    buf
  }

  override def merge(buf: CovMomentsBuf, other: CovMomentsBuf): CovMomentsBuf = {
    buf.grow(other.dims)
    var p = 0
    while (p < other.pairs) { buf.n(p) += other.n(p); p += 1 }
    buf.sx.mergeFrom(other.sx)
    buf.sy.mergeFrom(other.sy)
    buf.sxy.mergeFrom(other.sxy)
    buf
  }

  private def dec(sums: WideSums, s: Int): Any =
    if (!sums.isSeen(s)) null else WideSums.decimal38(sums.hi(s), sums.lo(s))

  override def eval(buf: CovMomentsBuf): Any = {
    val out = new Array[Any](buf.pairs)
    var j = 0
    while (j < buf.dims) {
      val base = j * (j + 1) / 2
      var i = 0
      while (i <= j) {
        val p = base + i
        out(p) = new GenericInternalRow(Array[Any](
          i.toLong, j.toLong, buf.n(p),
          dec(buf.sx, p), dec(buf.sy, p), dec(buf.sxy, p)))
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  // dims (the one slot count the aggregate cannot derive), the
  // counts, then the three sums in WideSums' layout
  override def serialize(buf: CovMomentsBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.pairs + 3 * buf.sx.byteSize)
    bb.putInt(buf.dims)
    buf.n.foreach(v => bb.putLong(v))
    buf.sx.writeTo(bb); buf.sy.writeTo(bb); buf.sxy.writeTo(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CovMomentsBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new CovMomentsBuf
    buf.grow(bb.getInt())
    var p = 0
    while (p < buf.pairs) { buf.n(p) = bb.getLong(); p += 1 }
    buf.sx.readFrom(bb); buf.sy.readFrom(bb); buf.sxy.readFrom(bb)
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): CovMomentsAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CovMomentsAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CovMomentsAgg =
    copy(child = newChildren(0))
}
