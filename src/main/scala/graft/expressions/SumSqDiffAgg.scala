package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Σ(x − c)² as one allocation-free aggregate over long columns,
  * bit-identical to the builtin idiom it replaces in the k-means
  * assignment loop:
  *
  *   sum(((x − c)).cast(DECIMAL(38,0)) * (x − c))
  *
  * That idiom pays a per-ROW BigDecimal chain (the 38-digit Decimal is
  * never compact: cast allocates, the multiply allocates, every sum
  * update allocates) on the hottest path in the operator — the
  * corpus × broadcast-centroid join runs it rows × k times per Lloyd
  * iteration (q121 measured 4.7 GB allocated/pass at sf0.1). Here the
  * difference is one long subtract, the square is an exact 128-bit
  * primitive product (Math.multiplyHigh for the high word — d² of any
  * long fits 126 bits), and the accumulator is a one-slot
  * [[WideSums]]; the ONLY allocation is one Decimal per GROUP at eval.
  *
  * Output type is DECIMAL(38,0), exactly what the builtin sum
  * produced, so downstream comparisons (argmin windows) and the final
  * SSE math see identical values (SumSqDiffSpec pins bitwise parity
  * on signed fuzz with nulls and partial merges). Null x or c skips
  * the row (a null difference is a null product is a sum-skipped
  * row); a group with no accumulated value is null. Overflow past
  * 2¹²⁷ would need ~10¹⁹ max-magnitude rows in one group — the
  * builtin DECIMAL(38) sum overflows (ANSI-throws) an order of
  * magnitude sooner, at 10³⁸.
  */
case class SumSqDiffAgg(
    xChild: Expression,
    cChild: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WideSums] {

  override def children: Seq[Expression] = xChild :: cChild :: Nil
  override def nullable: Boolean = true
  override def dataType: DataType = DecimalType(38, 0)
  override def prettyName: String = "sum_sq_diff_128"

  override def checkInputDataTypes(): TypeCheckResult =
    (xChild.dataType, cChild.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint, bigint), got (${a.sql}, ${b.sql})")
    }

  override def createAggregationBuffer(): WideSums = new WideSums(1)

  // unboxed read through the planner's BoundReferences (the
  // TopKByScoreAgg pattern); eval fallback boxes two Longs per row
  @transient private lazy val boundOrdinals: Option[(Int, Int)] =
    (xChild, cChild) match {
      case (x: BoundReference, c: BoundReference) =>
        Some((x.ordinal, c.ordinal))
      case _ => None
    }

  private def addSq(buf: WideSums, x: Long, c: Long): Unit = {
    val d = x - c
    buf.addWide(0, Math.multiplyHigh(d, d), d * d)
  }

  override def update(buf: WideSums, input: InternalRow): WideSums = {
    boundOrdinals match {
      case Some((xo, co)) =>
        if (!input.isNullAt(xo) && !input.isNullAt(co))
          addSq(buf, input.getLong(xo), input.getLong(co))
      case None =>
        val x = xChild.eval(input)
        val c = cChild.eval(input)
        if (x != null && c != null)
          addSq(buf, x.asInstanceOf[Long], c.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: WideSums, other: WideSums): WideSums = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: WideSums): Any =
    if (!buf.isSeen(0)) null else WideSums.decimal38(buf.hi(0), buf.lo(0))

  override def serialize(buf: WideSums): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): WideSums =
    WideSums.fromBytes(bytes, 1)

  override def withNewMutableAggBufferOffset(n: Int): SumSqDiffAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SumSqDiffAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SumSqDiffAgg =
    copy(xChild = newChildren(0), cChild = newChildren(1))
}
