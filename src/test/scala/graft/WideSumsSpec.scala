package graft

import java.math.{BigInteger, RoundingMode}

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.expressions._

/** [[graft.expressions.WideSums]] and the four exact aggregates built
  * on it (DSumAgg, DecimalMomentsAgg, SumSqDiffAgg, CovMomentsAgg):
  * whatever the input is split into, however the pieces' buffers are
  * serialized and in whatever order they merge, `eval` equals the
  * single-buffer `eval` and an independent BigInteger/BigDecimal model.
  * No Spark session: the aggregates are driven directly.
  */
class WideSumsSpec extends AnyFunSuite with Matchers {

  private val Two128 = BigInteger.ONE.shiftLeft(128)

  /** A BigInteger reduced to 128-bit two's complement, as WideSums holds it. */
  private def wrap128(b: BigInteger): BigInteger = {
    val m = b.mod(Two128)
    if (m.testBit(127)) m.subtract(Two128) else m
  }

  /** Update one buffer per random piece of `rows`, round-trip every
    * buffer through serialize/deserialize, merge them in a random
    * order. Returns (merged eval, single-buffer eval).
    */
  private def splitMerge[T](agg: TypedImperativeAggregate[T],
      rows: IndexedSeq[InternalRow], rnd: Random): (Any, Any) = {
    val single = agg.createAggregationBuffer()
    rows.foreach(agg.update(single, _))
    val cuts = (Seq(0, rows.size) ++
      Seq.fill(rnd.nextInt(6))(rnd.nextInt(rows.size + 1))).sorted
    val pieces = cuts.zip(cuts.tail).map { case (a, b) =>
      val buf = agg.createAggregationBuffer()
      rows.slice(a, b).foreach(agg.update(buf, _))
      agg.deserialize(agg.serialize(buf))
    }
    val order = rnd.shuffle(pieces)
    val merged = order.tail.foldLeft(order.head)((acc, p) => agg.merge(acc, p))
    (agg.eval(merged), agg.eval(single))
  }

  /** Eval output in comparable form: doubles by raw bits (so −0.0,
    * NaN and every ULP count), decimals with their scale.
    */
  private def norm(v: Any): Any = v match {
    case null => null
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case d: Decimal => d.toJavaBigDecimal
    case r: GenericInternalRow => r.values.toSeq.map(norm)
    case a: ArrayData => a.array.toSeq.map(norm)
    case other => other
  }

  private def check[T](agg: TypedImperativeAggregate[T],
      rows: IndexedSeq[InternalRow], model: Any, rnd: Random, clue: String): Unit = {
    val (merged, single) = splitMerge(agg, rows, rnd)
    assert(norm(single) == norm(model), s"single buffer vs model: $clue")
    assert(norm(merged) == norm(single), s"split/serde/merge vs single: $clue")
  }

  // ------------------------------------------------------------ models

  /** Spark's `cast(x AS DECIMAL(30,6))`, unscaled, from its definition:
    * the shortest-repr decimal of x rounded HALF_UP to 6 places; null
    * (None) for non-finite x or a result over 30 digits.
    */
  private def round6(x: java.lang.Double): Option[BigInteger] =
    if (x == null || !java.lang.Double.isFinite(x)) None
    else {
      val r = new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(6, RoundingMode.HALF_UP)
      if (r.precision > 30) None else Some(r.unscaledValue)
    }

  /** `sum(cast(x AS DECIMAL(30,6))).cast(double)` over the values. */
  private def dsumModel(xs: Seq[java.lang.Double]): Any = {
    val parts = xs.flatMap(round6)
    if (parts.isEmpty) null
    else new java.math.BigDecimal(parts.reduce(_ add _), 6).doubleValue()
  }

  private def dec38Model(parts: Seq[BigInteger]): Any =
    if (parts.isEmpty) null
    else Decimal(new java.math.BigDecimal(parts.reduce(_ add _), 0), 38, 0)

  private def mul(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null || b == null) null else java.lang.Double.valueOf(a * b)

  // -------------------------------------------------------- generators

  private def genDouble(rnd: Random): java.lang.Double = rnd.nextInt(12) match {
    case 0 => null
    case 1 => Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)(rnd.nextInt(5))
    case 2 | 3 =>
      // DSum's slow-path gate: |x|·10⁶ ≈ 4.4e15, on both sides
      var d = 4.4e9 * (1 + (rnd.nextDouble() - 0.5) * 1e-4)
      (1 to rnd.nextInt(3)).foreach(_ => d = Math.nextUp(d))
      if (rnd.nextBoolean()) d else -d
    case 4 => // exact half-way lattice points: the rounding tie
      (rnd.nextLong() % 4000000000000L + 0.5) / 1e6
    case 5 => 1e25 * (if (rnd.nextBoolean()) 1 else -1) // > 30 digits: null cast
    case 6 | 7 => rnd.nextInt(100000000) / 100.0 * (if (rnd.nextBoolean()) 1 else -1)
    case 8 => rnd.nextInt(1000) / 1000.0
    case _ => rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 4)
  }

  private def genLong(rnd: Random): java.lang.Long =
    if (rnd.nextInt(10) == 0) null
    else rnd.nextInt(3) match {
      case 0 => rnd.nextLong() % 100L
      case 1 => rnd.nextLong() % 2000000000L
      case _ => rnd.nextLong() % 500000000000000L
    }

  /** Insert at most one row of Long.MinValue/MaxValue extremes: one
    * such row's products (up to 2¹²⁶) plus the bounded rest stay
    * below the 10³⁸ a DECIMAL(38,0) result can hold.
    */
  private def withExtreme[A](rnd: Random, rows: IndexedSeq[A], extreme: => A) =
    if (rnd.nextBoolean()) rows
    else {
      val at = rnd.nextInt(rows.size + 1)
      (rows.take(at) :+ extreme) ++ rows.drop(at)
    }

  private val Extremes = IndexedSeq(Long.MinValue, Long.MaxValue, 0L, -1L)

  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  // ------------------------------------------------------------ specs

  test("WideSums: random adds, growth, ragged merges and serde ≡ BigInteger mod 2¹²⁸") {
    val rnd = new Random(128L)
    (1 to 300).foreach { c =>
      def fill(n: Int): (WideSums, Array[BigInteger], Array[Boolean]) = {
        val s = new WideSums(n)
        val ref = Array.fill(n)(BigInteger.ZERO)
        val seen = new Array[Boolean](n)
        (1 to rnd.nextInt(400)).foreach { _ =>
          val i = rnd.nextInt(n)
          rnd.nextInt(3) match {
            case 0 =>
              val v = Seq(Long.MinValue, Long.MaxValue, rnd.nextLong())(rnd.nextInt(3))
              s.add(i, v); ref(i) = ref(i).add(BigInteger.valueOf(v))
            case _ =>
              val w = new BigInteger(127, rnd.self).subtract(BigInteger.ONE.shiftLeft(126))
              s.addWide(i, w.shiftRight(64).longValue(), w.longValue())
              ref(i) = ref(i).add(w)
          }
          seen(i) = true
        }
        (s, ref, seen)
      }
      val na = 1 + rnd.nextInt(150)
      val nb = 1 + rnd.nextInt(150)
      val (a, refA, seenA) = fill(na)
      val (b0, refB, seenB) = fill(nb)
      val b = WideSums.fromBytes(b0.toBytes, nb)
      b0.byteSize shouldBe (nb + 7) / 8 + 16 * nb
      a.mergeFrom(b)
      a.size shouldBe math.max(na, nb)
      (0 until a.size).foreach { i =>
        val ra = if (i < na) refA(i) else BigInteger.ZERO
        val rb = if (i < nb) refB(i) else BigInteger.ZERO
        assert(a.toBigInteger(i) == wrap128(ra.add(rb)), s"case $c slot $i")
        assert(a.isSeen(i) == ((i < na && seenA(i)) || (i < nb && seenB(i))),
          s"case $c seen $i")
      }
    }
  }

  test("DSumAgg: split, serde and merge order ≡ single buffer ≡ decimal model") {
    val rnd = new Random(1L)
    val agg = DSumAgg(BoundReference(0, DoubleType, nullable = true),
      failOnError = false)
    (1 to 400).foreach { c =>
      val xs = IndexedSeq.fill(rnd.nextInt(300))(genDouble(rnd))
      check(agg, xs.map(x => row(x)), dsumModel(xs), rnd, s"case $c")
    }
  }

  test("DecimalMomentsAgg (1, 3 and 12 columns): split/serde/merge ≡ model") {
    val rnd = new Random(2L)
    (1 to 90).foreach { c =>
      val k = Seq(1, 3, 12)(c % 3)
      val agg = DecimalMomentsAgg(
        (0 until k).map(i => BoundReference(i, DoubleType, nullable = true)),
        (0 until k).map(i => s"c$i"), failOnError = false)
      val xs = IndexedSeq.fill(rnd.nextInt(200))(IndexedSeq.fill(k)(genDouble(rnd)))
      val pairs = for (i <- 0 until k; j <- 0 until k if i < j) yield (i, j)
      val model = new GenericInternalRow(
        ((0 until k).map(i => dsumModel(xs.map(_(i)))) ++
          (0 until k).map(i => dsumModel(xs.map(r => mul(r(i), r(i))))) ++
          pairs.map { case (i, j) => dsumModel(xs.map(r => mul(r(i), r(j)))) })
          .toArray[Any])
      check(agg, xs.map(r => row(r: _*)), model, rnd, s"case $c (k=$k)")
    }
  }

  test("SumSqDiffAgg: split/serde/merge ≡ model, Long.MinValue/MaxValue included") {
    val rnd = new Random(3L)
    val agg = SumSqDiffAgg(BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    (1 to 400).foreach { c =>
      val xcs = withExtreme(rnd,
        IndexedSeq.fill(rnd.nextInt(300))((genLong(rnd), genLong(rnd))),
        (java.lang.Long.valueOf(Extremes(rnd.nextInt(4))),
          java.lang.Long.valueOf(Extremes(rnd.nextInt(4)))))
      val model = dec38Model(xcs.collect { case (x, cc) if x != null && cc != null =>
        val d = BigInteger.valueOf(x.longValue - cc.longValue) // wraps, as in the aggregate
        d.multiply(d)
      })
      check(agg, xcs.map { case (x, cc) => row(x, cc) }, model, rnd, s"case $c")
    }
  }

  test("CovMomentsAgg: ragged split/serde/merge ≡ model, Long.MinValue/MaxValue included") {
    val rnd = new Random(4L)
    val agg = CovMomentsAgg(BoundReference(0,
      ArrayType(LongType, containsNull = true), nullable = true))
    (1 to 300).foreach { c =>
      val vecs: IndexedSeq[IndexedSeq[java.lang.Long]] = withExtreme(rnd,
        IndexedSeq.fill(rnd.nextInt(120)) {
          if (rnd.nextInt(15) == 0) null
          else IndexedSeq.fill(rnd.nextInt(10))(genLong(rnd))
        },
        IndexedSeq.fill(1 + rnd.nextInt(9))(
          java.lang.Long.valueOf(Extremes(rnd.nextInt(4)))))
      val live = vecs.filter(_ != null)
      val dims = if (live.isEmpty) 0 else live.map(_.size).max
      val model = new GenericArrayData((for {
        j <- 0 until dims; i <- 0 to j
      } yield {
        val touching = live.filter(_.size > j)
        def sums(f: IndexedSeq[java.lang.Long] => Option[BigInteger]) =
          dec38Model(touching.flatMap(f))
        def v(r: IndexedSeq[java.lang.Long], t: Int) =
          Option(r(t)).map(x => BigInteger.valueOf(x))
        new GenericInternalRow(Array[Any](i.toLong, j.toLong,
          touching.size.toLong,
          sums(v(_, i)), sums(v(_, j)),
          sums(r => for (a <- v(r, i); b <- v(r, j)) yield a.multiply(b))))
      }).toArray[Any])
      val rows = vecs.map(v => row(
        if (v == null) null else new GenericArrayData(v.toArray[Any])))
      check(agg, rows, model, rnd, s"case $c")
    }
  }

  test("a serialized one-slot buffer is 17 bytes: seen byte, then hi and lo") {
    val dsum = DSumAgg(BoundReference(0, DoubleType, nullable = true),
      failOnError = false)
    val empty = dsum.serialize(dsum.createAggregationBuffer())
    empty.length shouldBe 17
    empty.forall(_ == 0) shouldBe true
    val buf = dsum.createAggregationBuffer()
    dsum.update(buf, row(java.lang.Double.valueOf(-1.5)))
    val bytes = dsum.serialize(buf)
    bytes.length shouldBe 17
    bytes(0) shouldBe 1.toByte
    val bb = java.nio.ByteBuffer.wrap(bytes, 1, 16)
    (bb.getLong(), bb.getLong()) shouldBe ((-1L, -1500000L))
    val ssd = SumSqDiffAgg(BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true))
    ssd.serialize(ssd.createAggregationBuffer()).length shouldBe 17
  }
}
