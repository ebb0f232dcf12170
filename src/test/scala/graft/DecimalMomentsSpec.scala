package graft

import java.math.BigInteger

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.expressions.{FixedPoint6, WideSums}
import graft.operators.Profile

/** [[graft.expressions.DecimalMomentsAgg]]: the allocation-free
  * replacement for the builtin `sum(cast(x AS DECIMAL(30,6)))` moment
  * menu in Profile.correlationMatrix must be BIT-IDENTICAL — the fast
  * rounding path is proven against Spark's own Decimal cast on fuzz +
  * adversarial corpora, the 128-bit accumulator against BigInteger,
  * and the whole aggregate against the builtin formulation it
  * replaced (doubleToRawLongBits equality, so not even a ULP hides).
  */
class DecimalMomentsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference rounding = Spark's own cast path (what slowUnscaled6
    * delegates to); fast path results must match it exactly.
    */
  private def ref6(d: Double): Option[BigInteger] = {
    if (!java.lang.Double.isFinite(d)) return None
    val dec = org.apache.spark.sql.types.Decimal(d)
    if (!dec.changePrecision(30, 6)) None
    else Some(dec.toJavaBigDecimal.unscaledValue())
  }

  private def checkFast(d: Double): Boolean = {
    val f = FixedPoint6.fastUnscaled6(d)
    if (f == FixedPoint6.Slow) false
    else {
      val r = ref6(d)
      assert(r.isDefined && r.get.bitLength < 63 &&
        r.get.longValueExact() == f,
        s"fast6 mismatch for $d (bits ${java.lang.Double.doubleToRawLongBits(d)}): fast=$f ref=$r")
      true
    }
  }

  test("fastUnscaled6 matches Spark's Decimal cast on fuzz corpora") {
    val rnd = new scala.util.Random(20260816L)
    var fast = 0L; var slow = 0L
    def run(d: Double): Unit = if (checkFast(d)) fast += 1 else slow += 1

    // magnitude sweep: log-uniform exponents across the whole fast
    // range and beyond the gate
    (1 to 400000).foreach { _ =>
      val exp = rnd.nextDouble() * 24 - 8 // 1e-8 .. 1e16
      val d = math.pow(10, exp) * (if (rnd.nextBoolean()) 1 else -1) *
        (0.5 + rnd.nextDouble())
      run(d)
    }
    // the shapes the correlation pass actually produces — counted
    // separately: THIS is the corpus the fast path must carry (the
    // adversarial block below is boundary-heavy by design and the
    // magnitude sweep deliberately crosses the 4.4e9 gate)
    val repFast0 = fast; val repSlow0 = slow
    (1 to 200000).foreach { _ =>
      val price = rnd.nextInt(10000000) / 100.0 // 2dp
      val qty = (1 + rnd.nextInt(50)).toDouble // integral
      val rate = rnd.nextInt(1000) / 1000.0 // 3dp
      run(price); run(qty); run(rate)
      run(price * qty); run(price * price); run(rate * price)
      run(rate * rate); run(qty * qty); run(qty * rate)
    }
    val repFast = fast - repFast0; val repSlow = slow - repSlow0
    // adversarial: exact 6dp lattice points and half-boundary
    // neighbourhoods, ± a few ulps
    (1 to 200000).foreach { _ =>
      val k = rnd.nextLong() % 4000000000000L
      val base = k / 1e6
      val half = (k + 0.5) / 1e6
      var d = base
      run(d); run(-d)
      d = half
      (1 to 3).foreach { _ => run(d); d = Math.nextUp(d) }
      d = half
      (1 to 3).foreach { _ => run(d); d = Math.nextDown(d) }
    }
    // specials
    Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e-7, 4.9e-7, 5e-7, 5.1e-7, -5e-7, 0.9999995, 1.0000005,
      4.3999e9, 4.4e9, 4.5e9, 1e10, 9.2e12, 1e13, 1e25,
      Double.MaxValue, -Double.MaxValue).foreach(run)
    // non-finite must decline to the slow path (which nulls/throws)
    assert(FixedPoint6.fastUnscaled6(Double.NaN) == FixedPoint6.Slow)
    assert(FixedPoint6.fastUnscaled6(Double.PositiveInfinity) ==
      FixedPoint6.Slow)
    assert(FixedPoint6.fastUnscaled6(Double.NegativeInfinity) ==
      FixedPoint6.Slow)
    info(s"all corpora: fast=$fast slow=$slow; " +
      s"representative: fast=$repFast slow=$repSlow " +
      s"(${repSlow * 100.0 / (repFast + repSlow)}% slow)")
    // the fast path must carry the load on the REPRESENTATIVE shapes
    // (prices/quantities/rates and their products), or the rewrite is
    // pointless; the adversarial corpora are slow-heavy by design.
    // ~5% slow is expected here: price² above ~4.4e9 crosses the
    // magnitude gate, where ulp·5e5 approaches the whole rounding
    // interval and only the shortest repr's own digits can decide —
    // each such slow call is a few hundred bytes, noise next to the
    // 5.57 GB/pass the builtin formulation allocated
    assert(repFast > 9 * repSlow)
  }

  test("128-bit accumulator matches BigInteger on signed fuzz") {
    val rnd = new scala.util.Random(42L)
    val buf = new WideSums(2)
    var ref0 = BigInteger.ZERO
    var ref1 = BigInteger.ZERO
    (1 to 200000).foreach { _ =>
      // mix small, large-positive, large-negative, and near-overflow
      val v = rnd.nextInt(4) match {
        case 0 => rnd.nextLong() % 1000000L
        case 1 => rnd.nextLong()
        case 2 => Long.MaxValue - rnd.nextInt(1000)
        case _ => Long.MinValue + rnd.nextInt(1000)
      }
      buf.add(0, v)
      ref0 = ref0.add(BigInteger.valueOf(v))
      // wide addend: a random ~90-bit signed value
      val w = new BigInteger(90, rnd.self).subtract(BigInteger.ONE.shiftLeft(89))
      buf.addWide(1, w.shiftRight(64).longValueExact(), w.longValue())
      ref1 = ref1.add(w)
    }
    def as128(hi: Long, lo: Long): BigInteger =
      BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(1, java.nio.ByteBuffer.allocate(8).putLong(lo).array()))
    assert(as128(buf.hi(0), buf.lo(0)) == ref0)
    assert(as128(buf.hi(1), buf.lo(1)) == ref1)
    assert(buf.toBigInteger(0) == ref0 && buf.toBigInteger(1) == ref1)
    assert(buf.isSeen(0) && buf.isSeen(1))
    // toDouble agrees with the BigDecimal it represents
    assert(FixedPoint6.toDouble(buf, 0) ==
      new java.math.BigDecimal(ref0, 6).doubleValue())
    assert(FixedPoint6.toDouble(buf, 1) ==
      new java.math.BigDecimal(ref1, 6).doubleValue())
  }

  /** The builtin formulation correlationMatrix used through r14 —
    * kept here as the parity reference.
    */
  private def builtinMoments(df: DataFrame, cols: Seq[String]): DataFrame = {
    val dec = DecimalType(30, 6)
    def dsumD(c: Column) = sum(c.cast(dec)).cast("double")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs =
      (cols.map(c => dsumD(col(c)).as(s"__s_$c")) ++
        cols.map(c => dsumD(col(c) * col(c)).as(s"__ss_$c")) ++
        pairs.map { case (x, y) =>
          dsumD(col(x) * col(y)).as(s"__sp_${x}_$y")
        })
    df.agg(aggs.head, aggs.tail: _*)
  }

  private def newMoments(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(graft.functions.decimalMoments(cols.map(col), cols).as("__m"))
      .select(col("__m.*"))

  private def assertBitIdentical(a: DataFrame, b: DataFrame): Unit = {
    val ra = a.collect()(0); val rb = b.collect()(0)
    assert(ra.schema.fieldNames.toSeq == rb.schema.fieldNames.toSeq)
    ra.schema.fieldNames.indices.foreach { i =>
      val na = ra.isNullAt(i); val nb = rb.isNullAt(i)
      assert(na == nb, s"null mismatch at ${ra.schema.fieldNames(i)}")
      if (!na) assert(
        java.lang.Double.doubleToRawLongBits(ra.getDouble(i)) ==
          java.lang.Double.doubleToRawLongBits(rb.getDouble(i)),
        s"${ra.schema.fieldNames(i)}: ${ra.getDouble(i)} vs ${rb.getDouble(i)}")
    }
  }

  test("aggregate ≡ builtin decimal sums, bit-for-bit (fuzz, nulls, partials)") {
    val rnd = new scala.util.Random(7L)
    val rows = (1 to 20000).map { i =>
      def v(scaleKind: Int): java.lang.Double =
        if (rnd.nextInt(20) == 0) null
        else scaleKind match {
          case 0 => (1 + rnd.nextInt(50)).toDouble
          case 1 => rnd.nextInt(100000000) / 100.0
          case 2 => rnd.nextInt(1000) / 1000.0
          case _ => rnd.nextGaussian() * math.pow(10, rnd.nextInt(10) - 3)
        }
      (v(0), v(1), v(2), v(3))
    }
    // 8 partitions force partial aggregation: serialize/deserialize/
    // merge all exercised
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)), 8),
      org.apache.spark.sql.types.StructType(Seq("a", "b", "c", "d").map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    val cols = Seq("a", "b", "c", "d")
    assertBitIdentical(builtinMoments(df, cols), newMoments(df, cols))
  }

  test("aggregate ≡ builtin on sf0.001 lineitem correlation columns") {
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    assertBitIdentical(builtinMoments(df, cols), newMoments(df, cols))
  }

  test("empty input and all-null columns evaluate to null sums") {
    val df = Seq.empty[(Option[Double], Option[Double])].toDF("a", "b")
    val r = newMoments(df, Seq("a", "b")).collect()(0)
    r.schema.fieldNames.indices.foreach(i => assert(r.isNullAt(i)))
    val df2 = Seq((Option.empty[Double], Option(2.0)),
      (Option.empty[Double], Option(3.0))).toDF("a", "b")
    val r2 = newMoments(df2, Seq("a", "b")).collect()(0)
    val f = r2.schema.fieldNames.zipWithIndex.toMap
    assert(r2.isNullAt(f("__s_a")) && r2.isNullAt(f("__ss_a")) &&
      r2.isNullAt(f("__sp_a_b")))
    assert(r2.getDouble(f("__s_b")) == 5.0 &&
      r2.getDouble(f("__ss_b")) == 13.0)
  }

  test("non-finite and overflow semantics match the builtin cast, both ANSI modes") {
    // probed builtin behavior (ProbeTmp-style): NaN/Inf cast to null
    // under BOTH modes; a > 30-digit result throws only under ANSI
    val nf = Seq((Double.NaN, 1.0), (Double.PositiveInfinity, 3.0),
      (2.0, 3.0)).toDF("a", "b")
    val ovf = Seq((1e25, 1.0), (2.0, 3.0)).toDF("a", "b")
    val ansiKey = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(ansiKey)
    try {
      spark.conf.set(ansiKey, "false")
      assertBitIdentical(builtinMoments(nf, Seq("a", "b")),
        newMoments(nf, Seq("a", "b")))
      assertBitIdentical(builtinMoments(ovf, Seq("a", "b")),
        newMoments(ovf, Seq("a", "b")))
      spark.conf.set(ansiKey, "true")
      assertBitIdentical(builtinMoments(nf, Seq("a", "b")),
        newMoments(nf, Seq("a", "b")))
      intercept[Exception](builtinMoments(ovf, Seq("a", "b")).collect())
      intercept[Exception](newMoments(ovf, Seq("a", "b")).collect())
    } finally spark.conf.set(ansiKey, prior)
  }

  test("correlationMatrix end-to-end unchanged vs the r14 formulation") {
    // the full operator (formula + explode + ordering) over the new
    // aggregate vs the identical formula over builtin sums
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    assertCorrelationParity(df, cols)
  }

  /** The full operator (formula + explode + ordering) over the
    * aggregate vs the identical formula over [[builtinMoments]].
    */
  private def assertCorrelationParity(df: DataFrame, cols: Seq[String]): Unit = {
    val newRows = Profile.correlationMatrix(df, cols).collect()
    // reference: builtin sums + the same final formula
    val s = builtinMoments(df, cols)
      .crossJoin(df.agg(count(lit(1)).cast("double").as("__n")))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val r = s.select(col("__n") +: pairs.map { case (x, y) =>
      (col("__n") * col(s"__sp_${x}_$y") -
        col(s"__s_$x") * col(s"__s_$y")) /
        sqrt((col("__n") * col(s"__ss_$x") -
          col(s"__s_$x") * col(s"__s_$x")) *
          (col("__n") * col(s"__ss_$y") -
            col(s"__s_$y") * col(s"__s_$y")))
    }: _*).collect()(0)
    val refRows = pairs.zipWithIndex.map { case (xy, k) =>
      xy -> (r.getDouble(0).toLong, r.getDouble(k + 1))
    }.toMap
    // the operator orders by (col_x, col_y) alphabetically — compare
    // keyed, not positionally
    assert(newRows.length == refRows.size)
    newRows.foreach { n =>
      val key = (n.getString(0), n.getString(1))
      val (cnt, r) = refRows(key)
      assert(n.getLong(2) == cnt)
      assert(java.lang.Double.doubleToRawLongBits(n.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(r), s"pearson_r($key)")
    }
  }

  test("correlationMatrix past 64 sums: 12 columns ≡ the builtin formulation") {
    // 12 columns = 90 sums, beyond what one 64-bit seen mask could
    // hold; nulls and mixed magnitudes over 8 partitions exercise the
    // multi-word seen bitset through serialize and merge
    val rnd = new scala.util.Random(12L)
    val cols = (0 until 12).map(i => s"c$i")
    val rows = (1 to 3000).map { _ =>
      org.apache.spark.sql.Row(cols.indices.map { i =>
        if (rnd.nextInt(15) == 0) null
        else i % 3 match {
          case 0 => java.lang.Double.valueOf(rnd.nextInt(100000000) / 100.0)
          case 1 => java.lang.Double.valueOf(rnd.nextInt(1000) / 1000.0)
          case _ => java.lang.Double.valueOf(
            rnd.nextGaussian() * math.pow(10, rnd.nextInt(8) - 2))
        }
      }: _*)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8),
      org.apache.spark.sql.types.StructType(cols.map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    assertCorrelationParity(df, cols)
  }
}
