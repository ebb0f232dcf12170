package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[graft.expressions.DSumAgg]] (the `graft.functions.dsum` engine
  * since r15) must be BIT-IDENTICAL to the builtin formulation it
  * replaces — `sum(cast(x AS DECIMAL(30,6))).cast(double)` — across
  * groups, partial merges, nulls, non-finites, and both ANSI modes.
  * The FixedPoint6 rounding core is exhaustively pinned by
  * DecimalMomentsSpec; this spec pins the single-sum aggregate wiring
  * and the family built on it (davg, sumWhen).
  */
class DSumSpec extends SparkSpec {

  private def builtin(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(30, 6))).cast(DoubleType)

  private def fuzzDf(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    def v(): java.lang.Double =
      if (rnd.nextInt(20) == 0) null
      else rnd.nextInt(5) match {
        case 0 => (1 + rnd.nextInt(50)).toDouble
        case 1 => rnd.nextInt(100000000) / 100.0 // the price shape
        case 2 => rnd.nextInt(1000) / 1000.0 // sub-unit fractions
        case 3 => -rnd.nextInt(100000000) / 100.0
        case _ => rnd.nextGaussian() * math.pow(10, rnd.nextInt(10) - 3)
      }
    val rows = (1 to n).map(_ => Row((rnd.nextInt(7) + 1).toLong, v()))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), // 8 partitions: partials
      StructType(Seq(StructField("g", LongType, nullable = false),
        StructField("x", DoubleType, nullable = true))))
  }

  private def collectByGroup(df: DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null
       else java.lang.Long.valueOf(
         java.lang.Double.doubleToRawLongBits(r.getDouble(1))))).toMap

  test("bit-identical to the builtin decimal sum on grouped fuzz with nulls") {
    val df = fuzzDf(40000, 20260817L)
    val a = collectByGroup(df.groupBy("g").agg(builtin(col("x")).as("s")))
    val b = collectByGroup(df.groupBy("g").agg(
      graft.functions.dsum(col("x")).as("s")))
    assert(a.keySet == b.keySet)
    a.foreach { case (g, bits) => assert(bits == b(g), s"group $g") }
  }

  test("davg and sumWhen stay bit-identical through the swap") {
    val df = fuzzDf(20000, 99L)
    val a = df.groupBy("g").agg(
      builtin(col("x")).as("s"),
      (builtin(col("x")) / count(col("x"))).as("m"),
      builtin(when(col("x") > 0, col("x")).otherwise(lit(0.0))).as("cw"))
      .collect().map(r => r.getLong(0) -> Seq(1, 2, 3).map(i =>
        if (r.isNullAt(i)) null else
          java.lang.Long.valueOf(java.lang.Double.doubleToRawLongBits(
            r.getDouble(i))))).toMap
    val b = df.groupBy("g").agg(
      graft.functions.dsum(col("x")).as("s"),
      graft.functions.davg(col("x")).as("m"),
      graft.functions.sumWhen(col("x") > 0, col("x")).as("cw"))
      .collect().map(r => r.getLong(0) -> Seq(1, 2, 3).map(i =>
        if (r.isNullAt(i)) null else
          java.lang.Long.valueOf(java.lang.Double.doubleToRawLongBits(
            r.getDouble(i))))).toMap
    assert(a == b)
  }

  test("empty group and all-null group are null; schema stays double") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Double]), (1L, Option.empty[Double]),
      (2L, Option(2.5))).toDF("g", "x")
    val out = df.groupBy("g").agg(graft.functions.dsum(col("x")).as("s"))
    assert(out.schema("s").dataType == DoubleType)
    val m = collectByGroup(out)
    assert(m(1L) == null)
    assert(java.lang.Double.longBitsToDouble(m(2L)) == 2.5)
  }

  test("non-finite and overflow semantics match the builtin, both ANSI modes") {
    import spark.implicits._
    val nf = Seq(Double.NaN, Double.PositiveInfinity, 2.0, 3.5).toDF("x")
    val ovf = Seq(1e25, 2.0).toDF("x") // > 30-digit cast result
    def both(df: DataFrame) = (
      df.agg(builtin(col("x"))).collect()(0),
      df.agg(graft.functions.dsum(col("x"))).collect()(0))
    val ansiKey = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(ansiKey)
    try {
      spark.conf.set(ansiKey, "false")
      val (a1, b1) = both(nf)
      assert(a1.getDouble(0) == b1.getDouble(0)) // NaN/Inf null-skipped
      val (a2, b2) = both(ovf)
      assert(a2.getDouble(0) == b2.getDouble(0)) // 1e25 null-skipped
      spark.conf.set(ansiKey, "true")
      val (a3, b3) = both(nf)
      assert(a3.getDouble(0) == b3.getDouble(0))
      intercept[Exception](ovf.agg(builtin(col("x"))).collect())
      intercept[Exception](
        ovf.agg(graft.functions.dsum(col("x"))).collect())
    } finally spark.conf.set(ansiKey, prior)
  }

  test("serde round-trip preserves the buffer (the spill path)") {
    val agg = graft.expressions.DSumAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, DoubleType, nullable = true), failOnError = false)
    val buf = agg.createAggregationBuffer()
    Seq(1234.5678911, -0.000001, 9.87e14).foreach { d =>
      agg.update(buf, new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](d)))
    }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.size == 1 && buf.isSeen(0))
    assert(back.isSeen(0) == buf.isSeen(0))
    assert(back.hi(0) == buf.hi(0) && back.lo(0) == buf.lo(0))
    val empty = agg.deserialize(agg.serialize(agg.createAggregationBuffer()))
    assert(!empty.isSeen(0) && agg.eval(empty) == null)
  }

  test("q01 end-to-end: rows identical to the builtin formulation on sf0.001") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    def run(s: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(s(col("l_quantity")).as("sum_qty"),
          s(col("l_extendedprice")).as("sum_base_price"),
          s(discPrice).as("sum_disc_price"),
          s(discPrice * (lit(1.0) + col("l_tax"))).as("sum_charge"))
        .orderBy("l_returnflag", "l_linestatus").collect()
    val a = run(builtin)
    val b = run(graft.functions.dsum)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (r1, r2) =>
      (2 until 6).foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(r1.getDouble(i)) ==
          java.lang.Double.doubleToRawLongBits(r2.getDouble(i)),
          s"${r1.getString(0)}/${r1.getString(1)} field $i")
      }
    }
  }
}
