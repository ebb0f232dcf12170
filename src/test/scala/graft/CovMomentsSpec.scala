package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[graft.expressions.CovMomentsAgg]] must be BIT-IDENTICAL to the
  * posexplode² + decimal-sum formulation it replaces inside
  * [[graft.operators.Similarity.embeddingCovariance]] — same pair set,
  * same counts, same DECIMAL(38,0) sums, same null semantics, across
  * partial merges and ragged array lengths.
  */
class CovMomentsSpec extends SparkSpec {

  /** The former q159 shape, verbatim: explode the pairs, three builtin
    * decimal sums per pair. The reference for every parity assertion.
    */
  private def explodeFormulation(df: DataFrame): DataFrame =
    df.select(posexplode(col("__xi")).as(Seq("i", "xi")), col("__xi"))
      .select(col("i"), col("xi"),
        posexplode(col("__xi")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("xi").cast("decimal(38,0)")).as("sx"),
        sum(col("xj").cast("decimal(38,0)")).as("sy"),
        sum(col("xi").cast("decimal(38,0)") * col("xj")).as("sxy"))

  private def aggFormulation(df: DataFrame): DataFrame =
    df.agg(graft.functions.covMoments(col("__xi")).as("__m"))
      .select(explode(col("__m")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.n").as("n"),
        col("e.sx").as("sx"), col("e.sy").as("sy"), col("e.sxy").as("sxy"))

  private def fuzzDf(n: Int, seed: Long, maxLen: Int) = {
    val rnd = new scala.util.Random(seed)
    def lv(): java.lang.Long =
      if (rnd.nextInt(15) == 0) null
      else rnd.nextInt(3) match {
        case 0 => rnd.nextLong() % 2000000000L // the nano-quantized range
        case 1 => rnd.nextLong() % 100L
        case _ => rnd.nextLong() % 1000000000000000L // 1e15: xy ~ 1e30
      }
    val rows = (1 to n).map { _ =>
      if (rnd.nextInt(20) == 0) Row(null) // null array: contributes nothing
      else Row((0 until rnd.nextInt(maxLen + 1)).map(_ => lv()))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), // 8 partitions: partial merge
      StructType(Seq(StructField("__xi", ArrayType(LongType, containsNull = true)))))
  }

  private def collectMap(df: DataFrame) =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1)) -> ((r.getLong(2),
        if (r.isNullAt(3)) null else r.getDecimal(3),
        if (r.isNullAt(4)) null else r.getDecimal(4),
        if (r.isNullAt(5)) null else r.getDecimal(5)))
    }.toMap

  private def assertParity(df: DataFrame): Unit = {
    val a = collectMap(explodeFormulation(df))
    val b = collectMap(aggFormulation(df))
    assert(a.keySet == b.keySet, s"pair sets differ: ${
      (a.keySet diff b.keySet, b.keySet diff a.keySet)}")
    a.foreach { case (k, (n1, sx1, sy1, sxy1)) =>
      val (n2, sx2, sy2, sxy2) = b(k)
      assert(n1 == n2, s"pair $k: n $n1 vs $n2")
      def eq(x: java.math.BigDecimal, y: java.math.BigDecimal, f: String) =
        if (x == null) assert(y == null, s"pair $k $f: builtin null, custom $y")
        else assert(x.compareTo(y) == 0 && x.scale == y.scale,
          s"pair $k $f: $x vs $y")
      eq(sx1, sx2, "sx"); eq(sy1, sy2, "sy"); eq(sxy1, sxy2, "sxy")
    }
    // schema parity on the sum columns the divide formula consumes
    Seq("sx", "sy", "sxy").foreach { f =>
      assert(explodeFormulation(df).schema(f).dataType ==
        aggFormulation(df).schema(f).dataType, f)
    }
  }

  test("bit-identical to the explode formulation on ragged null-bearing fuzz") {
    assertParity(fuzzDf(4000, 20260817L, maxLen = 9))
  }

  test("bit-identical on fixed-dim nano-range fuzz (the q159 shape)") {
    val rnd = new scala.util.Random(42L)
    val rows = (1 to 2000).map { _ =>
      Row((0 until 16).map(_ => (rnd.nextLong() % 2000000000L): java.lang.Long))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8),
      StructType(Seq(StructField("__xi", ArrayType(LongType, containsNull = true)))))
    assertParity(df)
  }

  test("zero rows and all-null/empty arrays yield zero pairs") {
    val schema = StructType(Seq(
      StructField("__xi", ArrayType(LongType, containsNull = true))))
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 2), schema)
    assert(aggFormulation(empty).count() == 0L)
    val degenerate = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(null), Row(Seq.empty[java.lang.Long])), 2), schema)
    assert(aggFormulation(degenerate).count() == 0L)
  }

  test("all-null elements: n counts rows, sums are null") {
    val schema = StructType(Seq(
      StructField("__xi", ArrayType(LongType, containsNull = true))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(Seq[java.lang.Long](null, null)),
        Row(Seq[java.lang.Long](null, 7L))), 2), schema)
    assertParity(df) // explode formulation defines the expectations
    val m = collectMap(aggFormulation(df))
    assert(m((0L, 0L))._1 == 2L && m((0L, 0L))._2 == null) // sx all-null
    assert(m((1L, 1L))._3.longValueExact() == 7L) // sy sees the one value
  }

  test("serde round-trip preserves the buffer (the spill path)") {
    val agg = graft.expressions.CovMomentsAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, ArrayType(LongType, containsNull = true), nullable = true))
    val buf = agg.createAggregationBuffer()
    val a = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(3000000000L, -1999999999L, 42L))
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](a))
    agg.update(buf, row); agg.update(buf, row)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.dims == buf.dims)
    assert(java.util.Arrays.equals(back.n, buf.n))
    // every slot of Σxi, Σxj and Σxi·xj: value and seen bit
    Seq((back.sx, buf.sx), (back.sy, buf.sy), (back.sxy, buf.sxy)).foreach {
      case (b, o) =>
        assert(b.size == o.size && o.size == buf.pairs)
        (0 until o.size).foreach { p =>
          assert(b.hi(p) == o.hi(p) && b.lo(p) == o.lo(p), s"slot $p")
          assert(b.isSeen(p) == o.isSeen(p), s"seen $p")
        }
    }
    // merging the round-tripped buffer equals merging the original
    val m1 = agg.merge(agg.createAggregationBuffer(), buf)
    val m2 = agg.merge(agg.createAggregationBuffer(), back)
    assert(agg.eval(m1) == agg.eval(m2))
  }

  test("embeddingCovariance end-to-end parity on sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val now = graft.operators.Similarity
      .embeddingCovariance(emb, "embedding").collect()
    // the former implementation, inlined verbatim (the shape the DuckDB
    // oracle mirrors), run on the same input
    val offset = 8000000000000000000L
    val x = emb
      .withColumn("__xi", transform(col("embedding"),
        v => floor(v.cast("double") * lit(1e9) + lit(0.5)).cast("long")))
    val agg = explodeFormulation(x)
    val nn = col("n").cast("decimal(38,0)") * col("n")
    val covNum = col("n").cast("decimal(38,0)") * col("sxy") -
      col("sx") * col("sy")
    val covNano2 =
      graft.functions.intDiv(covNum + nn * lit(offset), nn) - lit(offset)
    val before = agg.select(col("i"), col("j"), col("n"),
        (covNano2.cast("double") / lit(1e18)).as("cov"))
      .orderBy("i", "j").collect()
    assert(now.length == before.length && now.length > 0)
    now.zip(before).foreach { case (r1, r2) =>
      assert(r1.getLong(0) == r2.getLong(0) && r1.getLong(1) == r2.getLong(1))
      assert(r1.getLong(2) == r2.getLong(2))
      assert(java.lang.Double.doubleToRawLongBits(r1.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(r2.getDouble(3)),
        s"pair (${r1.getLong(0)},${r1.getLong(1)}): ${r1.getDouble(3)} vs ${r2.getDouble(3)}")
    }
  }
}
