package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** [[graft.expressions.KMeansAssignExpr]] (and the restructured
  * [[Similarity.kmeans]] built on it) must be BIT-IDENTICAL to the
  * join + sumSqDiff + argmin-window Lloyd formulation it replaces.
  * The reference implementation below IS that formulation, verbatim
  * from the pre-restructure operator — [[graft.functions.sumSqDiff]]
  * is retained in the library exactly as its parity anchor (the
  * bucketCol/bucketsCol discipline).
  */
class KMeansAssignSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-restructure kmeans, verbatim: exploded corpus, broadcast
    * centroid table, (vec, cluster) sumSqDiff aggregate, per-vec
    * argmin window, x-join update, right-join final frame.
    */
  private def referenceKmeans(emb: DataFrame, idCol: String, vecCol: String,
                              k: Int, iters: Int): DataFrame = {
    val x = emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        (floor(col("v").cast("double") * lit(1e9) + lit(0.5)) +
          lit(2000000000L)).cast("long").as("xi"))
      .persist()
    val seeds = emb.select(col(idCol).as("vec_id"))
      .orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("long").as("cluster"))
    var cent = x.join(broadcast(seeds), "vec_id")
      .select(col("cluster"), col("dim"), col("xi").as("ci"))
      .persist()
    cent.count()
    def assign(c: DataFrame): DataFrame = {
      val d2 = x.join(broadcast(c), "dim")
        .groupBy("vec_id", "cluster")
        .agg(graft.functions.sumSqDiff(col("xi"), col("ci")).as("d2"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2").asc, col("cluster").asc)
      d2.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cluster"), col("d2"))
    }
    for (_ <- 1 to iters) {
      val upd = x.join(assign(cent).select("vec_id", "cluster"), "vec_id")
        .groupBy("cluster", "dim")
        .agg(graft.functions.intDiv(sum(col("xi")), count(lit(1))).as("ci_new"))
      val next = cent.join(upd, Seq("cluster", "dim"), "left")
        .select(col("cluster"), col("dim"),
          coalesce(col("ci_new"), col("ci")).as("ci"))
        .persist()
      next.count()
      cent.unpersist(blocking = false)
      cent = next
    }
    val out = assign(cent)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        (graft.functions.intDiv(sum(col("d2")), lit(1000000000L)).cast("double") /
          lit(1e9)).as("sse"))
      .join(cent.groupBy("cluster").agg(count(lit(1)).as("__d")), Seq("cluster"),
        "right")
      .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sse"), lit(0.0)).as("sse"))
      .orderBy("cluster")
    val o = out.persist()
    o.count()
    cent.unpersist(blocking = false)
    x.unpersist(blocking = false)
    o
  }

  private def rowsBits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq

  private def fuzzEmb(n: Int, dim: Int, seed: Long,
                      nulls: Boolean, ragged: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val d = if (ragged) 1 + rnd.nextInt(dim) else dim
      val arr: Seq[java.lang.Float] =
        if (nulls && rnd.nextInt(12) == 0) null
        else (0 until d).map { _ =>
          if (nulls && rnd.nextInt(10) == 0) null
          else java.lang.Float.valueOf((rnd.nextFloat() - 0.5f) * 3.9f)
        }
      Row(i.toLong, arr)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 5),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true),
          nullable = true))))
  }

  test("kmeans output bit-identical to the join+window formulation on clean fuzz") {
    val emb = fuzzEmb(60, 6, 20260818L, nulls = false, ragged = false)
    rowsBits(Similarity.kmeans(emb, "vec_id", "embedding", k = 5, iters = 3)) shouldBe
      rowsBits(referenceKmeans(emb, "vec_id", "embedding", k = 5, iters = 3))
  }

  test("kmeans parity under null arrays, null elements and ragged dims") {
    val emb = fuzzEmb(50, 5, 99L, nulls = true, ragged = true)
    rowsBits(Similarity.kmeans(emb, "vec_id", "embedding", k = 4, iters = 2)) shouldBe
      rowsBits(referenceKmeans(emb, "vec_id", "embedding", k = 4, iters = 2))
  }

  test("kmeans parity when k exceeds the corpus and at k=1") {
    val emb = fuzzEmb(3, 2, 7L, nulls = false, ragged = false)
    rowsBits(Similarity.kmeans(emb, "vec_id", "embedding", k = 8, iters = 2)) shouldBe
      rowsBits(referenceKmeans(emb, "vec_id", "embedding", k = 8, iters = 2))
    rowsBits(Similarity.kmeans(emb, "vec_id", "embedding", k = 1, iters = 1)) shouldBe
      rowsBits(referenceKmeans(emb, "vec_id", "embedding", k = 1, iters = 1))
  }

  test("tie d2 assigns the smaller cluster id (coincident seeds)") {
    // three identical points: both seeds coincide, every d2 ties, all
    // members must land in cluster 0 — the window's (d2, cluster) order
    val emb = Seq((1L, Array(1.0f, -1.0f)), (2L, Array(1.0f, -1.0f)),
      (3L, Array(1.0f, -1.0f))).toDF("vec_id", "embedding")
    val got = rowsBits(Similarity.kmeans(emb, "vec_id", "embedding", 2, 2))
    got shouldBe rowsBits(referenceKmeans(emb, "vec_id", "embedding", 2, 2))
    got.map(t => (t._1, t._2)) shouldBe Seq((0L, 3L), (1L, 0L))
  }

  test("expression: null/empty vector yields null; all-null elements assign cluster 0 with null d2") {
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq[java.lang.Float](1.0f, 2.0f)),
        Row(2L, null),
        Row(3L, Seq.empty[java.lang.Float]),
        Row(4L, Seq[java.lang.Float](null, null))), 2),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true),
          nullable = true))))
    val df = raw
      .select(col("vec_id"), transform(col("embedding"),
        v => (floor(v.cast("double") * lit(1e9) + lit(0.5)) +
          lit(2000000000L)).cast("long")).as("xi"))
    val cent = Array(Array(1000L, 2000L), Array(5000L, 6000L))
    val mask = Array(Array(false, false), Array(false, false))
    val got = df.select(col("vec_id"),
        graft.functions.kmeansAssign(col("xi"), cent, mask).as("a"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else (r.getStruct(1).getLong(0), r.getStruct(1).isNullAt(1))))
      .toMap
    got(2L) shouldBe null // null array: posexplode would drop it
    got(3L) shouldBe null // empty array: no candidate dims
    got(4L) shouldBe ((0L, true)) // no term for ANY cluster: null d2, cluster 0
    got(1L)._2 shouldBe false
  }

  test("expression: d2 is the exact 128-bit sum as DECIMAL(38,0), beyond long range") {
    // coordinates near the nano envelope: d ~ 4e9, d² ~ 1.6e19 > Long.Max,
    // summed over 64 dims ~ 1e21 — must match BigInteger exactly
    val dim = 64
    val xs = (0 until dim).map(i => 4000000000L - i)
    val cs = (0 until dim).map(i => -(i.toLong * 7919L) % 1000000L)
    val expect = xs.zip(cs).map { case (x, c) =>
      val d = java.math.BigInteger.valueOf(x - c)
      d.multiply(d)
    }.reduce(_ add _)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, xs)), 1),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("xi", ArrayType(LongType, containsNull = false),
          nullable = false))))
    val got = df.select(graft.functions.kmeansAssign(col("xi"),
        Array(cs.toArray), Array(Array.fill(dim)(false))).as("a"))
      .select(col("a.d2")).collect().head.getDecimal(0)
    got.toBigInteger shouldBe expect
    got.scale shouldBe 0
  }

  test("expression: a null centroid coordinate skips the term, like sumSqDiff") {
    val df = Seq((1L, Array(10L, 20L, 30L))).toDF("vec_id", "xi")
    // cluster 0 masks dim 1: d2 = (10-1)² + (30-3)² = 81 + 729 = 810
    val got = df.select(graft.functions.kmeansAssign(col("xi"),
        Array(Array(1L, 2L, 3L)), Array(Array(false, true, false))).as("a"))
      .select(col("a.cluster"), col("a.d2")).collect().head
    got.getLong(0) shouldBe 0L
    got.getDecimal(1).longValueExact() shouldBe 810L
  }

  test("expression: interpreted eval matches the codegen'd path bit for bit") {
    val rnd = new scala.util.Random(4242L)
    val dim = 8
    val cent = Array.fill(3)(Array.fill(dim)(rnd.nextLong() % 4000000000L))
    val mask = Array.fill(3)(Array.fill(dim)(rnd.nextInt(10) == 0))
    val rows = (0 until 200).map { i =>
      Row(i.toLong, (0 until dim).map(_ =>
        if (rnd.nextInt(12) == 0) null
        else java.lang.Long.valueOf(rnd.nextLong() % 4000000000L)))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("xi", ArrayType(LongType, containsNull = true),
          nullable = true))))
    def run(): Seq[(Long, Long, String)] =
      df.select(col("vec_id"),
          graft.functions.kmeansAssign(col("xi"), cent, mask).as("a"))
        .select(col("vec_id"), col("a.cluster"), col("a.d2"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) "null" else r.getDecimal(2).toPlainString))
        .sortBy(_._1).toSeq
    // wholeStage=false alone still expression-compiles doGenCode via
    // GenerateUnsafeProjection; NO_CODEGEN forces the interpreted
    // projection so nullSafeEval is genuinely exercised (ADVICE r15)
    val (generated, interpreted) = inBothCodegenModes(run())
    interpreted shouldBe generated
  }
}
