package graft

import org.apache.spark.sql.functions._
import graft.functions._

/** Property + unit tests for the pure column helpers in
  * [[graft.functions]]. Property cases are generated with a fixed seed
  * (the scalatest↔scalacheck bridge artifact is not in the offline
  * cache, so generation is hand-rolled).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def seededDoubles(n: Int): Seq[Double] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 6) *
      (if (rnd.nextBoolean()) 1 else -1))
  }

  test("signedSigmoid maps any double into [-1, 1], monotone, sign-correct") {
    val xs = Seq(-1e6, -50.0, -1.0, -1e-9, 0.0, 1e-9, 1.0, 50.0, 1e6)
    val ys = xs.toDF("x").select(signedSigmoid($"x").as("y"))
      .collect().map(_.getDouble(0)).toSeq
    all(ys) should (be >= -1.0 and be <= 1.0)
    ys shouldBe sorted
    ys(4) shouldBe 0.0 +- 1e-15          // sigmoid(0) -> 0
    ys.head shouldBe -1.0 +- 1e-9        // saturates low
    ys.last shouldBe 1.0 +- 1e-9         // saturates high
  }

  test("signedSigmoid property: bounded for 200 generated magnitudes") {
    val ys = seededDoubles(200).toDF("x")
      .select(signedSigmoid($"x").as("y")).collect().map(_.getDouble(0))
    all(ys.toSeq) should (be >= -1.0 and be <= 1.0)
  }

  test("wordShingles: n-gram count, distinctness, short-doc empty") {
    val df = Seq(
      "a b c d e",     // 3 trigrams
      "a b c",         // 1
      "a b",           // 0 (too short)
      "x x x x"        // 2 grams but identical -> 1 distinct
    ).toDF("text").select(wordShingles(tokens($"text"), 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    got(0) shouldBe Seq("a b c", "b c d", "c d e")
    got(1) shouldBe Seq("a b c")
    got(2) shouldBe Seq.empty
    got(3) shouldBe Seq("x x x")
  }

  test("wordShingles property: equals reference sliding-distinct on 100 generated docs") {
    val rnd = new scala.util.Random(7)
    val docs = Seq.fill(100)(
      Seq.fill(rnd.nextInt(12) + 1)(s"w${rnd.nextInt(5)}").mkString(" "))
    val got = docs.toDF("text")
      .select(wordShingles(tokens($"text"), 2).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq)
    val expected = docs.map(_.split(" ").toSeq.sliding(2)
      .filter(_.size == 2).map(_.mkString(" ")).toSeq.distinct)
    got.toSeq shouldBe expected
  }

  test("normText collapses whitespace runs, trims, lowercases") {
    val got = Seq("  A\t\tB\n C  ").toDF("t")
      .select(normText($"t")).collect()(0).getString(0)
    got shouldBe "a b c"
  }

  test("smartCaseContains: case-sensitive iff pattern has a capital (ref getAllStreamsRequest.ts:55-58)") {
    val df = Seq("Alpha Stream", "alpha stream", "beta").toDF("name")
    // lowercase pattern -> case-insensitive: matches both alpha rows
    df.filter(smartCaseContains($"name", "alpha")).count() shouldBe 2
    // capitalized pattern -> case-sensitive: matches only the exact-case row
    df.filter(smartCaseContains($"name", "Alpha")).count() shouldBe 1
    df.filter(smartCaseContains($"name", "Beta")).count() shouldBe 0
  }

  test("startsWithCI is always case-insensitive") {
    val df = Seq("TopicA", "topicB", "other").toDF("name")
    df.filter(startsWithCI($"name", "TOPIC")).count() shouldBe 2
  }

  test("dsum is reassociation-proof: equals exact decimal sum regardless of partitioning") {
    val vals = (1 to 1000).map(i => i * 0.1 + 1e-9)
    val expected = vals.map(BigDecimal(_)).sum.toDouble
    for (parts <- Seq(1, 2, 7)) {
      val got = spark.createDataset(vals).toDF("v").repartition(parts)
        .agg(dsum($"v")).collect()(0).getDouble(0)
      // DECIMAL(30,6) accumulates on 6 fractional digits
      got shouldBe expected +- 1e-3
    }
    // and the two partitionings agree bit-for-bit with each other
    val a = spark.createDataset(vals).toDF("v").repartition(2).agg(dsum($"v")).collect()(0).getDouble(0)
    val b = spark.createDataset(vals).toDF("v").repartition(7).agg(dsum($"v")).collect()(0).getDouble(0)
    assert(a == b)
  }

  test("hashSafeRound normalizes signed zero: negative-tiny inputs yield +0.0 bit pattern") {
    // Spark's round goes through BigDecimal (no −0) and already emits
    // +0.0; the helper exists so the ORACLE side can match by appending
    // + 0.0 too. Property: for any input that rounds to zero — from
    // either sign — the result's raw bits are exactly +0.0, and nonzero
    // results are untouched vs plain round.
    val tiny = Seq(-1e-15, -1e-12, -4.9e-10, -0.0, 0.0, 4.9e-10, 1e-12)
    val bits = tiny.toDF("x").select(hashSafeRound($"x", 9).as("y"))
      .collect().map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
    all(bits.toSeq) shouldBe 0L // +0.0 bit pattern for every row
    // non-zero magnitudes are unchanged relative to plain round
    val xs = seededDoubles(200)
    val both = xs.toDF("x")
      .select(round($"x", 9).as("r"), hashSafeRound($"x", 9).as("h"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    all(both.toSeq.map { case (r, h) => r == h }) shouldBe true
  }

  test("firstByTime/lastByTime pick by timestamp not encounter order") {
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("ts", "v").repartition(2)
    val row = df.agg(
      firstByTime($"v", $"ts").as("f"), lastByTime($"v", $"ts").as("l")).collect()(0)
    row.getString(0) shouldBe "a"
    row.getString(1) shouldBe "c"
  }

  test("nsToTimestamp truncates ns -> us exactly (no double rounding at epoch magnitude)") {
    // 2024-01-15T12:00:00.123456789 -> .123456 (truncated, never rounded up)
    val ns = 1705320000L * 1000000000L + 123456789L
    val got = Seq(ns).toDF("ns").select(unix_micros(nsToTimestamp($"ns")))
      .collect()(0).getLong(0)
    got shouldBe 1705320000L * 1000000L + 123456L
  }

  test("canonicalUrl: each documented step, plus the cases it must NOT touch") {
    val cases = Seq(
      // the full gauntlet: case, www, default port, tracking, fragment
      "HTTPS://WWW.News.Example.COM:443/A/b?utm_source=x&id=3&ref=r#top" ->
        "http://news.example.com/A/b?id=3",
      // params-only-tracking → dangling '?' cleaned, trailing '/' kept rule
      "http://a.com/p/?utm_campaign=c" -> "http://a.com/p",
      // non-default port survives; path case preserved
      "https://A.com:8080/Path" -> "http://a.com:8080/Path",
      // no query, no fragment, terminal slash stripped once
      "http://a.com/" -> "http://a.com",
      // 'ref' only matches as a WHOLE param name
      "http://a.com/?refresh=1&ref=x" -> "http://a.com/?refresh=1",
      // schemeless strings pass through un-lowercased (no false prefix)
      "Not-A-Url" -> "Not-A-Url")
    val df = cases.map(_._1).toDF("u")
      .select(canonicalUrl($"u").as("c"))
    df.collect().map(_.getString(0)).toSeq shouldBe cases.map(_._2)
  }

  test("urlHost extracts the canonical host (no port, no path)") {
    val df = Seq("http://news.example.com/A/b?id=3",
      "http://a.com:8080/Path", "http://bare.com").toDF("u")
      .select(urlHost($"u").as("h"))
    df.collect().map(_.getString(0)).toSeq shouldBe
      Seq("news.example.com", "a.com", "bare.com")
  }

  test("cosineSim: known vectors") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),   // parallel -> 1
      (Array(1f, 0f), Array(0f, 1f)),   // orthogonal -> 0
      (Array(1f, 0f), Array(-1f, 0f))   // opposite -> -1
    ).toDF("a", "b").select(cosineSim($"a", $"b").as("c"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    got(0) shouldBe 1.0 +- 1e-12
    got(1) shouldBe 0.0 +- 1e-12
    got(2) shouldBe -1.0 +- 1e-12
  }

  test("cosineSim: a zero-norm side yields NULL, not NaN, under codegen and NO_CODEGEN") {
    // NaN would sort above every score and pass every `>= t` filter;
    // NULL is never ranked and fails the filter. The repartition keeps
    // the projection out of the optimizer's local-relation folding, so
    // the executed path is the one the session's codegen mode picks.
    val df = Seq(
      (Array(0f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 0f)),
      (Array(0f, 0f), Array(0f, 0f)),
      (Array(2f, 0f), Array(1f, 0f))
    ).toDF("a", "b").repartition(1)
    def run(): (Seq[Option[Double]], Long) = {
      val scored = df.select(cosineSim($"a", $"b").as("c"),
        cosineSim($"a".cast("array<double>"), $"b").as("d"))
      val rows = scored.collect().map { r =>
        r.isNullAt(0) shouldBe r.isNullAt(1)
        if (r.isNullAt(0)) None else Some(r.getDouble(0))
      }.toSeq
      (rows.sortBy(_.isDefined), scored.filter($"c" >= 0.5).count())
    }
    val expected = (Seq(None, None, None, Some(1.0)), 1L)
    inBothCodegenModes(run()) shouldBe ((expected, expected))
  }

  test("native row expressions: generated code equals interpreted evaluation on edge inputs") {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.expressions._
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    // (a, b): vectors; q: quantized vector (k-means); sh: shingles, whose
    // null ELEMENTS the MinHash and SimHash kernels reject by design
    val cases = Seq[(Seq[Any], Seq[Any], Seq[Any], Seq[Any])](
      (null, Seq(1.0, 2.0), null, null),
      (Seq(1.0, 2.0), null, Seq(3L, null, 5L), Seq()),
      (Seq(1.0, null), Seq(1.0, 2.0), Seq(null, null), Seq(7L)),
      (Seq(nan, 1.0), Seq(1.0, 1.0), Seq(), Seq(1L, 2L, 3L)),
      (Seq(0.0, -0.0), Seq(1.0, 1.0), Seq(1L, 2L, 3L, 4L), Seq(-5L, 7L, -5L)),
      (Seq(-0.0, 1.0), Seq(0.0, -1.0), Seq(-4000000000L), Seq(Long.MaxValue)),
      (Seq(inf, 1.0), Seq(1.0, 1.0), Seq(Long.MaxValue, Long.MinValue), Seq(0L)),
      (Seq(-inf, 1.0), Seq(inf, 1.0), Seq(2L, 1L), Seq(3L, 2L, 1L)),
      (Seq(), Seq(), Seq(9L, 9L, 9L), Seq(11L, 12L)),
      (Seq(), Seq(1.0), Seq(0L, 0L), Seq(1L)),
      (Seq(0.0, 0.0), Seq(0.0, 0.0), Seq(1L, 2L), Seq(2L)),
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0), Seq(5L), Seq(4L, 4L)),
      (Seq(0.1, -0.2, 0.3), Seq(-0.3, 0.2, 0.1), Seq(1L, null, 3L), Seq(8L, 9L)),
      (Seq(1e300, 1e300), Seq(1e300, 1.0), Seq(-1L, -2L, -3L), Seq(10L)))
    val vec = ArrayType(DoubleType, containsNull = true)
    val longs = ArrayType(LongType, containsNull = true)
    val rows = cases.zipWithIndex.map { case ((a, b, q, sh), i) => Row(i, a, b, q, sh) }
    // the repartition keeps the projection out of local-relation folding
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("i", IntegerType), StructField("a", vec),
        StructField("b", vec), StructField("q", longs), StructField("sh", longs))))
      .repartition(1)
    val (a, b) = (toExpr($"a"), toExpr($"b"))
    val (af, bf) = (toExpr($"a".cast("array<float>")), toExpr($"b".cast("array<float>")))
    val (sh, tokens) = (toExpr($"sh"), toExpr($"sh".cast("array<string>")))
    val planes = Array(Array(Array(1.0, -1.0, 0.5), Array(-0.25, 0.0, 2.0)),
      Array(Array(0.0, 1.0), Array(1.0, 1.0, 1.0, 1.0)))
    val table = Seq(
      "dot" -> DotProduct(a, b), "dot_fd" -> DotProduct(af, b),
      "dot_ff" -> DotProduct(af, bf), "cos" -> CosineSimilarity(a, b),
      "cos_df" -> CosineSimilarity(a, bf), "cos_ff" -> CosineSimilarity(af, bf),
      "lsh" -> LshBucketHashes(a, planes), "lsh_f" -> LshBucketHashes(af, planes),
      "kmeans" -> KMeansAssignExpr(toExpr($"q"),
        Array(Array(1L, 2L, 3L), Array(-1L, 5L), Array()),
        Array(Array(false, true, false), Array(false, false), Array())),
      "minhash" -> MinHashSignature(sh, 3), "minhash_s" -> MinHashSignature(tokens, 3),
      "simhash_p" -> SimHashPortable64(tokens), "simhash_xx" -> SimHashXx64(tokens))
    def frame = df.select($"i" +: table.map { case (name, e) => toCol(e).as(name) }: _*)
    val (generated, interpreted) =
      inBothCodegenModes(frame.collect().sortBy(_.getInt(0)).toSeq)
    // Row.toString keeps -0.0, NaN and the element order of nested values
    generated.map(_.toString) shouldBe interpreted.map(_.toString)
    generated should have size cases.size.toLong
    // every column holds both NULLs and values, so neither side is vacuous
    table.zipWithIndex.foreach { case ((name, _), c) =>
      withClue(name) {
        generated.exists(_.isNullAt(c + 1)) shouldBe true
        generated.exists(!_.isNullAt(c + 1)) shouldBe true
      }
    }
  }
}
