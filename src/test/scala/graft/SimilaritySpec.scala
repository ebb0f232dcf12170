package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Similarity-search operators on hand-constructed vectors where the
  * exact answer is obvious.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** 0 and 1 nearly parallel; 2 orthogonal; 3 opposite; 4 close to 1. */
  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f, 0f)),
    (2L, Array(0f, 1f, 0f, 0f)),
    (3L, Array(-1f, 0f, 0f, 0f)),
    (4L, Array(0.85f, 0.15f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by exact cosine, excludes self, respects k") {
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        queryIds = Seq(0L), k = 3)
      .orderBy($"rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.map(_._2).toSeq shouldBe Seq(1L, 4L, 2L) // by cosine to [1,0,0,0]
    out(0)._3 should be > out(1)._3
    out(1)._3 should be > out(2)._3
    out.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L) // ranks 1..3
  }

  test("bruteForceTopK emits k rows per query for multiple queries") {
    val out = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queryIds = Seq(0L, 2L), k = 2)
    out.count() shouldBe 4
    out.groupBy($"query_id").count().collect()
      .map(_.getLong(1)).toSeq shouldBe Seq(2L, 2L)
  }

  test("topKByScore agg is row-identical to the window top-k it replaced, ties and all (r14)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    // deterministic fuzz corpus with ENGINEERED ties: vectors repeat
    // every 16 ids, so most queries see several exactly-equal cosines
    // and the (score DESC, id ASC) tiebreak does real work at the k
    // boundary — the case a buggy heap comparator gets wrong silently
    val n = 96
    val fuzz = (0L until n).map { i =>
      val s = i % 16
      (i, Array.tabulate(6)(d =>
        (((s * 2654435761L + d * 40503L) % 1000) - 500).toFloat / 250f))
    }.toDF("vec_id", "embedding")
    val corpus = fuzz.select(col("vec_id").as("nbr_id"),
      col("embedding").as("nbr_vec"))
    val probes = fuzz.select(col("vec_id"), col("embedding").as("query_vec"))
    val scored = probes.join(corpus, col("nbr_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        graft.functions.cosineSim(col("query_vec"), col("nbr_vec")))
      .select("vec_id", "nbr_id", "cos_sim")
    for (k <- Seq(1, 5, 200)) { // 200 > candidates: heap never fills
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_sim").desc, col("nbr_id").asc)
      val viaWindow = scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("vec_id", "rank", "nbr_id", "cos_sim")
        .orderBy("vec_id", "rank").collect().map(_.toSeq)
      val viaAgg = scored.groupBy(col("vec_id"))
        .agg(graft.functions.topKByScore(col("nbr_id"), col("cos_sim"), k)
          .as("topk"))
        .select(col("vec_id"),
          org.apache.spark.sql.functions.posexplode(col("topk")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("nbr_id"), col("col.score").as("cos_sim"))
        .orderBy("vec_id", "rank").collect().map(_.toSeq)
      viaAgg.length shouldBe viaWindow.length
      viaAgg.toSeq shouldBe viaWindow.toSeq
    }
  }

  test("topKByScore never ranks null-score rows (deliberate divergence from the window's NULLS LAST)") {
    import org.apache.spark.sql.functions.{col, posexplode}
    val rows = Seq[(Long, Long, Option[Double])](
      (1L, 10L, Some(0.5)), (1L, 11L, None), (1L, 12L, Some(0.1)),
      (2L, 20L, None), (2L, 21L, None))
      .toDF("key", "nbr_id", "cos_sim")
    val out = rows.groupBy(col("key"))
      .agg(graft.functions.topKByScore(col("nbr_id"), col("cos_sim"), 5)
        .as("topk"))
      .select(col("key"), posexplode(col("topk")))
      .select(col("key"), col("col.id").as("nbr_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // key 1: the two scored rows rank, the null row does not; key 2:
    // all-null candidates -> an empty array, exploded away entirely
    out.toSeq shouldBe Seq((1L, 10L), (1L, 12L))
  }

  test("TopKByScoreAgg serde round-trips the heap (the ObjectHashAggregate spill-fallback path)") {
    // the sort-based fallback serializes buffers mid-aggregation; the
    // in-memory path never exercises it on low-cardinality keys, so
    // pin it directly: serialize -> deserialize -> same k, same ranks
    import graft.expressions.{TopKByScoreAgg, TopKHeap}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = TopKByScoreAgg(BoundReference(0, LongType, nullable = false),
      BoundReference(1, DoubleType, nullable = false), k = 3)
    val h = new TopKHeap(3)
    Seq((5L, 0.2), (9L, 0.9), (1L, 0.9), (7L, Double.NaN), (3L, -0.5))
      .foreach { case (id, s) => h.offer(id, s) }
    val back = agg.deserialize(agg.serialize(h))
    back.k shouldBe 3
    // bit-pattern compare: tuple equality would fail on NaN == NaN
    def bits(a: Array[(Long, Double)]) =
      a.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }.toSeq
    bits(back.sortedBestFirst()) shouldBe bits(h.sortedBestFirst())
    // and an empty heap survives the trip
    val empty = agg.deserialize(agg.serialize(new TopKHeap(3)))
    (empty.k, empty.size) shouldBe (3, 0)
    // merging a deserialized buffer equals merging the original
    val h2 = new TopKHeap(3); h2.offer(2L, 0.95)
    val viaSerde = { val m = agg.deserialize(agg.serialize(h)); agg.merge(m, h2); m }
    viaSerde.sortedBestFirst().map(_._1).toSeq shouldBe Seq(7L, 2L, 1L)
  }

  test("TopKHeap boundary semantics: NaN sorts first (Spark desc order), -0.0 ties 0.0 by id") {
    import graft.expressions.TopKHeap
    // NaN is LARGEST in Spark's double total order → desc-first: a NaN
    // score must win rank 1 over any finite score
    val h = new TopKHeap(2)
    h.offer(7L, 0.9); h.offer(3L, Double.NaN); h.offer(5L, 1.0)
    h.sortedBestFirst().map(_._1).toSeq shouldBe Seq(3L, 5L)
    // -0.0 == 0.0 in SQL comparison → tie breaks by id ascending
    val h2 = new TopKHeap(2)
    h2.offer(9L, 0.0); h2.offer(4L, -0.0); h2.offer(6L, -1.0)
    h2.sortedBestFirst().map(_._1).toSeq shouldBe Seq(4L, 9L)
    // two NaNs tie by id
    val h3 = new TopKHeap(3)
    h3.offer(8L, Double.NaN); h3.offer(2L, Double.NaN); h3.offer(1L, 5.0)
    h3.sortedBestFirst().map(_._1).toSeq shouldBe Seq(2L, 8L, 1L)
  }

  test("knnLabelAgreement: neighbor votes match the obvious geometry; self excluded; rate = n_agree/k") {
    // two tight clusters: x-axis (labels A,A,A) and y-axis (B,B), plus
    // one x-axis vector mislabeled B — its neighbors are all A
    val labeled = Seq(
      (0L, Array(1f, 0f, 0f), "A"),
      (1L, Array(0.99f, 0.01f, 0f), "A"),
      (2L, Array(0.98f, 0.02f, 0f), "A"),
      (3L, Array(0.97f, 0.03f, 0f), "B"), // mislabel: x-cluster, B tag
      (4L, Array(0f, 1f, 0f), "B"),
      (5L, Array(0.01f, 0.99f, 0f), "B")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAgreement(labeled, "vec_id", "embedding",
        "label", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    out.keySet shouldBe (0L to 5L).toSet
    // x-cluster A rows: 3 nearest are the other x vectors — 2 A + the
    // mislabeled B → agree 2/3
    Seq(0L, 1L, 2L).foreach { id =>
      out(id)._1 shouldBe "A"
      out(id)._2 shouldBe 2L
      out(id)._3 shouldBe 2.0 / 3 +- 1e-15
    }
    // the mislabel: all 3 nearest are A, zero agreement — flagged
    out(3L) shouldBe (("B", 0L, 0.0))
    // y-cluster B rows: nearest is the other y vector (agree) plus two
    // far x vectors; the mislabeled B among them lifts agreement to 2/3
    out(4L)._2 should be >= 1L
    out(5L)._2 should be >= 1L
  }

  test("labelCentroidOutliers: exact fixed-point ranking, per-label windows, zero-distance ties break by id") {
    val labeled = Seq(
      // label 7: two at the origin, one far out on x — the obvious outlier
      (0L, Array(0f, 0f), 7),
      (1L, Array(0f, 0f), 7),
      (2L, Array(1f, 0f), 7),
      // label 8: identical vectors — all distances exactly 0, id ties
      (3L, Array(0f, 1f), 8),
      (4L, Array(0f, 1f), 8)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidOutliers(labeled, "vec_id", "embedding",
        "label", topK = 5)
      .orderBy($"label", $"rank")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.map(t => (t._1, t._2, t._3)).toSeq shouldBe Seq(
      (7, 1L, 2L), (7, 2L, 0L), (7, 3L, 1L), // farthest first; 0<1 id tie
      (8, 1L, 3L), (8, 2L, 4L))
    // label 7 dim-0 nano values: 2e9, 2e9, 3e9 → quantized centroid
    // floor(7e9/3) = 2333333333; outlier dist² = 666666667² / 1e18
    out(0)._4 shouldBe (666666667.0 * 666666667.0 / 1e18) +- 1e-12
    out(1)._4 shouldBe out(2)._4 // the two origin rows are equidistant
    // identical vectors: exactly zero, not epsilon
    out(3)._4 shouldBe 0.0
    out(4)._4 shouldBe 0.0
  }

  test("labelCentroidSeparation: exact pairwise centroid distances with sizes") {
    val labeled = Seq(
      (0L, Array(0f, 0f), 0),
      (1L, Array(0f, 2f), 0),   // centroid (0, 1)
      (2L, Array(2f, 0f), 1))   // centroid (2, 0)
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.labelCentroidSeparation(labeled, "vec_id",
        "embedding", "label")
      .collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // dist² = (2-0)² + (0-1)² = 5, exactly (nano quantization is exact
    // for these values)
    rows.toSeq shouldBe Seq((0, 1, 2L, 1L, 5.0))
  }

  test("embeddingNormStats: exact fixed-point norms, per-label distribution") {
    val labeled = Seq(
      (0L, Array(3f, 4f), 0),    // norm2 = 25
      (1L, Array(0f, 0f), 0),    // norm2 = 0  (the collapse case)
      (2L, Array(1f, 1f), 1))    // norm2 = 2
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.embeddingNormStats(labeled, "vec_id",
        "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getDouble(5))).toMap
    rows(0) shouldBe ((2L, 12.5, 0.0, 25.0)) // p50 interpolates {0, 25}
    rows(1) shouldBe ((1L, 2.0, 2.0, 2.0))
  }

  test("lshTopK returns exactly-ranked subsets: every reported pair's cosine is exact and ranks are consistent") {
    val out = Similarity.lshTopK(vecs, "vec_id", "embedding",
        queryIds = Seq(0L), k = 3, tables = 8, planesPerTable = 2, dim = 4)
      .orderBy($"rank").collect()
    // whatever candidates LSH surfaced, ranks must be 1..n without gaps
    out.map(_.getLong(1)).toSeq shouldBe (1L to out.length)
    // and cos_sim must be the true cosine (exact re-rank, no approximation)
    val byId = out.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    if (byId.contains(1L)) byId(1L) shouldBe (0.9 / math.sqrt(0.82)) +- 1e-9
  }

  test("multiProbe cosineNearDup surfaces a superset of single-probe pairs with exact cosines, no false positives") {
    val single = Similarity.cosineNearDup(vecs, "vec_id", "embedding", 0.9,
        tables = 8, planesPerTable = 2, dim = 4)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.cosineNearDup(vecs, "vec_id", "embedding", 0.9,
        tables = 8, planesPerTable = 2, dim = 4, multiProbe = true)
      .collect()
    val multiPairs = multi.map(r => (r.getLong(0), r.getLong(1))).toSet
    single.subsetOf(multiPairs) shouldBe true
    // every emitted pair is exact-verified above threshold
    multi.foreach(r => r.getDouble(2) should be >= 0.9)
  }

  test("multiProbe lshTopK probes Hamming-1 buckets: surfaces a superset of single-probe pairs, still exactly ranked") {
    val single = Similarity.lshTopK(vecs, "vec_id", "embedding",
        queryIds = Seq(0L, 2L), k = 4, tables = 8, planesPerTable = 2, dim = 4)
      .select($"query_id", $"nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopK(vecs, "vec_id", "embedding",
        queryIds = Seq(0L, 2L), k = 4, tables = 8, planesPerTable = 2, dim = 4,
        multiProbe = true)
      .orderBy($"query_id", $"rank").collect()
    val multiPairs = multi.map(r => (r.getLong(0), r.getLong(2))).toSet
    // more probes can only ADD candidates; the top-k of a superset at
    // k >= corpus size contains every single-probe hit
    single.subsetOf(multiPairs) shouldBe true
    // ranks stay dense per query and cosines exact
    multi.groupBy(_.getLong(0)).values.foreach { rs =>
      rs.map(_.getLong(1)).toSeq shouldBe (1L to rs.length)
    }
    val byId = multi.filter(_.getLong(0) == 0L)
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    if (byId.contains(1L)) byId(1L) shouldBe (0.9 / math.sqrt(0.82)) +- 1e-9
  }

  test("native LshBucketHashes is bit-identical to the per-plane when/dotProduct column formulation") {
    val planes = (0 until 16).map(t =>
      Similarity.hyperplanes(6, 4, 42L + t))
    val native = vecs.select($"vec_id",
        Similarity.bucketsCol($"embedding", planes).as("b"))
      .orderBy($"vec_id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    val columns = vecs.select($"vec_id",
        array(planes.map(p => Similarity.bucketCol($"embedding", p)): _*).as("b"))
      .orderBy($"vec_id").collect().map(_.getSeq[Long](1).toSeq).toSeq
    native shouldBe columns
    // vectors shorter than dim fold over the common prefix, same as dotProduct
    val short = Seq((0L, Array(1f, -1f))).toDF("vec_id", "embedding")
    val a = short.select(Similarity.bucketsCol($"embedding", planes).as("b"))
      .collect()(0).getSeq[Long](0).toSeq
    val b = short.select(array(planes.map(p =>
        Similarity.bucketCol($"embedding", p)): _*).as("b"))
      .collect()(0).getSeq[Long](0).toSeq
    a shouldBe b
    // the ONE deliberate divergence: a null vector yields NULL (the
    // row drops out of candidate generation at the posexplode) rather
    // than the column formulation's bucket 0 in every table — a null
    // embedding must not become a candidate for every query
    val withNull = Seq((0L, Array(1f, 0f)), (1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val nulls = withNull.select($"vec_id",
        Similarity.bucketsCol($"embedding", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    nulls(0L) shouldBe false
    nulls(1L) shouldBe true
  }

  test("ivfCentroidsRefined: Lloyd rounds keep |cents| <= C, are deterministic, and preserve exact re-rank") {
    val refined = Similarity.ivfCentroidsRefined(vecs, "vec_id", "embedding",
      centroids = 3, iters = 2)
    refined.count() should be <= 3L
    // deterministic: a second run produces bit-identical centroids
    val a = refined.orderBy($"cent_id").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    val b = Similarity.ivfCentroidsRefined(vecs, "vec_id", "embedding", 3, 2)
      .orderBy($"cent_id").collect().map(_.getSeq[Double](1).toSeq).toSeq
    a shouldBe b
    // the refined index still yields exactly-ranked, exactly-scored
    // results (re-rank is exact regardless of the quantizer)
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding", Seq(0L), 3,
        centroids = 3, nProbe = 3, refineIters = 2)
      .orderBy($"rank").collect()
    out.map(_.getLong(1)).toSeq shouldBe (1L to out.length)
    val byId = out.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    if (byId.contains(1L)) byId(1L) shouldBe (0.9 / math.sqrt(0.82)) +- 1e-9
  }

  test("ivfTopK assigns, probes and re-ranks exactly; high-probe setting recovers the exact top-k") {
    // with nProbe >= number of cells, IVF degrades to exact brute force
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Seq(0L), 3)
      .select($"query_id", $"rank", $"nbr_id").collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", Seq(0L), 3,
        centroids = 5, nProbe = 5)
      .select($"query_id", $"rank", $"nbr_id").collect().map(_.toSeq).toSet
    ivf shouldBe exact
  }

  test("ivfCentroids is a bounded fixed-size quantizer: |cents| <= C regardless of corpus size") {
    // the scale contract: assignment is n × C, never n × (n/mod). C
    // caps the centroid set even when the corpus is much larger.
    val big = spark.range(0, 1000)
      .select($"id".as("vec_id"),
        array(Seq(rand(7), rand(8), rand(9), rand(10)).map(_.cast("float")): _*)
          .as("embedding"))
    Similarity.ivfCentroids(big, "vec_id", "embedding", 64).count() shouldBe 64
    Similarity.ivfCentroids(big, "vec_id", "embedding", 5000).count() shouldBe 1000
    // deterministic: same corpus → same centroid ids, twice
    val a = Similarity.ivfCentroids(big, "vec_id", "embedding", 64)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    val b = Similarity.ivfCentroids(big, "vec_id", "embedding", 64)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    a shouldBe b
  }

  test("cosineNearDup finds the near-parallel pairs above threshold with exact cosines") {
    val out = Similarity.cosineNearDup(vecs, "vec_id", "embedding", t = 0.95,
        tables = 8, planesPerTable = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cos(1,4) ≈ 0.9989, cos(0,1) ≈ 0.9939, cos(0,4) ≈ 0.9847 — all >= 0.95
    out should contain((1L, 4L))
    // no false positives possible (exact verify); orthogonal/opposite never appear
    out.foreach { case (a, b) => Set(2L, 3L) should not contain a }
  }

  test("quantizeInt8: hand-computed codes, half-step error bound, zero-vector case") {
    val emb = Seq(
      (0L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .orderBy($"vec_id").collect()
    out(0).getDouble(1) shouldBe (1.0 / 127) +- 1e-15
    // floor(x*127 + 0.5): 127.5->127, -63.0->-63, 32.25->32, 0.5->0
    out(0).getSeq[Int](2) shouldBe Seq(127, -63, 32, 0)
    out(0).getDouble(3) should be <= (1.0 / 127) / 2 + 1e-12
    out(1).getDouble(1) shouldBe 0.0
    out(1).getSeq[Int](2) shouldBe Seq(0, 0, 0, 0)
    out(1).getDouble(3) shouldBe 0.0
  }

  test("semDedup drops within-cluster near-dups toward the lowest id, keeps the rest") {
    // two obvious clusters along e1 and e2; ids 0/1 double as centroids
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),    // A centroid
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),    // B centroid
      (2L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),   // A: cos to 0 ≈ 0.99494 -> dropped, dup_of 0
      (3L, Seq(0.5f, 0.8f, 0.0f, 0.0f)),    // B: cos to 1 ≈ 0.848 -> kept
      (4L, Seq(0.99f, 0.1f, 0.0f, 0.0f)),   // exact dup of 2 -> dropped, dup_of 2 (cos 1 beats 0's 0.995)
      (5L, Seq(0.0f, 0.999f, 0.01f, 0.0f))  // B: cos to 1 ≈ 0.99995 -> dropped, dup_of 1
    ).toDF("id", "vec")
    val cents = emb.filter($"id" < 2)
    val (kept, dropped) = Similarity.semDedup(emb, "id", "vec",
      cents, "id", "vec", t = 0.95)
    val d = dropped.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // chained rule: 4 drops against 2 even though 2 is itself dropped
    d shouldBe Map(2L -> (0L, 0L), 4L -> (0L, 2L), 5L -> (1L, 1L))
    kept.select($"id").as[Long].collect().toSet shouldBe Set(0L, 1L, 3L)
    // kept keeps the ORIGINAL schema (anti-join, no projection)
    kept.columns.toSeq shouldBe Seq("id", "vec")
    // deterministic: same call, same manifest (incl. cos values)
    val again = Similarity.semDedup(emb, "id", "vec",
      cents, "id", "vec", t = 0.95)._2.collect().toSeq
    again.map(_.toSeq) shouldBe dropped.collect().toSeq.map(_.toSeq)
    // the exposed pair graph is the full within-cluster edge set
    val pairs = Similarity.semDedupPairs(emb, "id", "vec",
        cents, "id", "vec", t = 0.95)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((0L, 2L), (0L, 4L), (2L, 4L), (1L, 5L))
  }

  test("dimensionStats: exact mean/variance per dimension, collapsed flag") {
    val emb = Seq(
      (1L, Array(1.0f, 0.5f)),
      (2L, Array(1.0f, -0.5f)),
      (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.dimensionStats(emb, "embedding")
      .collect().map(r => r.getLong(0) -> r).toMap
    val d0 = rows(0L)
    d0.getLong(1) shouldBe 3L
    d0.getDouble(2) shouldBe 1.0
    d0.getDouble(3) shouldBe 0.0
    d0.getBoolean(4) shouldBe true        // zero variance = collapsed
    val d1 = rows(1L)
    d1.getDouble(2) shouldBe 0.0
    // xi = (5e8, -5e8, 0): var_num = 3*(2*25e16) - 0 = 1.5e18, floor-
    // quantized to nano^2 by the integral divide before the cast
    d1.getDouble(3) shouldBe (1500000000000000000L / 9L).toDouble / 1e18
    d1.getBoolean(4) shouldBe false
    // threshold dial: with collapsedVar above 1/6 both dims flag
    Similarity.dimensionStats(emb, "embedding", collapsedVar = 0.5)
      .collect().map(_.getBoolean(4)).toSeq shouldBe Seq(true, true)
  }

  test("embeddingCovariance: exact pair sums; diagonal = dimensionStats variance") {
    val emb = Seq(
      (1L, Array(1.0f, 0.5f)),
      (2L, Array(1.0f, -0.5f)),
      (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cov = Similarity.embeddingCovariance(emb, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    cov.keySet shouldBe Set((0L, 0L), (0L, 1L), (1L, 1L))
    cov.values.foreach(_.getLong(2) shouldBe 3L)
    cov((0L, 0L)).getDouble(3) shouldBe 0.0  // constant dim
    cov((0L, 1L)).getDouble(3) shouldBe 0.0  // constant × anything
    // the diagonal reproduces dimensionStats' fixed-point variance
    val vars = Similarity.dimensionStats(emb, "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    cov((1L, 1L)).getDouble(3) shouldBe vars(1L)

    // negative covariance goes through the offset divide exactly:
    // xi = ±5e8 anti-aligned, cov = -0.25 in nano² fixed point
    val anti = Seq(
      (1L, Array(0.5f, -0.5f)),
      (2L, Array(-0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val c01 = Similarity.embeddingCovariance(anti, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    c01((0L, 1L)) shouldBe -0.25
    c01((0L, 0L)) shouldBe 0.25
  }

  test("kmeans: two blobs converge to exact centroids/SSE in two rounds") {
    // float-exact coordinates so the fixed-point walk is clean:
    // blob A = {0, 0.25, 0.5}, blob B = {10, 10.25, 10.5}; seeds are
    // ids 1 (0.0) and 2 (0.25). Round 1 captures all of B plus 0.25
    // and 0.5 into cluster 1; round 2 separates the blobs exactly.
    val emb = Seq(
      (1L, Array(0.0f)), (2L, Array(0.25f)), (3L, Array(0.5f)),
      (4L, Array(10.0f)), (5L, Array(10.25f)), (6L, Array(10.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // per-blob SSE = 2 * 0.25^2 = 0.125, exact in nano^2 units
    out.toSeq shouldBe Seq((0L, 3L, 0.125), (1L, 3L, 0.125))
    // deterministic: identical re-run, bit for bit
    Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq shouldBe out.toSeq
  }

  test("knnNeighborsApprox: dense ranks, exact cosines, pairs drawn from the exact all-pairs table") {
    // k = n - 1: the exact table holds EVERY directed pair, so the
    // approximate output must be a subset regardless of bucketing luck
    val exact = Similarity.knnNeighborsExact(vecs, "vec_id", "embedding", 4)
      .collect()
    exact.groupBy(_.getLong(0)).values.foreach { rs =>
      rs.sortBy(_.getLong(1)).map(_.getLong(1)).toSeq shouldBe
        (1L to rs.length)
    }
    exact.groupBy(_.getLong(0)).foreach { case (_, rs) => rs.length shouldBe 4 }
    val approx = Similarity.knnNeighborsApprox(vecs, "vec_id", "embedding", 4,
        tables = 8, planesPerTable = 2, dim = 4, multiProbe = true)
      .collect()
    approx.groupBy(_.getLong(0)).values.foreach { rs =>
      rs.sortBy(_.getLong(1)).map(_.getLong(1)).toSeq shouldBe
        (1L to rs.length)
    }
    // exact re-rank: any reported cosine is the true cosine
    approx.find(r => r.getLong(0) == 0L && r.getLong(2) == 1L)
      .foreach(_.getDouble(3) shouldBe (0.9 / math.sqrt(0.82)) +- 1e-9)
    val exactPairs = exact.map(r => (r.getLong(0), r.getLong(2))).toSet
    approx.map(r => (r.getLong(0), r.getLong(2))).toSet
      .subsetOf(exactPairs) shouldBe true
  }

  test("effectiveDimensionality: PR is 1 on a one-axis cloud, exactly 2 on an isotropic 2-axis cloud") {
    val oneAxis = Seq(
      (0L, Array(1f, 0f)), (1L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val r1 = Similarity.effectiveDimensionality(oneAxis, "embedding")
      .collect().head
    (r1.getLong(0), r1.getLong(1), r1.getDouble(2)) shouldBe ((2L, 2L, 1.0))
    val isotropic = Seq(
      (0L, Array(1f, 0f)), (1L, Array(-1f, 0f)),
      (2L, Array(0f, 1f)), (3L, Array(0f, -1f)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity.effectiveDimensionality(isotropic, "embedding")
      .collect().head
    // both dims carry identical variance → (2v)²/(2v²) = 2, exactly
    (r2.getLong(0), r2.getLong(1), r2.getDouble(2)) shouldBe ((4L, 2L, 2.0))
  }

  test("probeCoin: sampled neighbor tables equal the full tables filtered to the sampled probes") {
    // the unbiasedness property the sampled-recall audit (q206) rests
    // on: each probe's ranking is independent of other probes, so
    // restricting the PROBE side must reproduce the full run's rows
    // for the sampled ids EXACTLY — and the index side must stay full
    // (a sampled probe still meets every corpus row / bucket-mate)
    val coin = Some(("knnrecall", "30000000")) // ids 1,2,3 of 0-4
    def sampledIds = vecs.filter(
      substring(md5(concat(lit("knnrecall#"), $"vec_id".cast("string"))),
        1, 8) < lit("30000000")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val ids = sampledIds
    ids should not be empty
    ids.size should be < 5
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val fullE = Similarity.knnNeighborsExact(vecs, "vec_id", "embedding", 4)
      .collect().filter(r => ids(r.getLong(0))).map(key).toSet
    val sampE = Similarity.knnNeighborsExact(vecs, "vec_id", "embedding", 4,
      probeCoin = coin).collect().map(key).toSet
    sampE shouldBe fullE
    val fullA = Similarity.knnNeighborsApprox(vecs, "vec_id", "embedding", 4,
        tables = 8, planesPerTable = 2, dim = 4, multiProbe = true)
      .collect().filter(r => ids(r.getLong(0))).map(key).toSet
    val sampA = Similarity.knnNeighborsApprox(vecs, "vec_id", "embedding", 4,
        tables = 8, planesPerTable = 2, dim = 4, multiProbe = true,
        probeCoin = coin).collect().map(key).toSet
    sampA shouldBe fullA
  }

  test("knnLabelAgreementApprox equals the exact audit when probing recovers every neighbor") {
    // planesPerTable = 1 + Hamming-1 multiprobe: every query probes
    // BOTH buckets of every table, so the candidate set is complete
    // and the approximate audit must equal the exact one bit for bit
    val labeled = Seq(
      (0L, Array(1f, 0f, 0f), "A"),
      (1L, Array(0.99f, 0.01f, 0f), "A"),
      (2L, Array(0.98f, 0.02f, 0f), "A"),
      (3L, Array(0.97f, 0.03f, 0f), "B"),
      (4L, Array(0f, 1f, 0f), "B"),
      (5L, Array(0.01f, 0.99f, 0f), "B")
    ).toDF("vec_id", "embedding", "label")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))
    val exact = Similarity.knnLabelAgreement(labeled, "vec_id", "embedding",
      "label", k = 3).collect().map(key).toSet
    val approx = Similarity.labelVote(
        Similarity.knnNeighborsApprox(labeled, "vec_id", "embedding", k = 3,
          tables = 4, planesPerTable = 1, dim = 3, multiProbe = true),
        labeled, "vec_id", "label", k = 3)
      .collect().map(key).toSet
    approx shouldBe exact
    // the mislabeled x-cluster vector is flagged by the approx audit too
    approx.find(_._1 == 3L).map(t => (t._3, t._4)) shouldBe Some((0L, 0.0))
  }

  test("knnLabelAgreementApprox: neighborhoods smaller than k keep the /k denominator") {
    // n - 1 < k: even complete candidates give only 2 neighbors per
    // row; the vote must report n_agree <= 2 with agree_rate still /k
    val tiny = Seq(
      (0L, Array(1f, 0f), "A"),
      (1L, Array(0.99f, 0.01f), "A"),
      (2L, Array(0.98f, 0.02f), "A")
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelVote(
        Similarity.knnNeighborsApprox(tiny, "vec_id", "embedding", k = 5,
          tables = 4, planesPerTable = 1, dim = 2, multiProbe = true),
        tiny, "vec_id", "label", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    out.keySet shouldBe Set(0L, 1L, 2L)
    out.values.foreach { case (agree, rate) =>
      agree shouldBe 2L
      rate shouldBe 0.4 +- 1e-15 // 2 agreeing neighbors over k = 5
    }
  }

  test("kmeans: a cluster that loses all members keeps its centroid") {
    // three identical points, k=2: both seeds coincide, every point
    // ties to cluster 0 (tie order), cluster 1 goes empty and must
    // retain its previous centroid instead of vanishing
    val emb = Seq((1L, Array(1.0f)), (2L, Array(1.0f)), (3L, Array(1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.toSeq shouldBe Seq((0L, 3L, 0.0), (1L, 0L, 0.0))
  }

  test("kmeans: empty input yields an empty (cluster, n, sse) frame, not an exception") {
    // the pre-r15 join formulation returned an empty frame for an
    // empty corpus; the driver-centroid Lloyd must match (ADVICE r15:
    // KMeansAssignExpr requires >= 1 centroid, so kmeans has to
    // short-circuit before building it)
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 2)
    out.columns.toSeq shouldBe Seq("cluster", "n", "sse")
    out.count() shouldBe 0L
  }

  test("srpProject: one-hot vectors read the md5 sign matrix exactly; zero vector projects to zero; partition-invariant") {
    import spark.implicits._
    val dims = 4
    // vec d is one-hot at dimension d: proj(k) = sign(k, d) * 1e9
    val emb = (0 until dims).map { d =>
      (d.toLong, (0 until dims).map(i => if (i == d) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    def expectedSign(k: Int, d: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$d".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) >= 8) 1L else -1L
    }
    val got = Similarity.srpProject(emb, "vec_id", "embedding",
        outDims = 3, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.length shouldBe dims * 3
    got.foreach { case (d, k, proj) =>
      withClue(s"vec $d comp $k: ") {
        proj shouldBe expectedSign(k.toInt, d.toInt) * 1000000000L
      }
    }
    val zero = Seq((9L, Seq.fill(dims)(0.0f))).toDF("vec_id", "embedding")
    Similarity.srpProject(zero, "vec_id", "embedding", 3, dims)
      .collect().foreach(_.getLong(2) shouldBe 0L)
    rowsOf(Similarity.srpProject(emb.repartition(3), "vec_id", "embedding",
      3, dims)) shouldBe
      rowsOf(Similarity.srpProject(emb.coalesce(1), "vec_id", "embedding",
        3, dims))
    an[IllegalArgumentException] should be thrownBy
      Similarity.srpProject(emb, "vec_id", "embedding", 0, dims)
  }

  test("srpCodeHistogram: identical vectors collapse to one bucket; shares sum to 1; codes bounded") {
    import spark.implicits._
    val dims = 4
    val emb = (
      (0 until 5).map(i => (i.toLong, Seq(1.0f, 2.0f, -1.0f, 0.5f))) ++
      (5 until 8).map(i => (i.toLong, Seq(-3.0f, 1.0f, 2.0f, -2.0f)))
    ).toDF("vec_id", "embedding")
    val h = Similarity.srpCodeHistogram(emb, "vec_id", "embedding",
        outDims = 6, dims = dims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    h.map(_._2).sum shouldBe 8L
    h.length should be <= 2 // two distinct vectors -> at most 2 codes
    h.foreach { case (code, _, _) =>
      code should be >= 0L
      code should be < (1L << 6)
    }
    h.map(_._3).sum shouldBe 1.0 +- 1e-8
    // ordered by load: first bucket is the 5-clone one
    h.head._2 shouldBe 5L
  }

  test("labelCentroidCosine: aligned labels read 1, opposed -1, orthogonal 0; diagonal is 1") {
    val emb = Seq(
      // label 0: two vectors along +x (different norms — centroid +x)
      (0L, Array(0.5f, 0f), 0), (1L, Array(0.25f, 0f), 0),
      // label 1: along -x
      (2L, Array(-0.5f, 0f), 1),
      // label 2: along +y
      (3L, Array(0f, 0.5f), 2))
      .toDF("vec_id", "embedding", "label")
    val rows = Similarity.labelCentroidCosine(emb, "label", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    rows((0L, 0L))._3 shouldBe 1.0
    rows((0L, 1L)) shouldBe ((2L, 1L, -1.0))
    rows((0L, 2L))._3 shouldBe 0.0
    rows((1L, 2L))._3 shouldBe 0.0
    rows((2L, 2L))._3 shouldBe 1.0
    rows.size shouldBe 6 // 3 labels -> upper triangle incl diagonal
    // partition invariance (exact integer path)
    rowsOf(Similarity.labelCentroidCosine(emb.repartition(5),
      "label", "embedding")) shouldBe
      rowsOf(Similarity.labelCentroidCosine(emb.coalesce(1),
        "label", "embedding"))
  }

  test("lshCandidates semantics: every LSH wrapper equals a plain-Scala bucket model, both probe modes") {
    // 300 × 8-d clustered fuzz corpus: ids 290-297 repeat the vectors of
    // ids 0-7 (exact cosine ties), 298 is null (no buckets), 299 is the
    // zero vector (every sign bit set; its cosines are NULL, so it is
    // never ranked and never a near-dup)
    val r = new java.util.SplittableRandom(7L)
    val centers = Array.fill(30)(Array.fill(8)(r.nextGaussian()))
    val base = (0 until 290).map(i =>
      centers(i % 30).map(c => (c + 0.35 * r.nextGaussian()).toFloat))
    val vecs: IndexedSeq[Array[Float]] =
      base ++ base.take(8) ++ Seq(null, Array.fill(8)(0f))
    val corpus = vecs.indices.map(_.toLong).zip(vecs)
    val emb = corpus.toDF("vec_id", "embedding")
    val (tables, planes, dim) = (4, 3, 8)
    def key(r: org.apache.spark.sql.Row, n: Int) =
      (0 until n).map(i => r.get(i)) :+ java.lang.Double.doubleToLongBits(r.getDouble(n))
    def modelRank(pairs: Set[(Long, Long)], k: Int) =
      pairs.groupBy(_._1).toSeq.flatMap { case (q, ps) =>
        val scored = ps.toSeq.flatMap { case (_, b) =>
          LshModel.cos(vecs(q.toInt), vecs(b.toInt)).map(b -> _) }
        LshModel.topK(scored, k)
          .zipWithIndex.map { case ((b, c), i) =>
            Seq[Any](q, (i + 1).toLong, b, java.lang.Double.doubleToLongBits(c)) }
      }.toSet
    val queryIds = (0L until 20L) ++ Seq(290L, 298L, 299L)
    val (salt, hex) = ("knnrecall", "60000000")
    val sampled = corpus.map(_._1).filter(LshModel.coin(salt, hex)).toSet
    sampled.size should (be > 50 and be < 250)
    for (multiProbe <- Seq(false, true)) withClue(s"multiProbe=$multiProbe: ") {
      def cands(probe: Long => Boolean, keep: (Long, Long) => Boolean) =
        LshModel.candidates(corpus, probe, keep, tables, planes, dim, 42L, multiProbe)
      val topK = Similarity.lshTopK(emb, "vec_id", "embedding", queryIds, 5,
          tables, planes, dim, multiProbe = multiProbe)
        .collect().map(key(_, 3)).toSet
      topK shouldBe modelRank(cands(queryIds.toSet, _ != _), 5)
      for (coin <- Seq(None, Some((salt, hex)))) withClue(s"probeCoin=$coin: ") {
        val knn = Similarity.knnNeighborsApprox(emb, "vec_id", "embedding", 5,
            tables, planes, dim, multiProbe = multiProbe, probeCoin = coin)
          .collect().map(key(_, 3)).toSet
        knn shouldBe modelRank(cands(id => coin.isEmpty || sampled(id), _ != _), 5)
      }
      val nearDup = Similarity.cosineNearDup(emb, "vec_id", "embedding", 0.8,
          tables, planes, dim, multiProbe = multiProbe)
        .collect().map(key(_, 2)).toSet
      nearDup shouldBe cands(_ => true, _ < _).toSeq.flatMap { case (a, b) =>
          LshModel.cos(vecs(a.toInt), vecs(b.toInt)).map((a, b, _)) }
        .filter(_._3 >= 0.8)
        .map(p => Seq[Any](p._1, p._2, java.lang.Double.doubleToLongBits(p._3))).toSet
      nearDup.size should be > 0
    }
  }

  /** Every seed up to and including 56, the first whose corpus fails
    * the gate at 12 tables (7 of 8 exact pairs found; also 7 of 8 at 16).
    */
  private val GateSeeds = 0L to 56L

  test("q37's recall gate holds at nearDupTables on every seeded 200-vector corpus, and fails at 12 tables on one") {
    // q37's gate (recall >= 0.9 of the exact pairs at cosine >= 0.4,
    // every reported pair verified) on perfbench-shaped corpora: 200
    // unit-Gaussian 64-d float vectors, exact pairs from the Scala model
    val t = 0.4
    Similarity.nearDupTables(t, 6) shouldBe 21
    def gate(vecs: IndexedSeq[Array[Float]], tables: Int): (Boolean, String) = {
      val emb = vecs.indices.map(_.toLong).zip(vecs).toDF("vec_id", "embedding")
      val approx = Similarity.cosineNearDup(emb, "vec_id", "embedding", t,
          tables = tables, multiProbe = true)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val exact = for {
        a <- vecs.indices; b <- a + 1 until vecs.length
        if LshModel.cos(vecs(a), vecs(b)).exists(_ >= t)
      } yield (a.toLong, b.toLong)
      approx.values.foreach(_ should be >= t)
      val hits = exact.count(approx.contains)
      (exact.isEmpty || hits.toDouble / exact.size >= 0.9, s"$hits/${exact.size}")
    }
    val failsAt12 = GateSeeds.flatMap { seed =>
      val vecs = LshModel.unitGaussian(seed, 200, 64)
      val (ok, recall) = gate(vecs, Similarity.nearDupTables(t, 6))
      withClue(s"seed $seed recall $recall: ")(ok shouldBe true)
      if (gate(vecs, 12)._1) None else Some(seed)
    }
    // the set is sensitive: q37's former 12-table dial fails on it
    failsAt12 should not be empty
  }
}

/** Plain-Scala reference for the LSH candidate stage: buckets from
  * [[Similarity.hyperplanes]] with the bucket expression's float→double
  * dot and `>= 0` sign rule, and a pair is a candidate iff some table's
  * buckets differ in at most one bit with multiprobe, or in none without.
  */
private object LshModel {
  def buckets(v: Array[Float], planes: Seq[Array[Array[Double]]]): Array[Long] =
    planes.map(_.zipWithIndex.foldLeft(0L) { case (acc, (plane, p)) =>
      var dot = 0.0
      var i = 0
      while (i < math.min(v.length, plane.length)) {
        dot += v(i).toDouble * plane(i); i += 1
      }
      if (dot >= 0) acc | (1L << p) else acc
    }).toArray

  def candidates(corpus: Seq[(Long, Array[Float])], probe: Long => Boolean,
      keep: (Long, Long) => Boolean, tables: Int, planesPerTable: Int,
      dim: Int, seed: Long, multiProbe: Boolean): Set[(Long, Long)] = {
    val planes = (0 until tables).map(t =>
      Similarity.hyperplanes(planesPerTable, dim, seed + t))
    val b = corpus.collect { case (id, v) if v != null => id -> buckets(v, planes) }
    val maxBits = if (multiProbe) 1 else 0
    (for {
      (p, bp) <- b if probe(p)
      (i, bi) <- b if keep(p, i)
      if bp.indices.exists(t => java.lang.Long.bitCount(bp(t) ^ bi(t)) <= maxBits)
    } yield (p, i)).toSet
  }

  /** [[graft.expressions.CosineSimilarity]]'s arithmetic; None where it
    * returns NULL (either norm 0). */
  def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until math.min(a.length, b.length)) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    if (na == 0.0 || nb == 0.0) None
    else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Top-k by (score DESC with NaN highest, id ASC) — the rankTopK order. */
  def topK(scored: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    scored.sortWith { case ((i1, s1), (i2, s2)) =>
      if (s1 == s2 || (s1.isNaN && s2.isNaN)) i1 < i2
      else java.lang.Double.compare(s1, s2) > 0
    }.take(k)

  /** The probeCoin predicate: substr(md5(salt#id), 1, 8) < hex. */
  def coin(salt: String, hex: String)(id: Long): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt#$id".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    h.take(8) < hex
  }

  /** perfbench's embedding shape: Gaussian 64-vectors scaled to unit norm. */
  def unitGaussian(seed: Long, n: Int, dim: Int): IndexedSeq[Array[Float]] = {
    val r = new java.util.SplittableRandom(seed)
    (0 until n).map { _ =>
      val g = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / norm).toFloat)
    }
  }
}
