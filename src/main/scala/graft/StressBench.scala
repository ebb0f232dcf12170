package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{Catalog, Curation, Dedup, EventAnalytics, Similarity, TextAnalysis}

/** 100×-readiness stress harness as a DRIVER-RUNNABLE artifact: the
  * synthesized hostile corpora that previously lived as prose in
  * SURVEY.md (round-5/6 scale stresses) — pathological duplication,
  * million-node lineage, hot-domain skew, a hot semantic cluster, and
  * the 11× capstone chain — each with its expected-count assertion
  * INLINE, so the evidence is re-runnable instead of anecdotal.
  *
  * Every assertion is scale-factor-independent (self-consistent): the
  * expectation is either derived combinatorially from a measured 1×
  * run (clone pairs: 45·n within-group + 100·basePairs across copies),
  * computed in closed form on the driver (the binary-tree closure row
  * count), or cross-checked against an independently-planned query
  * (canonical count vs a plain DISTINCT). A failed expectation fails
  * the stress (ok=false, nonzero exit), not just a log line.
  *
  * Output: one JSON line (last stdout line, also stress_out.json) —
  * {"metric":"stress_total","value":secs,...,"stresses":{...}}.
  * SPARK_GRAFT_STRESS selects a comma-separated subset for local
  * iteration; the default runs every registered stress.
  */
object StressBench {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def r3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** `copies` offset clones of `df` (doc_id + k·offset), preserving
    * every other column — the pathological-duplication corpus builder
    * (each base doc gains copies−1 exact clones).
    */
  private def clones(df: DataFrame, copies: Int, offset: Long): DataFrame =
    df.withColumn("__k",
        explode(array((0 until copies).map(lit): _*)))
      .withColumn("doc_id", col("doc_id") + col("__k") * offset)
      .drop("__k")

  /** Dedup under pathological duplication: 10 offset copies of the
    * documents table, so every doc has 9 exact clones. The MinHash-LSH
    * pair count is exactly predictable from the 1× run: clones share
    * signatures, so each base doc contributes C(10,2)=45 within-group
    * pairs and each 1× near-dup pair (a,b) becomes the 10×10 = 100
    * cross-copy pairs (a_i, b_j) — found iff the 1× pair was found.
    * Work scales with OUTPUT (~1000× the 1× pair count), never n².
    */
  private def dedupClone10x(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir).select("doc_id", "text")
    // the within-group expectation counts docs that PRODUCE a signature:
    // Dedup.shingles silently excludes docs with < n tokens, so a short
    // doc contributes no clone pairs — counting it would make the stress
    // fail on clean code (sf0.1 currently has no short docs; this keeps
    // the expectation data-independent rather than assuming that)
    val n = docs
      .filter(size(graft.functions.tokens(col("text"))) >= 3).count()
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    val corpus = clones(docs, 10, offset)
    val (basePairs, baseSecs) = time {
      val df = Dedup.minhashLsh(docs, "doc_id", "text",
        n = 3, t = 0.5, bands = 32, rows = 2)
      val c = df.count(); df.unpersist(blocking = false); c
    }
    val (pairs10, secs10) = time {
      val df = Dedup.minhashLsh(corpus, "doc_id", "text",
        n = 3, t = 0.5, bands = 32, rows = 2)
      val c = df.count(); df.unpersist(blocking = false); c
    }
    val expected = 45L * n + 100L * basePairs
    val ok = pairs10 == expected
    s""""dedup_clone10x":{"secs":${r3(secs10)},"base_secs":${r3(baseSecs)},""" +
      s""""docs":${10 * n},"pairs":$pairs10,"expected":$expected,"ok":$ok}"""
  }

  /** Lineage closure at a million streams: a complete binary-tree
    * dimension (node i's parent is i/2), three orders of magnitude
    * beyond the catalog specs. The transitive-closure row count has a
    * closed form — Σ_{i=2..N} floor(log2 i) — computed on the driver
    * and asserted against the distributed result, along with the max
    * depth (floor(log2 N)).
    */
  private def lineage1M(s: SparkSession): String = {
    val nNodes =
      sys.env.getOrElse("SPARK_GRAFT_STRESS_NODES", "1000000").toLong
    val streams = s.range(1, nNodes + 1).select(
      col("id").cast("string").as("id"),
      when(col("id") === 1, array().cast("array<string>"))
        .otherwise(array(shiftright(col("id"), 1).cast("string")))
        .as("parents"))
    var expectedRows = 0L
    var k = 1
    while ((1L << k) <= nNodes) {
      val hi = math.min(nNodes, (1L << (k + 1)) - 1)
      expectedRows += k * (hi - (1L << k) + 1)
      k += 1
    }
    val expectedDepth = 63 - java.lang.Long.numberOfLeadingZeros(nNodes)
    val ((rows, maxDepth), secs) = time {
      val closure = Catalog.ancestors(streams, "id", "parents",
        maxDepth = expectedDepth)
      val agg = closure
        .agg(count(lit(1)), coalesce(max("depth"), lit(0))).head()
      (agg.getLong(0), agg.getInt(1))
    }
    val ok = rows == expectedRows && maxDepth == expectedDepth
    s""""lineage_1m":{"secs":${r3(secs)},"nodes":$nNodes,""" +
      s""""closure_rows":$rows,"expected_rows":$expectedRows,""" +
      s""""max_depth":$maxDepth,"expected_depth":$expectedDepth,"ok":$ok}"""
  }

  /** Decontamination + quota under hot-shingle and hot-domain skew:
    * 10 offset copies of the documents table, every doc carrying a
    * shared boilerplate sentence (so every contam shingle list collides
    * with ALL corpus rows — the join inflates, the drop set must not),
    * 90% of rows remapped to one hot source. The 10× drop set must be
    * EXACTLY the 10 offset images of the 1× drop set (clone jaccard is
    * copy-invariant), and the per-source quota output must equal
    * Σ min(quota, |kept group|) — computed by an independent aggregate.
    */
  private def curationSkew10x(s: SparkSession, sfDir: String): String = {
    val boiler = " common boilerplate navigation footer text shared by" +
      " every page of this synthetic web corpus"
    val base = Tables.documents(s, sfDir)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 9, lit("hot_src"))
          .otherwise(col("source")).as("source"),
        concat(col("text"), lit(boiler)).as("text"))
    val offset = base.agg(max("doc_id")).head().getLong(0) + 1
    val corpus10 = clones(base, 10, offset)
    val contam = base.orderBy(col("doc_id")).limit(50)
      .select(col("doc_id").as("cid"), col("text"))
    // 1× reference drop set (small: ≤ a few hundred ids)
    val droppedBase = Curation.decontaminate(base, "doc_id", "text",
      contam, "cid", "text", n = 3, t = 0.5)._2
    val baseIds = droppedBase.select(col("id")).collect().map(_.getLong(0))
    droppedBase.unpersist(blocking = false)
    val expectedIds = baseIds
      .flatMap(id => (0L until 10L).map(k => id + k * offset)).sorted
    val ((kept10, dropped10), deconSecs) = time {
      val (kept, d) = Curation.decontaminate(corpus10, "doc_id", "text",
        contam, "cid", "text", n = 3, t = 0.5)
      d.count() // materialize the join inside the timed region
      (kept, d)
    }
    val got = dropped10.select(col("id")).collect().map(_.getLong(0)).sorted
    val dropped10Count = got.length
    dropped10.unpersist(blocking = false)
    val setOk = got.sameElements(expectedIds)
    val (capRows, capSecs) = time {
      Curation.capPerGroup(kept10, Seq("source"),
        Seq(length(col("text")).desc, col("doc_id").asc), quota = 10).count()
    }
    val expectedCap = kept10.groupBy("source").count()
      .agg(sum(least(col("count"), lit(10L)))).head().getLong(0)
    val ok = setOk && capRows == expectedCap
    s""""curation_skew10x":{"decon_secs":${r3(deconSecs)},""" +
      s""""cap_secs":${r3(capSecs)},"docs":${10 * base.count()},""" +
      s""""dropped":$dropped10Count,"expected_dropped":${expectedIds.length},""" +
      s""""drop_set_exact":$setOk,"cap_rows":$capRows,""" +
      s""""expected_cap_rows":$expectedCap,"ok":$ok}"""
  }

  /** AQE skew-split evidence for semDedup's hot cluster (the scaladoc
    * claim in Similarity.semDedupPairs): a synthetic corpus with 90% of
    * vectors in ONE cluster, run through the real operator twice —
    * skew-join off, then on — under demo-scaled AQE thresholds (the
    * corpus is MBs, not the 100 TB the production thresholds assume;
    * broadcast is disabled because at corpus scale the join sides are
    * far beyond any broadcast threshold anyway). Evidence: a
    * QueryExecutionListener captures every executed plan and the run
    * with skew-join on must contain a skew=true join while the run
    * with it off must not; both runs must emit the identical pair
    * count. The hot cluster's within-cluster join partition splits
    * across reducers instead of serializing on one.
    */
  private def semdedupSkewAqe(s: SparkSession): String = {
    val nVecs = sys.env.getOrElse("SPARK_GRAFT_STRESS_VECS", "8000").toInt
    val dim = 32
    // 90% of vectors perturb basis e0, 10% basis e1; noise is a
    // deterministic xxhash64 coin, amplitude ±0.25 per coordinate —
    // big enough that same-cluster cosine stays well under the 0.8
    // threshold (the output is pairs of near-identical noise only),
    // small enough that nearest-centroid assignment is never ambiguous
    val emb = s.range(nVecs).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), j -> cast(" +
        "(CASE WHEN j = (CASE WHEN id % 10 < 9 THEN 0 ELSE 1 END)" +
        " THEN 1.0 ELSE 0.0 END)" +
        " + (pmod(xxhash64(id, j), 1000) / 1000.0 - 0.5) * 0.5 as float))")
        .as("embedding"))
    val cents = s.range(2).select(col("id").as("cent_id"),
      expr(s"transform(sequence(0, ${dim - 1}), j -> " +
        "cast(CASE WHEN j = id THEN 1.0 ELSE 0.0 END as float))").as("cv"))

    val demoConfs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = (demoConfs.keys ++
      Seq("spark.sql.adaptive.skewJoin.enabled")).map { k =>
      k -> s.conf.getOption(k)
    }.toMap

    def run(skewOn: Boolean): (Long, Double, Boolean) = {
      demoConfs.foreach { case (k, v) => s.conf.set(k, v) }
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      val plans = ArrayBuffer.empty[String]
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          plans.synchronized { plans += qe.executedPlan.toString }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      s.listenerManager.register(listener)
      try {
        val (pairs, secs) = time {
          val df = Similarity.semDedupPairs(emb, "vec_id", "embedding",
            cents, "cent_id", "cv", t = 0.8)
          val c = df.count(); df.unpersist(blocking = false); c
        }
        // listener events are posted asynchronously, and the operator
        // runs SEVERAL actions (internal materialize counts + the final
        // count) — waiting for "any plan with a Join" could read the
        // buffer before the skewed join's plan lands and flakily report
        // skew_split_seen_on=false. Wait until the event stream
        // quiesces (no new plan for 500 ms), or the skew marker itself
        // shows up when we expect one, bounded by a 10 s deadline.
        val deadline = System.currentTimeMillis + 10000
        var last = -1
        var stableTicks = 0
        while (System.currentTimeMillis < deadline && stableTicks < 5 &&
          !(skewOn && plans.synchronized(plans.exists(_.contains("skew=true"))))) {
          val c = plans.synchronized(plans.length)
          if (c == last && c > 0) stableTicks += 1
          else { stableTicks = 0; last = c }
          Thread.sleep(100)
        }
        val sawSkew =
          plans.synchronized { plans.exists(_.contains("skew=true")) }
        (pairs, secs, sawSkew)
      } finally {
        s.listenerManager.unregister(listener)
        saved.foreach { case (k, vOpt) =>
          vOpt.fold(s.conf.unset(k))(v => s.conf.set(k, v))
        }
      }
    }

    val (pairsOff, secsOff, skewOff) = run(skewOn = false)
    val (pairsOn, secsOn, skewOn) = run(skewOn = true)
    val ok = pairsOn == pairsOff && skewOn && !skewOff
    s""""semdedup_skew_aqe":{"vectors":$nVecs,"hot_fraction":0.9,""" +
      s""""secs_skew_off":${r3(secsOff)},"secs_skew_on":${r3(secsOn)},""" +
      s""""pairs_off":$pairsOff,"pairs_on":$pairsOn,""" +
      s""""skew_split_seen_off":$skewOff,"skew_split_seen_on":$skewOn,""" +
      s""""ok":$ok}"""
  }

  /** The q50 capstone chain at 11× with skew: 10 offset clone copies
    * of every doc + one planted excerpt per (long-enough) base doc —
    * a word-prefix, so its normalized text is a word-boundary
    * substring of its source — with 90% of rows in one hot source.
    * Assertions: the canonical count equals an independently-planned
    * plain DISTINCT of the normalized-text digests (clones collapse
    * BEFORE the expensive stages — the point of the stage order);
    * ZERO planted excerpts survive the containment drop; the final
    * quota output respects Σ min(quota, group). The 1× chain runs for
    * the sublinearity ratio.
    */
  private def capstone11x(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir)
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    val toks = graft.functions.tokens(col("text"))
    val excerpts = docs
      .filter(size(toks) >= 8)
      .select((col("doc_id") + lit(10L) * offset).as("doc_id"),
        array_join(slice(toks, lit(1), (size(toks) / 2).cast("int")), " ")
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val corpus = clones(docs, 10, offset)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(excerpts)
      .withColumn("source",
        when(pmod(col("doc_id"), lit(10)) < 9, lit("hot_src"))
          .otherwise(col("source")))
    val contam = docs.filter(col("doc_id") % 97 === 0)
    val excerptBase = 10L * offset

    def chain(in: DataFrame): (Long, Long, Long, Long) = {
      val canon = Curation.canonicalizeBy(
          in.withColumn("__nt",
            sha2(graft.functions.normText(col("text")), 256)),
          Seq("__nt"), col("doc_id"))
        .drop("__nt").persist()
      val canonCount = canon.count()
      val contained = Dedup.containmentJoin(canon, "doc_id", "text", n = 3)
        .select(col("id_a").as("doc_id")).distinct()
      val noExcerpts = canon.join(contained, Seq("doc_id"), "left_anti")
      val (clean, _) = Curation.decontaminate(noExcerpts, "doc_id", "text",
        contam, "doc_id", "text", n = 3, t = 0.5)
      val gated = TextAnalysis.withRepetitionStats(clean, "text", n = 3)
        .filter(col("top_token_ratio") <= 0.12)
        .drop("ntok", "dup_ngram_rate", "top_token_ratio")
      val mixed = Curation.sampleStratified(gated, "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0), defaultRate = 0.5)
      val out = Curation.capPerGroup(mixed, Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), quota = 10).persist()
      val outRows = out.count()
      val excerptSurvivors =
        noExcerpts.filter(col("doc_id") >= excerptBase).count()
      val capBound = mixed.groupBy("source").count()
        .agg(coalesce(sum(least(col("count"), lit(10L))), lit(0L)))
        .head().getLong(0)
      canon.unpersist(blocking = false)
      out.unpersist(blocking = false)
      (canonCount, excerptSurvivors, outRows, capBound)
    }

    val (base1x, secs1x) = time(chain(docs
      .select("doc_id", "text", "lang", "source", "n_chars")))
    val ((canon11, survivors, outRows, capBound), secs11) =
      time(chain(corpus))
    val expectedCanon = corpus
      .select(sha2(graft.functions.normText(col("text")), 256))
      .distinct().count()
    val ok = canon11 == expectedCanon && survivors == 0L &&
      outRows == capBound
    s""""capstone_11x":{"secs_11x":${r3(secs11)},"secs_1x":${r3(secs1x)},""" +
      s""""rows":${corpus.count()},"canonicals":$canon11,""" +
      s""""expected_canonicals":$expectedCanon,""" +
      s""""excerpt_survivors":$survivors,"out_rows":$outRows,""" +
      s""""expected_out_rows":$capBound,""" +
      s""""out_rows_1x":${base1x._3},"ok":$ok}"""
  }

  /** The manifest aggregate under 10× uniform cloning — EXACT
    * closed-form expectations, not tolerances: n_docs and total_tokens
    * scale ×10 per group, n_unique is unchanged (clones share
    * normalized text), and mean_nll_nano is IDENTICAL per group —
    * P(w) = 10·cnt / 10·total is scale-free, round-9 ln of the same
    * double is the same double, and floor(10S/10N) = floor(S/N). Any
    * drift means the aggregate is not scale-invariant and its 100 TB
    * numbers could not be trusted against a sampled run.
    */
  private def manifestClone10x(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir)
      .select("doc_id", "text", "lang", "source")
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    def rows(in: DataFrame): Map[(String, String), (Long, Long, Long, Long)] =
      TextAnalysis.corpusManifest(in, "doc_id", "text",
          groupCols = Seq("source", "lang"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (base, baseSecs) = time(rows(docs))
    val (c10, secs10) = time(rows(clones(docs, 10, offset)))
    val ok = c10.keySet == base.keySet && base.forall { case (k, b) =>
      val c = c10(k)
      c._1 == 10 * b._1 && c._2 == 10 * b._2 && c._3 == b._3 && c._4 == b._4
    }
    s""""manifest_clone10x":{"secs":${r3(secs10)},"base_secs":${r3(baseSecs)},""" +
      s""""groups":${base.size},"docs":${10 * docs.count()},"ok":$ok}"""
  }

  /** Embedding centroid-outlier audit under 10× uniform cloning
    * (q97's operator): the label centroids are EXACTLY invariant
    * (floor(10S/10n) = floor(S/n) — the integral-divide centroid is
    * scale-free, like the manifest's mean_nll_nano), so every clone's
    * exact fixed-point distance equals its base row's BIT-FOR-BIT, and
    * row volume is exactly 10×. Closed-form expectations, not
    * tolerances — any drift means the arithmetic stopped being exact.
    * Timing narrative: the audit is O(n·dim) scan + broadcast-join —
    * 10× rows should cost ~10× or less (aggregation amortizes), never
    * quadratically.
    */
  private def centroidClone10x(s: SparkSession, sfDir: String): String = {
    val emb = Tables.embeddings(s, sfDir)
    val offset = emb.agg(max("vec_id")).head().getLong(0) + 1
    def embClones(copies: Int): DataFrame =
      emb.withColumn("__k", explode(array((0 until copies).map(lit): _*)))
        .withColumn("vec_id", col("vec_id") + col("__k") * offset)
        .drop("__k")
    def dists(in: DataFrame, topK: Int): Map[Long, (Int, Double)] =
      Similarity.labelCentroidOutliers(in, "vec_id", "embedding", "label",
          topK = topK)
        .collect().map(r => r.getLong(2) -> (r.getInt(0), r.getDouble(3)))
        .toMap
    val n = emb.count().toInt
    val (base, baseSecs) = time(dists(emb, n))
    val (c10, secs10) = time(dists(embClones(10), 10 * n))
    val ok = c10.size == 10 * base.size && base.forall { case (id, bv) =>
      (0 until 10).forall(k => c10.get(id + k * offset).contains(bv))
    }
    s""""centroid_clone10x":{"secs":${r3(secs10)},"base_secs":${r3(baseSecs)},""" +
      s""""rows":${10 * base.size},"ok":$ok}"""
  }

  /** BPE trainer under 10× uniform cloning: word frequencies scale ×10
    * exactly, so every per-round pair count scales ×10 and the argmax
    * sequence — the learned tokenizer — is IDENTICAL merge for merge.
    * Closed-form (count×10, same (a,b) per rank), no tolerances. Cost
    * narrative: cloning multiplies the CORPUS but not the distinct-word
    * vocabulary, so only the round-0 wordcount pass should get more
    * expensive — the per-merge passes run over the same vocab rows.
    */
  private def bpeClone10x(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir).select("doc_id", "text")
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    def merges(in: DataFrame): Seq[(Int, String, String, Long)] =
      TextAnalysis.bpeTrain(in, "text", numMerges = 6)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    val (base, baseSecs) = time(merges(docs))
    val (m10, secs10) = time(merges(clones(docs, 10, offset)))
    val ok = m10 == base.map { case (r, a, b, c) => (r, a, b, 10 * c) }
    s""""bpe_clone10x":{"secs":${r3(secs10)},"base_secs":${r3(baseSecs)},""" +
      s""""merges":${base.size},"ok":$ok}"""
  }

  /** k-means under 10× uniform cloning: seeds (the k smallest ids)
    * survive cloning (clone ids are offset above the originals), every
    * clone is coordinate-identical to its base row, so each round's
    * assignment maps clones exactly where their base went and the
    * integral-divide centroid is INVARIANT (floor(10S/10n) =
    * floor(S/n)). Hence member counts scale ×10 exactly, and SSE
    * scales ×10 up to the closed-form floor-quantization envelope
    * (each reported SSE is floor-truncated at 1e-9, so
    * |sse10 − 10·sseB| ≤ 1e-8 — an arithmetic bound, not a float
    * tolerance). Cost narrative: per-round work is corpus-linear, so
    * 10× data ≈ 10× per-iteration cost with the same iteration count.
    */
  private def kmeansClone10x(s: SparkSession, sfDir: String): String = {
    val emb = Tables.embeddings(s, sfDir).select("vec_id", "embedding")
    val offset = emb.agg(max("vec_id")).head().getLong(0) + 1
    def fit(in: DataFrame): Seq[(Long, Long, Double)] =
      Similarity.kmeans(in, "vec_id", "embedding", k = 8, iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    val (base, baseSecs) = time(fit(emb))
    val (c10, secs10) = time(fit(
      emb.withColumnRenamed("vec_id", "doc_id")
        .transform(clones(_, 10, offset))
        .withColumnRenamed("doc_id", "vec_id")))
    val ok = c10.map(t => (t._1, t._2)) == base.map(t => (t._1, 10 * t._2)) &&
      c10.zip(base).forall { case ((_, _, s10), (_, _, sb)) =>
        math.abs(s10 - 10 * sb) <= 1.0e-8
      }
    s""""kmeans_clone10x":{"secs":${r3(secs10)},"base_secs":${r3(baseSecs)},""" +
      s""""clusters":${base.size},"ok":$ok}"""
  }

  /** Embedding-cosine near-dup (the q37 approx stage) under c-fold
    * exact vector cloning — combinatorially exact expectation, the
    * dedup_clone10x argument transplanted: clones share every LSH
    * bucket (signatures are functions of the vector alone), so each
    * base vector's c copies always collide and verify at cos = 1 —
    * C(c,2)·n within-group pairs — and a cross-copy pair (a_i, b_j)
    * is a candidate iff base pair (a, b) was (identical buckets,
    * identical multiprobe set), verifying at the identical cosine —
    * so exactly c²·basePairs cross pairs. Work scales with OUTPUT,
    * never n². Runs at the r16 production dial (tables = 12,
    * multiprobe — the q37 recall-evidenced setting).
    */
  private def neardupClone4x(s: SparkSession, sfDir: String): String = {
    // 4 copies, not 10: exact-duplicate groups are the LSH worst case
    // (every clone shares every bucket), so candidate volume — and the
    // measured wall — scales with c²·basePairs + C(c,2)·n, i.e. with
    // OUTPUT (a 10-copy probe measured 204× wall for 200× output —
    // output-proportional, constant ~1); c = 4 keeps the face heavy
    // enough to show core scaling without dominating the suite.
    val copies = 4
    // a null or zero-norm vector has no cosine, so its clones never
    // pair with each other; keep only vectors the C(c,2)·n term counts
    val emb = Tables.embeddings(s, sfDir).select("vec_id", "embedding")
      .filter(graft.functions.dotProduct(col("embedding"),
        col("embedding")) > 0)
    val n = emb.count()
    val offset = emb.agg(max("vec_id")).head().getLong(0) + 1
    val corpus = emb.withColumnRenamed("vec_id", "doc_id")
      .transform(clones(_, copies, offset))
      .withColumnRenamed("doc_id", "vec_id")
    def pairs(in: DataFrame): Long =
      Similarity.cosineNearDup(in, "vec_id", "embedding", t = 0.4,
        tables = 12, multiProbe = true).count()
    val (basePairs, baseSecs) = time(pairs(emb))
    val (pairsC, secsC) = time(pairs(corpus))
    val expected = copies.toLong * (copies - 1) / 2 * n +
      copies.toLong * copies * basePairs
    val ok = pairsC == expected
    s""""neardup_clone4x":{"secs":${r3(secsC)},"base_secs":${r3(baseSecs)},""" +
      s""""base_pairs":$basePairs,"pairs":$pairsC,""" +
      s""""expected_pairs":$expected,"ok":$ok}"""
  }

  /** The q71 chunk+LM stage under 10× document cloning — closed-form
    * scale invariance of the corpus-trained unigram LM: token counts
    * and the grand total both scale ×10, so every P(w) = 10·cnt/10·N
    * is bit-identical, every clone chunk reproduces its base chunk's
    * exact (ntok, nll_mean_nano), the integral-divide threshold
    * floor(10·S / 10·C) equals floor(S/C), and the kept-chunk count
    * scales exactly ×10. Any drift means the LM gate is not
    * scale-invariant and its sampled-run numbers could not be trusted
    * at 100 TB. Exercises the r16 pre-tokenized seam
    * (chunkDocsToks -> unigramLogProbPreTokenized) at volume.
    */
  private def lmChunksClone10x(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir).select("doc_id", "text")
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    val corpus = clones(docs, 10, offset)
    def lmStats(in: DataFrame): (Long, Long, Long) = {
      val chunked = Curation.chunkDocsToks(in, "doc_id", "text",
          chunkTokens = 64, strideTokens = 48)
        // ckey packs chunk_idx into three decimal digits; a 1000th
        // chunk would alias the next document's first chunk
        .withColumn("ckey", coalesce(
          assert_true(col("chunk_idx") < 1000).cast("long"),
          col("doc_id") * 1000 + col("chunk_idx")))
      val lm = TextAnalysis.unigramLogProbPreTokenized(chunked, "ckey",
        "chunk_toks")
      val cnt = lm.count()
      val thr = lm.agg(
        org.apache.spark.sql.GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.GraftColumnBridge.expression(
              sum(col("nll_mean_nano"))),
            org.apache.spark.sql.GraftColumnBridge.expression(
              count(lit(1)))))).head().getLong(0)
      val kept = lm.filter(col("nll_mean_nano") < lit(thr)).count()
      lm.unpersist(blocking = false)
      (cnt, thr, kept)
    }
    val ((cnt1, thr1, kept1), secs1) = time(lmStats(docs))
    val ((cnt10, thr10, kept10), secs10) = time(lmStats(corpus))
    val ok = cnt10 == 10 * cnt1 && thr10 == thr1 && kept10 == 10 * kept1
    s""""lm_chunks_clone10x":{"secs":${r3(secs10)},"base_secs":${r3(secs1)},""" +
      s""""chunks":$cnt10,"expected_chunks":${10 * cnt1},""" +
      s""""thr":$thr10,"thr_1x":$thr1,"kept":$kept10,""" +
      s""""expected_kept":${10 * kept1},"ok":$ok}"""
  }

  /** Interval sweep under 10× entity cloning: each cloned entity
    * replays its base entity's exact session intervals. The daily peak
    * then sits in the closed-form envelope
    * 10·peak ≤ peak₁₀ ≤ 10·peak + 9: within any equal-(t, delta)
    * group the prefix sums interleave per ROW, so a +1 group's maximum
    * is its complete value ×10 (ascending runs collapse exactly) while
    * a −1 group's maximum is attained after the FIRST of the ten
    * clones (10·v_prev − 1, i.e. up to 9 above 10·(v_prev − 1)) — an
    * arithmetic bound on integer prefixes, not a tolerance. The lower
    * bound is exact equality whenever the day's peak is attained at a
    * start transition (every day of this dataset). Also exercises the
    * day-partitioned carry decomposition at 10× sweep volume.
    */
  private def concurrencyClone10x(s: SparkSession, sfDir: String): String = {
    val ev = Tables.events(s, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val offset = ev.agg(max("user_id")).head().getLong(0) + 1
    def peaks(in: DataFrame): Map[String, Long] =
      EventAnalytics.peakConcurrency(in, "user_id", "ts", "event_id",
          gapMicros = 30L * 60 * 1000000)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (base, baseSecs) = time(peaks(ev))
    val tenX = ev.withColumnRenamed("user_id", "doc_id")
      .transform(clones(_, 10, offset))
      .withColumnRenamed("doc_id", "user_id")
    val (p10, secs10) = time(peaks(tenX))
    val ok = p10.keySet == base.keySet && base.forall { case (d, p) =>
      p10(d) >= 10 * p && p10(d) <= 10 * p + 9
    }
    s""""concurrency_clone10x":{"secs":${r3(secs10)},""" +
      s""""base_secs":${r3(baseSecs)},"days":${base.size},"ok":$ok}"""
  }

  /** Funnel under one degenerate (bot-shaped) entity — the
    * maxEventsPerEntity guard's envelope test. Corpus = the base
    * events table plus a synthetic entity with 100× the MEDIAN
    * per-entity activity, built all-"view" except a trailing
    * click+purchase, so truncation is OBSERVABLE in the answer: the
    * uncapped machine reaches depth 3 on the hot entity, a cap below
    * its tail must read depth 1 (its first `cap` events are all
    * views). The cap is sized above every real entity (max base
    * activity + 1), so the closed form is exact:
    * capped(base ∪ hot) = uncapped(base) ∪ {hot → depth 1} — asserted
    * by two-way `except` on the non-hot rows plus both hot depths.
    * The capped run's window pre-rank is the spillable path that
    * keeps the hot key out of the collect_list buffer.
    */
  private def funnelHotEntity(s: SparkSession, sfDir: String): String = {
    import graft.operators.EventAnalytics
    val steps = Seq("view", "click", "purchase")
    val ev = Tables.events(s, sfDir).select("user_id", "ts", "event_type")
    val counts = ev.groupBy("user_id").count().persist()
    val med = counts.agg(expr("percentile(count, 0.5)")).head().getDouble(0)
    val maxAct = counts.agg(max("count")).head().getLong(0)
    counts.unpersist(blocking = false)
    // ≥ maxAct + 3 so cap = maxAct + 1 still leaves the click+purchase
    // tail beyond the truncation point even on a tiny SF
    val hotN = math.max((100.0 * med).toLong, maxAct + 3)
    val cap = (maxAct + 1).toInt
    val hotId = ev.agg(max("user_id")).head().getLong(0) + 1
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val hot = s.range(1, hotN + 1)
      .select(lit(hotId).as("user_id"),
        timestamp_micros(lit(maxUs) + col("id") * lit(1000000L)).as("ts"),
        when(col("id") <= hotN - 2, "view")
          .when(col("id") === hotN - 1, "click")
          .otherwise("purchase").as("event_type"))
    val corpus = ev.unionByName(hot)
    val base = EventAnalytics.funnel(ev, "user_id", "ts", "event_type", steps)
      .persist()
    val ((cappedHot, uncappedHot, diffs), secs) = time {
      val capped = EventAnalytics.funnel(corpus, "user_id", "ts",
        "event_type", steps, maxEventsPerEntity = Some(cap)).persist()
      val others = capped.filter(col("user_id") =!= hotId)
      val d = others.except(base).count() + base.except(others).count()
      val ch = capped.filter(col("user_id") === hotId)
        .select("depth").head().getInt(0)
      val uh = EventAnalytics.funnel(corpus, "user_id", "ts", "event_type",
        steps).filter(col("user_id") === hotId)
        .select("depth").head().getInt(0)
      capped.unpersist(blocking = false)
      (ch, uh, d)
    }
    base.unpersist(blocking = false)
    val ok = cappedHot == 1 && uncappedHot == steps.size && diffs == 0L
    s""""funnel_hot_entity":{"secs":${r3(secs)},"hot_events":$hotN,""" +
      s""""cap":$cap,"capped_depth":$cappedHot,"uncapped_depth":$uncappedHot,""" +
      s""""other_row_diffs":$diffs,"ok":$ok}"""
  }

  /** Exact heavy hitters under clone + cardinality pressure: (a) on a
    * 10× cloned token stream, the answer must be EXACTLY the 1× items
    * with counts ×10 and identical round-9 shares (cnt/n is
    * scale-free); (b) with a flood of n/10 DISTINCT junk singletons
    * appended — ~27k distinct keys vs 40 Misra-Gries counters at
    * sf0.1 — the two-pass answer must still equal a brute-force
    * groupBy/HAVING plan computed independently on the same corpus
    * (the superset guarantee is what's under stress: the summary
    * CANNOT lose a true heavy hitter no matter how many singletons
    * wash through the counters).
    */
  private def heavyHittersClone10x(s: SparkSession, sfDir: String): String = {
    import graft.operators.Sketch
    val k = 40
    val base = Tables.documents(s, sfDir)
      .select(explode(graft.functions.tokens(col("text"))).as("tok"))
      .persist()
    val baseN = base.count()
    val one = Sketch.heavyHittersExact(base, "tok", k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val cloned = base.withColumn("__k",
        explode(array((0 until 10).map(lit): _*))).drop("__k").persist()
    val junk = s.range(baseN / 10)
      .select(concat(lit("junk_"), col("id")).as("tok"))
    val flooded = cloned.unionByName(junk)
    val ((tenOk, floodDiff, nFlood), secs) = time {
      val ten = Sketch.heavyHittersExact(cloned, "tok", k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      val tok = ten.sortBy(_._1).sameElements(
        one.map(t => (t._1, t._2 * 10L, t._3)).sortBy(_._1))
      val hh = Sketch.heavyHittersExact(flooded, "tok", k)
      val n = baseN * 10L + baseN / 10L
      val brute = flooded.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * k > n)
        .select(col("tok").as("item"), col("cnt"),
          round(col("cnt").cast("double") / n, 9).as("share"))
      val d = hh.except(brute).count() + brute.except(hh).count()
      (tok, d, hh.count())
    }
    base.unpersist(blocking = false)
    cloned.unpersist(blocking = false)
    val ok = tenOk && floodDiff == 0L && nFlood > 0L
    s""""heavy_hitters_clone10x":{"secs":${r3(secs)},"base_tokens":$baseN,""" +
      s""""ten_matches_one_x10":$tenOk,"flood_vs_brute_diffs":$floodDiff,""" +
      s""""flood_rows":$nFlood,"ok":$ok}"""
  }

  /** Triangle census under 3× cloning — the whole cloned count is a
    * CLOSED FORM of the 1× measurements. Cloning every doc 3× turns
    * each signature-producing doc into a 3-clique (identical shingle
    * sets → pairwise Jaccard 1.0) and every 1× pair (a, b) into the
    * complete tripartite 3×3 cross edges, so:
    *
    *   E₃ = 3·n_sig + 9·E₁
    *   T₃ = n_sig·C(3,3) + 18·E₁ + 27·T₁
    *
    * (per 1× edge: C(3,2)·3 = 9 two-from-a-one-from-b triangles, ×2
    * directions; per 1× triangle: 3³ one-per-group choices). Wedge
    * counts are orientation-dependent under the (degree, id) ordering
    * and deliberately NOT asserted. Exercises the degree-ordered
    * node-iterator exactly where it matters: the clone cliques are the
    * hub-ish structure whose wedge fan-out the orientation bounds.
    */
  private def trianglesClone3x(s: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(s, sfDir).select("doc_id", "text")
    val nSig = docs
      .filter(size(graft.functions.tokens(col("text"))) >= 3).count()
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    val corpus = clones(docs, 3, offset)
    def census(d: DataFrame): (Long, Long) = {
      val pairs = Dedup.jaccardSimilarityJoin(d, "doc_id", "text",
        n = 3, t = 0.5)
      val out = Dedup.triangleCount(pairs, "id_a", "id_b")
      val r = out.head()
      pairs.unpersist(blocking = false); out.unpersist(blocking = false)
      (r.getLong(0), r.getLong(2))
    }
    val ((e1, t1), baseSecs) = time(census(docs))
    val ((e3, t3), secs3) = time(census(corpus))
    val expEdges = 3L * nSig + 9L * e1
    val expTris = nSig + 18L * e1 + 27L * t1
    val ok = e3 == expEdges && t3 == expTris
    s""""triangles_clone3x":{"secs":${r3(secs3)},"base_secs":${r3(baseSecs)},""" +
      s""""base_edges":$e1,"base_triangles":$t1,"edges":$e3,""" +
      s""""expected_edges":$expEdges,"triangles":$t3,""" +
      s""""expected_triangles":$expTris,"ok":$ok}"""
  }

  /** Systematic sampling under 10× cloning — the sample size is a
    * CLOSED FORM of the weight mass alone: with strictly positive
    * integral weights the cumulative axis covers [1..W] in jumps, so
    * exactly ⌊W/stride⌋ stride boundaries are crossed, each by exactly
    * one row → |sample| = W // stride REGARDLESS of row layout, and
    * the last boundary is always crossed (max pick_index = W//stride).
    * Cloning the corpus 10× multiplies the mass: |sample₁₀| =
    * (10·W) // stride. Any drift in the two-phase distributed prefix
    * sum (bucket subtotals + running offset + in-bucket window) breaks
    * these counts loudly. Also asserts every row heavier than the
    * stride is picked (emitted once), vacuous on corpora without one.
    */
  private def systematicMass10x(s: SparkSession, sfDir: String): String = {
    val stride = 25000L
    val docs = Tables.documents(s, sfDir).select("doc_id", "n_chars")
    val w1 = docs.agg(sum("n_chars")).head().getLong(0)
    val offset = docs.agg(max("doc_id")).head().getLong(0) + 1
    val corpus = clones(docs, 10, offset)
    def audit(d: DataFrame): (Long, Long, Long) = {
      val out = Curation.systematicSample(d, "doc_id", "n_chars", stride)
        .persist()
      val n = out.count()
      val maxIdx = out.agg(max("pick_index")).head().getLong(0)
      val heavyMissed = d.filter(col("n_chars") >= stride)
        .join(out.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .count()
      out.unpersist(blocking = false)
      (n, maxIdx, heavyMissed)
    }
    val ((n1, mi1, hm1), secs1) = time(audit(docs))
    val ((n10, mi10, hm10), secs10) = time(audit(corpus))
    val exp1 = w1 / stride
    val exp10 = (10L * w1) / stride
    val ok = n1 == exp1 && n10 == exp10 && mi1 == exp1 && mi10 == exp10 &&
      hm1 == 0L && hm10 == 0L
    s""""systematic_mass10x":{"secs":${r3(secs10)},""" +
      s""""base_secs":${r3(secs1)},"total_weight":$w1,""" +
      s""""picks":$n1,"expected_picks":$exp1,""" +
      s""""picks_10x":$n10,"expected_picks_10x":$exp10,""" +
      s""""heavy_missed":${hm1 + hm10},"ok":$ok}"""
  }

  /** Two-run AQE skew probe shared by the fact×fact skew faces:
    * executes `action` with AQE skew-join OFF then ON under the
    * demo-scale skew thresholds of the semdedup_skew_aqe precedent,
    * broadcast disabled (at 100 TB neither side of these joins
    * broadcasts — SMJ is the honest physical shape), capturing every
    * executed plan to report whether a skew=true join actually ran.
    * Session confs are restored after each run. Returns
    * ((resultOff, secsOff, sawSkewOff), (resultOn, secsOn, sawSkewOn)).
    */
  private def skewProbe[T](s: SparkSession)(action: => T)
      : ((T, Double, Boolean), (T, Double, Boolean)) = {
    val demoConfs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = (demoConfs.keys ++
      Seq("spark.sql.adaptive.skewJoin.enabled")).map { k =>
      k -> s.conf.getOption(k)
    }.toMap

    def run(skewOn: Boolean): (T, Double, Boolean) = {
      demoConfs.foreach { case (k, v) => s.conf.set(k, v) }
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      val plans = ArrayBuffer.empty[String]
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          plans.synchronized { plans += qe.executedPlan.toString }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      s.listenerManager.register(listener)
      try {
        val (result, secs) = time(action)
        // listener events post asynchronously after the action
        // returns; wait for the stream to settle (or the expected
        // skew marker to land), bounded at 10 s
        val deadline = System.currentTimeMillis + 10000
        var last = -1
        var stableTicks = 0
        while (System.currentTimeMillis < deadline && stableTicks < 5 &&
          !(skewOn && plans.synchronized(plans.exists(_.contains("skew=true"))))) {
          val c = plans.synchronized(plans.length)
          if (c == last && c > 0) stableTicks += 1
          else { stableTicks = 0; last = c }
          Thread.sleep(100)
        }
        val sawSkew =
          plans.synchronized { plans.exists(_.contains("skew=true")) }
        if (skewOn && !sawSkew &&
            sys.env.contains("SPARK_GRAFT_STRESS_DEBUG"))
          plans.synchronized(plans.foreach(p =>
            System.err.println(s"[stress-debug] captured plan:\n$p")))
        (result, secs, sawSkew)
      } finally {
        s.listenerManager.unregister(listener)
        saved.foreach { case (k, vOpt) =>
          vOpt.fold(s.conf.unset(k))(v => s.conf.set(k, v))
        }
      }
    }

    (run(skewOn = false), run(skewOn = true))
  }

  /** AQE skew stress for the UN-HINTED fact×fact relational family
    * (VERDICT r11 item 1 — the q140/q204/q209/q211/q216 shape): the
    * engine leaves the lineitem⋈orders join to AQE on purpose (the
    * 100× story is "AQE degrades BHJ→SMJ and splits skew"), so this
    * stress proves the skew-split actually engages under a power-law
    * join key and does not change the answer. Corpus: the sf lineitem
    * table plus `copies−1` clones of the single busiest orderkey's
    * lines — orderkey IS the join key, so after the join shuffle every
    * clone hashes to ONE reducer partition: exactly the byte skew the
    * splitter must see. Both runs execute the q216 SLA aggregate
    * (late-line counts per supplier, 60-day lateness) over the skewed
    * corpus with broadcast disabled (at 100 TB neither fact side
    * broadcasts — SMJ is the honest physical shape) under the
    * demo-scale skew thresholds of the semdedup_skew_aqe precedent.
    * Assertions: the run with skew-join ON must contain a skew=true
    * join and the OFF run must not; both runs' full per-supplier
    * results must be identical (the split must be semantically
    * invisible); and both must equal the closed form
    * base + (copies−1)·hot derived from two independent unskewed
    * aggregates of the same inputs.
    */
  private def factJoinSkewAqe(s: SparkSession, sfDir: String): String = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_FACT_COPIES",
      "4000").toInt
    val li = Tables.lineitem(s, sfDir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val o = Tables.orders(s, sfDir).select("o_orderkey", "o_orderdate")
    // the busiest orderkey, deterministic tiebreak
    val hotKey = li.groupBy("l_orderkey").count()
      .orderBy(col("count").desc, col("l_orderkey")).head().getLong(0)
    val hotLines = li.filter(col("l_orderkey") === hotKey)
    // Clones keep the hot ORDERKEY (the join/skew key) but jitter the
    // shipdate by a sub-second µs offset: identical rows would lz4 to
    // almost nothing in the shuffle blocks and the BYTE-based skew
    // detector would never fire (measured: 4000 identical clones read
    // as a "small" partition) — real skew is many DISTINCT rows per
    // key, so the stress must ship incompressible bytes. The jitter
    // never crosses a date boundary (asserted below), so the
    // datediff-based lateness — and the closed form — are unchanged.
    val clones = hotLines
      .crossJoin(s.range(copies - 1).select(col("id").as("__k")))
      .withColumn("__js", expr("l_shipdate + make_dt_interval(0, 0, 0, " +
        "CAST(pmod(xxhash64(__k), 999999) AS DOUBLE) / 1000000.0)"))
    val crossed = clones
      .filter(to_date(col("__js")) =!= to_date(col("l_shipdate"))).count()
    require(crossed == 0,
      s"shipdate jitter crossed a date boundary on $crossed clones")
    val skewed = li.unionByName(clones
      .withColumn("l_shipdate", col("__js")).drop("__js", "__k"))

    // q216's aggregate shape (lateness = exact integer day diff > 60,
    // TpchQueries.LateShipDays); no SlaMinLines floor — the stress wants
    // every supplier row in the closed-form compare
    def sla(lines: org.apache.spark.sql.DataFrame) = lines
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(datediff(col("l_shipdate"), col("o_orderdate")) > lit(60),
          lit(1L)).otherwise(lit(0L))).as("n_late"))
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap

    // closed form from two independent UNSKEWED aggregates
    val base = collectMap(sla(li))
    val hot = collectMap(sla(hotLines))
    val expected = (base.keySet ++ hot.keySet).map { k =>
      val (bl, bd) = base.getOrElse(k, (0L, 0L))
      val (hl, hd) = hot.getOrElse(k, (0L, 0L))
      k -> (bl + (copies - 1L) * hl, bd + (copies - 1L) * hd)
    }.toMap

    val ((resOff, secsOff, skewOff), (resOn, secsOn, skewOn)) =
      skewProbe(s)(collectMap(sla(skewed)))
    val ok = resOn == resOff && resOn == expected && skewOn && !skewOff
    s""""fact_join_skew_aqe":{"hot_orderkey":$hotKey,"copies":$copies,""" +
      s""""skewed_rows":${expected.valuesIterator.map(_._1).sum},""" +
      s""""suppliers":${expected.size},""" +
      s""""secs_skew_off":${r3(secsOff)},"secs_skew_on":${r3(secsOn)},""" +
      s""""results_match_off":${resOff == expected},""" +
      s""""results_match_on":${resOn == expected},""" +
      s""""skew_split_seen_off":$skewOff,"skew_split_seen_on":$skewOn,""" +
      s""""ok":$ok}"""
  }

  /** Second face of the fact×fact skew family (VERDICT r11 item 1
    * named the q204/q209/q216 shapes): a power-law CUSTKEY on the
    * orders⋈customer join — the q209 (TPC-H Q10) sub-shape, INNER, so
    * AQE's skew split applies to the fat orders side. One hot
    * customer owns `copies−1` cloned orders whose orderkeys are
    * xxhash-scrambled (COUNT semantics don't need them unique, and
    * random 64-bit keys make the shuffle bytes incompressible — the
    * fact_join_skew_aqe lesson). Closed form: per-customer order
    * counts = base, plus (copies−1)·hotOrders on the hot key.
    *
    * Two deliberate non-goals, both structural lessons the engine's
    * queries already encode: (a) the OUTER q204 (Q13) shape is not
    * stressed — OptimizeSkewedJoin can only split the PRESERVED side
    * of an outer join, so right-side custkey skew has no AQE escape
    * there, which is exactly why q204 pre-aggregates orders per
    * custkey before its outer join; (b) the aggregate here rolls up
    * by MARKET SEGMENT, not by the join key — when the downstream
    * aggregate reuses the join partitioning, AQE declines the split
    * (it would force an extra shuffle; forceOptimizeSkewedJoin
    * exists but is not the default), which is why engine queries
    * that aggregate ON the join key pre-aggregate before joining
    * instead of leaning on the splitter. The fat-join-then-
    * different-key rollup stressed here is the shape where AQE is
    * the escape, and it must engage.
    */
  private def custkeySkewAqe(s: SparkSession, sfDir: String): String = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_CUST_COPIES",
      "8000").toInt
    val o = Tables.orders(s, sfDir).select("o_custkey", "o_orderkey")
    val c = Tables.customer(s, sfDir).select("c_custkey", "c_mktsegment")
    val hotKey = o.groupBy("o_custkey").count()
      .orderBy(col("count").desc, col("o_custkey")).head().getLong(0)
    val hotOrders = o.filter(col("o_custkey") === hotKey)
    // clone orderkeys are offset-unique (key + (k+1)·keyOffset): the
    // aggregate SUMS them (exact decimal), which (a) keeps the
    // orderkey column alive through column pruning so the join
    // shuffle ships varied bytes — a constant-custkey-only row
    // compresses to nothing and the byte-based detector never fires
    // (the fact_join_skew_aqe lesson, repeated by the pruner) — and
    // (b) stays driver-computable in closed form.
    val keyOffset =
      o.agg(max("o_orderkey")).head().getLong(0) + 1L
    val skewed = o.unionByName(
      hotOrders.crossJoin(s.range(copies - 1).select(col("id").as("__k")))
        .withColumn("o_orderkey",
          col("o_orderkey") + (col("__k") + lit(1L)) * lit(keyOffset))
        .drop("__k"))

    def counts(ords: org.apache.spark.sql.DataFrame) = ords
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey").cast("decimal(38,0)")).as("sum_keys"))
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))).toMap

    val base = collectMap(counts(o))
    val hotSeg = c.filter(col("c_custkey") === hotKey)
      .head().getString(1)
    val hotAgg = hotOrders.agg(count(lit(1)),
      sum(col("o_orderkey").cast("decimal(38,0)"))).head()
    val nHot = hotAgg.getLong(0)
    val hotSum = BigInt(hotAgg.getDecimal(1).toBigInteger)
    // Σ_clones key = (copies−1)·hotSum + nHot·keyOffset·Σ_{j=1}^{copies−1} j
    val cloneSum = hotSum * (copies - 1) +
      BigInt(nHot) * BigInt(keyOffset) *
        (BigInt(copies - 1) * BigInt(copies) / 2)
    val (bn, bs) = base.getOrElse(hotSeg, (0L, BigInt(0)))
    val expected = base +
      (hotSeg -> (bn + (copies - 1L) * nHot, bs + cloneSum))

    val ((resOff, secsOff, skewOff), (resOn, secsOn, skewOn)) =
      skewProbe(s)(collectMap(counts(skewed)))
    val ok = resOn == resOff && resOn == expected && skewOn && !skewOff
    s""""custkey_skew_aqe":{"hot_custkey":$hotKey,"copies":$copies,""" +
      s""""hot_orders":$nHot,"customers":${expected.size},""" +
      s""""secs_skew_off":${r3(secsOff)},"secs_skew_on":${r3(secsOn)},""" +
      s""""results_match_off":${resOff == expected},""" +
      s""""results_match_on":${resOn == expected},""" +
      s""""skew_split_seen_off":$skewOff,"skew_split_seen_on":$skewOn,""" +
      s""""ok":$ok}"""
  }

  /** Third face of the fact×fact skew family: a power-law SUPPKEY on
    * the lineitem⋈supplier join — the q208 (TPC-H Q9) sub-shape, the
    * one named family member the first two faces left uncovered. The
    * supplier table is LINEAR-GROWTH (10k rows per SF), so at 100 TB
    * it does NOT broadcast: the join shuffles the full lineitem fact
    * on suppkey, and one whale supplier serializes a reducer unless
    * AQE's splitter engages. The rollup key is the NATION (25 values
    * ≠ the join key) — the fat-join-then-different-key shape where
    * the splitter is the legitimate escape. Both column-level lessons
    * from custkey_skew_aqe apply verbatim: the aggregate SUMS the
    * orderkey column (exact decimal) so column pruning leaves varied,
    * incompressible shuffle bytes for the byte-based detector, and
    * clone orderkeys are offset-unique so Σ keys has a
    * driver-computable closed form. Assertions: skew=true present
    * with skew-join ON and absent OFF, per-nation results identical
    * across both runs, and both equal the closed form
    * base + (copies−1)·hot over counts AND exact key sums.
    */
  private def suppkeySkewAqe(s: SparkSession, sfDir: String): String = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_STRESS_SUPP_COPIES",
      "1000").toInt
    val li = Tables.lineitem(s, sfDir).select("l_suppkey", "l_orderkey")
    val supp = Tables.supplier(s, sfDir).select("s_suppkey", "s_nationkey")
    val hotKey = li.groupBy("l_suppkey").count()
      .orderBy(col("count").desc, col("l_suppkey")).head().getLong(0)
    val hotLines = li.filter(col("l_suppkey") === hotKey)
    val keyOffset = li.agg(max("l_orderkey")).head().getLong(0) + 1L
    val skewed = li.unionByName(
      hotLines.crossJoin(s.range(copies - 1).select(col("id").as("__k")))
        .withColumn("l_orderkey",
          col("l_orderkey") + (col("__k") + lit(1L)) * lit(keyOffset))
        .drop("__k"))

    def rollup(lines: DataFrame) = lines
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_orderkey").cast("decimal(38,0)")).as("sum_keys"))
    def collectMap(df: DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        (r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))).toMap

    val base = collectMap(rollup(li))
    val hotNation = supp.filter(col("s_suppkey") === hotKey)
      .head().getInt(1)
    val hotAgg = hotLines.agg(count(lit(1)),
      sum(col("l_orderkey").cast("decimal(38,0)"))).head()
    val nHot = hotAgg.getLong(0)
    val hotSum = BigInt(hotAgg.getDecimal(1).toBigInteger)
    // Σ_clones key = (copies−1)·hotSum + nHot·keyOffset·Σ_{j=1}^{copies−1} j
    val cloneSum = hotSum * (copies - 1) +
      BigInt(nHot) * BigInt(keyOffset) *
        (BigInt(copies - 1) * BigInt(copies) / 2)
    val (bn, bs) = base.getOrElse(hotNation, (0L, BigInt(0)))
    val expected = base +
      (hotNation -> (bn + (copies - 1L) * nHot, bs + cloneSum))

    val ((resOff, secsOff, skewOff), (resOn, secsOn, skewOn)) =
      skewProbe(s)(collectMap(rollup(skewed)))
    val ok = resOn == resOff && resOn == expected && skewOn && !skewOff
    s""""suppkey_skew_aqe":{"hot_suppkey":$hotKey,"copies":$copies,""" +
      s""""hot_lines":$nHot,"nations":${expected.size},""" +
      s""""secs_skew_off":${r3(secsOff)},"secs_skew_on":${r3(secsOn)},""" +
      s""""results_match_off":${resOff == expected},""" +
      s""""results_match_on":${resOn == expected},""" +
      s""""skew_split_seen_off":$skewOff,"skew_split_seen_on":$skewOn,""" +
      s""""ok":$ok}"""
  }

  /** Deterministic netpbm raster payload: P5 (grayscale) for even
    * seeds, P6 (RGB) for odd, pixel(x, y, c) = (x + y + seed + c) mod
    * 256 — every pixel is a driver-computable closed form, so the
    * distributed decode/resize can be asserted EXACTLY.
    */
  private def syntheticNetpbm(seed: Long, w: Int, h: Int): Array[Byte] = {
    val p6 = (seed % 2) == 1
    val channels = if (p6) 3 else 1
    val header = s"P${if (p6) 6 else 5}\n# stress raster $seed\n$w $h\n255\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * channels)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = header.length
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < channels) {
          out(i) = ((x + y + seed + c) % 256).toByte
          i += 1; c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Multimodal decode/resize under clone pressure (VERDICT r11 item
    * 5 — the one spec-only family gains an adversarial gate): a
    * deterministic gradient raster corpus (closed-form pixels, P5 and
    * P6 mixed), cloned 10× by seed reuse, pushed through the REAL
    * [[graft.operators.Multimodal]] netpbm decode and the
    * nearest-neighbor resize on the real `mapPartitions` plumbing.
    * Assertions, all exact: (a) total decoded pixel sum over the 10×
    * corpus equals 10 × the driver-computed closed form of the base
    * corpus; (b) every image reports the exact (w, h, channels) it
    * was generated with; (c) the 16×12 thumbnails' total pixel sum
    * equals 10 × the closed form under the resize index map
    * sx=⌊x·W/W'⌋ (integer arithmetic, no sampling tolerance); (d) the
    * 8-bin histogram features of [[Multimodal.netpbmDecoder]] sum to
    * 1 within one float ulp per bin on every image.
    */
  private def netpbmClone10x(s: SparkSession): String = {
    import graft.operators.Multimodal
    val nBase = sys.env.getOrElse("SPARK_GRAFT_STRESS_RASTERS", "400").toInt
    val (w, h, tw, th) = (64, 48, 16, 12)
    import s.implicits._
    val corpus = s.range(10L * nBase)
      .select(col("id"), (col("id") % nBase).as("seed"))
      .as[(Long, Long)]
      .map { case (id, seed) => (id, syntheticNetpbm(seed, w, h)) }
      .toDF("id", "payload")

    // driver closed forms over the BASE seeds: a (width × height)
    // sample of the (w × h) source under the resize index map
    // sx=⌊x·w/width⌋ (identity when width == w)
    def pixelSum(seed: Long, width: Int, height: Int): Long =
      gradientPixelSum(seed, w, h, width, height)
    val expFull = (0L until nBase).map(pixelSum(_, w, h)).sum * 10L
    val expThumb = (0L until nBase).map(pixelSum(_, tw, th)).sum * 10L

    val ((gotFull, badMeta, badHist, gotThumb, badThumbMeta), secs) = time {
      val decoded = Multimodal.decodePartitionsAs(corpus, "id", "payload") {
        (id, p) =>
          val img = Multimodal.netpbmRasterDecoder(id, p)
          var sum = 0L
          img.pixels.foreach(b => sum += (b & 0xff))
          val meta = Multimodal.netpbmDecoder(id, p)
          val histSum = meta.features.map(_.toDouble).sum
          (img.width, img.height, img.channels, sum,
            math.abs(histSum - 1.0) <= 1e-6)
      }.toDF("w", "h", "c", "pix_sum", "hist_ok").persist()
      val full = decoded.agg(sum(col("pix_sum"))).head().getLong(0)
      val badM = decoded.filter(!(col("w") === w && col("h") === h &&
        (col("c") === 1 || col("c") === 3))).count()
      val badH = decoded.filter(!col("hist_ok")).count()
      decoded.unpersist(blocking = false)
      val thumbs = Multimodal.resizeNetpbm(corpus, "id", "payload", tw, th)
        .map(img => (img.width, img.height,
          img.pixels.foldLeft(0L)((a, b) => a + (b & 0xff))))
        .toDF("w", "h", "pix_sum").persist()
      val thumbSum = thumbs.agg(sum(col("pix_sum"))).head().getLong(0)
      val badT = thumbs.filter(!(col("w") === tw && col("h") === th)).count()
      thumbs.unpersist(blocking = false)
      (full, badM, badH, thumbSum, badT)
    }
    val ok = gotFull == expFull && gotThumb == expThumb &&
      badMeta == 0L && badHist == 0L && badThumbMeta == 0L
    s""""netpbm_clone10x":{"secs":${r3(secs)},"images":${10 * nBase},""" +
      s""""pixel_sum":$gotFull,"expected_pixel_sum":$expFull,""" +
      s""""thumb_sum":$gotThumb,"expected_thumb_sum":$expThumb,""" +
      s""""bad_meta":${badMeta + badThumbMeta},"bad_hist":$badHist,""" +
      s""""ok":$ok}"""
  }

  /** Driver closed form shared by the raster stresses: sum of the
    * synthetic gradient's samples (pixel(x, y, c) = (x + y + seed + c)
    * mod 256, gray for even seeds / RGB for odd) after a
    * nearest-neighbor resample of the (srcW × srcH) source to
    * (width × height) — identity when the sizes match.
    */
  private def gradientPixelSum(seed: Long, srcW: Int, srcH: Int,
      width: Int, height: Int): Long = {
    val channels = if (seed % 2 == 1) 3 else 1
    var sum = 0L
    var y = 0
    while (y < height) {
      val sy = (y.toLong * srcH / height).toInt
      var x = 0
      while (x < width) {
        val sx = (x.toLong * srcW / width).toInt
        var c = 0
        while (c < channels) { sum += (sx + sy + seed + c) % 256; c += 1 }
        x += 1
      }
      y += 1
    }
    sum
  }

  /** The [[syntheticNetpbm]] gradient encoded through the JDK's own
    * image WRITERS (gray for even seeds, RGB for odd): pixels go in
    * via raw raster samples — `setRGB` on a TYPE_BYTE_GRAY image would
    * apply the sRGB→linear-gray conversion and corrupt the closed
    * form — then out through `ImageIO.write(format)`.
    */
  private def syntheticImageio(seed: Long, w: Int, h: Int,
      format: String): Array[Byte] = {
    val rgb = (seed % 2) == 1
    val img = new java.awt.image.BufferedImage(w, h,
      if (rgb) java.awt.image.BufferedImage.TYPE_3BYTE_BGR
      else java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val channels = if (rgb) 3 else 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < channels) {
          raster.setSample(x, y, c, ((x + y + seed + c) % 256).toInt)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, baos),
      s"no ImageIO writer for format '$format'")
    baos.toByteArray
  }

  /** ImageIO codec path under clone pressure — [[netpbmClone10x]]'s
    * sibling for the JDK-codec decode (VERDICT r12 item 7, the
    * netpbm_clone10x precedent: new capability → stress-gated, no new
    * query): the same closed-form gradient corpus is ENCODED through
    * the JDK's own PNG and JPEG writers on the executors, cloned 10×
    * by seed reuse, and decoded back through
    * [[graft.operators.Multimodal.imageioRasterDecoder]] on the real
    * `mapPartitions` plumbing. PNG is lossless → the decoded pixel sum
    * and the 16×12 thumbnail sum assert EXACTLY against the driver
    * closed form (this is what pins the raw-raster-sample read: a
    * gray→sRGB conversion anywhere in the loop shifts every pixel);
    * JPEG is lossy → dimensions/channels assert exactly and the
    * decoded pixel sum must land within 2% of the closed form (encode
    * and decode share one JVM's codec, so the band absorbs
    * quantization error only, not environment drift).
    */
  private def imageioClone10x(s: SparkSession): String = {
    import graft.operators.Multimodal
    val nBase = sys.env.getOrElse("SPARK_GRAFT_STRESS_RASTERS", "400").toInt
    val (w, h, tw, th) = (64, 48, 16, 12)
    import s.implicits._
    def corpus(format: String) = s.range(10L * nBase)
      .select(col("id"), (col("id") % nBase).as("seed"))
      .as[(Long, Long)]
      .map { case (id, seed) => (id, syntheticImageio(seed, w, h, format)) }
      .toDF("id", "payload")
    val expFull =
      (0L until nBase).map(gradientPixelSum(_, w, h, w, h)).sum * 10L
    val expThumb =
      (0L until nBase).map(gradientPixelSum(_, w, h, tw, th)).sum * 10L

    def decodeStats(src: DataFrame): (Long, Long) = {
      val decoded =
        Multimodal.decodePartitionsAs(src, "id", "payload") {
          (id, p) =>
            val img = Multimodal.imageioRasterDecoder(id, p)
            (img.width, img.height, img.channels,
              img.pixels.foldLeft(0L)((a, b) => a + (b & 0xff)))
        }.toDF("w", "h", "c", "pix_sum").persist()
      val pixSum = decoded.agg(sum(col("pix_sum"))).head().getLong(0)
      val badMeta = decoded.filter(!(col("w") === w && col("h") === h &&
        (col("c") === 1 || col("c") === 3))).count()
      decoded.unpersist(blocking = false)
      (pixSum, badMeta)
    }

    val ((pngSum, pngBad, thumbSum, thumbBad, jpegSum, jpegBad), secs) =
      time {
        // the PNG corpus feeds BOTH legs (full decode + thumbnail);
        // materialize it once so the timed section pays the 10·nBase
        // PNG encode a single time — the gate measures decode under
        // clone pressure, not encode×2 (ADVICE r13)
        val png = corpus("png").persist()
        png.count()
        val (pSum, pBad) = decodeStats(png)
        val thumbs =
          Multimodal.resizeImageio(png, "id", "payload", tw, th)
            .map(img => (img.width, img.height,
              img.pixels.foldLeft(0L)((a, b) => a + (b & 0xff))))
            .toDF("w", "h", "pix_sum").persist()
        val tSum = thumbs.agg(sum(col("pix_sum"))).head().getLong(0)
        val tBad = thumbs.filter(!(col("w") === tw && col("h") === th)).count()
        thumbs.unpersist(blocking = false)
        png.unpersist(blocking = false)
        val (jSum, jBad) = decodeStats(corpus("jpg"))
        (pSum, pBad, tSum, tBad, jSum, jBad)
      }
    val jpegRelErr = math.abs(jpegSum.toDouble - expFull) / expFull
    val ok = pngSum == expFull && thumbSum == expThumb &&
      pngBad == 0L && thumbBad == 0L && jpegBad == 0L && jpegRelErr <= 0.02
    s""""imageio_clone10x":{"secs":${r3(secs)},"images":${2 * 10 * nBase},""" +
      s""""png_pixel_sum":$pngSum,"expected_pixel_sum":$expFull,""" +
      s""""png_thumb_sum":$thumbSum,"expected_thumb_sum":$expThumb,""" +
      s""""jpeg_rel_err":${"%.5f".formatLocal(java.util.Locale.ROOT, jpegRelErr)},""" +
      s""""bad_meta":${pngBad + thumbBad + jpegBad},"ok":$ok}"""
  }

  /** Mixed-codec dispatch stress (VERDICT r13 item 7): ONE corpus
    * column carries netpbm + PNG + JPEG payloads (codec by id % 3,
    * the same closed-form gradient in every container) through the
    * sniff → route → decode dispatcher
    * ([[graft.operators.Multimodal.rasterDecoder]]) on the real
    * `mapPartitions` plumbing — the seam the three per-codec stresses
    * each bypass by constructing a single-codec corpus. Per codec:
    * netpbm and PNG pixel sums assert EXACTLY against the driver
    * closed form (any mis-route — e.g. a PNG fed to the netpbm parser
    * — throws, and a silent color-conversion shifts the sum); JPEG is
    * lossy, so its sum lands within 2% and its dimensions/channels
    * assert exactly. A fourth leg feeds a corrupt payload and asserts
    * the dispatcher THROWS (no stub fall-through on the pixel path).
    */
  private def mixedCodecDispatch(s: SparkSession): String = {
    import graft.operators.Multimodal
    val nBase = sys.env.getOrElse("SPARK_GRAFT_STRESS_RASTERS", "400").toInt
    val (w, h) = (64, 48)
    import s.implicits._
    val n = 10L * nBase
    val corpus = s.range(n)
      .select(col("id"), (col("id") % nBase).as("seed"))
      .as[(Long, Long)]
      .map { case (id, seed) =>
        val payload = (id % 3) match {
          case 0 => syntheticNetpbm(seed, w, h)
          case 1 => syntheticImageio(seed, w, h, "png")
          case _ => syntheticImageio(seed, w, h, "jpg")
        }
        (id, payload)
      }
      .toDF("id", "payload")
    // driver closed form per codec over ITS id set (codec = id % 3,
    // seed = id % nBase — the sets differ because 3 does not divide
    // the clone factor evenly across seeds)
    def expectedFor(codec: Int): Long =
      (0L until n).filter(_ % 3 == codec)
        .map(id => gradientPixelSum(id % nBase, w, h, w, h)).sum
    val (rows, secs) = time {
      Multimodal.decodePartitionsAs(corpus, "id", "payload") { (id, p) =>
        val img = Multimodal.rasterDecoder(id, p)
        (id % 3, img.width, img.height, img.channels,
          img.pixels.foldLeft(0L)((a, b) => a + (b & 0xff)))
      }.toDF("codec", "w", "h", "c", "pix_sum")
        .groupBy("codec")
        .agg(count(lit(1)).as("n_images"), sum(col("pix_sum")).as("pix_sum"),
          sum(when(col("w") === w && col("h") === h &&
            (col("c") === 1 || col("c") === 3), 0L).otherwise(1L))
            .as("bad_meta"))
        .orderBy("codec").collect()
    }
    val byCodec = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (netSum, pngSum, jpgSum) =
      (byCodec(0L)._2, byCodec(1L)._2, byCodec(2L)._2)
    val badMeta = byCodec.values.map(_._3).sum
    val jpegRelErr =
      math.abs(jpgSum.toDouble - expectedFor(2)) / expectedFor(2)
    // no-fabrication leg: a payload no leg accepts must THROW through
    // the dispatcher, not fall back to a stub
    val corruptThrows =
      try {
        Multimodal.rasterDecoder(0L, "not an image".getBytes("US-ASCII"))
        false
      } catch { case _: IllegalArgumentException => true }
    val ok = netSum == expectedFor(0) && pngSum == expectedFor(1) &&
      jpegRelErr <= 0.02 && badMeta == 0L && corruptThrows &&
      byCodec.values.map(_._1).sum == n
    s""""mixed_codec_dispatch":{"secs":${r3(secs)},"images":$n,""" +
      s""""netpbm_pixel_sum":$netSum,"expected_netpbm":${expectedFor(0)},""" +
      s""""png_pixel_sum":$pngSum,"expected_png":${expectedFor(1)},""" +
      s""""jpeg_rel_err":${"%.5f".formatLocal(java.util.Locale.ROOT, jpegRelErr)},""" +
      s""""bad_meta":$badMeta,"corrupt_throws":$corruptThrows,"ok":$ok}"""
  }

  /** The q144 full-exact kNN recall audit, stress-hosted (VERDICT r11
    * item 3): q206's sampled protocol is the bench-resident audit that
    * survives 100×; the corpus² exact side runs HERE at gate scale —
    * same query, same gates (recall floor, vote-MAE ceiling,
    * all-rows join completeness) — so the suite carries one price per
    * protocol and the full-exact evidence is still re-run every round.
    */
  private def knnExactFull(s: SparkSession, sfDir: String): String = {
    val nEmb = Tables.embeddings(s, sfDir).count()
    val (row, secs) = time {
      SparkEntry.queries("q144_knn_audit_approx")(s, sfDir).head()
    }
    val nRows = row.getLong(0)
    val recallOk = row.getBoolean(1)
    val maeOk = row.getBoolean(2)
    val ok = nRows == nEmb && recallOk && maeOk
    s""""knn_exact_full":{"secs":${r3(secs)},"n_rows":$nRows,""" +
      s""""n_embeddings":$nEmb,"recall_ok":$recallOk,""" +
      s""""vote_mae_ok":$maeOk,"ok":$ok}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftConf.hostCpus
    val spark = GraftConf.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val all = Seq[(String, () => String)](
      "dedup_clone10x" -> (() => dedupClone10x(spark, sfDir)),
      "lineage_1m" -> (() => lineage1M(spark)),
      "curation_skew10x" -> (() => curationSkew10x(spark, sfDir)),
      "semdedup_skew_aqe" -> (() => semdedupSkewAqe(spark)),
      "capstone_11x" -> (() => capstone11x(spark, sfDir)),
      "manifest_clone10x" -> (() => manifestClone10x(spark, sfDir)),
      "centroid_clone10x" -> (() => centroidClone10x(spark, sfDir)),
      "bpe_clone10x" -> (() => bpeClone10x(spark, sfDir)),
      "kmeans_clone10x" -> (() => kmeansClone10x(spark, sfDir)),
      "neardup_clone4x" -> (() => neardupClone4x(spark, sfDir)),
      "lm_chunks_clone10x" -> (() => lmChunksClone10x(spark, sfDir)),
      "concurrency_clone10x" -> (() => concurrencyClone10x(spark, sfDir)),
      "funnel_hot_entity" -> (() => funnelHotEntity(spark, sfDir)),
      "heavy_hitters_clone10x" -> (() => heavyHittersClone10x(spark, sfDir)),
      "triangles_clone3x" -> (() => trianglesClone3x(spark, sfDir)),
      "systematic_mass10x" -> (() => systematicMass10x(spark, sfDir)),
      "fact_join_skew_aqe" -> (() => factJoinSkewAqe(spark, sfDir)),
      "custkey_skew_aqe" -> (() => custkeySkewAqe(spark, sfDir)),
      "suppkey_skew_aqe" -> (() => suppkeySkewAqe(spark, sfDir)),
      "netpbm_clone10x" -> (() => netpbmClone10x(spark)),
      "imageio_clone10x" -> (() => imageioClone10x(spark)),
      "mixed_codec_dispatch" -> (() => mixedCodecDispatch(spark)),
      "knn_exact_full" -> (() => knnExactFull(spark, sfDir)))
    val selected = sys.env.get("SPARK_GRAFT_STRESS") match {
      case Some(list) =>
        val want = list.split(",").map(_.trim).toSet
        all.filter { case (name, _) => want(name) }
      case None => all
    }

    val t0 = System.nanoTime()
    val fragments = selected.map { case (name, f) =>
      val frag =
        try f()
        catch { case e: Throwable =>
          System.err.println(s"[stress] $name failed: ${e.getMessage}")
          s""""$name":{"ok":false,"err":"${e.getClass.getSimpleName}"}"""
        }
      // caches/checkpoints from one stress must not distort the next
      spark.sqlContext.clearCache()
      System.gc()
      frag
    }
    val total = (System.nanoTime() - t0) / 1e9
    val line =
      s"""{"metric":"stress_total","value":${r3(total)},"unit":"sec",""" +
        s""""sf":"$sfDir","cpus":$cpus,""" +
        s""""stresses":${fragments.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get("stress_out.json"), line + "\n")
    val anyFailed = fragments.exists(_.contains("\"ok\":false"))
    spark.stop()
    println(line)
    if (anyFailed) sys.exit(1)
  }
}
