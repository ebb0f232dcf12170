package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the scale brief: a brute-force cosine top-k baseline
  * (broadcast the small query set against the corpus — one pass, no
  * shuffle of the corpus), and a random-hyperplane LSH-bucketed variant
  * whose candidate generation is a keyed join on (table, bucket) — the
  * 100 TB path, where only same-bucket vectors are compared.
  */
object Similarity {

  /** Shared final ranking of a scored candidate table
    * `(keyCol, nbr_id, cos_sim, ...)` → `(keyCol, rank, nbr_id,
    * cos_sim)`, top-k per key by (cos_sim DESC, nbr_id ASC).
    *
    * Since r14 a bounded-heap aggregate
    * ([[graft.functions.topKByScore]]) instead of the
    * `row_number().over(window)` idiom: the window MATERIALIZED AND
    * SORTED every candidate row per key (the exact audit buffered its
    * whole n² broadcast product — 1.8 GB allocated per pass at sf0.1
    * for k = 5, the r14 bench's gc-share leader at 367%), while the
    * aggregate folds candidates into k-entry heaps as they stream out
    * of the join, map-side-combining before any shuffle — at 100 TB
    * candidate volume never lands in a sorter. Bit-identical output
    * for non-null scores (same IEEE total order and id tiebreak;
    * SimilaritySpec pins window parity on a fuzz corpus). The ONE
    * deliberate divergence: a null score never ranks (the window's
    * NULLS-LAST desc order padded trailing ranks with null-score
    * rows) — every caller here scores with [[graft.functions.cosineSim]]
    * over non-null vectors, where a null cannot occur, and a "nearest
    * neighbor with no similarity" row would be noise if it could.
    */
  private def rankTopK(scored: DataFrame, keyCol: String, k: Int): DataFrame =
    scored.groupBy(col(keyCol))
      .agg(graft.functions.topKByScore(col("nbr_id"), col("cos_sim"), k)
        .as("topk"))
      .select(col(keyCol), posexplode(col("topk")))
      .select(col(keyCol), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("nbr_id"), col("col.score").as("cos_sim"))

  /** Brute-force cosine top-k: every query (a small id set, broadcast)
    * against every corpus vector. The corpus is scanned once; ranking
    * is the bounded-heap top-k aggregate ([[rankTopK]]). Exact —
    * serves as the oracle-checkable baseline and the re-rank primitive
    * for ANN.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = corpus.join(broadcast(queries), col("nbr_id") =!= col("query_id"))
      .withColumn("cos_sim", cosineSim(col("query_vec"), col("nbr_vec")))
    rankTopK(scored, "query_id", k)
  }

  /** kNN label-agreement audit — label-noise detection over an
    * embedded, labeled corpus (Confident-Learning-style QA: a row
    * whose nearest neighbors mostly carry a DIFFERENT label is a
    * mislabel/outlier candidate — the standard embedding-space check
    * run before training on weak labels). For every row, the k
    * cosine-nearest OTHER rows vote: `n_agree` = how many share the
    * row's label, `agree_rate` = n_agree/k. Thresholding/acting on the
    * rate is the caller's policy; this operator computes the audit.
    *
    * Exactness: neighbor ranking is (cos_sim DESC, neighbor id ASC) —
    * the q13 tie order — so the neighbor SET, and with it every count,
    * is deterministic and engine-exact (cosine is bit-identical across
    * engines on non-identical vectors; the division n_agree/k is one
    * correctly-rounded IEEE op).
    *
    * Scale shape: this EXACT variant broadcasts the (id, vec) corpus
    * projection against a streaming probe scan — right whenever the
    * projection fits a broadcast (n·dim·4 bytes; ~2.5 GB at 10M
    * vectors × 64 dims). Past that, [[labelVote]] over
    * [[knnNeighborsApprox]] runs the SAME vote over LSH candidate sets —
    * the audit math is unchanged, only candidate generation swaps,
    * exactly as search does (q13 → q24); q144 recall-gates the swap. A
    * row whose approximate neighborhood has fewer than k candidates
    * votes over what it has, with agree_rate still over k.
    */
  def knnLabelAgreement(emb: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int): DataFrame =
    labelVote(knnNeighborsExact(emb, idCol, vecCol, k),
      emb, idCol, labelCol, k)

  /** All-rows exact kNN neighbor table — every row's k cosine-nearest
    * OTHER rows, `(vec_id, rank, nbr_id, cos_sim)` with the q13 tie
    * order `(cos_sim DESC, nbr_id ASC)`. The brute-force candidate
    * generator behind [[knnLabelAgreement]], exposed so recall gates
    * can compare it against [[knnNeighborsApprox]] row-for-row.
    *
    * `probeCoin = Some((salt, hexThreshold))` restricts the PROBE side
    * to rows whose md5 coin `substr(md5(salt#id), 1, 8) < hexThreshold`
    * lands under the threshold (the q73 selection idiom —
    * deterministic, engine-reproducible, no RNG state). This is the
    * route that lets the recall-audit PROTOCOL itself survive 100×:
    * the full-exact audit (q144) is corpus² and exists only at gate
    * scale, while the sampled audit's exact side is sample×corpus —
    * each sampled probe still ranks against the ENTIRE corpus, so its
    * neighbor rows are identical to the full run's rows for that
    * probe (per-probe ranking is independent of other probes), and
    * recall estimated on the sample is unbiased for the corpus.
    */
  def knnNeighborsExact(emb: DataFrame, idCol: String, vecCol: String,
                        k: Int,
                        probeCoin: Option[(String, String)] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    // the probe side REPARTITIONS by id before meeting the broadcast:
    // a small parquet corpus arrives as ONE scan partition, which would
    // put the whole n² cosine product on a single task; hashing by
    // vec_id also pre-establishes the top-k aggregate's grouping
    // partitioning, so the explicit exchange REPLACES the agg's rather
    // than adding one. The partition COUNT is pinned to the session's
    // shuffle parallelism: the exchange's own bytes are tiny (n narrow
    // rows), so AQE's size-based coalescing would fold it back to one
    // partition — but the DOWNSTREAM cost is n× per row (the broadcast
    // product), which size-based rules cannot see. The post-join
    // projection keeps the two 64-float arrays out of the ranking.
    val probes = emb.filter(probeSample(idCol, probeCoin))
      .select(col(idCol).as("vec_id"),
        col(vecCol).as("query_vec"))
      .repartition(emb.sparkSession.sessionState.conf.numShufflePartitions,
        col("vec_id"))
    val scored = probes.join(broadcast(corpus), col("nbr_id") =!= col("vec_id"))
      .withColumn("cos_sim", cosineSim(col("query_vec"), col("nbr_vec")))
      .select(col("vec_id"), col("nbr_id"), col("cos_sim"))
    rankTopK(scored, "vec_id", k)
  }

  /** The probe-side predicate of `probeCoin`: true for every row when
    * the coin is absent, else `substr(md5(salt#id), 1, 8) < hexThreshold`
    * (see [[knnNeighborsExact]]).
    */
  private def probeSample(idCol: String,
                          probeCoin: Option[(String, String)]): Column =
    probeCoin.fold(lit(true)) { case (salt, hex) =>
      substring(md5(concat(lit(s"$salt#"), col(idCol).cast("string"))),
        1, 8) < lit(hex)
    }

  /** All-rows APPROXIMATE kNN neighbor table: every row (or every
    * `probeCoin`-sampled row) probes the full corpus index through
    * [[lshCandidates]], candidates are exactly re-ranked, and the output
    * shape matches [[knnNeighborsExact]]. This is the past-broadcast-
    * ceiling route the exact audit's scaladoc names: no n² product
    * anywhere — candidate volume is the bucket-join output
    * (corpus/2^planes expected per bucket per table), so the audit
    * survives corpora where the (id, vec, label) projection no longer
    * broadcasts. Unlike [[lshTopK]]'s small query set, the probe side is
    * corpus-sized here, so multiprobe multiplies it by
    * (planesPerTable + 1). A sampled probe still meets every
    * bucket-mate: only the probe side thins, so candidate volume scales
    * with the sample while the index stays the full corpus.
    */
  def knnNeighborsApprox(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 8, planesPerTable: Int = 6, dim: Int = 64,
      seed: Long = 42L, multiProbe: Boolean = false,
      probeCoin: Option[(String, String)] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val scored = lshCandidates(emb, idCol, vecCol,
        probeSample(idCol, probeCoin), _ =!= _, tables, planesPerTable, dim,
        seed, multiProbe)
      .toDF("vec_id", "nbr_id")
      .join(emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec")),
        "nbr_id")
      .join(emb.select(col(idCol).as("vec_id"), col(vecCol).as("query_vec")),
        "vec_id")
      .withColumn("cos_sim", cosineSim(col("query_vec"), col("nbr_vec")))
      .select(col("vec_id"), col("nbr_id"), col("cos_sim"))
    rankTopK(scored, "vec_id", k)
  }

  /** The shared vote step of the label-agreement audits, public so a
    * caller holding a neighbor table ([[knnNeighborsExact]] /
    * [[knnNeighborsApprox]]) can vote WITHOUT recomputing candidates —
    * q144 ranks each table once and derives both the recall join and
    * the votes from the same two tables. Joins the (narrow, n·k-row)
    * neighbor table back to the label column on both endpoints and
    * counts per-row agreement; two keyed joins of scalar rows — the
    * label lookup never rides through the ranking window.
    */
  def labelVote(neighbors: DataFrame, emb: DataFrame, idCol: String,
      labelCol: String, k: Int): DataFrame = {
    val lab = emb.select(col(idCol), col(labelCol))
    neighbors
      .join(lab.select(col(idCol).as("vec_id"), col(labelCol).as("label")),
        "vec_id")
      .join(lab.select(col(idCol).as("nbr_id"), col(labelCol).as("nbr_label")),
        "nbr_id")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(when(col("nbr_label") === col("label"), lit(1L))
        .otherwise(lit(0L))).as("n_agree"))
      .withColumn("agree_rate", col("n_agree").cast("double") / lit(k))
  }

  /** Per-label centroid outlier audit — the second embedding-space QA
    * next to [[knnLabelAgreement]]: rank each label's members by
    * squared L2 distance to the label's centroid and keep the top-k
    * farthest (outlier/drift candidates — rows that sit far from their
    * class mass even if their local neighborhood agrees).
    *
    * EXACT fixed-point arithmetic end to end, so the ranking (not just
    * the rows) is engine-reproducible and hash-gatable — the
    * `mean_nll_nano` idiom applied to geometry:
    *
    *   - components quantize to nano units: xi = floor(v·1e9 + 0.5),
    *     OFFSET by +2e9 so every later division/floor is on
    *     non-negative ints (floor == truncate in every engine; the
    *     constant cancels in the differences);
    *   - the centroid is the QUANTIZED mean ci = si div n (exact
    *     integral division — floor-vs-double-rounding divergence
    *     class of Scale.epochDay);
    *   - per-dim squared diffs stay in long (|diff| ≤ 2.4e9 →
    *     square ≤ 5.8e18 < 2⁶³), the 64-dim sum rides DECIMAL(38,0)
    *     (a long sum could wrap past ~9.2e18); `dist2` is that exact
    *     integer cast to double and de-scaled by 1e18.
    *
    * Scale shape: narrow (id, label, dim, xi) rows — Θ(n·dim); the
    * centroid table is labels×dim rows and BROADCASTS; one map-side-
    * combinable aggregate per stage; the final per-label window ranks
    * only per-document scalars. No pairwise term anywhere — this is
    * the O(n·dim) audit, vs [[knnLabelAgreement]]'s O(n²·dim).
    */
  def labelCentroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                            labelCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val x = emb.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .withColumn("xi",
        (floor(col("v").cast("double") * lit(1e9) + lit(0.5)) +
          lit(2000000000L)).cast("long"))
      .drop("v")
    val cent = x.groupBy("label", "dim")
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), graft.functions.intDiv(col("s"), col("n")).as("ci"))
    val d = x.join(broadcast(cent), Seq("label", "dim"))
      // widen BEFORE squaring — (xi-ci)² overflows long once the spread
      // exceeds ~3.04 in vector units (see embeddingNormStats)
      .withColumn("sq",
        (col("xi") - col("ci")).cast("decimal(38,0)") *
          (col("xi") - col("ci")))
      .groupBy("vec_id", "label")
      .agg(sum(col("sq")).as("s2"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("s2").desc, col("vec_id").asc)
    d.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("label"), col("rank"), col("vec_id"),
        (col("s2").cast("double") / lit(1e18)).as("dist2"))
  }

  /** Label confusion geometry — the companion audit to
    * [[labelCentroidOutliers]]: the EXACT fixed-point squared L2
    * distance between every pair of label centroids, with the label
    * sizes alongside. Labels whose centroids sit close are the pairs a
    * classifier (or a label-noise process, q96) will confuse; read
    * next to q97's within-label spread this is the between/within
    * separation picture. Same nano quantization and integral-divide
    * centroid as q97, so the numbers are bit-stable across engines and
    * runs. Cost: one narrow exploded aggregate for the centroid table
    * (labels × dim rows), then a labels²-scale self-join on the dim
    * key — driver-scale output whatever the corpus size.
    */
  def labelCentroidSeparation(emb: DataFrame, idCol: String, vecCol: String,
                              labelCol: String): DataFrame = {
    val x = emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .withColumn("xi",
        (floor(col("v").cast("double") * lit(1e9) + lit(0.5)) +
          lit(2000000000L)).cast("long"))
    val cent = x.groupBy("label", "dim")
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), graft.functions.intDiv(col("s"), col("n")).as("ci"))
    val sizes = emb.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"))
    val a = cent.select(col("label").as("label_a"), col("dim"),
      col("ci").as("ca"))
    val b = cent.select(col("label").as("label_b"), col("dim"),
      col("ci").as("cb"))
    a.join(b, a("dim") === b("dim") && col("label_a") < col("label_b"))
      // widen BEFORE squaring (see embeddingNormStats)
      .withColumn("sq",
        (col("ca") - col("cb")).cast("decimal(38,0)") *
          (col("ca") - col("cb")))
      .groupBy("label_a", "label_b")
      .agg(sum(col("sq")).as("s2"))
      .join(broadcast(sizes).withColumnRenamed("label", "label_a")
        .withColumnRenamed("n", "n_a"), "label_a")
      .join(broadcast(sizes).withColumnRenamed("label", "label_b")
        .withColumnRenamed("n", "n_b"), "label_b")
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (col("s2").cast("double") / lit(1e18)).as("dist2"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Embedding-health audit: per label, the distribution of squared
    * vector norms — the collapsed-embedding / exploding-embedding
    * check run before trusting any cosine machinery. Norms are
    * computed in the q97 nano fixed-point (offset removed, so this is
    * the true ‖v‖²): integer squares summed exactly in DECIMAL(38,0),
    * then scaled once to double — order-independent, bit-stable across
    * engines. One narrow exploded aggregate; percentile state per
    * label is a count-map.
    */
  def embeddingNormStats(emb: DataFrame, idCol: String, vecCol: String,
                         labelCol: String): DataFrame = {
    val x = emb.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        explode(col(vecCol)).as("v"))
      .withColumn("xi",
        floor(col("v").cast("double") * lit(1e9) + lit(0.5)).cast("long"))
    // square in DECIMAL: xi² overflows LONG once |v| ≥ ~3.04 (xi ≥
    // 2^31.5 nano-units), and embedding audits exist precisely for
    // out-of-envelope vectors
    val norms = x
      .withColumn("sq", col("xi").cast("decimal(38,0)") * col("xi"))
      .groupBy("vec_id", "label")
      .agg((sum(col("sq")).cast("double") / lit(1e18)).as("norm2"))
    norms.groupBy("label")
      .agg(count(lit(1)).as("n"),
        graft.functions.hashSafeRound(
          percentile(col("norm2"), lit(0.5)), 9).as("p50_norm2"),
        graft.functions.hashSafeRound(
          percentile(col("norm2"), lit(0.9)), 9).as("p90_norm2"),
        graft.functions.hashSafeRound(min(col("norm2")), 9).as("min_norm2"),
        graft.functions.hashSafeRound(max(col("norm2")), 9).as("max_norm2"))
      .orderBy("label")
  }

  /** Per-dimension embedding health: EXACT fixed-point mean and
    * variance of every coordinate across the whole corpus — the
    * collapsed-dimension audit (a dimension whose variance is ~0
    * carries no information and silently degrades every cosine above
    * it; a huge-variance dimension dominates the metric). Read next to
    * [[embeddingNormStats]] (per-vector norms) this completes the
    * geometry-health picture: q114 audits rows, this audits columns.
    *
    * Exactness: coordinates are quantized to nano units (signed long),
    * summed exactly — Σx in DECIMAL(38,0), Σx² widened to DECIMAL
    * BEFORE squaring (the q114 overflow lesson) — and the population
    * variance numerator n·Σx² − (Σx)² stays integral all the way to a
    * ≤2^53 gate: mean and variance are floor-quantized to nano units
    * by INTEGRAL divides (exact at any corpus size), then cast and
    * divided ONCE — above 2^53, DECIMAL→DOUBLE rounding differs
    * across engines by an ULP (the q121 lesson), so no wide integer
    * ever crosses into double. The `collapsed` flag compares in
    * INTEGER nano²-space (var_num < threshold·n²·1e18), not on the
    * divided double.
    *
    * Scale shape: one narrow posexplode → hash aggregate keyed by
    * `dim` with map-side partials; output is `dim` rows whatever the
    * corpus size. No joins, no windows.
    */
  def dimensionStats(emb: DataFrame, vecCol: String,
                     collapsedVar: Double = 1e-4): DataFrame = {
    val x = emb.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * lit(1e9) + lit(0.5))
          .cast("long").as("xi"))
    val thNano2 = BigDecimal(collapsedVar * 1e18).toBigInt
    // the q97 offset keeps the mean dividend non-negative, so the
    // engines' integral divides (floor vs truncate) agree
    val meanNano =
      graft.functions.intDiv(col("s1") + col("n").cast("decimal(38,0)") * lit(2000000000L),
        col("n")) - lit(2000000000L)
    val varNano2 =
      graft.functions.intDiv(col("var_num"), col("n").cast("decimal(38,0)") * col("n"))
    x.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xi").cast("decimal(38,0)")).as("s1"),
        sum(col("xi").cast("decimal(38,0)") * col("xi")).as("s2"))
      .withColumn("var_num",
        col("n") * col("s2") - col("s1") * col("s1"))
      .select(col("dim"), col("n"),
        (meanNano.cast("double") / lit(1e9)).as("mean"),
        (varNano2.cast("double") / lit(1e18)).as("variance"),
        (col("var_num") <
          lit(thNano2.toString).cast("decimal(38,0)") *
            col("n") * col("n")).as("collapsed"))
      .orderBy("dim")
  }

  /** Upper-triangle covariance matrix of the embedding dimensions in
    * EXACT fixed-point arithmetic — the PCA/whitening prep step that
    * generalizes [[dimensionStats]]'s per-dim variance to cross-dim
    * structure (cov(i,i) IS that variance, same arithmetic, same
    * quantization). Values quantize to nano-units (the q116 idiom),
    * the per-pair sums Σx, Σy, Σxy accumulate in DECIMAL(38,0), and
    * cov = (n·Σxy − Σx·Σy) div n² runs through ONE integral divide
    * made engine-portable by the q97 offset trick: the dividend can be
    * negative (Spark `div` truncates toward zero, DuckDB `//` floors),
    * so it is shifted by n²·8·10¹⁸ — non-negative for any embedding
    * values in (−2, 2) — divided, and shifted back.
    *
    * Scale shape: ONE aggregate over UNEXPLODED rows — each row is
    * read once and [[graft.functions.covMoments]] accumulates all
    * dims·(dims+1)/2 pair moments in primitive 128-bit state
    * (~120 KB/partition at dims = 64), so the single shuffle moves
    * O(partitions · dims²) fixed-width state regardless of corpus
    * size — no explode fan-out (the former posexplode² shape paid
    * three BigDecimal-backed decimal sums on ×2,080 rows/vector:
    * 7.5 GB allocated and 5.8 s/pass at sf0.1 for 2,000 vectors),
    * no joins, no windows, no driver collect. Envelope:
    * n ≤ ~3·10⁹ rows — the BINDING term is the offset shift n²·8·10¹⁸
    * (n² · offset exceeds DECIMAL(38,0) at n ≈ 3.5·10⁹), tighter than
    * the n·Σxy bound (~5·10⁹, the [[dimensionStats]] n·s2 class);
    * past it, shard the corpus and merge the (n, Σx, Σy, Σxy)
    * partials — they are exactly mergeable by addition, unlike any
    * float accumulation.
    */
  def embeddingCovariance(emb: DataFrame, vecCol: String): DataFrame = {
    val offset = 8000000000000000000L // (2e9 nano-units)² × 2 headroom
    val agg = emb
      .withColumn("__xi", transform(col(vecCol),
        v => floor(v.cast("double") * lit(1e9) + lit(0.5)).cast("long")))
      .agg(graft.functions.covMoments(col("__xi")).as("__m"))
      .select(explode(col("__m")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.n").as("n"),
        col("e.sx").as("sx"), col("e.sy").as("sy"), col("e.sxy").as("sxy"))
    val nn = col("n").cast("decimal(38,0)") * col("n")
    val covNum = col("n").cast("decimal(38,0)") * col("sxy") -
      col("sx") * col("sy")
    val covNano2 =
      graft.functions.intDiv(covNum + nn * lit(offset), nn) - lit(offset)
    agg.select(col("i"), col("j"), col("n"),
        (covNano2.cast("double") / lit(1e18)).as("cov"))
      .orderBy("i", "j")
  }

  /** Distributed k-means (Lloyd) over the embedding column in EXACT
    * fixed-point arithmetic — the trainer for the centroid tables the
    * IVF index ([[ivfTopK]]) and SemDeDup ([[semDedup]]) consume.
    * Deterministic end to end: seeds are the `k` smallest-id vectors,
    * coordinates are quantized to offset nano units (the q97 idiom),
    * assignment distance is an exact DECIMAL sum of squared diffs with
    * ties broken toward the smaller cluster id, and the centroid
    * update is a non-negative integral divide — so every iteration,
    * and the final summary, is bit-identical across engines and runs
    * (no float drift, no RNG). A cluster that loses all members keeps
    * its previous centroid.
    *
    * Scale shape per iteration (the MLlib Lloyd shape): centroids are
    * k·dim SCALARS, so they live on the driver and ride to executors
    * as a plan constant — assignment is ONE shuffle-free codegen'd map
    * over unexploded cached vectors
    * ([[graft.functions.kmeansAssign]]: argmin + exact 128-bit d2 per
    * row, bit-identical to the former join + sumSqDiff + argmin-window
    * formulation), and the update is one (cluster, dim)-keyed
    * aggregate whose output — k·dim longs, ~4 KB at k=8, dim=64 — is
    * collected back per round (the BPE-argmax trainer-loop collect
    * class: bounded by k·dim, NOT by corpus size). The former shape
    * paid, per iteration, a corpus×k broadcast-join fan-out, a
    * (vec, cluster) exchange, a per-vec argmin WINDOW (exchange +
    * sort), a corpus-by-vec_id join for the update, and a cached-round
    * materialization; now corpus rows cross zero exchanges during
    * assignment and one k·dim-group partial-agg exchange during the
    * update.
    *
    * Returns the per-cluster summary after `iters` updates: member
    * count and exact SSE (nano²-exact DECIMAL scaled once to double)
    * under the FINAL centroids.
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, s"k=$k, iters=$iters must be >= 1")
    import emb.sparkSession.implicits._
    // the SAME per-element quantization the exploded formulation
    // applied after posexplode — moved inside transform(), values
    // bit-identical (same floor/offset/cast chain per element)
    val q = emb.select(col(idCol).as("vec_id"),
        transform(col(vecCol),
          v => (floor(v.cast("double") * lit(1e9) + lit(0.5)) +
            lit(2000000000L)).cast("long")).as("xi"))
      .persist()
    // seeds: the k smallest-id vectors; cluster id = rank. A null/empty
    // seed array keeps its cluster NUMBER but has no dims (the join
    // formulation's c0 had no rows for it), so it is never a candidate
    // and never appears in the output — mirrored below.
    val seedRows = q.orderBy(col("vec_id")).limit(k).collect()
    if (seedRows.isEmpty) {
      // empty corpus: the former join formulation produced an empty
      // (cluster, n, sse) frame; KMeansAssignExpr requires >= 1
      // centroid, so short-circuit before the Lloyd loop (ADVICE r15)
      q.unpersist(blocking = false)
      return Seq.empty[(Long, Long, Double)].toDF("cluster", "n", "sse")
    }
    var cent: Array[Array[Long]] = seedRows.map { r =>
      if (r.isNullAt(1)) Array.empty[Long]
      else r.getSeq[Any](1).map {
        case null => 0L
        case v => v.asInstanceOf[Long]
      }.toArray
    }
    var centNull: Array[Array[Boolean]] = seedRows.map { r =>
      if (r.isNullAt(1)) Array.empty[Boolean]
      else r.getSeq[Any](1).map(_ == null).toArray
    }
    // per-vector argmin assignment under the CURRENT centroids —
    // struct(cluster, d2), null for vectors posexplode would have
    // dropped (KMeansAssignSpec pins parity with the join formulation)
    def assigned(): DataFrame =
      q.select(col("vec_id"), col("xi"),
          graft.functions.kmeansAssign(col("xi"), cent, centNull).as("a"))
        .filter(col("a").isNotNull)
    for (_ <- 1 to iters) {
      // one (cluster, dim) aggregate over the members' exploded
      // coordinates: count(*) counts every member row (null elements
      // included), sum skips nulls — the former x-join semantics. The
      // collected round is k·dim rows; the left-join-coalesce against
      // the previous centroids happens on those scalars.
      val upd = assigned()
        .select(col("a.cluster").as("cluster"),
          posexplode(col("xi")).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg(graft.functions.intDiv(sum(col("v")), count(lit(1))).as("ci_new"))
        .collect()
      val nextV = cent.map(_.clone)
      val nextN = centNull.map(_.clone)
      upd.foreach { r =>
        val c = r.getLong(0).toInt
        val d = r.getInt(1)
        // dims beyond the cluster's seed dimensionality are dropped,
        // exactly as `cent LEFT JOIN upd` kept only cent's dims; a
        // null quotient (all member elements null) keeps the previous
        // coordinate, the coalesce(ci_new, ci) semantics
        if (c >= 0 && c < nextV.length && d < nextV(c).length && !r.isNullAt(2)) {
          nextV(c)(d) = r.getLong(2)
          nextN(c)(d) = false
        }
      }
      cent = nextV
      centNull = nextN
    }
    // SSE leaves integer space through a ≤2^53 gate: Σd2 can exceed
    // 2^53, where DECIMAL→DOUBLE rounding differs across engines by an
    // ULP (observed at sf0.001) — so truncate to nano² units with an
    // integral divide FIRST (exact, ≤~6e10 here), then one exact cast
    // and one correctly-rounded division.
    val stats = assigned()
      .select(col("a.cluster").as("cluster"), col("a.d2").as("d2"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        (graft.functions.intDiv(sum(col("d2")), lit(1000000000L)).cast("double") /
          lit(1e9)).as("sse"))
    // every cluster with ≥1 dim appears, members or not (the former
    // right join against the centroid table)
    val clusters = cent.indices.filter(cent(_).length >= 1)
      .map(_.toLong).toDF("cluster")
    val out = clusters.join(stats, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sse"), lit(0.0)).as("sse"))
      .orderBy("cluster")
    Dedup.materializeAndRelease(out, q)
  }

  /** Deterministic pseudo-random hyperplanes: `planes` rows of `dim`
    * weights in [-0.5, 0.5), derived from a seeded xorshift so every run
    * and every executor sees the same planes (no Math.random).
    */
  private[graft] def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var s = seed ^ 0x5DEECE66DL
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      ((s >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    Array.fill(planes)(Array.fill(dim)(next()))
  }

  /** Sign-bucket of one vector under `tbl`'s hyperplane set: a bit per
    * plane (sign of the dot product), packed to a long. This per-plane
    * column formulation is kept ONLY as the parity reference for
    * [[bucketsCol]] (SimilaritySpec pins them bit-identical) — as the
    * production path it put tables × planesPerTable separate
    * DotProduct-with-64-double-literal nodes in one projection, whose
    * analysis + Janino compile time dominated the query at small scale.
    */
  private[graft] def bucketCol(vec: org.apache.spark.sql.Column,
                        planeSet: Array[Array[Double]]): org.apache.spark.sql.Column =
    planeSet.zipWithIndex.map { case (plane, i) =>
      when(dotProduct(vec, lit(plane)) >= 0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** All per-table bucket hashes in ONE native codegen'd pass
    * ([[graft.expressions.LshBucketHashes]]): element t of the
    * `array<long>` is the packed sign-bit bucket of hyperplane set t.
    */
  private[graft] def bucketsCol(vec: org.apache.spark.sql.Column,
                        planes: Seq[Array[Array[Double]]]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.LshBucketHashes(
        org.apache.spark.sql.GraftColumnBridge.expression(vec), planes.toArray))

  /** The Hamming-1 probe set of a bucket column: the bucket itself plus
    * every single-sign-bit flip.
    */
  private def hamming1Probes(bucket: Column, planesPerTable: Int): Column =
    explode(array(bucket +:
      (0 until planesPerTable).map(p => bucket.bitwiseXOR(lit(1L << p))): _*))

  /** The one LSH candidate stage under [[lshTopK]], [[knnNeighborsApprox]]
    * and [[cosineNearDup]]: distinct narrow `(probe_id, index_id)` pairs
    * whose sign-bit buckets meet in at least one of `tables` independent
    * hyperplane sets of `planesPerTable` bits. Probe rows are the rows
    * of `emb` where `probe` holds; the index is every row of `emb`; a
    * null vector has no buckets and is never a candidate. `keep(probe,
    * index)` filters the pairs (`=!=` drops self-pairs, `<` keeps one
    * orientation of a self-join). Each caller exact-scores the result,
    * so the candidate set alone decides its output.
    *
    *  - Multiprobe: the PROBE side additionally probes every Hamming-1
    *    bucket, so a pair qualifies when its buckets differ by at most
    *    one sign bit in some table. The index is untouched — free on a
    *    small query set, (planesPerTable + 1)× narrow rows on a
    *    corpus-sized probe side.
    *  - Width: the join EXPANDS ~Σ n_bucket² rows from a few narrow MB
    *    of input, so AQE's byte-based coalescing (and a broadcast join's
    *    inherit-the-stream-side rule) would collapse pair generation to
    *    ~1 task (stress probe: 35 s at 32 cores ≈ 49 s at 2 cores on a
    *    4× clone corpus). An explicit numbered repartition of the probe
    *    side by (tbl, bucket) is exempt from coalescing; its width is the
    *    session's shuffle parallelism, never a constant, and the map-side
    *    partial distinct absorbs the fan-out inside the same tasks.
    *  - Narrow distinct: a pair surfaces up to `tables` times (× probes),
    *    so ids are deduplicated before any vector is joined back — a
    *    distinct carrying the embeddings would shuffle dim×8 bytes per
    *    duplicate.
    */
  private def lshCandidates(emb: DataFrame, idCol: String, vecCol: String,
      probe: Column, keep: (Column, Column) => Column, tables: Int,
      planesPerTable: Int, dim: Int, seed: Long,
      multiProbe: Boolean): DataFrame = {
    val planes = (0 until tables).map(t => hyperplanes(planesPerTable, dim, seed + t))
    def bucketed(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(bucketsCol(col(vecCol), planes)).as(Seq("tbl", "bucket")))
    val probes0 = bucketed(emb.filter(probe), "probe_id")
    val probes =
      if (!multiProbe) probes0
      else probes0.select(col("probe_id"), col("tbl"),
        hamming1Probes(col("bucket"), planesPerTable).as("bucket"))
    probes
      .repartition(emb.sparkSession.sessionState.conf.numShufflePartitions,
        col("tbl"), col("bucket"))
      .join(bucketed(emb, "index_id"), Seq("tbl", "bucket"))
      .filter(keep(col("probe_id"), col("index_id")))
      .select("probe_id", "index_id").distinct()
  }

  /** Recall target of [[nearDupTables]]: the chance that a pair exactly
    * at the threshold collides in at least one table.
    */
  private val NearDupRecall = 0.999

  /** The table count at which a pair of cosine exactly `t` becomes a
    * Hamming-1 multiprobe candidate with probability [[NearDupRecall]]:
    * a random hyperplane keeps the pair's sign with p = 1 − acos(t)/π,
    * one table of k = `planesPerTable` planes collides within one bit
    * with P₁ = pᵏ + k·pᵏ⁻¹(1−p), and `tables` independent tables miss
    * with (1 − P₁)^tables, so tables = ⌈ln(1 − 0.999) / ln(1 − P₁)⌉ —
    * 21 at t = 0.4, k = 6. The target is set by q37's gate (recall ≥ 0.9
    * on 200-vector corpora with ~5–15 exact pairs, where one miss among
    * nine pairs fails): over 2,000 unit-Gaussian 64-d corpora the gate
    * failed on 126 at 12 tables, 26 at 16 (target 0.995) and 4 at 21.
    */
  private[graft] def nearDupTables(t: Double, planesPerTable: Int): Int = {
    require(t > -1 && t <= 1, s"t must be in (-1, 1]: $t")
    val p = 1 - math.acos(t) / math.Pi
    val k = planesPerTable
    val p1 = math.pow(p, k) + k * math.pow(p, k - 1) * (1 - p)
    math.max(1, math.ceil(math.log(1 - NearDupRecall) / math.log(1 - p1)).toInt)
  }

  /** LSH-bucketed ANN: `tables` independent hyperplane sets of
    * `planesPerTable` bits each. A vector lands in one bucket per table;
    * the query set probes the corpus index through [[lshCandidates]],
    * then candidates are exactly re-ranked by cosine. Recall is tuned by
    * (tables × planesPerTable) and query-side multiprobe; candidate
    * volume per bucket is corpus/2^planes on average — this is the plan
    * that survives 100 TB, since no pair outside a shared bucket is ever
    * scored.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              tables: Int = 8, planesPerTable: Int = 6, dim: Int = 64,
              seed: Long = 42L, multiProbe: Boolean = false): DataFrame = {
    val isQuery = col(idCol).isin(queryIds: _*)
    // vectors are joined back from the ORIGINAL table once per surviving
    // pair (query side broadcast)
    val cand = lshCandidates(emb, idCol, vecCol, isQuery, _ =!= _, tables,
        planesPerTable, dim, seed, multiProbe)
      .toDF("query_id", "nbr_id")
      .join(emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec")), "nbr_id")
      .join(broadcast(emb.filter(isQuery)
        .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))), "query_id")
    val scored = cand.withColumn("cos_sim", cosineSim(col("query_vec"), col("nbr_vec")))
    rankTopK(scored, "query_id", k)
  }

  /** IVF (inverted-file) ANN: the second scale path, complementary to
    * [[lshTopK]] — better recall on soft-clustered data because probing
    * follows actual distance structure instead of random hyperplanes.
    *
    * 1. centroids = a deterministic FIXED-SIZE hash-order sample of the
    *    corpus itself (the `centroids` smallest by `xxhash64(id)` — a
    *    `TakeOrderedAndProject`, no full shuffle, no k-means iterations,
    *    no driver collect — the classic "random sample as coarse
    *    quantizer" IVF bootstrap);
    * 2. every corpus vector is assigned to its nearest centroid via a
    *    broadcast of the small centroid set + one partial-aggregated
    *    `max_by` — the shuffle carries one row per vector, not the
    *    n×C assignment pairs;
    * 3. each query probes its `nProbe` nearest centroids (same
    *    broadcast), and candidates are only the vectors in probed
    *    cells — a keyed equi-join on cent_id — then exact re-rank.
    *
    * At 100 TB: C is a FIXED dial (not a corpus fraction — an earlier
    * 1-in-mod sampling made assignment n×n/mod, i.e. quadratic), so
    * assignment is n×C cosine evaluations, the broadcast stays tiny,
    * and no pair outside a probed cell is scored. Size C ≈ √n and
    * nProbe/C for the recall/cost trade-off, as in any IVF index.
    */
  /** The IVF coarse quantizer: the `centroids` corpus vectors smallest
    * by `xxhash64(id)` — a deterministic fixed-size sample that Spark
    * executes as `TakeOrderedAndProject` (per-partition top-C, no full
    * sort/shuffle). |result| = min(centroids, |corpus|) by construction.
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: Int): DataFrame =
    emb.select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
      .orderBy(xxhash64(col("cent_id")).asc, col("cent_id").asc)
      .limit(centroids)

  /** Lloyd refinement of the coarse quantizer: `iters` rounds of
    * (assign to nearest centroid by cosine) → (centroid := per-cell
    * elementwise mean). The classic IVF training step on top of the
    * sample bootstrap. Each round costs one n×C broadcast assignment
    * plus one n×dim shuffle for the means — the standard k-means cost
    * shape, linear per round. DETERMINISTIC: per-dimension means
    * accumulate in DECIMAL(30,12), so aggregation order cannot perturb
    * the centroids (floats summed as doubles would make the index — and
    * any recall gate on it — flicker run to run). Emptied cells simply
    * disappear (|result| ≤ C stays true); centroid vectors come back as
    * double arrays, which every consumer (cosineSim) already accepts.
    */
  def ivfCentroidsRefined(emb: DataFrame, idCol: String, vecCol: String,
                          centroids: Int, iters: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    var cents = ivfCentroids(emb, idCol, vecCol, centroids)
    for (_ <- 1 to iters) {
      // tie-break on (similarity, cent_id): a bare max_by over the
      // similarity alone is aggregation-order dependent on exact
      // cosine ties (duplicate vectors sampled as two centroids), and
      // a flickering cell membership would defeat the decimal-mean
      // determinism this function promises
      val assigned = corpus.join(broadcast(cents))
        .groupBy(col("nbr_id"))
        .agg(max_by(col("cent_id"),
            struct(cosineSim(col("nbr_vec"), col("cent_vec")), col("cent_id"))).as("cent_id"),
          first(col("nbr_vec")).as("nbr_vec"))
      cents = assigned
        .select(col("cent_id"), posexplode(col("nbr_vec")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 12))) /
          count(lit(1))).cast("double").as("m"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cent_id"),
          transform(col("ps"), e => e.getField("m")).as("cent_vec"))
      cents = cents.localCheckpoint() // cut the per-round plan growth
    }
    cents
  }

  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              centroids: Int = 64, nProbe: Int = 8,
              refineIters: Int = 0): DataFrame = {
    val corpus = emb.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    val cents = broadcast(
      if (refineIters > 0) ivfCentroidsRefined(emb, idCol, vecCol, centroids, refineIters)
      else ivfCentroids(emb, idCol, vecCol, centroids))
    // nearest-centroid assignment: broadcast join, partial max_by, one
    // shuffle of n assignment rows; (similarity, cent_id) struct keys
    // the max so exact cosine ties break deterministically
    val assigned = corpus.join(cents)
      .groupBy(col("nbr_id"))
      .agg(
        max_by(col("cent_id"),
          struct(cosineSim(col("nbr_vec"), col("cent_vec")), col("cent_id"))).as("cent_id"),
        // every row in the group carries the same vector → deterministic
        first(col("nbr_vec")).as("nbr_vec"))
    // query-side: top-nProbe cells per query
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("probe_sim").desc, col("cent_id").asc)
    val probes = queries.join(cents)
      .withColumn("probe_sim", cosineSim(col("query_vec"), col("cent_vec")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nProbe)
      .select("query_id", "query_vec", "cent_id")
    // candidates: only vectors in probed cells; exact re-rank
    val cand = assigned.join(probes, Seq("cent_id"))
      .filter(col("nbr_id") =!= col("query_id"))
    val scored = cand.withColumn("cos_sim", cosineSim(col("query_vec"), col("nbr_vec")))
    rankTopK(scored, "query_id", k)
  }

  /** Embedding-cosine near-dup pairs (id_a < id_b, cos >= t): the
    * corpus self-joined through [[lshCandidates]] (every row probes,
    * id_a is the probing side), then both vectors are joined back for
    * the exact verify — the embedding flavor of near-duplicate
    * detection. Multiprobe here multiplies a CORPUS-sized side by
    * (planesPerTable + 1): still linear, a real dial that callers trade
    * against tables ([[nearDupTables]] sizes the latter).
    */
  def cosineNearDup(emb: DataFrame, idCol: String, vecCol: String, t: Double,
                    tables: Int = 8, planesPerTable: Int = 6, dim: Int = 64,
                    seed: Long = 42L, multiProbe: Boolean = false): DataFrame =
    lshCandidates(emb, idCol, vecCol, lit(true), _ < _, tables,
        planesPerTable, dim, seed, multiProbe)
      .toDF("id_a", "id_b")
      .join(emb.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")), "id_a")
      .join(emb.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")), "id_b")
      .withColumn("cos_sim", cosineSim(col("vec_a"), col("vec_b")))
      .filter(col("cos_sim") >= t)
      .select("id_a", "id_b", "cos_sim")

  /** Symmetric per-vector int8 quantization of an embedding column —
    * the memory lever that makes billion-vector ANN fit executor RAM
    * (4× smaller than float32, 8× than the double intermediates).
    * scale = max|x|/127; code = floor(x/scale + 0.5) ∈ [−127, 127]
    * (x = ±max|x| lands exactly on ±127, so no clipping branch); the
    * all-zero vector quantizes to zeros at scale 0. Every step is a
    * plain IEEE double chain written identically in the q78 twin, so
    * codes — not just their stats — are engine-exact.
    *
    * Returns (vec_id, scale, codes, max_abs_err) with max_abs_err =
    * max elementwise |x − code·scale| — an ORDER-INDEPENDENT
    * reconstruction bound (a mean would sum doubles in engine-defined
    * order), ≤ scale/2 by construction.
    *
    * HOF discipline: maxabs is materialized as a column (with the
    * inert barrier) BEFORE the code lambda divides by it, and codes
    * before the error lambda reads them — the Dedup.shingles
    * re-inlining trap, which would otherwise re-evaluate the
    * maxabs reduction once per element (64× on these vectors).
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    val p1 = emb.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .filter(coalesce(col("maxabs") >= -1, lit(true)))
    val p2 = p1.select(col("vec_id"), col("v"),
        (col("maxabs") / lit(127.0)).as("scale"),
        when(col("maxabs") === 0,
          transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => floor(x / (col("maxabs") / lit(127.0)) + lit(0.5))
              .cast("int")))
          .as("codes"))
      .filter(coalesce(size(col("codes")) >= -1, lit(true)))
    p2.select(col("vec_id"), col("scale"), col("codes"),
      array_max(zip_with(col("v"), col("codes"),
        (x, c) => abs(x - c * col("scale")))).as("max_abs_err"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space, then prune near-identical vectors WITHIN each
    * cluster — the published recipe for semantic (not string-level)
    * dedup of web corpora. Drop rule, deterministic: a vector is
    * dropped iff SOME lower-id vector in its cluster has cosine ≥ `t`
    * to it; the reported `dup_of` is the best such partner
    * (max cos, then min id). Returns (kept, dropped-manifest) — the
    * [[Curation.decontaminate]] contract shape.
    *
    * `cents` is the caller's quantizer (any (id, vec) frame —
    * [[ivfCentroids]], [[ivfCentroidsRefined]], or a plain id-range
    * slice when the choice must be SQL-reproducible, as q74's oracle
    * twin requires). Assignment ties break (max cos, min cent_id),
    * matching a `row_number() OVER (ORDER BY sim DESC, cent_id)` twin.
    *
    * Scale design — the paper's own cost model: assignment is an n×C
    * broadcast; the pairwise stage is Θ(Σ_c m_c²), made tractable by C
    * keeping cluster sizes bounded (C grows with the corpus so n/C
    * stays fixed; SemDeDup runs with tens of thousands of clusters at
    * web scale). The quadratic term lives INSIDE a keyed equi-join on
    * cent_id — never a corpus cross join — so a hot cluster is a skew
    * problem (AQE-splittable), not a plan problem.
    */
  /** The within-cluster pair graph behind [[semDedup]] — also the edge
    * input for SEMANTIC duplicate clustering
    * ([[Dedup.connectedComponents]], q81): all (id_a < id_b) pairs
    * sharing a cluster with cosine ≥ t, plus the cluster id. Returned
    * PERSISTED (the hashedShingles contract): the caller releases it
    * via `materializeAndRelease(result, pairs)`; the internal
    * assignment cache is already released here.
    */
  def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                    cents: DataFrame, centIdCol: String,
                    centVecCol: String, t: Double): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val c = broadcast(cents.select(col(centIdCol).as("cent_id"),
      col(centVecCol).as("cv")))
    // nearest-centroid assignment; (sim, -cent_id) struct ⇒ exact ties
    // pick the SMALLEST cent_id, the twin's ORDER BY sim DESC, cent_id
    val assigned = e.join(c)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"),
          struct(cosineSim(col("v"), col("cv")),
            negate(col("cent_id")))).as("cent_id"),
        first(col("v")).as("v"))
      .persist() // both sides of the within-cluster join
    val b = assigned.select(col("vec_id").as("id_b"), col("cent_id"),
      col("v").as("bv"))
    val pairs = assigned
      .select(col("vec_id").as("id_a"), col("cent_id"), col("v"))
      .join(b, Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosineSim(col("v"), col("bv")))
      .filter(col("cos_sim") >= t)
      .select(col("id_a"), col("id_b"), col("cent_id"), col("cos_sim"))
    Dedup.materializeAndRelease(pairs, assigned)
  }

  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               cents: DataFrame, centIdCol: String, centVecCol: String,
               t: Double): (DataFrame, DataFrame) = {
    val pairs = semDedupPairs(emb, idCol, vecCol, cents, centIdCol,
      centVecCol, t)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("dup_of").asc)
    val dropped = Dedup.materializeAndRelease(
      pairs
        .select(col("id_b").as("vec_id"), col("cent_id"),
          col("id_a").as("dup_of"), col("cos_sim"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("vec_id"), col("cent_id"), col("dup_of"),
          col("cos_sim")),
      pairs)
    val kept = emb.join(dropped.select(col("vec_id").as(idCol)), Seq(idCol),
      "left_anti")
    (kept, dropped)
  }

  /** Deterministic signed random projection (the Achlioptas/SRP family
    * with ±1 entries) from `dims` input dimensions to `outDims`
    * components, in EXACT integer fixed point: the projection matrix
    * entry sign(k, d) is derived from `md5("k:d")` (first hex char ≥
    * '8' → +1, else −1) — a data-independent pseudo-random matrix BOTH
    * engines can regenerate symbolically — and each component is
    * Σ_d sign(k,d)·⌊v_d·10⁹ + 0.5⌋, an int64 sum of int64 terms
    * (|xi| ≤ ~2·10⁹, so 64 dims stay ≤ ~1.4·10¹¹ — far under 2⁶³ and
    * under the 2⁵³ double gate for any display math downstream).
    *
    * Scale shape: the sign matrix is an outDims×dims LITERAL baked
    * into the plan (computed from constants at plan build — no data
    * dependence, no driver collect), and the projection is a per-row
    * codegen'd fold: ZERO shuffles, ZERO joins — the embedding table
    * streams through map-side only. This is the dimensionality-
    * reduction front half of scalable ANN recall (q24/q25 gate recall;
    * this op is exactly reproducible, so it hash-gates directly).
    *
    * Output: (vec_id, k, proj) — one row per vector per component,
    * ordered by (vec_id, k).
    */
  def srpProject(emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dims: Int): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1: $outDims")
    require(dims >= 1, s"dims must be >= 1: $dims")
    val signs: Seq[Seq[Long]] = (0 until outDims).map { k =>
      (0 until dims).map { d =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$k:$d".getBytes("UTF-8"))
        if (((hex(0) >> 4) & 0xf) >= 8) 1L else -1L
      }
    }
    emb
      .withColumn("__xi", transform(col(vecCol),
        v => floor(v.cast("double") * lit(1e9) + lit(0.5)).cast("long")))
      .withColumn("__proj", transform(typedLit(signs), row =>
        aggregate(zip_with(row, col("__xi"), (s, x) => s * x),
          lit(0L), (acc, e) => acc + e)))
      .select(col(idCol).as("vec_id"),
        posexplode(col("__proj")).as(Seq("k", "proj")))
      .select(col("vec_id"), col("k").cast("long").as("k"), col("proj"))
      .orderBy(col("vec_id"), col("k"))
  }

  /** Bucket-load audit for the SRP sign-code LSH table: pack the
    * [[srpProject]] component signs into an `outDims`-bit code
    * (bit k = proj_k ≥ 0) and histogram the codes — the skew check a
    * bucketed ANN join needs BEFORE it runs (one overloaded bucket
    * turns the candidate join quadratic; a healthy SRP table is
    * near-uniform). 2^k goes through double `pow` (exact to 2⁵³ —
    * outDims ≤ 52 by far) identically on both engines.
    *
    * Scale shape: per-row code computation (zero joins) + one
    * ≤2^outDims-key aggregate; the share denominator rides the
    * aggregate output through a tiny global window.
    *
    * Output: (code, n, share) ordered by (n DESC, code).
    */
  def srpCodeHistogram(emb: DataFrame, idCol: String, vecCol: String,
      outDims: Int, dims: Int): DataFrame = {
    val codes = srpProject(emb, idCol, vecCol, outDims, dims)
      .groupBy(col("vec_id"))
      .agg(sum(when(col("proj") >= 0,
        pow(lit(2.0), col("k").cast("double")).cast("long"))
        .otherwise(lit(0L))).as("code"))
    val w = Window.partitionBy() // ≤ 2^outDims rows after the agg
    codes.groupBy(col("code")).agg(count(lit(1)).as("n"))
      .withColumn("share", hashSafeRound(
        col("n").cast("double") / sum(col("n")).over(w).cast("double"), 9))
      .orderBy(col("n").desc, col("code"))
  }

  /** Pairwise cosine similarity between per-label centroid embeddings
    * — the class-geometry audit ("which labels' clusters point the
    * same way") read before trusting labels for splits or
    * decontamination. Exactness: coordinates are quantized to nano
    * units (the q159 idiom), per-(label, dim) sums are exact
    * DECIMAL(38,0), and cosine(mean_a, mean_b) = cosine(sum_a, sum_b)
    * (scale invariance — means are never materialized, no division
    * until the end), so dot and norms are exact integer arithmetic;
    * the ONE double chain per pair is dot/√(naa·nbb), a sqrt output →
    * [[graft.functions.hashSafeRound]] at 9. Int64 headroom: per-dim
    * sums ≤ n·2e9 → products fit DECIMAL(38,0)/HUGEINT up to ~1e8 rows
    * per label; past that, coarsen the quantum.
    *
    * Scale: one explode pass over the corpus into (label, dim) keyed
    * sums — |labels|·dims rows out — then an all-pairs join over that
    * TINY table (|labels|² · dims intermediate, nothing corpus-sized).
    */
  /** Effective dimensionality of the embedding cloud — the
    * participation ratio PR = (Σ_d λ_d)² / Σ_d λ_d² over the PER-DIM
    * variances (the diagonal of [[embeddingCovariance]]; full-PCA PR
    * would use eigenvalues, the diagonal is the standard cheap proxy):
    * PR ≈ 1 when one dimension carries all the variance, ≈ dims when
    * variance is isotropic — the "how much of this 64-dim space is
    * actually used" audit read before choosing an index or a
    * projection. Exactness: coordinates quantize to MILLI units
    * (coarser than the nano idiom ON PURPOSE — the per-dim variance
    * numerator n·Σx²−(Σx)² must stay small enough that its square is
    * exactly representable through the decimal path), moments and
    * variance numerators accumulate in DECIMAL(38,0), and PR is
    * scale-invariant in the numerator (var_num = n²·var, the n⁴ and
    * quantum factors cancel), so nothing divides until the ONE double
    * chain S1²/S2 at the end — an irrational-class output, rounded
    * via [[graft.functions.hashSafeRound]] at 9 (PR ≤ dims, so a
    * 1-ulp decimal→double conversion difference sits ~1e-14 absolute,
    * far under the gate).
    *
    * Scale: one explode pass into (dim)-keyed exact moments — dims
    * rows out — then a dims-row aggregate. No pairs, no windows over
    * data, no collect.
    */
  def effectiveDimensionality(emb: DataFrame, vecCol: String,
      quantUnit: Long = 1000L): DataFrame = {
    require(quantUnit >= 1, s"quantUnit must be >= 1: $quantUnit")
    val perDim = emb
      .withColumn("__xi", transform(col(vecCol),
        v => floor(v.cast("double") * lit(quantUnit.toDouble) + lit(0.5))
          .cast("long")))
      .select(posexplode(col("__xi")).as(Seq("dim", "xi")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xi").cast("decimal(38,0)")).as("sx"),
        sum(col("xi").cast("decimal(38,0)") * col("xi")).as("sxx"))
      .select(col("n"),
        (col("n").cast("decimal(38,0)") * col("sxx") -
          col("sx") * col("sx")).as("var_num"))
    // Binding row-count envelope (ADVICE r11): the squared term below
    // is var_num² with var_num = n²·Var[x]·quantUnit² ≤ n²·B² for
    // per-dim bound B = quantUnit·max|x|; DECIMAL(38,0) holds it while
    // n²·B ≤ ~10¹⁹, i.e. n ≲ 3·10⁶ rows for unit-scale embeddings at
    // the default milli quantum (looser when per-dim variance ≪ B²).
    // Past that, COARSEN quantUnit — PR is quantization-invariant up
    // to the quantization error, and every factor of 10 off the
    // quantum buys 10× in n. In non-ANSI Spark an overflowed product
    // would become NULL and sum() would silently SKIP the dimension
    // (silent-wrong, where the DuckDB twin's HUGEINT errors loudly) —
    // so overflow is counted per-row and the operator FAILS LOUDLY
    // instead of returning a PR over a subset of dimensions.
    val sq = col("var_num") * col("var_num")
    perDim
      .agg(count(lit(1)).as("n_dims"), max(col("n")).as("n_rows"),
        sum(col("var_num")).as("s1"),
        sum(sq).as("s2"),
        sum(when(sq.isNull, lit(1L)).otherwise(lit(0L))).as("n_overflow"))
      .filter(col("s2") > 0)
      .select(col("n_rows"), col("n_dims"),
        when(col("n_overflow") > 0 || col("s1").isNull,
          raise_error(concat(lit("effectiveDimensionality: DECIMAL(38,0) " +
            "overflow on var_num² in "), col("n_overflow").cast("string"),
            lit(" dims — coarsen quantUnit (see scaladoc envelope)"))))
          .otherwise(hashSafeRound(
            (col("s1").cast("double") * col("s1").cast("double")) /
              col("s2").cast("double"), 9)).as("pr_effective_dims"))
  }

  def labelCentroidCosine(emb: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    // Labels MUST be integral: the long cast below is what makes the
    // label a stable join/group key across engines, and a silent
    // string→null cast would collapse every row into one null
    // centroid. Fail loudly instead (knnLabelAgreement next door
    // accepts arbitrary label types; this operator does not).
    val lblType = emb.schema(labelCol).dataType
    require(Seq("byte", "short", "integer", "long")
        .contains(lblType.typeName),
      s"labelCentroidCosine needs an integral label column; " +
        s"'$labelCol' is ${lblType.typeName}")
    val sums = emb
      .withColumn("__xi", transform(col(vecCol),
        v => floor(v.cast("double") * lit(1e9) + lit(0.5)).cast("long")))
      .select(col(labelCol).cast("long").as("lbl"),
        posexplode(col("__xi")).as(Seq("dim", "xi")))
      .groupBy("lbl", "dim")
      .agg(sum(col("xi").cast("decimal(20,0)")).as("s"),
        count(lit(1)).as("n"))
    val a = sums.select(col("lbl").as("label_a"), col("dim"),
      col("s").as("sa"), col("n").as("na"))
    val b = sums.select(col("lbl").as("label_b"), col("dim"),
      col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("dim"))
      .filter(col("label_a") <= col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("naa"),
        sum(col("sb") * col("sb")).as("nbb"))
      .filter(col("naa") > 0 && col("nbb") > 0)
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        hashSafeRound(col("dot").cast("double") /
          (sqrt(col("naa").cast("double")) *
            sqrt(col("nbb").cast("double"))), 9).as("centroid_cos"))
      .orderBy("label_a", "label_b")
  }
}
