package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Deduplication operators for large-scale text corpora. All variants
  * are hash/bucket-partitioned — no crossJoin anywhere — so candidate
  * generation scales as the inverted index / band buckets, not O(n²).
  *
  * Exact dedup mirrors the reference's content-hash surrogate key idea
  * (ref darkpool_trades/main.py:88-92: SHA-256 over identifying fields).
  */
object Dedup {

  /** ceil guarded against double-rounding-UP: for thresholds like
    * t = 0.1 whose product `t * sz` can land one ulp ABOVE the true
    * rational value, a plain ceil over-counts by 1 and the candidate
    * filters would silently over-prune true pairs. Subtracting 1e-9
    * (far above one ulp at these magnitudes, far below the 1/sz
    * quantum that separates distinct thresholds for any sz < 1e8)
    * restores the exact integer ceiling in both directions.
    */
  private def ceilSafe(x: Column): Column = ceil(x - lit(1e-9))

  /** Exact dedup: canonical SHA-256 over normalized text; each content
    * group keeps its smallest id. One hash-partitioned aggregate.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("content_hash", sha2(normText(col(textCol)), 256))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_count"))

  /** Duplication report over [[exact]]'s content groups: cluster-size
    * histogram (how many content groups have exactly `size` copies,
    * how many documents that is, and each size's share of the corpus)
    * — the one-page dedup summary read before choosing thresholds.
    * Everything after the exact-dedup aggregate is |sizes| rows; the
    * corpus share is a pinned integer→double division against a
    * broadcast 1-row total.
    */
  def dupSizeHistogram(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val h = exact(docs, idCol, textCol)
      .groupBy(col("dup_count").as("size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
    val total = h.agg(sum(col("n_docs")).as("n_total"))
    h.crossJoin(broadcast(total))
      .select(col("size"), col("n_clusters"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("doc_share"))
      .orderBy("size")
  }

  /** Survivorship report of [[exact]] by a grouping column (source,
    * domain, language …): per group — documents in, documents KEPT
    * (the group owns the content group's canonical, i.e. the globally
    * minimal id), documents dropped, and of the dropped how many lost
    * to a canonical in a DIFFERENT group. The report data teams read
    * after global dedup: per-source retention AND the cross-source
    * flow (a source whose content systematically loses to another
    * source's earlier copies shrinks in the training mix even though
    * nothing "filtered" it).
    *
    * Scale shape: the same hash-keyed content aggregate as [[exact]],
    * one id-keyed join to recover each canonical's group (a narrow
    * (id, group) self-projection — equi-join, shuffle-partitioned on
    * id), then ONE per-group aggregate. No pair explosion anywhere;
    * everything is corpus-linear. drop_share is a single int64→double
    * division rounded to 9 dp.
    */
  def survivorship(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val base = docs.select(col(groupCol).as("grp"), col(idCol).as("id"),
      sha2(normText(col(textCol)), 256).as("content_hash"))
    val canon = base.groupBy(col("content_hash"))
      .agg(min(col("id")).as("canonical_id"))
    val canonGrp = base.select(col("id").as("canonical_id"),
      col("grp").as("canonical_grp"))
    base.join(canon, "content_hash")
      .join(canonGrp, "canonical_id")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("id") === col("canonical_id"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("id") =!= col("canonical_id"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("id") =!= col("canonical_id") &&
            col("grp") =!= col("canonical_grp"), 1L).otherwise(0L))
          .as("n_lost_cross_group"))
      .withColumn("drop_share", hashSafeRound(
        col("n_dropped").cast("double") / col("n_docs").cast("double"), 9))
      .orderBy(col("grp"))
  }

  /** Shingle table: (id, sh: array<string>, sz) with distinct word
    * n-grams of the normalized text.
    *
    * Two-step on purpose: the token array is materialized as a column
    * BEFORE the n-gram `transform` runs. Inlining `tokens(text)` into
    * the lambda makes Spark re-evaluate the whole normalize+split per
    * array element (no CSE inside lambda bodies) — measured 27× slower
    * at sf0.1 (20.7 s vs 0.8 s for the gram stage alone). The
    * min-length filter BETWEEN the two projections references `toks`,
    * so `PushDownPredicates` cannot sink it and `CollapseProject`
    * cannot re-merge the projections (which would silently re-inline
    * the tokenizer into the lambda — it did, costing the full 15 s).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("id"), wordShingles(col("toks"), n).as("sh"))
      .withColumn("sz", size(col("sh")))

  /** The PERSISTED hashed-shingle table `(id, sh: array<long>, sz)` —
    * the one optimizer-sensitive projection shared by the Jaccard join
    * and Curation.decontaminate, kept in exactly one place so the
    * no-filter-between-projections / cache-boundary rules cannot
    * silently diverge between consumers. `materialize = true` forces
    * the cache before returning — required when the consumer's FIRST
    * action would otherwise optimize against the raw parquet plan and
    * re-inline the shingle lambda chain (measured 20× on the dedup
    * pipelines). The Jaccard join passes `false`: its consuming
    * projection keeps `sh` multi-referenced (CollapseProject's
    * multi-reference rule holds the projections apart) and its first
    * action is the cheap df-count pass.
    */
  private[graft] def hashedShingles(docs: DataFrame, idCol: String,
                                    textCol: String, n: Int,
                                    materialize: Boolean): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
      .select(col("id"),
        transform(col("sh"), s => xxhash64(s)).as("sh"), col("sz"))
      .persist()
    if (materialize) sh.count()
    sh
  }

  /** Physical strategy for [[jaccardSimilarityJoin]]. Both strategies
    * compute the IDENTICAL exact pair set (DedupSpec pins equality on
    * the fuzz corpora and the brute-force property); they differ only
    * in shuffle structure, so the choice is a pure cost decision:
    *
    *  - [[JaccardStrategy.PrefixIndex]] — PPJoin-style rarest-prefix
    *    inverted index + positional/length pruning + posting-list
    *    verify (~9 shuffle stages). Candidate volume is bounded by the
    *    PREFIX index, so a shingle shared by every document contributes
    *    almost nothing (hot shingles rank last and fall outside most
    *    prefixes). The safe default for boilerplate-heavy corpora.
    *  - [[JaccardStrategy.PostingCount]] — one posting-list self-join
    *    counts every co-occurring pair's intersection directly
    *    (3 shuffle stages). Shuffle volume is Σ_s df(s)·(df(s)−1)/2 —
    *    unbeatable when the df distribution is flat (measured 2.7×
    *    faster than PrefixIndex at sf0.1 where max df = 25), quadratic
    *    disaster when one shingle is corpus-hot.
    *  - [[JaccardStrategy.Auto]] — CBO-style: one aggregate over the
    *    document-frequency table (a pass the prefix path pays anyway to
    *    rank shingles) computes both the posting volume and the exact
    *    pair-row volume the direct join would shuffle, and picks
    *    PostingCount only when the latter is within
    *    `directPairBudgetFactor` of the former.
    */
  sealed trait JaccardStrategy
  object JaccardStrategy {
    case object Auto extends JaccardStrategy
    case object PrefixIndex extends JaccardStrategy
    case object PostingCount extends JaccardStrategy
  }

  /** Auto admits the direct posting self-join when its pair-row shuffle
    * volume stays within this factor of the posting volume itself (the
    * volume ANY strategy already shuffles to build df counts). 16× at
    * avg doc size ~50 shingles means direct work per doc stays in the
    * hundreds-of-rows range; the 10×-clone stress corpus (every shingle
    * df ≈ 100, ratio ≈ 48) correctly routes to PrefixIndex.
    */
  private[graft] val DirectPairBudgetFactor = 16L

  private[graft] def directWithinBudget(pairRows: Double,
                                            postings: Double): Boolean =
    pairRows <= DirectPairBudgetFactor * postings

  /** Exact n-gram Jaccard similarity self-join. Two physical
    * strategies, chosen cost-based by default (see [[JaccardStrategy]]):
    * PPJoin-style prefix filtering — shingles ranked by global document
    * frequency (rarest first); two docs can reach Jaccard >= t only if
    * their rank-sorted prefixes of length |s| - ceil(t*|s|) + 1 share a
    * shingle, so the inverted index is built over prefixes only and
    * candidates are verified with the exact intersection — or a direct
    * posting-count self-join when the df distribution proves it cheap.
    * Every stage of either strategy is a keyed shuffle (shingle / id /
    * pair) — no crossJoin, scales as the index, not as n².
    *
    * Returns (id_a, id_b, inter, union_sz, jaccard) for pairs with
    * jaccard >= t, id_a < id_b.
    *
    * @param prefixDfCap OPTIONAL recall dial for corpora with very hot
    *   shingles: prefix entries with document frequency > cap are
    *   dropped from the inverted INDEX only (verification stays exact,
    *   so no false positives ever). A qualifying pair is missed only if
    *   EVERY shingle its two prefixes share is hotter than the cap —
    *   i.e. boilerplate-only overlap. None (default) = exact. Setting
    *   the cap forces the PrefixIndex strategy (the dial exists only
    *   there).
    */
  def jaccardSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, t: Double,
                            prefixDfCap: Option[Long] = None,
                            strategy: JaccardStrategy = JaccardStrategy.Auto): DataFrame = {
    // The shingle table feeds four branches of this DAG (df-count,
    // ranking, and both sides of the verify); without persisting, Spark
    // re-tokenizes the corpus once per branch. At cluster scale this is
    // the standard "materialize the shingle index once" step.
    //
    // Shingles are hashed to 64-bit longs once, up front: every
    // downstream stage (df-count groupBy, rank sort, prefix-index
    // self-join, exact intersect) then keys/compares fixed-width longs
    // instead of ~30-char strings. Set cardinalities are preserved
    // modulo 64-bit collisions inside one document's ~50-shingle set
    // (P ≈ sz²/2⁶⁵ ≈ 1e-16 — far below any practical concern; the
    // rarest-first total order just becomes hash order, and prefix
    // filtering is valid for ANY fixed global order).
    //
    // NO filter between the gram and hash projections: an earlier
    // always-true `sz > 0` "CollapseProject barrier" was PUSHED DOWN
    // by PushDownPredicates with the full shingle expression inlined —
    // the Filter at the scan re-tokenized every row (with per-element
    // re-split inside the gram lambda), costing ~20× the legitimate
    // work (14.6 s vs 0.7 s measured at sf0.1). CollapseProject's
    // multi-reference rule alone keeps the projections apart here
    // (`sh` is referenced by both the hash transform and `sz`).
    val sh = hashedShingles(docs, idCol, textCol, n, materialize = false)

    // global shingle document-frequency → rarest-first total order
    val dfreq = sh.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))

    val chosen = (strategy, prefixDfCap) match {
      case (_, Some(_)) => JaccardStrategy.PrefixIndex // the dial lives there
      case (JaccardStrategy.Auto, None) =>
        // CBO pass: same posting-volume shuffle the prefix path pays to
        // rank shingles (and the first action against `sh`, populating
        // its cache either way). Σ df(df−1)/2 is the EXACT row count the
        // direct self-join would shuffle — an upper bound on nothing,
        // so the decision cannot be fooled by skew hiding in an average.
        // doubles on purpose: df·(df−1) overflows LONG once one shingle
        // nears 3e9 docs, and a wrapped-negative sum would wrongly admit
        // the direct join exactly on the corpus that must avoid it. The
        // 16× threshold needs no more precision than a double carries.
        val stats = dfreq.agg(
          coalesce(sum(col("df").cast("double")), lit(0.0)).as("postings"),
          coalesce(sum(col("df").cast("double") * (col("df") - lit(1L)).cast("double")),
            lit(0.0)).as("pair_rows_x2")).head()
        if (directWithinBudget(stats.getDouble(1) / 2, stats.getDouble(0)))
          JaccardStrategy.PostingCount
        else JaccardStrategy.PrefixIndex
      case (s, None) => s
    }

    if (chosen == JaccardStrategy.PostingCount) {
      // Direct posting-count: one self-join on the shingle key counts
      // each co-occurring pair's exact intersection; sizes ride along in
      // the grouping key so no size-lookup joins are needed. 3 shuffles
      // total (df stats, join, pair groupBy) vs the index path's ~9 —
      // measured 2.7× faster at sf0.1, identical 256-pair output.
      val ex = sh.select(col("id"), col("sz"), explode(col("sh")).as("s"))
      val out = ex.as("a").join(ex.as("b"), Seq("s"))
        .filter(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("a.sz").as("sz_a"),
          col("b.id").as("id_b"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("union_sz",
          (col("sz_a") + col("sz_b")).cast("long") - col("inter"))
        .withColumn("jaccard",
          col("inter").cast("double") / col("union_sz").cast("double"))
        .filter(col("jaccard") >= t)
        .select("id_a", "id_b", "inter", "union_sz", "jaccard")
      return materializeAndRelease(out, sh)
    }

    // per-doc shingles sorted by (df, s); keep the filtering prefix
    val prefixLen = (col("sz") - ceilSafe(lit(t) * col("sz")) + 1).cast("int")
    val ranked = sh.select(col("id"), col("sz"), explode(col("sh")).as("s"))
      .join(dfreq, "s")
      .groupBy(col("id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("sorted"))
      .select(col("id"), col("sz"),
        slice(col("sorted"), lit(1), prefixLen).as("prefix")) // (df, s) structs
      .persist() // both sides of the candidate self-join read this

    // inverted index over prefixes → candidate pairs. Pruning before
    // the distinct: (1) length filter — |b| >= t|a| is necessary for
    // J >= t; (2) PPJoin positional filter — if the matched shingle is
    // at 0-based rank p in the rarest-first order, at most sz - p
    // shingles of that doc can still be common, so
    // min(sz_a - p_a, sz_b - p_b) bounds the overlap from above and
    // must reach the overlap threshold O = ceil(t/(1+t) * (sz_a+sz_b)).
    // Both filters are exact (no true pair is lost: the first common
    // shingle in the global order realizes the largest bound).
    val idx0 = ranked.select(col("id"), col("sz"),
        posexplode(col("prefix")).as(Seq("p", "e")))
      .select(col("id"), col("sz"), col("p"),
        col("e.s").as("s"), col("e.df").as("df"))
    // df-cap prunes INDEX entries only; `p` keeps the original prefix
    // rank, so the positional filter below stays valid on survivors
    val idx = prefixDfCap.map(cap => idx0.filter(col("df") <= cap))
      .getOrElse(idx0).select("id", "sz", "p", "s")
    val overlapMin =
      ceilSafe(lit(t / (1 + t)) * (col("a.sz") + col("b.sz")))
    val cand = idx.as("a").join(idx.as("b"), Seq("s"))
      .filter(col("a.id") < col("b.id") &&
        col("b.sz") >= ceilSafe(lit(t) * col("a.sz")) &&
        col("a.sz") >= ceilSafe(lit(t) * col("b.sz")) &&
        least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) >= overlapMin)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()

    materializeAndRelease(verifyJaccard(cand, sh, t), sh, ranked)
  }

  /** Caching contract for the dedup joins: the corpus-sized shingle
    * intermediates are persisted only for the duration of the call —
    * the (small) result is materialized into the cache here and the
    * intermediates unpersisted before returning, so repeated library
    * calls cannot accrete corpus-sized cached blocks for the session's
    * lifetime. The returned DataFrame IS cached (pairs — orders of
    * magnitude smaller than the corpus); callers that are fully done
    * with it may `.unpersist()` it.
    */
  private[graft] def materializeAndRelease(result: DataFrame,
                                    intermediates: DataFrame*): DataFrame = {
    val out = result.persist()
    out.count() // force: populate the result cache while inputs are hot
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the shingle table; emits pairs meeting the threshold.
    *
    * Intersection sizes come from a POSTING-LIST JOIN (candidates ×
    * exploded shingles, matched on (id_b, shingle), counted per pair)
    * rather than per-row `array_intersect` — the join stays inside
    * whole-stage codegen and measured 2.5× faster at sf0.1, and at
    * cluster scale it shuffles narrow (pair, shingle) rows instead of
    * carrying both full shingle arrays onto every candidate row. A
    * candidate with an empty intersection disappears at the inner join,
    * which is correct: it cannot meet any t > 0.
    */
  def verifyJaccard(cand: DataFrame, sh: DataFrame, t: Double): DataFrame = {
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val sizes = sh.select(col("id"), col("sz"))
    cand
      .join(ex.select(col("id").as("id_a"), col("s")), "id_a")
      .join(ex.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("union_sz", (col("sz_a") + col("sz_b")).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_sz").cast("double"))
      .filter(col("jaccard") >= t)
      .select("id_a", "id_b", "inter", "union_sz", "jaccard")
  }

  /** Exact CONTAINMENT join: pairs (id_a, id_b) where document a's
    * normalized token sequence is a word-boundary substring of
    * document b's — the curation step that drops quotes, excerpts, and
    * partial re-posts that exact-hash dedup misses (equal texts are
    * mutual containments; they orient by id). Only docs with >= n
    * tokens participate (the shingle-eligibility floor shared with the
    * Jaccard joins).
    *
    * Index shape: each doc is indexed under its single globally-RAREST
    * shingle (min (df, s) — deterministic). If a is a token-substring
    * of b, EVERY a-shingle occurs in b — in particular a's rarest — so
    * joining that one entry per doc against the full posting list is a
    * complete candidate generator: candidate volume is Σ_a df(rarest(a))
    * — one narrow row per (candidate container) per doc, nothing
    * quadratic — and the rarest choice minimizes that fan-out. The
    * verify is an exact `contains` over space-joined normalized text
    * padded with sentinels, so "cat" never matches inside
    * "concatenate".
    */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    val sh = hashedShingles(docs, idCol, textCol, n, materialize = false)
    materializeAndRelease(
      containmentJoinPreShingled(sh, docs, idCol, textCol), sh)
  }

  /** [[containmentJoin]] over a CALLER-OWNED hashed-shingle table
    * (`sh` = [[hashedShingles]] of `docs` at the same n — the caller
    * persists it, shares it with other consumers, and releases it).
    * Returns the UNMATERIALIZED pair frame; row-identical to
    * [[containmentJoin]] by construction (the public wrapper delegates
    * here), pinned by ShingleSeamSpec. Exists so pipelines that also
    * shingle (a subset of) the same corpus — q50's decontamination
    * stage — pay the tokenize+shingle pass ONCE instead of once per
    * operator (a doubled full-corpus pass at production scale).
    */
  private[graft] def containmentJoinPreShingled(sh: DataFrame,
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // one index entry per doc: its rarest shingle under the global df
    // order (ties by hash — any FIXED total order keeps completeness)
    val rarest = ex.join(dfreq, "s")
      .groupBy(col("id"))
      .agg(min_by(col("s"), struct(col("df"), col("s"))).as("s"))
    val cand = rarest.as("a").join(ex.as("b"), Seq("s"))
      .filter(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    // exact verify on normalized text with sentinel padding; shorter
    // (or equal with smaller id) text must be the contained side.
    // normText stays BELOW the joins on purpose: candidates exceed the
    // document count on collision-prone corpora, so per-doc
    // normalization beats per-candidate recompute (the deferred
    // variant measured +0.8 s at sf0.1 — r16 probe).
    val nt = docs.select(col(idCol).as("__cid"),
      graft.functions.normText(col(textCol)).as("__nt"))
    val out = cand
      .join(nt.select(col("__cid").as("id_a"), col("__nt").as("nt_a")), "id_a")
      .join(nt.select(col("__cid").as("id_b"), col("__nt").as("nt_b")), "id_b")
      .filter(
        (length(col("nt_a")) < length(col("nt_b")) ||
          (length(col("nt_a")) === length(col("nt_b")) &&
            col("id_a") < col("id_b"))) &&
        concat(lit(" "), col("nt_b"), lit(" "))
          .contains(concat(lit(" "), col("nt_a"), lit(" "))))
      .select("id_a", "id_b")
    out
  }

  /** MinHash signature as ONE per-row expression: slot i is the min of
    * xxhash64(i, shingle) over the doc's shingle array — zero shuffle
    * (the original explode + k min-aggregates shape paid a full
    * shuffle of k agg columns for the same numbers). Since round 4 a
    * native codegen'd k×n loop ([[graft.expressions.MinHashSignature]])
    * replaces the nested interpreted `transform`/`array_min` lambdas,
    * BIT-IDENTICAL by construction (same XXH64 seed chain; DedupSpec
    * pins parity against the HOF formulation). Deterministic: xxhash64
    * is a fixed function of (slot, shingle).
    */
  def minhashSignature(sh: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.GraftColumnBridge.expression(sh), k))

  /** MinHash-LSH near-dup: signatures banded into `bands` groups of
    * `rows` slots; docs colliding on any band hash become candidates
    * (a keyed self-join per band bucket — no crossJoin), then candidates
    * are verified with the EXACT Jaccard so the output has no false
    * positives. Band/row counts tune recall at the target threshold:
    * P(detect) = 1 - (1 - J^rows)^bands — callers must size them so the
    * miss probability is negligible at the advertised threshold
    * (e.g. 32×2 → miss 1e-4 at J = 0.5, < 1e-9 at J = 0.7).
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int, t: Double, bands: Int, rows: Int): DataFrame = {
    // persist AND materialize the shingle table before deriving the
    // signatures: it feeds the signature branch and both sides of the
    // exact verify, and — decisively — the signature's first action
    // would otherwise optimize against the raw parquet plan and inline
    // the whole shingle transform into the 64-slot signature lambda
    // (re-evaluated once per slot). Reading from the materialized
    // cache makes the signature projection a plain map over stored
    // arrays: measured 23.8 s (old filter-barrier shape) → 13.5 s
    // (no barrier) → 1.8 s (materialized cache) at sf0.1.
    val sh = shingles(docs, idCol, textCol, n).persist()
    sh.count()
    // DEFENSIVE guard, not a reachable bug today: shingles() already
    // excludes docs with fewer than n tokens, so an empty `sh` array
    // cannot occur here. The invariant it protects is load-bearing
    // though — an empty-shingle doc would get an all-null signature,
    // colliding in the SAME bucket for every band (O(n_empty²)
    // candidates) — so the guard keeps it local instead of depending
    // on shingles()'s filter from three layers away. It sits on the
    // already-materialized cache, so it cannot re-inline the shingle
    // lambda into the signature projection; DedupSpec pins the
    // empty-doc behavior either way.
    val sig = sh.filter(size(col("sh")) > 0).select(col("id"),
      minhashSignature(col("sh"), bands * rows).as("sig"))
    val bandCols = (0 until bands).map { bnd =>
      val slice = (0 until rows).map(r => element_at(col("sig"), bnd * rows + r + 1))
      xxhash64(lit(bnd) +: slice: _*)
    }
    val buckets = sig.select(col("id"),
        posexplode(array(bandCols: _*)))
      .toDF("id", "band_idx", "band_hash")
    val cand = buckets.as("a").join(buckets.as("b"), Seq("band_idx", "band_hash"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    materializeAndRelease(verifyJaccard(cand, sh, t), sh)
  }

  /** 64-bit SimHash over tokens: bit i of the fingerprint is the
    * majority vote of bit i of xxhash64(token) (sign of the classic ±1
    * sum). Since round 4 a per-row native expression
    * ([[graft.expressions.SimHashXx64]]) — no explode, no shuffle, no
    * 64-column aggregate; bit-identical to the explode + sum(when)
    * formulation (DedupSpec parity).
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    docs.select(col(idCol).as("id"),
      toCol(graft.expressions.SimHashXx64(
        toExpr(tokens(col(textCol))))).as("simhash"))
  }

  /** 64-bit PORTABLE SimHash: bit i (0..31) = majority over tokens of
    * (hex digit i of md5(token) >= '8') — the high bit of each of md5's
    * 32 hex digits — and bits 32..63 the same over md5('x' || token)
    * (a second salt for 32 more independent bits). md5 produces
    * identical lowercase hex in Spark and DuckDB, so an oracle can
    * recompute the fingerprint — and the exact near-dup pair set —
    * bit-for-bit in SQL, unlike the xxhash64-based [[simhash]].
    *
    * Since round 4 this is ONE per-row native expression
    * ([[graft.expressions.SimHashPortable64]]) — no explode, no
    * shuffle, no 64-column aggregate; the former explode +
    * codegen'd-sums formulation is pinned bit-identical in DedupSpec.
    */
  def simhashPortable64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    docs.select(col(idCol).as("id"),
      toCol(graft.expressions.SimHashPortable64(
        toExpr(tokens(col(textCol))))).as("simhash"))
  }

  /** Near-dup pairs from any fingerprint table (id, simhash) within
    * `maxHamming` bits, via the pigeonhole band trick: split the
    * `bits`-wide fingerprint into maxHamming+1 chunks — any pair within
    * the bound MUST collide on >= 1 chunk (pigeonhole; the candidate
    * set is provably complete, not probabilistic) — keyed join on
    * (chunk_idx, chunk_value), then exact hamming via bit_count(xor).
    */
  def hammingPairs(fp: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    require(chunks <= bits, s"maxHamming+1=$chunks exceeds bits=$bits")
    // contiguous chunk ranges; when bits % chunks != 0 the first chunks
    // are one bit wider (pigeonhole holds for any partition into
    // maxHamming+1 ranges)
    val base = bits / chunks
    val rem = bits % chunks
    val widths = (0 until chunks).map(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val chunked = fp.select(col("id"), col("simhash"),
        posexplode(array((0 until chunks).map { c =>
          val w = widths(c)
          val mask = if (w >= 64) -1L else (1L << w) - 1
          shiftright(col("simhash"), offsets(c)).bitwiseAND(lit(mask))
        }: _*)))
      .toDF("id", "simhash", "chunk_idx", "chunk_val")
    chunked.as("a").join(chunked.as("b"), Seq("chunk_idx", "chunk_val"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b")).distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Triangle census of an undirected pair graph — the cluster-density
    * diagnostic read next to [[connectedComponents]]: near-dup pairs
    * that close into triangles indicate tight clusters (template
    * families), open wedges indicate chains/stars (transitive-closure
    * artifacts). Returns ONE row: (n_edges, n_wedges, n_triangles).
    *
    * Degree-ordered node-iterator (the MapReduce triangle-counting
    * scheme of Suri & Vassilvitskii 2011): every edge is oriented from
    * its lower (degree, id) endpoint to the higher, wedges form only
    * at an edge's oriented source, and closure is checked with an
    * EQUI semi-join against the canonical (min, max) edge set — no
    * OR-condition join, so no BNLJ at any size. The orientation bounds
    * per-node wedge fan-out by O(√|E|) regardless of raw degree skew
    * (a hub's edges point INTO it), which is what makes the wedge join
    * survive a power-law pair graph at scale. Each triangle is counted
    * exactly once (its (deg, id)-smallest vertex owns it).
    */
  def triangleCount(pairs: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame = {
    val e = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().persist()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      .persist()
    val w = o.as("o1")
      .join(o.as("o2"), col("o1.src") === col("o2.src") &&
        col("o1.dst") < col("o2.dst"))
      .select(col("o1.dst").as("wv"), col("o2.dst").as("ww"))
      .persist()
    val closed = w.select(least(col("wv"), col("ww")).as("a"),
        greatest(col("wv"), col("ww")).as("b"))
      .join(e, Seq("a", "b"), "left_semi")
    val out = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(w.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
    materializeAndRelease(out, e, o, w)
  }

  /** Per-node local clustering coefficient over the undirected pair
    * graph — [[triangleCount]]'s census drilled down to "how clique-ish
    * is each node's neighborhood": coeff(v) = 2·T(v)/(d(v)·(d(v)−1)),
    * with T(v) the triangles through v. Same degree-ordered
    * node-iterator (equi-joins ONLY — the canonical-edge closure check,
    * never an OR-of-equalities join): each triangle is found once at
    * its lowest-degree apex, then credited to all three corners via an
    * explode — so T(v) needs no second pass over the graph. Counts are
    * exact int64; the coefficient is one final double division
    * (engine-exact on ints). Degree-1 nodes report 0.0.
    *
    * Scale: identical envelope to [[triangleCount]] — the wedge join is
    * keyed on the LOW-degree endpoint, the standard bound that keeps a
    * hub from exploding the wedge table; output is |nodes| of the PAIR
    * graph, orders of magnitude under the corpus.
    */
  def localClustering(pairs: DataFrame, aCol: String = "id_a",
                      bCol: String = "id_b"): DataFrame = {
    val e = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().persist()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      .persist()
    val tri = o.as("o1")
      .join(o.as("o2"), col("o1.src") === col("o2.src") &&
        col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("apex"), col("o1.dst").as("wv"),
        col("o2.dst").as("ww"))
      .withColumn("a", least(col("wv"), col("ww")))
      .withColumn("b", greatest(col("wv"), col("ww")))
      .join(e, Seq("a", "b"), "left_semi")
    val perNode = tri
      .select(explode(array(col("apex"), col("wv"), col("ww"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    val out = deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          (lit(2.0) * coalesce(col("t"), lit(0L)).cast("double")) /
            (col("d") * (col("d") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy("node")
    materializeAndRelease(out, e, o)
  }

  /** Degree assortativity of the undirected dup-pair graph (Newman's
    * r): the Pearson correlation of endpoint degrees over all edge
    * stubs — "do heavily-duplicated documents duplicate with other
    * heavily-duplicated documents" (template farms read strongly
    * positive; hub-and-spoke boilerplate strongly negative). Each
    * undirected edge contributes BOTH orientations, which makes the
    * two stub-degree marginals identical — so the Pearson collapses to
    * (M·Σxy − S²)/(M·Σx² − S²), division of two EXACT integers (degree
    * sums in DECIMAL(38,0); no sqrt at all), one IEEE divide at the
    * end. Degenerate graphs (zero variance: all degrees equal, e.g. a
    * perfect matching or one clique) report null.
    *
    * Scale: degrees are one keyed aggregate over edge stubs; the stub
    * table joins degree twice on the node key; the result is ONE row.
    */
  def degreeAssortativity(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame = {
    val e = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct().persist()
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val stubs = e.select(col("a").as("x"), col("b").as("y"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y")))
    val dd = stubs
      .join(deg.select(col("v").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("v").as("y"), col("d").as("dy")), Seq("y"))
    val agg = dd.agg(count(lit(1)).as("m"),
      sum(col("dx").cast("decimal(38,0)")).as("s"),
      sum((col("dx").cast("decimal(38,0)")) * col("dy")).as("sxy"),
      sum((col("dx").cast("decimal(38,0)")) * col("dx")).as("sxx"))
    val num = col("m").cast("decimal(38,0)") * col("sxy") -
      col("s") * col("s")
    val den = col("m").cast("decimal(38,0)") * col("sxx") -
      col("s") * col("s")
    val out = agg.select(
      (col("m") / lit(2)).cast("long").as("n_edges"),
      when(den > 0, num.cast("double") / den.cast("double"))
        .as("assortativity"))
    materializeAndRelease(out, e)
  }

  /** Multi-round BFS distances over an undirected pair graph from a
    * deterministic seed (the max-degree node, ties to the smallest
    * id): how much of the blocking/dup graph is reachable from its
    * densest hub, and how fast — the "is this one giant blob or many
    * islands" drill-down that complements [[connectedComponents]]'s
    * census. Exactly `maxDepth` expansion rounds; a node keeps its
    * MINIMUM distance (true BFS level), unreached nodes are absent.
    * Deterministic end to end — no floats anywhere.
    *
    * Scale shape: per round, ONE equi-join of the previous round's
    * frontier (nodes first settled that round) against the adjacency
    * list keyed on the node, then a min-aggregate over settled ∪ new —
    * the Pregel step. Each round is cut with an eager
    * `localCheckpoint` and the superseded round's blocks are freed
    * immediately (the [[connectedComponents]] discipline) — a
    * persist-only loop keeps the full lineage and the plan STRING
    * doubles per round (the q121/q171 lineage-reprint pathology, but
    * compounding); total work is O(Σ frontier-adjacent edges), never
    * all-pairs.
    */
  def bfsDistances(pairs: DataFrame, aCol: String = "id_a",
                   bCol: String = "id_b", maxDepth: Int = 6): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val e = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val adj = e.select(col("a").as("s"), col("b").as("t"))
      .unionAll(e.select(col("b").as("s"), col("a").as("t")))
      .localCheckpoint(true)
    val seed = adj.groupBy(col("s").as("v")).agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("v").asc).limit(1)
      .select(col("v"), lit(0L).as("dist"))
    var dist = seed.localCheckpoint(true)
    for (k <- 1 to maxDepth) {
      val frontier = dist.filter(col("dist") === (k - 1))
      val expanded = frontier
        .join(adj, frontier("v") === adj("s"))
        .select(col("t").as("v"), lit(k.toLong).as("dist"))
      val next = dist.unionAll(expanded)
        .groupBy("v").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      Checkpoints.free(dist)
      dist = next
    }
    val out = dist.select(col("v").as("node"), col("dist").as("distance"))
      .orderBy("node")
    val res = materializeAndRelease(out)
    Checkpoints.free(adj)
    Checkpoints.free(dist)
    res
  }

  /** Connected components over an undirected near-dup pair graph —
    * the canonicalization step that turns pairwise dedup output into
    * "keep one document per duplicate cluster": returns
    * `(id, component)` with component = the minimum id reachable.
    *
    * Min-label propagation: each round every node takes the min of its
    * own label and its neighbors' labels, so the cluster minimum
    * reaches everything in O(cluster diameter) rounds — near-dup
    * clusters are shallow (most are pairs/stars), so the loop is
    * short; `maxIter` caps pathological chains. Each round is cut with
    * an eager `localCheckpoint` (same exponential-plan reason as the
    * lineage BFS). The graph here is the PAIR set — orders of
    * magnitude smaller than the corpus — not the 100 TB fact path; at
    * extreme component diameters the alternating small-star/large-star
    * contraction (O(log d) rounds) would replace the propagation loop.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    val edges = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
        .groupBy(col("u")).agg(min(col("vcomp")).as("nmin"))
      // carry a per-row `changed` flag through the checkpoint so the
      // convergence test is a scan of the materialized round output,
      // not an extra labels⋈next join per round
      val next = labels
        .join(nbrMin.withColumnRenamed("u", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          (coalesce(col("nmin"), col("comp")) < col("comp")).as("changed"))
        .localCheckpoint(true)
      converged = next.filter(col("changed")).isEmpty
      // the superseded round's checkpoint blocks are dead once `next`
      // is materialized (eager checkpoint above) — free them NOW
      // rather than waiting for the ContextCleaner (ADVICE r6; same
      // mechanism as doublingClosure)
      Checkpoints.free(labels)
      labels = next.drop("changed")
      iter += 1
    }
    // partially-propagated labels are silently WRONG — refuse them
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter); raise maxIter")
    // the edge list is dead too — only the label table leaves this call
    Checkpoints.free(edges)
    labels
  }

  /** LINE-level dedup (RefinedWeb/Dolma-class): drop every line that
    * occurs in more than `maxDocFreq` distinct documents — the
    * boilerplate that document-level dedup cannot touch (cookie
    * banners, nav menus, subscribe prompts repeat across MILLIONS of
    * otherwise-unique pages) — and reassemble each document's
    * surviving lines in original order. Returns
    * (id, textCol, n_kept_lines, n_dropped_lines); a document whose
    * every line is boilerplate survives as an empty string with its
    * counts, so the caller can quality-floor it away explicitly
    * rather than losing the row silently.
    *
    * Scale shape: explode to (doc, pos, line) — narrow rows — then ONE
    * line-keyed aggregate for the distinct-doc frequency (map-side
    * combinable), an equi-join of lines against the (small) hot-line
    * table, and one per-doc aggregate to reassemble. No self-join, no
    * crossJoin; the frequency table is corpus-vocabulary-sized and the
    * only state that grows with the corpus is the line set itself.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 maxDocFreq: Long, sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol).as("__id"),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__line")))
    val dfreq = lines.groupBy("__line")
      .agg(count_distinct(col("__id")).as("__df"))
    val kept = lines.join(dfreq, "__line").filter(col("__df") <= maxDocFreq)
    val totals = lines.groupBy("__id")
      .agg(count(lit(1)).as("__n_total"))
    val rebuilt = kept.groupBy("__id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        x => x.getField("__line")), sep).as(textCol),
      count(lit(1)).as("n_kept_lines"))
    totals
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col(textCol), lit("")).as(textCol),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"),
        (col("__n_total") - coalesce(col("n_kept_lines"), lit(0L)))
          .as("n_dropped_lines"))
  }

  /** Cross-document repeated-SPAN removal — the window-granular form
    * of exact-substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): cut every document
    * into non-overlapping `windowTokens`-token windows
    * ([[Curation.chunkDocs]] with stride = window), drop each window
    * whose text occurs in more than `maxDocFreq` DISTINCT documents
    * (within-doc repetition alone never triggers — that is
    * [[graft.operators.TextAnalysis.repetitionStats]]' job), and
    * reassemble the survivors in order — [[dedupLines]]' contract one
    * level up, catching boilerplate that spans line breaks or has no
    * line structure at all. A fully-emptied doc comes back as ''
    * explicitly. Windows shuffle as narrow (id, idx, text) rows keyed
    * by window text; the df table is vocabulary-sized and stays a
    * keyed join.
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 windowTokens: Int, maxDocFreq: Long): DataFrame = {
    val chunks = Curation.chunkDocs(docs, idCol, textCol,
        windowTokens, windowTokens)
      .select(col(idCol).as("__id"), col("chunk_idx").as("__idx"),
        col("chunk_text").as("__w"))
      .persist()
    val dfreq = chunks.groupBy("__w")
      .agg(count_distinct(col("__id")).as("__df"))
    val kept = chunks.join(dfreq, "__w").filter(col("__df") <= maxDocFreq)
    val totals = chunks.groupBy("__id")
      .agg(count(lit(1)).as("__n_total"))
    val rebuilt = kept.groupBy("__id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__idx"), col("__w")))),
        x => x.getField("__w")), " ").as(textCol),
      count(lit(1)).as("n_kept_windows"))
    val out = totals
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col(textCol), lit("")).as(textCol),
        coalesce(col("n_kept_windows"), lit(0L)).as("n_kept_windows"),
        (col("__n_total") - coalesce(col("n_kept_windows"), lit(0L)))
          .as("n_dropped_windows"))
    materializeAndRelease(out, chunks)
  }

  /** The end-product of the dedup pipeline: every corpus row tagged
    * with its duplicate-cluster canonical id and a `keep` flag
    * (true = this row IS the canonical representative; docs outside
    * any near-dup pair are their own canonical). One left join of the
    * corpus against the (small) component table — the corpus is never
    * shuffled beyond the join on its id.
    */
  def canonicalize(docs: DataFrame, idCol: String,
                   components: DataFrame): DataFrame =
    docs.join(
        components.select(col("id").as(idCol), col("comp")),
        Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("comp"), col(idCol)))
      .withColumn("keep", col("canonical_id") === col(idCol))
      .drop("comp")

  /** [[canonicalize]] with a CHOSEN representative: the kept copy per
    * duplicate cluster is the row maximizing `pref` (e.g.
    * `struct(quality, -id)` — best quality, smallest id on ties)
    * instead of the component's min id. The policy real pipelines
    * want: near-dups differ in boilerplate and truncation, and "first
    * crawled" is not "best copy". Appends `comp` (the cluster id, own
    * id for singletons), `rep_id`, and `is_rep`.
    *
    * Scale shape: one keyed argmax (`max_by` — map-side partial, no
    * window) over the left-joined corpus, then one keyed join of the
    * SMALL (one row per cluster) representative table back. `pref`
    * must be deterministic and total per cluster, or the kept copy is
    * partition-order dependent — struct tie-breaks on the id make it
    * total.
    */
  def canonicalizeByPreference(docs: DataFrame, idCol: String,
                               components: DataFrame,
                               pref: Column): DataFrame = {
    val tagged = docs
      .join(components.select(col("id").as(idCol), col("comp")),
        Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    val reps = tagged.groupBy(col("comp"))
      .agg(max_by(col(idCol), pref).as("rep_id"))
    tagged.join(reps, "comp")
      .withColumn("is_rep", col(idCol) === col("rep_id"))
  }

  /** Sorted-neighborhood near-duplicate blocking (Hernández & Stolfo,
    * SIGMOD 1995): sort records by a normalized sort key (the first
    * `keyLen` chars of whitespace-normalized lowercase text), slide a
    * window of `windowSize` records, and compare each record against
    * its `windowSize - 1` successors with exact distinct-token
    * Jaccard. The deterministic alternative to MinHash-LSH (q12) for
    * corpora whose duplicates share prefixes: ONE shuffle, no
    * banding, no probabilistic recall.
    *
    * The sort is BLOCKED on the first `prefixLen` chars so no global
    * total order is needed: each block sorts independently
    * (`Window.partitionBy(block)`), which is how the method
    * distributes. The recall trade is TWO-fold versus classic
    * globally-sorted SNM: (a) duplicates whose keys diverge in the
    * first characters are invisible to ANY sort-key method, and (b)
    * pairs that are adjacent in the global order but straddle a block
    * boundary (e.g. keys `aaaz…` / `aaba…` — they differ inside the
    * first `prefixLen` chars yet sort next to each other) land in
    * different blocks and are never compared — an ADDITIONAL loss
    * this blocked variant accepts for the shuffle-free sort. Both
    * classes are prefix-divergent, so pair it with q12's LSH for
    * recall on them; q173's audit measures the completeness actually
    * achieved.
    *
    * Scale: one hash shuffle on the block prefix + a spillable
    * window holding `windowSize` token arrays; output is ≤
    * (windowSize-1)·n pairs. The Jaccard threshold compares in
    * integer space (`inter·100 ≥ union·minJaccardPct`) — no float
    * boundary to disagree across engines.
    *
    * Output: (a, b, inter, union_sz, sim) for qualifying pairs,
    * ordered by (a, b); sim = round(inter/union, 9).
    */
  def sortedNeighborhood(docs: DataFrame, idCol: String, textCol: String,
      windowSize: Int = 3, prefixLen: Int = 8, keyLen: Int = 24,
      minJaccardPct: Int = 50): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2: $windowSize")
    require(prefixLen >= 1 && keyLen >= prefixLen,
      s"need 1 <= prefixLen <= keyLen: $prefixLen, $keyLen")
    require(minJaccardPct >= 0 && minJaccardPct <= 100,
      s"minJaccardPct out of range: $minJaccardPct")
    val norm = normText(col(textCol))
    val keyed = docs.select(
      col(idCol).as("__id"),
      substring(norm, 1, keyLen).as("__key"),
      substring(norm, 1, prefixLen).as("__blk"),
      array_distinct(tokens(col(textCol))).as("__toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__blk"))
      .orderBy(col("__key").asc, col("__id").asc)
    val withLeads = keyed.select(
      col("__id") +: col("__toks") +:
        (1 until windowSize).flatMap(j => Seq(
          lead(col("__id"), j).over(w).as(s"__id$j"),
          lead(col("__toks"), j).over(w).as(s"__tk$j"))): _*)
    // ONE window pass: the j neighbor slots ride as an in-row struct
    // array and explode AFTER the window — a per-branch union would
    // re-execute the scan+shuffle+sort once per offset (seen as 2x
    // Exchanges in the plan audit). Two-step projection so
    // array_intersect runs ONCE per pair (inter feeds both output
    // columns; a one-step select duplicates the subtree).
    val neighborSlots = array((1 until windowSize).map(j =>
      struct(col(s"__id$j").as("b"), col(s"__tk$j").as("tkb"))): _*)
    val pairs = withLeads
      .select(col("__id").as("a"), col("__toks"),
        explode(neighborSlots).as("p"))
      .filter(col("p.b").isNotNull)
      .select(col("a"), col("p.b").as("b"),
        size(array_intersect(col("__toks"), col("p.tkb"))).as("inter"),
        (size(col("__toks")) + size(col("p.tkb"))).as("__sz_sum"))
      .select(col("a"), col("b"), col("inter"),
        (col("__sz_sum") - col("inter")).as("union_sz"))
    pairs
      .filter(col("inter") * 100 >= col("union_sz") * minJaccardPct)
      .select(col("a"), col("b"),
        col("inter").cast("long").as("inter"),
        col("union_sz").cast("long").as("union_sz"),
        round(col("inter").cast("double") / col("union_sz").cast("double"), 9)
          .as("sim"))
      .orderBy(col("a").asc, col("b").asc)
  }
}
