package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Shared column-expression helpers. Everything here is built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs — so the whole
  * library stays inside whole-stage codegen and is oracle-deterministic.
  */
package object functions {

  /** Order-independent double sum: accumulate exactly in DECIMAL(30,6),
    * round to double once at the end. Double summation is re-association
    * sensitive (Spark's shuffle order differs from any oracle's scan
    * order); this makes `sum` bit-identical across engines while staying
    * a single-pass partial+final hash aggregate. The DuckDB twin is
    * `CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)`.
    *
    * Since r15 the accumulation runs in
    * [[graft.expressions.DSumAgg]] — the same exact fixed-point
    * arithmetic in a 128-bit primitive accumulator instead of the
    * per-row BigDecimal cast + DECIMAL(38,6) sum chain (bit-identical,
    * DSumSpec-pinned; q01/q61 measured 2.7/3.3 GB allocated per pass
    * at sf0.1 on the builtin formulation). `failOnError` is captured
    * at plan time from the session's ANSI flag, the way Cast does.
    */
  def dsum(c: Column): Column =
    toCol(graft.expressions.DSumAgg(toExpr(c),
      failOnError = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
      .toAggregateExpression())

  /** Exact mean built on [[dsum]]; IEEE double division is deterministic.
    * DuckDB twin: `CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Conditional sum bucket — the reference's 24-accumulator reducer
    * (ref option_trade_aggs/main.py:85-140) is exactly this shape:
    * `sum(CASE WHEN cond THEN x ELSE 0 END)` with map-side partials.
    */
  def sumWhen(cond: Column, x: Column): Column =
    dsum(when(cond, x).otherwise(lit(0.0)))

  /** Conditional count bucket. */
  def countWhen(cond: Column): Column = count(when(cond, lit(1)))

  /** max(x)-min(x) "Spread" from the telemetry aggregation menu
    * (ref dashboard/src/Models/numericAggregationType.ts:16).
    */
  def spread(c: Column): Column = max(c) - min(c)

  /** Telemetry "First"/"Last" by event time: deterministic (unlike
    * Spark's `first()`, which is order-dependent under shuffles).
    * DuckDB twin: `arg_min(v, ts)` / `arg_max(v, ts)`.
    *
    * Caveat: when two rows in a group share the exact timestamp, the
    * winner is engine-defined. For tie-safe semantics use the
    * planner's string-agg path ([[graft.operators.Telemetry.strAggColumn]]:
    * `min_by(v, struct(ts, v))`, mirrored in SQL by a width-padded
    * epoch prefix) — the testdata has no (key, ts) collisions, so the
    * plain form stays oracle-stable here.
    */
  def firstByTime(v: Column, ts: Column): Column = min_by(v, ts)
  def lastByTime(v: Column, ts: Column): Column  = max_by(v, ts)

  /** Sigmoid mapped to [-1, 1] — side-confidence score
    * (ref darkpool_trades/main.py:80-86). Pure expression, codegen'd.
    */
  def signedSigmoid(x: Column): Column =
    lit(2.0) / (lit(1.0) + exp(-x)) - lit(1.0)

  /** Hash-safe rounding for oracle-compared float columns. Spark's
    * `round` routes through BigDecimal, which has no −0, so a negative
    * value that rounds to zero emits +0.0 — while DuckDB's C++ round
    * keeps the sign bit and emits −0.0. Values compare equal but the
    * byte-level hash differs. Adding +0.0 after the round normalizes
    * both engines (IEEE 754: −0.0 + 0.0 = +0.0). Use this for every
    * hashed float column derived from arithmetic that can produce ±0
    * (sigmoids, ratios, differences of near-equal terms). DuckDB twin:
    * `round(x, n) + 0.0`.
    */
  def hashSafeRound(c: Column, scale: Int): Column =
    round(c, scale) + lit(0.0)

  /** Exact integral division as a Column (Spark SQL's `div`): the
    * primitive behind the cross-engine int64 gate — floor-quantize a
    * wide integral (DECIMAL) value to ≤2^53-scale units BEFORE any
    * double cast, because DECIMAL→DOUBLE rounding differs across
    * engines past 2^53 while int64→double is correctly rounded
    * everywhere (SURVEY §16, the q121 lesson). Keep dividends
    * non-negative (offset first if needed) so floor and truncate
    * agree across engines.
    */
  def intDiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Smart-case Contains from the catalog filter contract: the match is
    * case-sensitive iff the pattern contains a capital letter
    * (ref dashboard/src/Models/getAllStreamsRequest.ts:55-58).
    */
  def smartCaseContains(col: Column, pattern: String): Column =
    if (pattern.exists(_.isUpper)) col.contains(lit(pattern))
    else lower(col).contains(lit(pattern.toLowerCase(java.util.Locale.ROOT)))

  /** Catalog StartsWith: always case-insensitive — the reference topic
    * filter contract documents StartsWith as case-insensitive, only the
    * name Contains filter is smart-case
    * (ref dashboard/src/Models/getAllStreamsRequest.ts:24-62).
    */
  def startsWithCI(col: Column, pattern: String): Column =
    lower(col).startsWith(lit(pattern.toLowerCase(java.util.Locale.ROOT)))

  // ---------------------------------------------------------------- text

  /** Canonical text normalization for dedup/fingerprinting: lowercase,
    * collapse whitespace runs, trim. DuckDB twin:
    * `lower(trim(regexp_replace(text, '\s+', ' ', 'g')))`.
    */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokenizer over normalized text. Deliberately the
    * two-step `split(normText(c), " ")` rather than a direct
    * `split(trim(lower(c)), "\s+")`: SQL `trim` strips only spaces, so
    * the one-pass form emits a trailing "" token for text ending in a
    * tab/newline — not equivalent on edge whitespace (and the DuckDB
    * twins everywhere mirror the two-step form).
    */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Distinct word n-gram shingles of a token array — the unit set for
    * Jaccard/MinHash dedup. Empty array when the doc has < n tokens.
    * DuckDB twin: `list_distinct(list_transform(range(len(toks)-n+1),
    * i -> toks[i+1] || ' ' || ... ))`.
    */
  def wordShingles(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*))
    when(size(toks) >= n, array_distinct(grams)).otherwise(array().cast("array<string>"))
  }

  // ---------------------------------------------------------------- urls

  /** URL canonicalization — the C4/RefinedWeb-class normalization run
    * before host blocklists and URL-level dedup, as a pure
    * regexp_replace chain (codegen'd, per-row, shuffle-free; every
    * pattern is RE2-portable — no lookaround — so the DuckDB twins run
    * the identical regexes with the 'g' flag). Steps, in order:
    *
    *  1. drop the fragment (`#…`);
    *  2. lowercase the scheme+host prefix (path/query case preserved);
    *  3. collapse `https` → `http` (scheme-insensitive identity);
    *  4. strip a leading `www.`;
    *  5. strip explicit default ports `:80`/`:443`;
    *  6. remove tracking params (`utm_*`, `ref`, `fbclid`, `gclid`)
    *     via the `?`→`?&` marking trick, then re-collapse separators
    *     and strip a dangling `?`/`&`;
    *  7. strip ONE terminal `/` (only when the URL ends with it).
    *
    * Deliberately excluded (documented, not forgotten): query-param
    * sorting, percent-decoding, and IDN — each changes identity in
    * ways that need a policy decision, not a default.
    */
  def canonicalUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val prefix = regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    val lowered = concat(lower(prefix), rest)
    val scheme = regexp_replace(lowered, "^https://", "http://")
    val noWww = regexp_replace(scheme, "^(http://)www\\.", "$1")
    val noPort = regexp_replace(noWww,
      "^(http://[^/:?]*):(80|443)([/?].*)?$", "$1$3")
    val marked = regexp_replace(noPort, "\\?", "?&")
    val cleaned = regexp_replace(marked,
      "&(utm_[^&=]*|ref|fbclid|gclid)=[^&]*", "")
    val unmarked = regexp_replace(cleaned, "\\?&", "?")
    val noDangle = regexp_replace(unmarked, "[?&]+$", "")
    regexp_replace(noDangle, "/$", "")
  }

  /** Host of a [[canonicalUrl]]-normalized URL (scheme collapsed to
    * `http`, host already lowercased, default ports stripped).
    */
  def urlHost(canon: Column): Column =
    regexp_extract(canon, "^http://([^/:?]*)", 1)

  // ------------------------------------------------------------- vectors

  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def toExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  /** Dot product of two float/double-array columns as a deterministic
    * left-to-right double accumulation — a native codegen'd Catalyst
    * expression ([[graft.expressions.DotProduct]]); the former
    * `aggregate`-over-`zip_with` fold was interpreted and dominated the
    * LSH bucketing cost (48 folds per row). Evaluation order matches
    * DuckDB's sequential `list_inner_product`.
    */
  def dotProduct(a: Column, b: Column): Column =
    toCol(graft.expressions.DotProduct(toExpr(a), toExpr(b)))

  /** Cosine similarity between two float/double-array columns — one
    * native codegen'd pass accumulating dot and both norms
    * ([[graft.expressions.CosineSimilarity]]).
    */
  def cosineSim(a: Column, b: Column): Column =
    toCol(graft.expressions.CosineSimilarity(toExpr(a), toExpr(b)))

  /** Misra–Gries frequent-items summary aggregate
    * ([[graft.expressions.MisraGriesAgg]]): at most `capacity`
    * counters, mergeable, with the deterministic guarantee that every
    * item of true frequency > n/(capacity+1) survives. Returns
    * `array<struct<item, lb>>` sorted by (lb DESC, item ASC).
    */
  def misraGries(c: Column, capacity: Int): Column =
    toCol(graft.expressions.MisraGriesAgg(toExpr(c), capacity)
      .toAggregateExpression())

  /** Bounded top-k by (score DESC, id ASC)
    * ([[graft.expressions.TopKByScoreAgg]]): k-entry heap state,
    * map-side combining — replaces the window top-k idiom that sorts
    * every candidate row per key. Returns `array<struct<id, score>>`
    * in final rank order.
    */
  def topKByScore(id: Column, score: Column, k: Int): Column =
    toCol(graft.expressions.TopKByScoreAgg(toExpr(id), toExpr(score), k)
      .toAggregateExpression())

  /** All DECIMAL(30,6)-exact second-order moments (Σx, Σx², Σxy) of k
    * double columns in one allocation-free aggregate
    * ([[graft.expressions.DecimalMomentsAgg]]) — bit-identical to the
    * builtin `sum(cast(x AS DECIMAL(30,6))).cast(double)` menu it
    * replaces in the correlation pass. `failOnError` is captured here
    * at plan time from the session's ANSI flag, the way Cast does.
    */
  def decimalMoments(cols: Seq[Column], names: Seq[String]): Column =
    toCol(graft.expressions.DecimalMomentsAgg(cols.map(toExpr), names,
      failOnError = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
      .toAggregateExpression())

  /** Σ(x − c)² over longs into a 128-bit accumulator, emitted as the
    * DECIMAL(38,0) the builtin `sum((x−c).cast(dec38) * (x−c))` idiom
    * produced ([[graft.expressions.SumSqDiffAgg]]) — bit-identical,
    * allocation-free per row. Kept as the spec-pinned PARITY REFERENCE
    * (the Similarity.bucketCol/bucketsCol discipline) for [[kmeansAssign]],
    * which embeds the same arithmetic per row after the Lloyd
    * assignment dropped its join + aggregate + window formulation
    * (KMeansAssignSpec replays that formulation with this aggregate).
    */
  def sumSqDiff(x: Column, c: Column): Column =
    toCol(graft.expressions.SumSqDiffAgg(toExpr(x), toExpr(c))
      .toAggregateExpression())

  /** Lloyd assignment of a quantized `array<long>` vector against a
    * literal centroid matrix in one codegen'd pass
    * ([[graft.expressions.KMeansAssignExpr]]) —
    * `struct(cluster, d2 DECIMAL(38,0))`, bit-identical to the
    * join + [[sumSqDiff]] + argmin-window formulation it replaces
    * (null coordinates skip the term, null d2 orders first, ties break
    * toward the smaller cluster id).
    */
  def kmeansAssign(vec: Column, cent: Array[Array[Long]],
                   centNull: Array[Array[Boolean]]): Column =
    toCol(graft.expressions.KMeansAssignExpr(toExpr(vec), cent, centNull))

  /** Every upper-triangle covariance moment (n, Σxi, Σxj, Σxi·xj) of a
    * long-array column in one pass over unexploded rows
    * ([[graft.expressions.CovMomentsAgg]]) — array<struct> output,
    * sums emitted as the DECIMAL(38,0) the posexplode² + decimal-sum
    * formulation produced, bit-identical.
    */
  def covMoments(vec: Column): Column =
    toCol(graft.expressions.CovMomentsAgg(toExpr(vec))
      .toAggregateExpression())

  // ------------------------------------------------------------ time

  /** Nanosecond-epoch long → microsecond TimestampType by truncation —
    * the same truncation DuckDB v1 applies when reading parquet
    * TIMESTAMP(NANOS), so both engines see identical values
    * (SURVEY.md §7 hard part 6).
    */
  def nsToTimestamp(ns: Column): Column = {
    // NOT `ns / 1000`: Column./ is double division and epoch-ns (~1.7e18)
    // exceeds 2^53, so the quotient could round up across a microsecond.
    // DECIMAL(20,0)/1000 is exact (3 fractional digits), cast truncates.
    val us = ns.cast(DecimalType(20, 0)) / lit(1000)
    timestamp_micros(us.cast(LongType))
  }
}
