package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._

/** The reference's market-data surface over `events`: the Telemetry
  * Query API (filters, time buckets, ordering, gap-fill), the
  * conditional-sum option aggregation, enrichment, joins, ingest and
  * quality reports, each with its DuckDB twin.
  */
private[graft] object TelemetryQueries {
  /** events in the telemetry long/narrow shape the query planner takes:
    * (ts, stream_id, tags: map, value) — SURVEY.md §1.1.4.
    */
  private def eventsPoints(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("ts"),
      col("ts_ns"), // raw long survives → time-range predicates push to the scan
      col("user_id").as("stream_id"),
      map(
        lit("event_type"), col("event_type"),
        lit("k"), get_json_object(col("props"), "$.k")).as("tags"),
      col("value"))

  val all: Seq[Query] = Seq(
    // A1+A2+A3 — the reference's defining computation: keyed tumbling
    // 1-minute window with conditional-sum buckets (whale split analog;
    // ref option_trade_aggs/main.py:85-140,221-225). Batch twin of
    // streaming.StreamingOps.windowedAgg.
    Query("q02_windowed_buckets", (s, dir) => {
      val ev = Tables.events(s, dir)
      val big = col("value") > 75.0
      val purchase = col("event_type") === "purchase"
      ev.groupBy(window(col("ts"), "1 minute"), col("user_id"))
        .agg(
          sumWhen(big && purchase, col("value")).as("vol_big_purchase"),
          sumWhen(big && !purchase, col("value")).as("vol_big_other"),
          sumWhen(!big && purchase, col("value")).as("vol_small_purchase"),
          sumWhen(!big && !purchase, col("value")).as("vol_small_other"),
          countWhen(col("event_type") === "error").as("n_error"),
          count(lit(1)).as("n_events"))
        .select(col("window.start").as("minute_ts"), col("user_id"),
          col("vol_big_purchase"), col("vol_big_other"),
          col("vol_small_purchase"), col("vol_small_other"),
          col("n_error"), col("n_events"))
        .orderBy(col("minute_ts"), col("user_id"))
    },
      s"""SELECT date_trunc('minute', ts) AS minute_ts, user_id,
        |  ${DSUM("CASE WHEN value > 75.0 AND event_type = 'purchase' THEN value ELSE 0.0 END")} AS vol_big_purchase,
        |  ${DSUM("CASE WHEN value > 75.0 AND event_type <> 'purchase' THEN value ELSE 0.0 END")} AS vol_big_other,
        |  ${DSUM("CASE WHEN value <= 75.0 AND event_type = 'purchase' THEN value ELSE 0.0 END")} AS vol_small_purchase,
        |  ${DSUM("CASE WHEN value <= 75.0 AND event_type <> 'purchase' THEN value ELSE 0.0 END")} AS vol_small_other,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  COUNT(*) AS n_events
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // A4+A7 — telemetry planner: time-bucket down-sampling with the
    // full numeric aggregation menu (ref numericAggregationType.ts:16,
    // groupByTimeSettings.ts:17-23).
    Query("q03_bucketed_agg_menu", (s, dir) => {
      import Telemetry._
      plan(eventsPoints(s, dir), Request(
        bucketNs = Some(3600L * 1000 * 1000 * 1000), // 1 hour in ns
        aggs = Seq(
          NumericAgg("value", AggMean, "mean_value"),
          NumericAgg("value", AggMax, "max_value"),
          NumericAgg("value", AggMin, "min_value"),
          NumericAgg("value", AggFirst, "first_value"),
          NumericAgg("value", AggLast, "last_value"),
          NumericAgg("value", AggSum, "sum_value"),
          NumericAgg("value", AggCount, "count_value"),
          NumericAgg("value", AggMedian, "median_value"),
          NumericAgg("value", AggSpread, "spread_value")),
        orderBy = Seq(Ordering("bucket_ts"))))
    },
      s"""SELECT date_trunc('hour', ts) AS bucket_ts,
        |  ${DAVG("value")} AS mean_value,
        |  max(value) AS max_value,
        |  min(value) AS min_value,
        |  arg_min(value, ts) AS first_value,
        |  arg_max(value, ts) AS last_value,
        |  ${DSUM("value")} AS sum_value,
        |  COUNT(value) AS count_value,
        |  median(value) AS median_value,
        |  max(value) - min(value) AS spread_value
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // F4+F5+A9 — telemetry planner: time-range + stream-id IN + tag
    // Equal(list)/NotLike filters, tag group-by (ref
    // getDataRequestBase.ts:14-33, tagFilter.ts:17-27).
    Query("q04_tag_filter_groupby", (s, dir) => {
      import Telemetry._
      plan(eventsPoints(s, dir), Request(
        from = Some("2024-01-05 00:00:00"),
        to = Some("2024-01-20 00:00:00"),
        streamIds = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L),
        tagFilters = Seq(
          TagFilter("event_type", TagEqual, Seq("purchase", "click", "view")),
          TagFilter("event_type", TagNotLike, Seq("err%"))),
        groupByTags = Seq("event_type"),
        aggs = Seq(
          NumericAgg("value", AggSum, "sum_value"),
          NumericAgg("value", AggCount, "count_value")),
        orderBy = Seq(Ordering("event_type"))))
    },
      s"""SELECT event_type,
        |  ${DSUM("value")} AS sum_value,
        |  COUNT(value) AS count_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND user_id IN (0,1,2,3,4,5,6,7)
        |  AND event_type IN ('purchase','click','view')
        |  AND event_type NOT LIKE 'err%'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // O1+O2 — raw-point fetch with multi-column ordering and paging
    // (ref ordering.ts:17-23, paging.ts:13-22).
    Query("q05_order_page", (s, dir) => {
      import Telemetry._
      plan(eventsPoints(s, dir), Request(
        aggs = Seq(NumericAgg("value", AggNone, "value")),
        orderBy = Seq(Ordering("value", descending = true), Ordering("ts")),
        paging = Some(Paging(2, 50))))
    },
      """SELECT ts, user_id AS stream_id, value
        |FROM events
        |ORDER BY value DESC, ts
        |LIMIT 50 OFFSET 100""".stripMargin),

    // A7+A8 — gap-fill, interpolation=Previous over the densified daily
    // spine (ref interpolationType.ts:16). Spine generated per-key on
    // executors (GapFill.densify).
    Query("q06_gapfill_prev", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type") === "signup")
      val daily = ev.groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day_ts"))
        .agg(davg(col("value")).as("avg_value"))
      val dense = GapFill.densify(daily, "user_id", "day_ts", "INTERVAL 1 DAY")
      GapFill.fillPrevious(dense, "user_id", "day_ts", "avg_value", "filled_value")
        .orderBy(col("user_id"), col("day_ts"))
    },
      s"""WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day_ts,
        |    ${DAVG("value")} AS avg_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(day_ts) AS mn, max(day_ts) AS mx FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day_ts FROM bounds),
        |j AS (SELECT s.user_id, s.day_ts, d.avg_value
        |      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day_ts = d.day_ts)
        |SELECT user_id, day_ts, avg_value,
        |  last_value(avg_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM j
        |ORDER BY user_id, day_ts""".stripMargin),

    // A8 — interpolation=Linear between surrounding non-null points
    // (ref interpolationType.ts:16).
    Query("q07_gapfill_linear", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type") === "signup")
      val daily = ev.groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day_ts"))
        .agg(davg(col("value")).as("avg_value"))
      val dense = GapFill.densify(daily, "user_id", "day_ts", "INTERVAL 1 DAY")
      GapFill.fillLinear(dense, "user_id", "day_ts", "avg_value", "filled_value")
        .orderBy(col("user_id"), col("day_ts"))
    },
      s"""WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day_ts,
        |    ${DAVG("value")} AS avg_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(day_ts) AS mn, max(day_ts) AS mx FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day_ts FROM bounds),
        |j AS (SELECT s.user_id, s.day_ts, d.avg_value
        |      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day_ts = d.day_ts),
        |k AS (SELECT user_id, day_ts, avg_value, epoch_us(day_ts) AS tu,
        |  last_value(avg_value IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN avg_value IS NOT NULL THEN epoch_us(day_ts) END IGNORE NULLS) OVER wp AS pt,
        |  first_value(avg_value IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN avg_value IS NOT NULL THEN epoch_us(day_ts) END IGNORE NULLS) OVER wn AS nt
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day_ts
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         wn AS (PARTITION BY user_id ORDER BY day_ts
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day_ts, avg_value,
        |  CASE WHEN avg_value IS NOT NULL THEN avg_value
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * (CAST(tu - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS filled_value
        |FROM k
        |ORDER BY user_id, day_ts""".stripMargin),

    // P3-P8+P11+P13+P14 — the enrichment projection chain
    // (ref option_trades/utils.py:81-145, darkpool_trades/main.py:88-120).
    Query("q08_enrich", (s, dir) => {
      val ev = Tables.events(s, dir)
      val baseTags = array(col("event_type"))
      val valueTags = Enrich.premiumTags(col("value"), 75.0, 100.0, 250.0, 250.0)
      val sideTags =
        when(col("event_type").isin("purchase", "signup"), array(lit("ask_side")))
          .when(col("event_type") === "error", array(lit("bid_side")))
          .otherwise(array(lit("no_side")))
      val dtx = datediff(lit("2024-02-01").cast("date"), to_date(col("ts")))
      ev.select(
          col("event_id"),
          col("user_id"),
          Enrich.epochMillis(col("ts")).as("ts_ms"),
          dtx.cast("long").as("days_to_expiry"),
          concat_ws(",", Enrich.expiryTags(lit(31) - dtx)).as("expiry_tags"),
          Enrich.sideFromTags(sideTags).as("side"),
          Enrich.positionType(sideTags, col("event_type")).as("position_type"),
          concat_ws(",", Enrich.mergeTags(baseTags, valueTags)).as("tags"),
          Enrich.sentimentTag(
            signedSigmoid((col("value") - lit(50.0)) / lit(50.0))).as("sentiment"),
          Enrich.surrogateKey(col("event_id"), col("user_id"),
            Enrich.epochMillis(col("ts"))).as("row_key"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id,
        |  epoch_ms(ts) AS ts_ms,
        |  datediff('day', CAST(ts AS DATE), DATE '2024-02-01') AS days_to_expiry,
        |  CASE WHEN 31 - datediff('day', CAST(ts AS DATE), DATE '2024-02-01') <= 0 THEN 'expires_today'
        |       WHEN 31 - datediff('day', CAST(ts AS DATE), DATE '2024-02-01') <= 7 THEN 'expires_soon'
        |       ELSE '' END AS expiry_tags,
        |  CASE WHEN event_type IN ('purchase','signup') THEN 'buy'
        |       WHEN event_type = 'error' THEN 'sell'
        |       ELSE 'no_side' END AS side,
        |  (CASE WHEN event_type IN ('purchase','signup') THEN 'long_'
        |        WHEN event_type = 'error' THEN 'short_'
        |        ELSE 'no_side_' END) || event_type AS position_type,
        |  event_type ||
        |    (CASE WHEN value > 75.0 THEN ',large_trade' ELSE '' END) ||
        |    (CASE WHEN value > 100.0 AND value < 250.0 THEN ',whale' ELSE '' END) ||
        |    (CASE WHEN value > 250.0 THEN ',millionaire' ELSE '' END) AS tags,
        |  'sentiment:' ||
        |    (CASE WHEN 2.0 / (1.0 + exp(-((value - 50.0) / 50.0))) - 1.0 > 0.25 THEN 'bullish'
        |          WHEN 2.0 / (1.0 + exp(-((value - 50.0) / 50.0))) - 1.0 < -0.25 THEN 'bearish'
        |          ELSE 'neutral' END) AS sentiment,
        |  sha256(event_id || '|' || user_id || '|' || epoch_ms(ts)) AS row_key
        |FROM events
        |ORDER BY event_id""".stripMargin),

    // W1+W2 — per-key lag analytics: percent value gap vs previous and
    // inter-arrival staleness (ref darkpool_trades/metrics.py:105-123).
    Query("q09_lag_metrics", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("prev_value", lag(col("value"), 1).over(ord))
        .withColumn("pct_gap",
          Enrich.pctGap(col("value"), col("prev_value")))
        .withColumn("staleness_us",
          col("ts_us") - lag(col("ts_us"), 1).over(ord))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  (value - lag(value, 1) OVER w) / lag(value, 1) OVER w * 100.0 AS pct_gap,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS staleness_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // J1b — as-of join: each purchase enriched with the latest
    // preceding click of the same user (union + running last — one
    // shuffle, no range explosion).
    Query("q15_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts",
          payloadCols = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("asof_event_id"), col("asof_value"))
        .orderBy(col("event_id"))
    },
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |  c.event_id AS asof_event_id, c.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),

    // A5+A10 — string aggregation menu (First/Last/Count) + distinct
    // tag values per stream (ref aggregationType.ts:16,
    // getTagValuesRequest.ts:14-31).
    Query("q17_string_agg_menu", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(
          count(col("event_type")).as("n_events"),
          firstByTime(col("event_type"), col("ts")).as("first_type"),
          lastByTime(col("event_type"), col("ts")).as("last_type"),
          count_distinct(col("event_type")).as("n_types"),
          array_join(array_sort(collect_set(col("event_type"))), ",").as("types_str"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |  COUNT(event_type) AS n_events,
        |  arg_min(event_type, ts) AS first_type,
        |  arg_max(event_type, ts) AS last_type,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_str
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // A11 — max-by pagination cursor: newest row per key
    // (ref darkpool_trades/main.py:178).
    Query("q18_maxby_cursor", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(
          max(unix_micros(col("ts"))).as("last_seen_us"),
          max_by(col("event_id"), unix_micros(col("ts"))).as("last_event_id"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id,
        |  max(epoch_us(ts)) AS last_seen_us,
        |  arg_max(event_id, epoch_us(ts)) AS last_event_id,
        |  COUNT(*) AS n_events
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // A12+W1+W2 — rolling data-quality stats over the trailing 100 rows
    // per key (ref darkpool_trades/metrics.py:59-183).
    Query("q19_rolling_quality", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      Quality.rollingStats(ev, "user_id", "ts_us", "value", 100,
          tieCol = Some("event_id"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  COUNT(value) OVER frame AS rolling_count,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER frame AS DOUBLE)
        |    / COUNT(value) OVER frame AS rolling_mean,
        |  min(value) OVER frame AS rolling_min,
        |  max(value) OVER frame AS rolling_max,
        |  (value - lag(value, 1) OVER w) / lag(value, 1) OVER w * 100.0 AS pct_gap,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS staleness_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
        |       frame AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                 ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // J2 — multi-stream fan-in via unionByName with missing-column
    // alignment (SURVEY.md §2.8).
    Query("q22_union_fanin", (s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("value"), lit("purchases").as("src"))
      val b = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("value"), col("user_id"), lit("errors").as("src"))
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"),
          count(col("user_id")).as("n_with_user"))
        .orderBy(col("src"))
    },
      s"""SELECT src, COUNT(*) AS n_rows, ${DSUM("value")} AS sum_value,
        |  COUNT(user_id) AS n_with_user
        |FROM (
        |  SELECT event_id, value, CAST(NULL AS BIGINT) AS user_id, 'purchases' AS src
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT event_id, value, user_id, 'errors' AS src
        |  FROM events WHERE event_type = 'error')
        |GROUP BY src
        |ORDER BY src""".stripMargin),

    // P1/F3/S6 — the ingestion layer end-to-end: events serialized to
    // JSON (the Kafka value shape), parsed back via from_json with a
    // DECLARED schema in PERMISSIVE mode, corrupt payloads quarantined
    // (one poison record injected), missing fields null-defaulted the
    // map_fields way (ref option_trades/utils.py:111-145,
    // option_trade_aggs/main.py:203-208).
    Query("q26_json_ingest", (s, dir) => {
      import org.apache.spark.sql.types._
      val ev = Tables.events(s, dir)
      val json = ev.select(to_json(struct(
        col("event_id"), col("user_id"), col("event_type"), col("value"))).as("raw"))
      val poisoned = json.unionByName(
        s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row("{not json")),
          StructType(Seq(StructField("raw", StringType)))))
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("channel", StringType))) // absent in the data
      // Materialize the parsed (bronze→silver) table before the
      // quarantine filter + sort: without the cut, PushDownPredicates
      // inlines the WHOLE from_json into the corrupt-record Filter
      // (one extra parse per row) and the range-sort's sampling pass
      // re-parses everything again — measured 2.8 s → 1.1 s at sf0.1.
      // At scale this cut is the ingestion layer's real parsed-table
      // write; see Ingest.parseJson's scaladoc.
      val parsed = sources.Ingest.parseJson(poisoned, "raw", schema)
        .localCheckpoint()
      sources.Ingest.valid(parsed)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          coalesce(col("channel"), lit("unknown")).as("channel"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, user_id, event_type, value, 'unknown' AS channel
        |FROM events
        |ORDER BY event_id""".stripMargin),

    // P9+P10+P12 — darkpool quote-side enrichment: nearest-quote side
    // rule, sigmoid side-confidence, tz conversion
    // (ref darkpool_trades/main.py:45,71-96). The confidence is rounded
    // to 9 dp AND sign-normalized via hashSafeRound: ~1/3 of rows have
    // price == value exactly, making the sigmoid argument ±tiny; the
    // round collapses it to zero, and Spark (BigDecimal round, no −0)
    // emits +0.0 where DuckDB (C++ round) keeps −0.0 — a value-equal
    // but hash-different result without the +0.0 normalization.
    Query("q27_quote_side", (s, dir) => {
      val ev = Tables.events(s, dir)
      val bid = col("value") * lit(0.99)
      val ask = col("value") * lit(1.01)
      val price = col("value") * (lit(1.0) + (col("event_id") % 3 - lit(1)) * lit(0.004))
      ev.select(
          col("event_id"),
          Enrich.nearestQuoteSide(price, bid, ask).as("side"),
          graft.functions.hashSafeRound(Enrich.sideConfidence(price, bid, ask), 9).as("confidence"),
          date_format(Enrich.toEastern(col("ts")), "yyyy-MM-dd HH:mm:ss").as("ts_et"))
        .orderBy(col("event_id"))
    },
      """WITH q AS (
        |  SELECT event_id, ts,
        |    value * 0.99 AS bid, value * 1.01 AS ask,
        |    value * (1.0 + (event_id % 3 - 1) * 0.004) AS price
        |  FROM events)
        |SELECT event_id,
        |  CASE WHEN abs(price - bid) < abs(price - ask) THEN 'S'
        |       WHEN abs(price - bid) > abs(price - ask) THEN 'B'
        |       ELSE 'N' END AS side,
        |  round(2.0 / (1.0 + exp(-((price - (bid + ask) / 2.0) / NULLIF(ask - bid, 0.0)))) - 1.0, 9) + 0.0 AS confidence,
        |  strftime(timezone('America/New_York', timezone('UTC', ts)), '%Y-%m-%d %H:%M:%S') AS ts_et
        |FROM q
        |ORDER BY event_id""".stripMargin),

    // A10 — distinct tag values for a key (ref getTagValuesRequest.ts:14-31).
    Query("q28_tag_values", (s, dir) => {
      Telemetry.tagValues(eventsPoints(s, dir), "k").orderBy(col("value"))
    },
      """SELECT DISTINCT json_extract_string(props, '$.k') AS value
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY 1""".stripMargin),

    // A5+A6+F6 — event-flavor aggregation through the planner: metadata
    // equals-filter, daily interval, First/Last/Count of a string tag
    // (ref getEventDataRequest.ts:18-43, metadataFilter.ts:16-25,
    // eventDataAggregation.ts:18-25). First/Last tie-break on the value
    // itself so timestamp collisions can never diverge between engines.
    Query("q29_event_planner", (s, dir) => {
      import Telemetry._
      plan(eventsPoints(s, dir), Request(
        metadataFilters = Seq(MetadataFilter("event_type", "purchase")),
        bucketNs = Some(24L * 3600 * 1000 * 1000 * 1000),
        stringAggs = Seq(
          StringAgg("k", StrFirst, "first_k"),
          StringAgg("k", StrLast, "last_k"),
          StringAgg("k", StrCount, "n_k")),
        orderBy = Seq(Ordering("bucket_ts"))))
    },
      """WITH p AS (
        |  SELECT date_trunc('day', ts) AS bucket_ts,
        |    json_extract_string(props, '$.k') AS k,
        |    printf('%020d', epoch_us(ts)) AS tk
        |  FROM events WHERE event_type = 'purchase')
        |SELECT bucket_ts,
        |  arg_min(k, tk || k) AS first_k,
        |  arg_max(k, tk || k) AS last_k,
        |  COUNT(k) AS n_k
        |FROM p
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // A8 — interpolation=Null: the densified spine with missing
    // buckets left null (the fourth interpolation mode; q06/q07 cover
    // Previous/Linear, ref interpolationType.ts:16).
    Query("q33_gapfill_null", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type") === "signup")
      val daily = ev.groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day_ts"))
        .agg(davg(col("value")).as("avg_value"))
      GapFill.densify(daily, "user_id", "day_ts", "INTERVAL 1 DAY")
        .orderBy(col("user_id"), col("day_ts"))
    },
      s"""WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day_ts,
        |    ${DAVG("value")} AS avg_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(day_ts) AS mn, max(day_ts) AS mx FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day_ts FROM bounds)
        |SELECT s.user_id, s.day_ts, d.avg_value
        |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day_ts = d.day_ts
        |ORDER BY s.user_id, s.day_ts""".stripMargin),

    // A12 alerting — consecutive-breach rule: alert when the last 3
    // checks for a key all breached (ref darkpool_trades/
    // metrics.py:46-49: ">= 3 consecutive failures").
    Query("q34_breach_alerts", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      Quality.consecutiveBreaches(ev, "user_id", "ts_us",
          breach = col("value") < 20.0, n = 3)
        .orderBy(col("user_id"), col("ts_us"))
    },
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
        |  (SUM(CASE WHEN value < 20.0 THEN 1 ELSE 0 END) OVER w = 3
        |   AND COUNT(*) OVER w = 3) AS alert
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us""".stripMargin),

    // Hard part 5 — Decimal-as-string round trip with EXACT decimal
    // arithmetic (ref darkpool_trades/main.py:97-99): vendor string
    // prices → DECIMAL(18,4), nearest-quote side + value = price×qty
    // computed in decimal, SHA-256 surrogate key over the string forms,
    // strings again at the boundary. The whole darkpool transform
    // (Ingest.darkpoolTransform) against a synthesized vendor feed.
    Query("q31_darkpool_decimal", (s, dir) => {
      val ev = Tables.events(s, dir)
      val raw = ev.select(
        unix_millis(col("ts")).as("ts"),
        col("event_type").as("symbol"),
        (col("value") * lit(0.99)).cast("decimal(18,4)").cast("string").as("bid"),
        (col("value") * lit(1.01)).cast("decimal(18,4)").cast("string").as("ask"),
        col("value").cast("decimal(18,4)").cast("string").as("price"),
        (col("event_id") % 50 + 1).cast("int").as("qty"),
        lit("DP1").as("venue"))
      sources.Ingest.darkpoolTransform(raw)
        .orderBy(col("ts"), col("row_key"))
    },
      """WITH raw AS (
        |  SELECT epoch_ms(ts) AS ts, event_type AS symbol,
        |    CAST(CAST(value * 0.99 AS DECIMAL(18,4)) AS VARCHAR) AS bid_s,
        |    CAST(CAST(value * 1.01 AS DECIMAL(18,4)) AS VARCHAR) AS ask_s,
        |    CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR) AS price_s,
        |    CAST(event_id % 50 + 1 AS INTEGER) AS qty
        |  FROM events),
        |t AS (
        |  SELECT ts, symbol, qty,
        |    CAST(bid_s AS DECIMAL(18,4)) AS bid_d,
        |    CAST(ask_s AS DECIMAL(18,4)) AS ask_d,
        |    CAST(price_s AS DECIMAL(18,4)) AS price_d,
        |    bid_s, ask_s, price_s
        |  FROM raw)
        |SELECT ts, symbol,
        |  CAST(bid_d AS VARCHAR) AS bid,
        |  CAST(ask_d AS VARCHAR) AS ask,
        |  CAST(price_d AS VARCHAR) AS price,
        |  CAST(CAST(price_d * qty AS DECIMAL(18,4)) AS VARCHAR) AS value,
        |  qty,
        |  CASE WHEN abs(price_d - bid_d) < abs(price_d - ask_d) THEN 'S'
        |       WHEN abs(price_d - bid_d) > abs(price_d - ask_d) THEN 'B'
        |       ELSE 'N' END AS side,
        |  sha256(symbol || '|' || CAST(ts AS VARCHAR) || '|' || price_s
        |         || '|' || CAST(qty AS VARCHAR)) AS row_key,
        |  'DP1' AS venue
        |FROM t
        |ORDER BY ts, row_key""".stripMargin),

    // Nested-JSON ingestion (ref news/main.py:56-79): a nested payload
    // (publisher struct + tickers array) parsed with the DECLARED
    // newsArticle schema, nested struct access, header derivation.
    Query("q32_news_nested", (s, dir) => {
      val ev = Tables.events(s, dir)
      val json = ev.select(to_json(struct(
        col("event_id").cast("string").as("id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("published_utc"),
        struct(col("event_type").as("name"),
          lit("https://example.com").as("homepage_url")).as("publisher"),
        array(upper(col("event_type")), lit("SPY")).as("tickers"),
        concat(lit("title-"), col("event_id")).as("title"),
        lit("u").as("article_url"),
        lit("d").as("description"))).as("raw"))
      // same bronze→silver cut as q26: stop the corrupt-record filter
      // and the sort-sampling pass from re-running the nested parse
      val parsed = sources.Ingest.valid(
        sources.Ingest.parseJson(json, "raw", sources.Schemas.newsArticle)
          .localCheckpoint())
      sources.Ingest.newsTransform(parsed)
        .select(col("id"), col("published_at"), col("publisher_name"),
          concat_ws(",", col("tickers")).as("tickers_str"), col("title"),
          element_at(col("headers"), "published_date").as("published_date"),
          element_at(col("headers"), "tickers").as("header_tickers"))
        .orderBy(col("id"))
    },
      """SELECT CAST(event_id AS VARCHAR) AS id,
        |  ts AS published_at,
        |  event_type AS publisher_name,
        |  upper(event_type) || ',SPY' AS tickers_str,
        |  'title-' || CAST(event_id AS VARCHAR) AS title,
        |  strftime(ts, '%Y-%m-%d') AS published_date,
        |  upper(event_type) || ',SPY' AS header_tickers
        |FROM events
        |ORDER BY id""".stripMargin),

    // §2.11 — the generic user-supplied reducer (initializer/reducer
    // dict-fold, ref option_trade_aggs/main.py:85-188) registered via
    // udaf and run inside the keyed 1-minute window: same results as
    // q02's built-in conditional sums, through the custom-Aggregator
    // path. Decimal-buffered so the fold is reassociation-proof.
    Query("q30_udaf_buckets", (s, dir) => {
      val ev = Tables.events(s, dir)
      val f = udaf(Reduce.eventBucketReducer)
      val m = col("m")
      ev.groupBy(window(col("ts"), "1 minute"), col("user_id"))
        .agg(f(col("value"), col("event_type")).as("m"))
        .select(col("window.start").as("minute_ts"), col("user_id"),
          coalesce(element_at(m, "vol_big_purchase"), lit(0.0)).as("vol_big_purchase"),
          coalesce(element_at(m, "vol_big_other"), lit(0.0)).as("vol_big_other"),
          coalesce(element_at(m, "vol_small_purchase"), lit(0.0)).as("vol_small_purchase"),
          coalesce(element_at(m, "vol_small_other"), lit(0.0)).as("vol_small_other"),
          coalesce(element_at(m, "n_error"), lit(0.0)).cast("long").as("n_error"),
          element_at(m, "n_events").cast("long").as("n_events"))
        .orderBy(col("minute_ts"), col("user_id"))
    },
      s"""SELECT date_trunc('minute', ts) AS minute_ts, user_id,
        |  ${DSUM("CASE WHEN value > 75.0 AND event_type = 'purchase' THEN value ELSE 0.0 END")} AS vol_big_purchase,
        |  ${DSUM("CASE WHEN value > 75.0 AND event_type <> 'purchase' THEN value ELSE 0.0 END")} AS vol_big_other,
        |  ${DSUM("CASE WHEN value <= 75.0 AND event_type = 'purchase' THEN value ELSE 0.0 END")} AS vol_small_purchase,
        |  ${DSUM("CASE WHEN value <= 75.0 AND event_type <> 'purchase' THEN value ELSE 0.0 END")} AS vol_small_other,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
        |  COUNT(*) AS n_events
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // Binary-parameter aggregation path (ref parameterAggregation.ts:
    // 17-23, parameterData.ts:25-28): a BinaryType value column driven
    // through the planner's First/Last/Count string-agg menu. First/
    // Last tie-break on the value bytes themselves (struct(ts, bin) —
    // mirrored in SQL by padded-epoch || hex, which orders identically
    // to the raw bytes since hex is monotone in them). The aggregation
    // runs on raw BinaryType end-to-end; only the final projection
    // hex-encodes the two payload columns because the oracle's compare
    // hashes column values and raw bytes aren't hashable there.
    Query("q35_binary_params", (s, dir) => {
      import Telemetry._
      val ev = Tables.events(s, dir).withColumn("payload",
        unhex(md5(concat_ws(":", col("event_id"), col("event_type")))))
      plan(ev, Request(
        bucketNs = Some(24L * 3600 * 1000 * 1000 * 1000),
        stringAggs = Seq(
          StringAgg("payload", StrFirst, "first_payload"),
          StringAgg("payload", StrLast, "last_payload"),
          StringAgg("payload", StrCount, "n_payload"))))
        .select(col("bucket_ts"),
          lower(hex(col("first_payload"))).as("first_payload"),
          lower(hex(col("last_payload"))).as("last_payload"),
          col("n_payload"))
        .orderBy(col("bucket_ts"))
    },
      """WITH p AS (
        |  SELECT date_trunc('day', ts) AS bucket_ts,
        |    from_hex(md5(CAST(event_id AS VARCHAR) || ':' || event_type)) AS payload,
        |    printf('%020d', epoch_us(ts)) || md5(CAST(event_id AS VARCHAR) || ':' || event_type) AS tk
        |  FROM events)
        |SELECT bucket_ts,
        |  lower(hex(arg_min(payload, tk))) AS first_payload,
        |  lower(hex(arg_max(payload, tk))) AS last_payload,
        |  COUNT(payload) AS n_payload
        |FROM p
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // Stream lineage parents-closure (ref stream.ts:49-52) against a
    // DuckDB RECURSIVE CTE oracle — an exact cross-engine check of the
    // BFS expansion. The dimension is synthesized from the user ids
    // with parents = [id / 2] (a binary tree, so every (id, ancestor)
    // pair has a unique depth and shallowest-depth semantics are
    // unambiguous).
    Query("q36_lineage", (s, dir) => {
      val dim = Tables.events(s, dir).select(col("user_id")).distinct()
        .select(col("user_id").as("streamId"),
          when(col("user_id") > 1,
            array(floor(col("user_id") / 2).cast("long")))
            .otherwise(array().cast("array<long>")).as("parents"))
      // maxDepth 64 ≥ log2 of any i64 id: the binary-tree lineage is
      // ~log2(max user_id) deep, so depth 20 would overflow (and now
      // throw) once max user_id ≥ 2^20 at larger scale factors. The
      // loop still stops as soon as the frontier empties, so the
      // higher cap costs nothing at small sf.
      Catalog.ancestors(dim, "streamId", "parents", maxDepth = 64)
        .orderBy(col("id"), col("ancestor_id"), col("depth"))
    },
      """WITH RECURSIVE dim AS (SELECT DISTINCT user_id AS id FROM events),
        |edges AS (
        |  SELECT CAST(id AS VARCHAR) AS id,
        |    CAST(id // 2 AS VARCHAR) AS ancestor_id
        |  FROM dim WHERE id > 1),
        |clos AS (
        |  SELECT id, ancestor_id, 1 AS depth FROM edges
        |  UNION ALL
        |  SELECT c.id, e.ancestor_id, c.depth + 1
        |  FROM clos c JOIN edges e ON c.ancestor_id = e.id)
        |SELECT id, ancestor_id, depth FROM clos
        |ORDER BY id, ancestor_id, depth""".stripMargin),

    // Per-message data-quality metric vector + the monitor's summary
    // rollup (ref darkpool_trades/metrics.py:16-26, 90-183): latency,
    // missing required fields, zero price, previous-price gap,
    // inter-arrival staleness, and the _should_alert disjunction —
    // aggregated per key like get_metrics_summary. Processing time is
    // synthesized deterministically (ts + (event_id % 5) seconds) so
    // the latency check is driven without a wall clock.
    Query("q41_message_quality", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("proc_ts",
          timestamp_micros(unix_micros(col("ts")) + (col("event_id") % 5) * 1000000L))
        .withColumn("props_k", get_json_object(col("props"), "$.k"))
      val q = Quality.messageQuality(ev, "user_id",
        orderCols = Seq("ts", "event_id"),
        tsCol = "ts", procTsCol = "proc_ts", priceCol = "value",
        requiredCols = Seq("event_type", "props_k"),
        maxLatencyUs = 3000000L, maxGapPct = 50.0)
      Quality.metricsSummary(q, "user_id")
        .orderBy(col("user_id"))
    },
      """WITH q AS (
        |  SELECT user_id,
        |    (event_id % 5) * 1000000 AS latency_us,
        |    (CASE WHEN event_type IS NULL THEN 1 ELSE 0 END +
        |     CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END)
        |      AS missing_fields_count,
        |    value = 0.0 AS zero_price,
        |    COALESCE(
        |      lag(value) OVER w != 0.0 AND
        |      abs((value - lag(value) OVER w) / lag(value) OVER w) * 100 > 50,
        |      FALSE) AS price_gap,
        |    COALESCE(
        |      epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3000000,
        |      FALSE) AS stale
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id,
        |  COUNT(*) AS message_count,
        |  CAST(SUM(latency_us) AS BIGINT) AS total_latency_us,
        |  CAST(SUM(missing_fields_count) AS BIGINT) AS missing_fields_count,
        |  COUNT(CASE WHEN zero_price THEN 1 END) AS zero_prices,
        |  COUNT(CASE WHEN price_gap THEN 1 END) AS price_gaps,
        |  COUNT(CASE WHEN stale THEN 1 END) AS stale_data_count,
        |  COUNT(CASE WHEN latency_us > 3000000 OR missing_fields_count > 0
        |             OR zero_price OR price_gap OR stale THEN 1 END) AS alert_count
        |FROM q
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // A8 through the PLANNER — interpolationType is a groupByTimeSettings
    // knob (ref groupByTimeSettings.ts:17-23, interpolationType.ts:16),
    // so one Request carries bucket + Linear interpolation: daily mean
    // per tag `k`, densified to each k's day range and linearly filled,
    // all inside Telemetry.plan(). q06/q07/q33 gate the composable
    // GapFill pieces; this gates the Request wiring.
    Query("q45_planner_interpolation", (s, dir) => {
      import Telemetry._
      plan(eventsPoints(s, dir), Request(
        tagFilters = Seq(TagFilter("event_type", TagEqual, Seq("signup"))),
        bucketNs = Some(86400L * 1000 * 1000 * 1000), // 1 day in ns
        groupByTags = Seq("k"),
        aggs = Seq(NumericAgg("value", AggMean, "mean_value")),
        interpolation = Some(GapFill.FillLinear),
        orderBy = Seq(Ordering("k"), Ordering("bucket_ts"))))
    },
      s"""WITH daily AS (
        |  SELECT json_extract_string(props, '$$.k') AS k,
        |    date_trunc('day', ts) AS bucket_ts,
        |    ${DAVG("value")} AS mv
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |bounds AS (SELECT k, min(bucket_ts) AS mn, max(bucket_ts) AS mx FROM daily GROUP BY 1),
        |spine AS (SELECT k, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS bucket_ts FROM bounds),
        |j AS (SELECT s.k, s.bucket_ts, d.mv
        |      FROM spine s LEFT JOIN daily d
        |      ON s.k IS NOT DISTINCT FROM d.k AND s.bucket_ts = d.bucket_ts),
        |f AS (SELECT k, bucket_ts, mv, epoch_us(bucket_ts) AS tu,
        |  last_value(mv IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN mv IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS) OVER wp AS pt,
        |  first_value(mv IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN mv IS NOT NULL THEN epoch_us(bucket_ts) END IGNORE NULLS) OVER wn AS nt
        |  FROM j
        |  WINDOW wp AS (PARTITION BY k ORDER BY bucket_ts
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         wn AS (PARTITION BY k ORDER BY bucket_ts
        |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT bucket_ts, k,
        |  CASE WHEN mv IS NOT NULL THEN mv
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * (CAST(tu - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS mean_value
        |FROM f
        |ORDER BY k, bucket_ts""".stripMargin),

    // Scale family oracle gate — layout round-trip: write the events
    // fact through writeTimePartitioned (dt hive layout, range
    // partitioning, in-file sort), compact the directory (the
    // crash-safe rename rewrite must preserve the dt dirs), then
    // answer a planner Request FROM THE LAYOUT and hash-match the
    // DuckDB twin computed over the FLAT table — proving storage
    // layout never changes answers while the planner's derived
    // dt-pruning predicates ride the partition directories. ScaleSpec
    // pins the PLAN shapes (PartitionFilters, PushedFilters, both
    // compaction crash paths); this gates the VALUES.
    Query("q55_layout_roundtrip", (s, dir) => {
      import Telemetry._
      // namespaced by sf-dir AND pid: two harness processes on one
      // host (Bench alongside Verify) must not race on the same root
      // mid-compact; within one process the overwrite per call is the
      // point (each run rebuilds the layout it then reads); the tree
      // is deleted on JVM exit
      val root = tmpRootCleanedOnExit("graft_q55_layout", dir)
      Scale.writeTimePartitioned(eventsPoints(s, dir), "ts", root,
        sortCols = Seq("stream_id"))
      Scale.compact(s, root, targetFileBytes = 8L * 1024 * 1024,
        sortCols = Seq("stream_id"))
      plan(s.read.parquet(root), Request(
        from = Some("2024-01-03 00:00:00"),
        to = Some("2024-01-17 00:00:00"),
        streamIds = (0L to 15L),
        tagFilters = Seq(TagFilter("event_type", TagEqual, Seq("click", "view"))),
        bucketNs = Some(86400L * 1000 * 1000 * 1000), // 1 day in ns
        groupByTags = Seq("event_type"),
        aggs = Seq(
          NumericAgg("value", AggSum, "sum_value"),
          NumericAgg("value", AggMean, "mean_value"),
          NumericAgg("value", AggCount, "count_value")),
        orderBy = Seq(Ordering("event_type"), Ordering("bucket_ts"))))
    },
      // the twin reads the FLAT table: the layout (dt partitioning,
      // compaction, in-file sort) must be answer-invariant
      s"""SELECT date_trunc('day', ts) AS bucket_ts, event_type,
        |  ${DSUM("value")} AS sum_value,
        |  ${DAVG("value")} AS mean_value,
        |  COUNT(value) AS count_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-17 00:00:00'
        |  AND user_id IN (0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15)
        |  AND event_type IN ('click','view')
        |GROUP BY 1, 2
        |ORDER BY 2, 1""".stripMargin),

    // J1c — point-in-interval join: which post-signup attribution
    // window was each event inside? Spark plans the raw range predicate
    // as a nested loop; IntervalJoin makes it a bucketed EQUI-join
    // (15-min buckets vs 1-h windows → fan-out ≤ 5, each point owns one
    // bucket so pair multiplicity is exact with no dedup). The DuckDB
    // twin is the naive range join — the bucketing must be
    // answer-invariant.
    Query("q59_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      val points = ev.filter(col("event_type") =!= "signup")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      IntervalJoin.pointInInterval(points, "ts",
          windows, "w_start", "w_end", Seq("user_id"),
          widthMicros = 15L * 60 * 1000000)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("event_id")).as("n_attributed"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
      // naive range-join twin: the bucketed equi-join rewrite must be
      // answer-invariant (pairs, distinct points, exact sums)
      """WITH w AS (
        |  SELECT user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end
        |  FROM events WHERE event_type = 'signup'),
        |p AS (SELECT event_id, user_id, ts, event_type, value
        |  FROM events WHERE event_type <> 'signup')
        |SELECT p.event_type, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT p.event_id) AS n_attributed,
        |  CAST(SUM(CAST(p.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM p JOIN w ON p.user_id = w.user_id
        |  AND p.ts >= w.w_start AND p.ts < w.w_end
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // A13 — gap-based sessionization (batch twin of the streaming
    // session window): 30-min inactivity splits a user's events into
    // sessions; output is the per-session summary. One shuffle on
    // user_id + two in-partition window passes; the DuckDB twin is the
    // same lag/running-sum construction.
    Query("q60_sessionize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Sessionize.assign(ev, Seq("user_id"), "ts", Seq("event_id"),
          gapMicros = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("session_seq"))
    },
      // same lag/running-sum construction; exact-30min gap stays in the
      // session (strictly-greater splits) in both engines
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(opens) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM o)
        |SELECT user_id, session_seq,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // Scale primitive — Z-ORDER layout: events clustered by the
    // Morton value of (user_id, day index), so parquet min/max stats
    // stay narrow on BOTH columns and a predicate on either skips
    // files (the two-dimensional lever hive partitioning lacks;
    // clustering quality is pinned in ScaleSpec). The gate: answering
    // a 2-dim predicate THROUGH the layout must equal the flat table.
    Query("q64_zorder_roundtrip", (s, dir) => {
      val root = tmpRootCleanedOnExit("graft_q64_zorder", dir)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
      // order-preserving dimension indices: user_id is already small;
      // the time axis is the UTC day offset from 2024-01-01 (= epoch
      // day 19723), exact integral division like the dt layout
      val dayIdx = expr("(unix_micros(ts) div 86400000000) - 19723")
      Scale.writeZOrdered(ev, root, col("user_id"), dayIdx,
        bits = 8, numFiles = 16)
      s.read.parquet(root)
        .filter(col("user_id").between(20, 40) &&
          col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
      // the twin reads the FLAT table: the z-order layout must be
      // answer-invariant under the two-dimensional predicate
      s"""SELECT event_type, COUNT(*) AS n_events,
        |  ${DSUM("value")} AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 20 AND 40
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // PSI drift of the value column between the two halves of the
    // time range: equal-width buckets, per-bucket PSI terms.
    Query("q127_value_psi", (s, dir) =>
      operators.Profile.populationStability(
        Tables.events(s, dir), "value", "ts"),
      // split point and counts integral; bucket assignment and the PSI
      // term are pinned IEEE chains (ln through the q66 round-9 idiom);
      // empty-on-either-side cells report a null term, no epsilon
      """WITH base AS (SELECT CAST(value AS DOUBLE) AS v, epoch_us(ts) AS tus
        |  FROM events),
        |b AS (SELECT MIN(tus) AS t0, MAX(tus) AS t1,
        |    MIN(v) AS vmin, MAX(v) AS vmax FROM base),
        |ws AS (SELECT v, tus, (t0 + t1) // 2 AS mid,
        |    (vmax - vmin) / 10 AS w, vmin FROM base CROSS JOIN b),
        |bk AS (SELECT CASE WHEN tus <= mid THEN 'a' ELSE 'b' END AS side,
        |    CAST(CASE WHEN w > 0 THEN least(floor((v - vmin) / w), 9.0)
        |      ELSE 0.0 END AS BIGINT) AS bucket
        |  FROM ws),
        |c AS (SELECT bucket,
        |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM bk GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
        |    CAST(SUM(n_b) AS BIGINT) AS tb FROM c),
        |g AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bucket)
        |SELECT g.bucket, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
        |  CASE WHEN COALESCE(n_a, 0) > 0 AND COALESCE(n_b, 0) > 0 THEN
        |    round((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
        |        - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
        |      * ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
        |          / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))), 9) END
        |    AS psi_term
        |FROM g LEFT JOIN c ON c.bucket = g.bucket CROSS JOIN t
        |ORDER BY 1""".stripMargin),

    // Key-skew profile of the event entity key: top-20 heaviest keys
    // with shares and skew factors (the pre-shuffle salting audit).
    Query("q134_key_skew", (s, dir) =>
      operators.Profile.keySkew(Tables.events(s, dir), "user_id", topK = 20),
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows
        |  FROM c),
        |r AS (SELECT key, n, CAST(row_number() OVER
        |    (ORDER BY n DESC, key ASC) AS BIGINT) AS rank FROM c)
        |SELECT rank, key, n,
        |  CAST(n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
        |  CAST(n AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS skew_factor
        |FROM r CROSS JOIN t
        |WHERE rank <= 20
        |ORDER BY rank""".stripMargin),

    // Daily new-vs-returning actives: each day's distinct users split
    // by whether it is their first-ever day — growth accounting from
    // two entity-keyed aggregates, exact counts, one divide.
    Query("q202_new_vs_returning", (s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id").as("u"), to_date(col("ts")).as("d"))
        .distinct()
      val first = days.groupBy("u").agg(min(col("d")).as("fd"))
      days.join(first, Seq("u"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("d") === col("fd"), 1L).otherwise(0L))
            .as("n_new"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          ((col("n_active") - col("n_new")).cast("double") /
            col("n_active").cast("double")).as("returning_share"))
        .orderBy("day")
    },
      """WITH days AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE)
        |    AS d FROM events),
        |fd AS (SELECT u, MIN(d) AS fd FROM days GROUP BY 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day, COUNT(*) AS n_active,
        |  CAST(SUM(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(COUNT(*) - SUM(CASE WHEN d = fd THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returning,
        |  CAST(COUNT(*) - SUM(CASE WHEN d = fd THEN 1 ELSE 0 END)
        |      AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS returning_share
        |FROM days JOIN fd USING (u)
        |GROUP BY d ORDER BY day""".stripMargin)
  )
}
