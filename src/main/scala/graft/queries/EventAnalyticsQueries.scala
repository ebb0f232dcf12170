package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators._

/** Product analytics over `events` (funnels, cohorts, sessions,
  * transitions, rolling and seasonal statistics), each with its DuckDB
  * twin.
  */
private[graft] object EventAnalyticsQueries {
  /** q124/q128 sessionization gap (q60's 30-minute product default). */
  private val SessionGapMinutes = 30L
  private val SessionGapMicros = SessionGapMinutes * 60L * 1000000L
  /** q129 bot-cadence flags: ≥ this many events AND median gap ≤ this. */
  private val BotMinEvents = 50
  private val BotMaxMedianGapS = 3600.0
  /** q130 funnel step deadline, seconds (1 day). */
  private val FunnelDeadlineS = 86400L
  /** q145 per-entity event cap — BELOW the ~66-event median activity
    * on this corpus, so the truncation path is exercised on most
    * entities, not just a hypothetical bot. */
  private val FunnelEntityCap = 40
  /** q150 PageRank: 5 power iterations, damping 85/100 (the twin
    * unrolls the same rounds — the BPE q102 unrolled-twin pattern). */
  private val PageRankIters = 5
  private val PageRankDampingPct = 85
  /** q160 rolling-active-HLL gate: 2^12 registers; ceiling on the worst
    * per-day relative error vs the exact q110 answer (theoretical
    * 1.04/√4096 ≈ 1.6%, and this corpus's per-window cardinalities sit
    * in the near-exact linear-counting regime; the boolean gate ran
    * green at sf0.001/0.01/0.1). */
  private val WauHllP = 12
  private val WauHllMaxRelErr = 0.05
  /** q179 trigram support floor: 5 event types → ≤125 patterns,
    * ~80 expected occurrences each at sf0.01; 20 keeps the bulk and
    * prunes only the genuinely rare tail. */
  private val TrigramMinSupport = 20L
  /** q176 rolling-correlation window (observed days) and value
    * fixed-point unit (milli-units — int64-exact through the window
    * sums at this corpus's daily value mass, see operator scaladoc). */
  private val RollCorrDays = 7
  private val RollCorrQuant = 1000L
  /** q183 max autocorrelation lag (days): one week, so the weekly
    * cycle lands exactly on the last lag. */
  private val AcfMaxLag = 7

  /** q150 twin: the identical integer-fixed-point power iterations as
    * [[graft.operators.EventAnalytics.transitionPageRank]], unrolled
    * (the kmeansTwin/BPE pattern) — pr and edge weights never leave
    * int64 until the final display division.
    */
  private def pageRankTwin(iters: Int, dampingPct: Int): String = {
    val rounds = (1 to iters).map { r =>
      s"""r$r AS (SELECT nd.node,
         |    CAST(1000000000000 * ${100 - dampingPct} // (100 * nn.n)
         |      AS BIGINT)
         |    + CAST($dampingPct * COALESCE(m.in_mass, 0) // 100 AS BIGINT)
         |      AS pr
         |  FROM nd CROSS JOIN nn LEFT JOIN (
         |    SELECT ed.dst AS node,
         |      CAST(SUM(rp.pr * ed.w // 1000000) AS BIGINT) AS in_mass
         |    FROM ed JOIN r${r - 1} rp ON ed.src = rp.node GROUP BY 1) m
         |    ON m.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nx AS (SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS dst
       |  FROM events),
       |ec AS (SELECT src, dst, COUNT(*) AS cnt FROM nx
       |  WHERE dst IS NOT NULL GROUP BY 1, 2),
       |ot AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS "out" FROM ec
       |  GROUP BY 1),
       |ed AS (SELECT ec.src, ec.dst,
       |    CAST(ec.cnt * 1000000 // ot."out" AS BIGINT) AS w
       |  FROM ec JOIN ot ON ec.src = ot.src),
       |nd AS (SELECT DISTINCT event_type AS node FROM events),
       |nn AS (SELECT COUNT(*) AS n FROM nd),
       |r0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS pr
       |  FROM nd CROSS JOIN nn),
       |$rounds
       |SELECT node, pr AS pr_fixed,
       |  round(CAST(pr AS DOUBLE) / 1e12, 9) AS pr
       |FROM r$iters ORDER BY pr_fixed DESC, node""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // Funnel analysis, greedy earliest-completion: per user, the
    // view -> click -> purchase state machine folded over the sorted
    // per-user history — ONE entity-keyed shuffle, not one per step.
    Query("q108_funnel", (s, dir) =>
      operators.EventAnalytics.funnel(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase")),
      // chained-min formulation — equivalent to the engine's fold state
      // machine because strict > makes tie order irrelevant
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST((t1 IS NOT NULL) AS INTEGER) + CAST((t2 IS NOT NULL) AS INTEGER)
        |    + CAST((t3 IS NOT NULL) AS INTEGER) AS depth,
        |  t1, t2, t3
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // Cohort retention: first-activity-day cohorts x day offset,
    // distinct active users per cell; calendar-bounded output.
    Query("q109_cohort_retention", (s, dir) =>
      operators.EventAnalytics.cohortRetention(Tables.events(s, dir),
        "user_id", "ts"),
      """WITH fd AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_d
        |  FROM events GROUP BY 1),
        |ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
        |SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
        |  CAST(datediff('day', cohort_d, d) AS INTEGER) AS k,
        |  COUNT(DISTINCT user_id) AS n_active
        |FROM ad JOIN fd USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_day, k""".stripMargin),

    // q108 under the hot-entity guard (r10): every entity's history is
    // truncated to its EARLIEST FunnelEntityCap events through the
    // spillable window pre-rank before the fold — the memory envelope
    // that survives a degenerate bot key. The cap sits BELOW the
    // median activity here, so the twin (the same row_number prefilter
    // feeding the chained-min machine) gates the truncation semantics
    // on most entities, not a no-op. The funnel_hot_entity stress
    // covers the 100×-activity regime this gate can't reach at test SF.
    Query("q145_funnel_capped", (s, dir) =>
      operators.EventAnalytics.funnel(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"),
        maxEventsPerEntity = Some(FunnelEntityCap)),
      // q108's chained-min twin over the SAME earliest-events prefilter:
      // row_number per entity in (ts, event_type) order, keep <= cap.
      // Same-(ts, type) ties are interchangeable rows, so the kept
      // multiset — and with it the funnel — is deterministic either way.
      s"""WITH capped AS (SELECT user_id, ts, event_type FROM (
        |    SELECT user_id, ts, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |                         ORDER BY ts, event_type) AS rn
        |    FROM events) WHERE rn <= $FunnelEntityCap),
        |s1 AS (SELECT user_id, MIN(ts) AS t1 FROM capped
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM capped e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM capped e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM capped)
        |SELECT u.user_id,
        |  CAST((t1 IS NOT NULL) AS INTEGER) + CAST((t2 IS NOT NULL) AS INTEGER)
        |    + CAST((t3 IS NOT NULL) AS INTEGER) AS depth,
        |  t1, t2, t3
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin),

    // Market-basket co-occurrence over q124's 30-minute sessions:
    // support/confidence/lift per unordered event-type pair, pairs
    // expanded INSIDE the per-session aggregate (no self-join).
    Query("q148_cooccurrence_lift", (s, dir) =>
      operators.EventAnalytics.cooccurrenceLift(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id", SessionGapMicros),
      s"""WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE
        |         THEN 1 ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(opens) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM o),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
        |ns AS (SELECT COUNT(*) AS n FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |tc AS (SELECT event_type AS t, COUNT(*) AS n_t FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_ab
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
        |      AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ns.n AS DOUBLE), 9) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(ta.n_t AS DOUBLE), 9)
        |    AS confidence,
        |  round(CAST(n_ab * ns.n AS DOUBLE) /
        |    CAST(ta.n_t * tb.n_t AS DOUBLE), 9) AS lift
        |FROM pr CROSS JOIN ns
        |  JOIN tc ta ON ta.t = pr.type_a
        |  JOIN tc tb ON tb.t = pr.type_b
        |ORDER BY type_a, type_b""".stripMargin),

    // PageRank over the q111 transition graph in exact integer fixed
    // point (5 unrolled iterations, damping 85/100): the corpus-sized
    // work is ONE edge-count shuffle; iterations walk the
    // vocabulary-sized node table. Twin replays the identical rounds.
    Query("q150_transition_pagerank", (s, dir) =>
      operators.EventAnalytics.transitionPageRank(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id",
        iters = PageRankIters, dampingPct = PageRankDampingPct), pageRankTwin(PageRankIters,
      PageRankDampingPct)),

    // Rolling 7-day actives from mergeable per-day HLL registers,
    // gated against the exact q110 answer: worst per-day relative
    // error under WauHllMaxRelErr (the q144 boolean-floor pattern).
    // The corpus is scanned once; fan-out/merge walks day × 2^p
    // register rows where the exact op re-shuffles (day, user) pairs.
    Query("q160_rolling_active_hll", (s, dir) => {
      val ev = Tables.events(s, dir)
      val exact =
        operators.EventAnalytics.rollingActive(ev, "user_id", "ts", 7)
      val approx = operators.EventAnalytics.rollingActiveHll(
        ev, "user_id", "ts", 7, WauHllP)
      exact.join(approx, Seq("day"))
        .agg(count(lit(1)).as("n_days"),
          max(abs(col("wau_est") - col("wau_7d").cast("double")) /
            col("wau_7d").cast("double")).as("maxerr"))
        .select(col("n_days"),
          (col("maxerr") <= lit(WauHllMaxRelErr)).as("rel_err_ok"))
    },
      """SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  CAST(TRUE AS BOOLEAN) AS rel_err_ok
        |FROM events""".stripMargin),

    // Rolling engagement: exact DAU + trailing-7-day WAU per day. The
    // (day, user) distinct projection fans out over the 7 window
    // anchors before ONE distinct-count aggregate — no per-window
    // rescan. (The 100 TB path for sliding distincts is the mergeable
    // HLL register family, q65/q69; this is the exact contract.)
    Query("q110_rolling_active", (s, dir) =>
      operators.EventAnalytics.rollingActive(Tables.events(s, dir),
        "user_id", "ts", windowDays = 7),
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u
        |  FROM events),
        |dau AS (SELECT d, COUNT(DISTINCT u) AS dau FROM du GROUP BY 1),
        |rw AS (SELECT d + CAST(i AS INTEGER) AS anchor, u FROM du
        |  CROSS JOIN unnest(generate_series(0, 6)) t(i)),
        |wau AS (SELECT anchor, COUNT(DISTINCT u) AS wau_7d
        |  FROM rw GROUP BY 1)
        |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau AS dau,
        |  wau.wau_7d AS wau_7d
        |FROM dau JOIN wau ON dau.d = wau.anchor
        |ORDER BY day""".stripMargin),

    // First-order Markov transitions between event types per user
    // timeline: one window pass + a |types|^2 aggregate.
    Query("q111_event_transitions", (s, dir) =>
      operators.EventAnalytics.transitionMatrix(Tables.events(s, dir),
        "user_id", "ts", "event_type", tieCol = "event_id"),
      """WITH nx AS (SELECT event_type AS et,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS net
        |  FROM events),
        |cnt AS (SELECT et, net, COUNT(*) AS n FROM nx
        |  WHERE net IS NOT NULL GROUP BY 1, 2)
        |SELECT et, net, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY et) AS DOUBLE), 9) AS p
        |FROM cnt
        |ORDER BY et, net""".stripMargin),

    // Time-to-convert distribution over the q108 funnel: completion
    // rate + exact p50/p90/max seconds across converters.
    Query("q112_conversion_stats", (s, dir) =>
      operators.EventAnalytics.conversionStats(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase")),
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events),
        |d AS (SELECT u.user_id, t3,
        |  CAST(epoch_us(t3) - epoch_us(t1) AS DOUBLE) / 1000000.0 AS d
        |  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s3 USING (user_id))
        |SELECT COUNT(*) AS n_users, COUNT(t3) AS n_converted,
        |  round(CAST(COUNT(t3) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS conv_rate,
        |  round(quantile_cont(d, 0.5), 9) AS p50_secs,
        |  round(quantile_cont(d, 0.9), 9) AS p90_secs,
        |  round(MAX(d), 9) AS max_secs
        |FROM d""".stripMargin),

    // Top ordered 3-step event paths (second-order companion to the
    // q111 transition matrix): chained leads, one keyed shuffle.
    Query("q115_top_paths", (s, dir) =>
      operators.EventAnalytics.topPaths(Tables.events(s, dir),
        "user_id", "ts", "event_type", tieCol = "event_id", n = 3, k = 20),
      """WITH nx AS (SELECT event_type AS e0,
        |    lead(event_type, 1) OVER w AS e1,
        |    lead(event_type, 2) OVER w AS e2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e0 || ' > ' || e1 || ' > ' || e2 AS path, COUNT(*) AS n
        |FROM nx WHERE e2 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, path
        |LIMIT 20""".stripMargin),

    // Daily event-volume z-scores vs the trailing 7-calendar-day
    // window: the ingest spike/stall audit.
    Query("q118_volume_anomaly", (s, dir) =>
      operators.EventAnalytics.volumeAnomaly(
        Tables.events(s, dir), "ts", "event_type"),
      // trailing stats stay integral (n*S2 - S1^2) until one pinned
      // double chain + IEEE sqrt; RANGE window on the epoch-day key so
      // missing days shrink the sample
      """WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dn AS (SELECT et, d, n,
        |    CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS dnum
        |  FROM daily),
        |w AS (SELECT et, d, n,
        |    COUNT(n) OVER tw AS n_days,
        |    CAST(SUM(n) OVER tw AS BIGINT) AS s1,
        |    CAST(SUM(n * n) OVER tw AS BIGINT) AS s2
        |  FROM dn
        |  WINDOW tw AS (PARTITION BY et ORDER BY dnum
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT *, n_days * s2 - s1 * s1 AS var_num,
        |    CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_w
        |  FROM w WHERE n_days >= 3),
        |z AS (SELECT *, CASE WHEN var_num > 0 THEN
        |    (CAST(n AS DOUBLE) - mean_w)
        |      / sqrt(CAST(var_num AS DOUBLE)
        |          / CAST(n_days * (n_days - 1) AS DOUBLE)) END AS z
        |  FROM f)
        |SELECT et AS event_type, strftime(d, '%Y-%m-%d') AS day, n, n_days,
        |  mean_w, z, COALESCE(abs(z) > 3.0, FALSE) AS spike
        |FROM z
        |ORDER BY event_type, day""".stripMargin),

    // Inter-event cadence: per-type gap distribution between
    // consecutive same-entity events.
    Query("q119_event_cadence", (s, dir) =>
      operators.EventAnalytics.interEventGaps(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS g
        |  FROM events),
        |gg AS (SELECT event_type, g, CAST(g AS DOUBLE) / 1000000.0 AS gs
        |  FROM g WHERE g IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST(SUM(g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
        |    AS mean_s,
        |  round(quantile_cont(gs, 0.5), 9) AS p50_s,
        |  round(quantile_cont(gs, 0.9), 9) AS p90_s,
        |  MAX(gs) AS max_s
        |FROM gg GROUP BY 1
        |ORDER BY event_type""".stripMargin),

    // Activity concentration per event type: exact Gini + top-decile
    // share (the whale audit).
    Query("q120_activity_gini", (s, dir) =>
      operators.EventAnalytics.activityConcentration(
        Tables.events(s, dir), "user_id", "event_type"),
      // rank-sum Gini: numerator 2*Sum(i*x) - (n+1)*Sum(x) exact in
      // DECIMAL; top-decile cut is ceil(n/10) entities by the pinned
      // (x, entity) ascending order
      """WITH pu AS (SELECT event_type, user_id AS u, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, u, x,
        |    CAST(row_number() OVER
        |      (PARTITION BY event_type ORDER BY x, u) AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS ntot
        |  FROM pu),
        |t AS (SELECT *, i > ntot - ((ntot + 9) // 10) AS topdec FROM r)
        |SELECT event_type, COUNT(*) AS n_users,
        |  CAST(SUM(x) AS BIGINT) AS n_events,
        |  CAST(CAST((CAST(2 * SUM(CAST(i AS DECIMAL(38,0)) * x) AS HUGEINT)
        |        - (COUNT(*) + 1) * CAST(SUM(x) AS HUGEINT)) * 1000000000
        |      // (CAST(COUNT(*) AS HUGEINT) * CAST(SUM(x) AS HUGEINT))
        |      AS BIGINT) AS DOUBLE) / 1e9 AS gini,
        |  CAST(SUM(CASE WHEN topdec THEN x ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(x) AS DOUBLE) AS top10_share
        |FROM t GROUP BY 1
        |ORDER BY event_type""".stripMargin),

    // Funnel drop-off: per-step reach + step-over-step conversion,
    // the funnel-chart table over q108's state machine.
    Query("q122_funnel_dropoff", (s, dir) =>
      operators.EventAnalytics.funnelDropoff(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase")),
      // q108's chained-min formulation gives the same per-step reach as
      // the state machine (strict-after makes tie order irrelevant);
      // step-1's conv_from_prev denominator is the full entity population
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |u AS (SELECT COUNT(DISTINCT user_id) AS n_total FROM events),
        |n AS (SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |        (SELECT COUNT(*) FROM s1) AS n_reached
        |      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)),
        |w AS (SELECT n.*,
        |    lag(n_reached, 1, (SELECT n_total FROM u)) OVER (ORDER BY step)
        |      AS prev,
        |    (SELECT n_total FROM u) AS n_total
        |  FROM n)
        |SELECT step, step_name, n_reached,
        |  CASE WHEN prev > 0 THEN
        |    CAST(n_reached AS DOUBLE) / CAST(prev AS DOUBLE) END
        |    AS conv_from_prev,
        |  CASE WHEN n_total > 0 THEN
        |    CAST(n_reached AS DOUBLE) / CAST(n_total AS DOUBLE) END
        |    AS conv_from_total
        |FROM w
        |ORDER BY step""".stripMargin),

    // Session engagement distribution over the 30-min gap sessions:
    // count, duration percentiles, events/session, bounce rate.
    Query("q124_session_stats", (s, dir) =>
      operators.EventAnalytics.sessionStats(Tables.events(s, dir),
        "user_id", "ts", "event_id", gapMicros = SessionGapMicros),
      // the q60 sessionizer CTE collapsed to one global engagement row
      s"""WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE
        |         THEN 1 ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(opens) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM o),
        |per AS (SELECT user_id, session_seq,
        |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us,
        |    COUNT(*) AS n_events
        |  FROM s GROUP BY 1, 2),
        |d AS (SELECT *, CAST(dur_us AS DOUBLE) / 1000000.0 AS dur_s FROM per)
        |SELECT COUNT(*) AS n_sessions,
        |  CAST(SUM(dur_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
        |    AS mean_dur_s,
        |  round(quantile_cont(dur_s, 0.5), 9) AS p50_dur_s,
        |  round(quantile_cont(dur_s, 0.9), 9) AS p90_dur_s,
        |  CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_events,
        |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS bounce_rate
        |FROM d""".stripMargin),

    // Daily error budget: error counts/rate + distinct entities
    // hitting errors per day.
    Query("q126_error_rates", (s, dir) =>
      operators.EventAnalytics.errorRates(Tables.events(s, dir),
        "ts", "event_type", "user_id"),
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_errors,
        |  COUNT(DISTINCT CASE WHEN event_type = 'error' THEN user_id END)
        |    AS n_error_users,
        |  CAST(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS error_rate
        |FROM events
        |GROUP BY CAST(ts AS DATE)
        |ORDER BY day""".stripMargin),

    // Daily peak session concurrency: day-partitioned interval sweep
    // with carry-in (the twin pins it against the global sweep).
    Query("q128_peak_concurrency", (s, dir) =>
      operators.EventAnalytics.peakConcurrency(Tables.events(s, dir),
        "user_id", "ts", "event_id", gapMicros = SessionGapMicros),
      // the GLOBAL sweep formulation (one window): equals the engine's
      // day-partitioned sweep + carry-in decomposition exactly; ends
      // order before starts at the same instant (d ascending)
      s"""WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE
        |         THEN 1 ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sn AS (
        |  SELECT *, CAST(SUM(opens) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM o),
        |sess AS (SELECT user_id, session_seq,
        |    MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
        |  FROM sn GROUP BY 1, 2),
        |sweep AS (SELECT s AS t, CAST(1 AS BIGINT) AS d FROM sess
        |  UNION ALL SELECT e, -1 FROM sess),
        |r AS (SELECT t, d, CAST(SUM(d) OVER (ORDER BY t, d
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM sweep)
        |SELECT strftime(CAST(make_timestamp(t) AS DATE), '%Y-%m-%d') AS day,
        |  MAX(run) AS peak
        |FROM r
        |GROUP BY 1
        |ORDER BY day""".stripMargin),

    // Bot-cadence audit: per-entity event count + min/median gap with
    // the too-fast-too-regular flag.
    Query("q129_bot_candidates", (s, dir) =>
      operators.EventAnalytics.botCandidates(Tables.events(s, dir),
        "user_id", "ts", "event_id", minEvents = BotMinEvents,
        maxMedianGapS = BotMaxMedianGapS),
      s"""WITH g AS (SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS g
        |  FROM events),
        |a AS (SELECT user_id, COUNT(*) AS n_events,
        |    CAST(MIN(g) AS DOUBLE) / 1000000.0 AS min_gap_s,
        |    round(quantile_cont(CAST(g AS DOUBLE) / 1000000.0, 0.5), 9)
        |      AS median_gap_s
        |  FROM g GROUP BY 1)
        |SELECT user_id, n_events, min_gap_s, median_gap_s,
        |  n_events >= $BotMinEvents AND median_gap_s <= $BotMaxMedianGapS AS bot_flag
        |FROM a
        |WHERE min_gap_s IS NOT NULL
        |ORDER BY user_id""".stripMargin),

    // Time-boxed funnel: q122's drop-off table under a 1-day step
    // deadline (greedy machine == chained min-within-window).
    Query("q130_funnel_deadline", (s, dir) =>
      operators.EventAnalytics.funnelDropoff(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"),
        maxStepGapUs = Some(FunnelDeadlineS * 1000000L)),
      // q122's chained-min twin with a 1-day deadline on each step edge
      s"""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL $FunnelDeadlineS SECOND GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL $FunnelDeadlineS SECOND GROUP BY 1),
        |u AS (SELECT COUNT(DISTINCT user_id) AS n_total FROM events),
        |n AS (SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |        (SELECT COUNT(*) FROM s1) AS n_reached
        |      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)),
        |w AS (SELECT n.*,
        |    lag(n_reached, 1, (SELECT n_total FROM u)) OVER (ORDER BY step)
        |      AS prev,
        |    (SELECT n_total FROM u) AS n_total
        |  FROM n)
        |SELECT step, step_name, n_reached,
        |  CASE WHEN prev > 0 THEN
        |    CAST(n_reached AS DOUBLE) / CAST(prev AS DOUBLE) END
        |    AS conv_from_prev,
        |  CASE WHEN n_total > 0 THEN
        |    CAST(n_reached AS DOUBLE) / CAST(n_total AS DOUBLE) END
        |    AS conv_from_total
        |FROM w
        |ORDER BY step""".stripMargin),

    // Last-touch attribution of purchases to the most recent preceding
    // non-purchase event type.
    Query("q131_attribution", (s, dir) =>
      operators.EventAnalytics.lastTouchAttribution(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type", convType = "purchase"),
      """WITH ch AS (SELECT event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
        |  FROM events),
        |conv AS (SELECT COALESCE(channel, '(none)') AS channel,
        |    COUNT(*) AS n_conversions
        |  FROM ch WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_conversions) AS BIGINT) AS n_total FROM conv)
        |SELECT channel, n_conversions,
        |  CAST(n_conversions AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        |FROM conv CROSS JOIN t
        |ORDER BY channel""".stripMargin),

    // Usage heatmap: (ISO weekday, hour) volume cells with shares.
    Query("q132_usage_heatmap", (s, dir) =>
      operators.EventAnalytics.usageHeatmap(Tables.events(s, dir), "ts"),
      // weekday pinned Monday=0 on both engines (weekday == isodow - 1)
      """WITH c AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hod, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM c)
        |SELECT dow, hod, n,
        |  CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
        |FROM c CROSS JOIN t
        |ORDER BY dow, hod""".stripMargin),

    // RFM engagement segmentation: tercile cells by recency /
    // frequency / exact-decimal monetary value.
    Query("q137_rfm_segments", (s, dir) =>
      operators.EventAnalytics.rfmSegments(Tables.events(s, dir),
        "user_id", "ts", "value"),
      """WITH u AS (SELECT user_id AS u, MAX(epoch_us(ts)) AS last_us,
        |    COUNT(*) AS f, SUM(CAST(value AS DECIMAL(30,6))) AS m
        |  FROM events GROUP BY 1),
        |mx AS (SELECT MAX(last_us) AS max_us FROM u),
        |t AS (SELECT
        |    CAST(ntile(3) OVER (ORDER BY max_us - last_us ASC, u ASC)
        |      AS BIGINT) AS r_t,
        |    CAST(ntile(3) OVER (ORDER BY f DESC, u ASC) AS BIGINT) AS f_t,
        |    CAST(ntile(3) OVER (ORDER BY m DESC, u ASC) AS BIGINT) AS m_t
        |  FROM u CROSS JOIN mx)
        |SELECT r_t, f_t, m_t, COUNT(*) AS n_users
        |FROM t GROUP BY 1, 2, 3
        |ORDER BY r_t, f_t, m_t""".stripMargin),

    // Weekly conversion trend: funnel entries cohorted by the ISO week
    // of their first step, with per-week completion rates.
    Query("q138_conversion_trend", (s, dir) => {
      val f = operators.EventAnalytics.funnel(Tables.events(s, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      f.filter(col("t1").isNotNull)
        .groupBy(date_format(date_trunc("week", col("t1")), "yyyy-MM-dd")
          .as("week"))
        .agg(count(lit(1)).as("n_entered"),
          count(col("t3")).as("n_converted"))
        .select(col("week"), col("n_entered"), col("n_converted"),
          (col("n_converted").cast("double") / col("n_entered").cast("double"))
            .as("conv_rate"))
        .orderBy("week")
    },
      // q108's chained-min funnel cohorted by ISO week of the first step
      // (both engines truncate weeks to Monday)
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT strftime(CAST(date_trunc('week', t1) AS DATE), '%Y-%m-%d')
        |    AS week,
        |  COUNT(*) AS n_entered, COUNT(t3) AS n_converted,
        |  CAST(COUNT(t3) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS conv_rate
        |FROM s1 LEFT JOIN s3 USING (user_id)
        |GROUP BY 1
        |ORDER BY week""".stripMargin),

    // CUSUM level-shift changepoint per event type: the day maximizing
    // the |cumulative deviation from the series mean|, exact through
    // the n_days-scaled int64 drift (one double division after the
    // argmax). Complements q118's local spike z-scores.
    Query("q175_cusum_changepoint", (s, dir) =>
      operators.EventAnalytics.cusumChangepoint(
        Tables.events(s, dir), "ts", "event_type"),
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, d, n,
        |    ROW_NUMBER() OVER po AS t,
        |    CAST(SUM(n) OVER po AS BIGINT) AS prefix,
        |    COUNT(*) OVER pa AS n_days,
        |    CAST(SUM(n) OVER pa AS BIGINT) AS total
        |  FROM daily
        |  WINDOW po AS (PARTITION BY event_type ORDER BY d),
        |    pa AS (PARTITION BY event_type)),
        |dr AS (SELECT *, n_days * prefix - t * total AS drift FROM w),
        |pick AS (SELECT *, ROW_NUMBER() OVER
        |    (PARTITION BY event_type ORDER BY abs(drift) DESC, d) AS rk
        |  FROM dr)
        |SELECT event_type, n_days, total AS total_events,
        |  strftime(d, '%Y-%m-%d') AS cp_day, CAST(t AS INTEGER) AS cp_index,
        |  CAST(drift AS BIGINT) AS cp_drift_scaled,
        |  CAST(drift AS DOUBLE) / CAST(n_days AS DOUBLE) AS cp_drift
        |FROM pick WHERE rk = 1
        |ORDER BY event_type""".stripMargin),

    // Frequent contiguous event-type trigrams with occurrence AND
    // distinct-entity support — sequence mining one window pass deep,
    // no per-position self-join.
    Query("q179_event_trigrams", (s, dir) =>
      operators.EventAnalytics.eventTrigrams(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id", TrigramMinSupport),
      s"""WITH t AS (SELECT user_id AS u, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, COUNT(*) AS n_occurrences,
        |  COUNT(DISTINCT u) AS n_users
        |FROM t WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |HAVING COUNT(*) >= $TrigramMinSupport
        |ORDER BY n_occurrences DESC, e1, e2, e3""".stripMargin),

    // Rolling 7-day volume↔value Pearson per event type — int64-gated
    // (quantized value sums), one final double chain per window.
    Query("q176_rolling_corr", (s, dir) =>
      operators.EventAnalytics.rollingCorrelation(
        Tables.events(s, dir), "ts", "event_type", "value",
        RollCorrDays, RollCorrQuant),
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS c,
        |    CAST(SUM(CAST(floor(value * $RollCorrQuant) AS BIGINT))
        |      AS BIGINT) AS vq
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, d,
        |    COUNT(*) OVER fr AS nw,
        |    CAST(SUM(c) OVER fr AS BIGINT) AS sc,
        |    CAST(SUM(c * c) OVER fr AS BIGINT) AS scc,
        |    CAST(SUM(vq) OVER fr AS BIGINT) AS sv,
        |    CAST(SUM(vq * vq) OVER fr AS BIGINT) AS svv,
        |    CAST(SUM(c * vq) OVER fr AS BIGINT) AS scv
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN ${RollCorrDays - 1} PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *, nw * scc - sc * sc AS var_c,
        |    nw * svv - sv * sv AS var_v
        |  FROM w WHERE nw = $RollCorrDays)
        |SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
        |  CAST(nw * scv - sc * sv AS DOUBLE) /
        |    sqrt(CAST(var_c AS DOUBLE) * CAST(var_v AS DOUBLE))
        |    AS vol_value_r
        |FROM f WHERE var_c > 0 AND var_v > 0
        |ORDER BY event_type, day""".stripMargin),

    // Power-user curve: entities by distinct-active-day count, with
    // the ≥k cumulative the power-user threshold is read off.
    Query("q182_power_user_curve", (s, dir) =>
      operators.EventAnalytics.powerUserCurve(Tables.events(s, dir),
        "user_id", "ts"),
      """WITH pu AS (SELECT user_id,
        |    COUNT(DISTINCT CAST(ts AS DATE)) AS nd
        |  FROM events GROUP BY 1),
        |h AS (SELECT nd AS n_active_days, COUNT(*) AS n_users
        |  FROM pu GROUP BY 1)
        |SELECT n_active_days, n_users,
        |  CAST(SUM(n_users) OVER (ORDER BY n_active_days DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_users_at_least
        |FROM h ORDER BY n_active_days""".stripMargin),

    // Lag-1..7 autocorrelation of daily volume per event type —
    // int64-exact moments, one rounded sqrt chain per (type, lag).
    Query("q183_daily_acf", (s, dir) =>
      operators.EventAnalytics.dailyAutocorrelation(
        Tables.events(s, dir), "ts", "event_type", AcfMaxLag),
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    COUNT(*) AS c FROM events GROUP BY 1, 2),
        |ls AS (SELECT CAST(unnest(range(1, ${AcfMaxLag + 1})) AS BIGINT)
        |  AS lag),
        |p AS (SELECT a.event_type, ls.lag, a.c AS x, b.c AS y
        |  FROM daily a CROSS JOIN ls
        |  JOIN daily b ON b.event_type = a.event_type
        |    AND b.d = a.d - CAST(ls.lag AS INTEGER)),
        |m AS (SELECT event_type, lag, COUNT(*) AS n_pairs,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM p GROUP BY 1, 2),
        |f AS (SELECT *, n_pairs * sxx - sx * sx AS var_x,
        |    n_pairs * syy - sy * sy AS var_y
        |  FROM m)
        |SELECT event_type, lag, n_pairs,
        |  round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(var_x AS DOUBLE) * CAST(var_y AS DOUBLE)), 9)
        |    + 0.0 AS acf
        |FROM f WHERE n_pairs >= 2 AND var_x > 0 AND var_y > 0
        |ORDER BY event_type, lag""".stripMargin),

    // Funnel step-to-step latency over q108's greedy-earliest machine:
    // converting users, min/max (exact µs) and mean gap per step pair.
    Query("q184_funnel_latency", (s, dir) =>
      operators.EventAnalytics.funnelStepLatency(Tables.events(s, dir),
        "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase")),
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |g AS (
        |  SELECT CAST(1 AS INTEGER) AS step_seq, 'view' AS step_from,
        |    'click' AS step_to, epoch_us(t2) - epoch_us(t1) AS gap_us
        |  FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), 'click', 'purchase',
        |    epoch_us(t3) - epoch_us(t2)
        |  FROM s2 JOIN s3 USING (user_id))
        |SELECT step_seq, step_from, step_to, COUNT(*) AS n_converted,
        |  MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
        |  CAST(SUM(gap_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_gap_us
        |FROM g GROUP BY 1, 2, 3 ORDER BY step_seq""".stripMargin),

    // Session entry→exit matrix under the shared 30-min gap: the
    // landing/bounce table, single-event diagonal broken out.
    Query("q185_session_entry_exit", (s, dir) =>
      operators.EventAnalytics.sessionEntryExit(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id", SessionGapMicros),
      s"""WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE
        |         THEN 1 ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(SUM(opens) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM o),
        |fe AS (SELECT user_id, sid,
        |    first_value(event_type) OVER ws AS entry_type,
        |    last_value(event_type) OVER (PARTITION BY user_id, sid
        |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING) AS exit_type,
        |    COUNT(*) OVER (PARTITION BY user_id, sid) AS n
        |  FROM s WINDOW ws AS (PARTITION BY user_id, sid
        |    ORDER BY ts, event_id)),
        |d AS (SELECT DISTINCT user_id, sid, entry_type, exit_type, n
        |  FROM fe)
        |SELECT entry_type, exit_type, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_single_event
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Next-state Gini impurity per source event type — q111's matrix
    // condensed to "how predictable is the next step", exact integer
    // moments (impurity, NOT entropy: entropy would sum ln terms in
    // engine-dependent order — the q168 lesson).
    Query("q195_transition_impurity", (s, dir) =>
      operators.EventAnalytics.transitionImpurity(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      """WITH p AS (SELECT event_type AS et,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS net
        |  FROM events),
        |c AS (SELECT et, net, COUNT(*) AS n FROM p
        |  WHERE net IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT et AS event_type,
        |    CAST(SUM(n) AS BIGINT) AS n_transitions,
        |    COUNT(*) AS n_next_states,
        |    CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS ssq
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_transitions, n_next_states,
        |  CAST(CAST(n_transitions AS HUGEINT) * n_transitions - ssq
        |      AS DOUBLE) /
        |    CAST(CAST(n_transitions AS HUGEINT) * n_transitions
        |      AS DOUBLE) AS gini_impurity
        |FROM m ORDER BY event_type""".stripMargin),

    // Spend by funnel depth: the DEADLINE funnel (q130's machine —
    // the uncapped one saturates at depth 3 on this corpus) joined to
    // per-user value mass (milli-quantized int64, the q176 gate) —
    // "do users who get further spend more". Two entity-keyed
    // aggregates, one |depths|-row fold, divides at the end.
    Query("q196_depth_value", (s, dir) => {
      val f = operators.EventAnalytics.funnel(Tables.events(s, dir),
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"),
          maxStepGapUs = Some(FunnelDeadlineS * 1000000L))
        .select(col("user_id"), col("depth"))
      val v = Tables.events(s, dir)
        .groupBy(col("user_id").as("u"))
        .agg(sum(floor(col("value") * lit(RollCorrQuant))).as("vq"))
      f.join(v, col("user_id") === col("u"))
        .groupBy(col("depth"))
        .agg(count(lit(1)).as("n_users"), sum(col("vq")).as("__sv"))
        .select(col("depth"), col("n_users"),
          (col("__sv").cast("double") / lit(RollCorrQuant.toDouble))
            .as("total_value"),
          (col("__sv").cast("double") /
            (col("n_users").cast("double") * lit(RollCorrQuant.toDouble)))
            .as("mean_value_per_user"))
        .orderBy("depth")
    },
      s"""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL $FunnelDeadlineS SECOND
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL $FunnelDeadlineS SECOND
        |  GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events),
        |f AS (SELECT u.user_id,
        |    CAST((t1 IS NOT NULL) AS INTEGER)
        |      + CAST((t2 IS NOT NULL) AS INTEGER)
        |      + CAST((t3 IS NOT NULL) AS INTEGER) AS depth
        |  FROM u LEFT JOIN s1 USING (user_id)
        |    LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)),
        |v AS (SELECT user_id,
        |    CAST(SUM(CAST(floor(value * $RollCorrQuant) AS BIGINT))
        |      AS BIGINT) AS vq
        |  FROM events GROUP BY 1)
        |SELECT depth, COUNT(*) AS n_users,
        |  CAST(SUM(vq) AS DOUBLE) / $RollCorrQuant.0 AS total_value,
        |  CAST(SUM(vq) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * $RollCorrQuant.0)
        |    AS mean_value_per_user
        |FROM f JOIN v USING (user_id)
        |GROUP BY 1 ORDER BY depth""".stripMargin),

    // Conversion by spend band: users bucketed by the BIT LENGTH of
    // their milli-quantized value mass (log2-ish bands from pure
    // integer string length — bin() agrees char-for-char across
    // engines; no log() float anywhere), each band's mean deadline-
    // funnel depth and purchase-conversion rate. "Do high spenders
    // convert more", with every moment exact until the two divides.
    Query("q201_value_band_conversion", (s, dir) => {
      val f = operators.EventAnalytics.funnel(Tables.events(s, dir),
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"),
          maxStepGapUs = Some(FunnelDeadlineS * 1000000L))
        .select(col("user_id"), col("depth"))
      val v = Tables.events(s, dir)
        .groupBy(col("user_id").as("u"))
        .agg(sum(floor(col("value") * lit(RollCorrQuant))).as("vq"))
        .select(col("u"),
          when(col("vq") > 0, length(bin(col("vq"))).cast("long"))
            .otherwise(0L).as("value_band"))
      f.join(v, col("user_id") === col("u"))
        .groupBy(col("value_band"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("depth").cast("long")).as("__sd"),
          sum(when(col("depth") === 3, 1L).otherwise(0L)).as("__nc"))
        .select(col("value_band"), col("n_users"),
          (col("__sd").cast("double") / col("n_users").cast("double"))
            .as("mean_depth"),
          (col("__nc").cast("double") / col("n_users").cast("double"))
            .as("conversion_rate"))
        .orderBy("value_band")
    },
      s"""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL $FunnelDeadlineS SECOND
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL $FunnelDeadlineS SECOND
        |  GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events),
        |f AS (SELECT u.user_id,
        |    CAST((t1 IS NOT NULL) AS INTEGER)
        |      + CAST((t2 IS NOT NULL) AS INTEGER)
        |      + CAST((t3 IS NOT NULL) AS INTEGER) AS depth
        |  FROM u LEFT JOIN s1 USING (user_id)
        |    LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)),
        |v AS (SELECT user_id,
        |    CAST(SUM(CAST(floor(value * $RollCorrQuant) AS BIGINT))
        |      AS BIGINT) AS vq
        |  FROM events GROUP BY 1),
        |b AS (SELECT user_id,
        |    CASE WHEN vq > 0 THEN length(bin(vq)) ELSE 0 END
        |      AS value_band
        |  FROM v)
        |SELECT value_band, COUNT(*) AS n_users,
        |  CAST(SUM(depth) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mean_depth,
        |  CAST(SUM(CASE WHEN depth = 3 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS conversion_rate
        |FROM f JOIN b USING (user_id)
        |GROUP BY 1 ORDER BY value_band""".stripMargin),

    // Two-step transition reachability: M² of the bigram counts —
    // "what follows X two clicks later, through ANY middle step". The
    // |types|²-row matrix self-joins on the middle type (nothing
    // corpus-sized); path products fold in DECIMAL(38,0).
    Query("q213_two_step_transitions", (s, dir) =>
      operators.EventAnalytics.twoStepTransitions(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      """WITH p AS (SELECT et, net, COUNT(*) AS n FROM (
        |    SELECT event_type AS et,
        |      LEAD(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS net
        |    FROM events)
        |  WHERE net IS NOT NULL GROUP BY 1, 2)
        |SELECT a.et AS et_from, b.net AS et_to,
        |  CAST(SUM(CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS n_paths
        |FROM p a JOIN p b ON a.net = b.et
        |GROUP BY 1, 2
        |ORDER BY et_from, et_to""".stripMargin),

    // Hour-of-day activity profile per event type — the diurnal-shape
    // audit; exact cell counts, one int64/int64 divide per share.
    Query("q214_hourly_profile", (s, dir) =>
      operators.EventAnalytics.hourlyActivityProfile(Tables.events(s, dir),
        "ts", "event_type"),
      """WITH c AS (SELECT event_type,
        |    CAST(hour(ts) AS BIGINT) AS hour_of_day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hour_of_day, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS share
        |FROM c ORDER BY event_type, hour_of_day""".stripMargin),

    // Session co-occurrence lift per event-type pair — the
    // market-basket audit on the session dimension (which behaviors
    // attract within one visit), exact session counts, one rounded
    // divide per |types|² cell.
    Query("q217_session_lift", (s, dir) =>
      operators.EventAnalytics.sessionCooccurrenceLift(
        Tables.events(s, dir), "user_id", "ts", "event_type",
        "event_id", SessionGapMicros),
      s"""WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL $SessionGapMinutes MINUTE
        |         THEN 1 ELSE 0 END AS opens
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(opens) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM o),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |na AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
        |  FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.session_seq = b.session_seq
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  round(CAST(n_ab * n_sessions AS DOUBLE) /
        |    CAST(na1.n_t * na2.n_t AS DOUBLE), 9) + 0.0 AS lift
        |FROM pr
        |CROSS JOIN ns
        |JOIN na na1 ON pr.type_a = na1.event_type
        |JOIN na na2 ON pr.type_b = na2.event_type
        |ORDER BY type_a, type_b""".stripMargin)
  )
}
