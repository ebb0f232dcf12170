package graft

import java.sql.Timestamp
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.functions._
import graft.streaming.StreamingOps

case class Ev(ts: Timestamp, key: String, value: Double)
case class Keyed(ts: Timestamp, k: String, payload: String)
/** A columnar ParameterData frame as published INTO a topic (ref
  * quix.ts:133-136 SendParameterData). */
case class CFrame(stream_id: Long, timestamps: Seq[Long],
                  numericValues: Map[String, Seq[Double]])
/** A streamed document for the curation pipeline tests. */
case class Doc(ts: Timestamp, doc_id: Long, text: String)
case class SrcDoc(source: String, lang: String, text: String)
case class IdDoc(doc_id: Long, source: String)

/** Streaming-parity tests for the defining computation (SURVEY.md §7
  * hard part 1): Quix `.final()` ≡ Spark append output mode — a window
  * emits exactly once, when the watermark passes window_end + grace,
  * and late data beyond the grace is dropped. MemoryStream + manual
  * batch advancement; a sentinel event advances the watermark.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedAgg append mode: final-only emission equals the batch result (ref option_trade_aggs/main.py:221-225)") {
    val input = MemoryStream[Ev](spark)
    val agged = StreamingOps.windowedAgg(input.toDF(), "ts", "key",
      "1 minute", "1 second",
      Seq(dsum(col("value")).as("sum_v"), count(lit(1)).as("n")))
    val ckpt = Files.createTempDirectory("ckpt_agg").toString
    val q = agged.writeStream.format("memory").queryName("agg_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // window 10:00-10:01, two keys
      val first = Seq(
        Ev(ts("2024-01-01 10:00:05"), "a", 10.0),
        Ev(ts("2024-01-01 10:00:20"), "b", 5.0),
        Ev(ts("2024-01-01 10:00:50"), "a", 7.0))
      input.addData(first)
      q.processAllAvailable()
      // nothing may be emitted: the watermark has not passed 10:01:00+1s
      spark.table("agg_out").count() shouldBe 0

      // sentinel far past window_end + grace closes the first window
      input.addData(Ev(ts("2024-01-01 10:02:30"), "z", 1.0))
      q.processAllAvailable()
      val emitted = spark.table("agg_out")
        .select($"window_start", $"key", $"sum_v", $"n")
        .orderBy($"key")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getDouble(2), r.getLong(3)))

      // batch twin over the same first-window rows
      val batch = first.toDF()
        .groupBy(window($"ts", "1 minute"), $"key")
        .agg(dsum($"value").as("sum_v"), count(lit(1)).as("n"))
        .select($"window.start", $"key", $"sum_v", $"n").orderBy($"key")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getDouble(2), r.getLong(3)))

      emitted.toSeq shouldBe batch.toSeq
      emitted.length shouldBe 2

      // a late event for the already-closed window is DROPPED (grace exceeded)
      input.addData(Ev(ts("2024-01-01 10:00:30"), "a", 100.0))
      q.processAllAvailable()
      spark.table("agg_out").count() shouldBe 2 // unchanged, no re-emission
    } finally q.stop()
  }

  test("streaming columnar write-back: ParameterData frames explode and window-aggregate like batch (ref quix.ts:133-136)") {
    import graft.operators.Telemetry
    val input = MemoryStream[CFrame](spark)
    // frames carry ns timestamps + parallel value arrays; the same
    // fromColumnarResponse used in batch runs stateless inside the stream
    val rows = Telemetry.fromColumnarResponse(input.toDF(),
      numericCols = Seq("value"), groupBy = Seq("stream_id"))
    val agged = StreamingOps.windowedAgg(rows, "ts", "stream_id",
      "1 minute", "1 second",
      Seq(dsum(col("value")).as("sum_v"), count(lit(1)).as("n")))
    val ckpt = Files.createTempDirectory("ckpt_cols").toString
    val q = agged.writeStream.format("memory").queryName("cols_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      def ns(s: String): Long = Timestamp.valueOf(s).getTime * 1000000L
      val frames = Seq(
        CFrame(1L, Seq(ns("2024-01-01 10:00:05"), ns("2024-01-01 10:00:40")),
          Map("value" -> Seq(10.0, 30.0))),
        CFrame(2L, Seq(ns("2024-01-01 10:00:20")),
          Map("value" -> Seq(5.0))))
      input.addData(frames)
      q.processAllAvailable()
      spark.table("cols_out").count() shouldBe 0 // window still open
      // sentinel frame far past window_end + grace closes it
      input.addData(CFrame(9L, Seq(ns("2024-01-01 10:02:30")),
        Map("value" -> Seq(0.0))))
      q.processAllAvailable()
      val emitted = spark.table("cols_out")
        .select($"stream_id", $"sum_v", $"n").orderBy($"stream_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      // batch twin: explode the same frames and aggregate
      val batch = Telemetry.fromColumnarResponse(frames.toDF(),
          numericCols = Seq("value"), groupBy = Seq("stream_id"))
        .groupBy(window($"ts", "1 minute"), $"stream_id")
        .agg(dsum($"value").as("sum_v"), count(lit(1)).as("n"))
        .select($"stream_id", $"sum_v", $"n").orderBy($"stream_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      emitted.toSeq shouldBe batch.toSeq
      emitted.length shouldBe 2
    } finally q.stop()
  }

  test("dedupWithinWatermark: duplicate business keys collapse to first within the watermark (SURVEY.md §7 hard part 4)") {
    val input = MemoryStream[Keyed](spark)
    val deduped = StreamingOps.dedupWithinWatermark(input.toDF(), "ts", "10 seconds", Seq("k"))
    val ckpt = Files.createTempDirectory("ckpt_dedup").toString
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(
        Keyed(ts("2024-01-01 10:00:00"), "k1", "first"),
        Keyed(ts("2024-01-01 10:00:01"), "k1", "dup-within-watermark"),
        Keyed(ts("2024-01-01 10:00:02"), "k2", "other"))
      q.processAllAvailable()
      input.addData(Keyed(ts("2024-01-01 10:00:03"), "k1", "dup-again"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select($"k", $"payload")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
      out.toSeq shouldBe Seq(("k1", "first"), ("k2", "other"))
    } finally q.stop()
  }

  test("lagMetricsStateful carries per-key state ACROSS micro-batches (W1/W2 streaming)") {
    import graft.streaming.{LagPoint, LagMetrics}
    val input = MemoryStream[LagPoint](spark)
    val out = StreamingOps.lagMetricsStateful(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_lag").toString
    val q = out.writeStream.format("memory").queryName("lag_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(LagPoint("a", 1000L, 100.0), LagPoint("a", 2000L, 110.0),
        LagPoint("b", 1000L, 0.0))
      q.processAllAvailable()
      // batch 2: state from batch 1 must be visible
      input.addData(LagPoint("a", 5000L, 99.0), LagPoint("b", 3000L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("lag_out").as[LagMetrics].collect()
        .sortBy(r => (r.key, r.tsUs))
      rows.map(r => (r.key, r.tsUs, r.pctGap.map(g => math.round(g * 100) / 100.0),
        r.stalenessUs)).toSeq shouldBe Seq(
        ("a", 1000L, None, None),
        ("a", 2000L, Some(10.0), Some(1000L)),
        ("a", 5000L, Some(-10.0), Some(3000L)),   // vs batch-1 state
        ("b", 1000L, None, None),
        ("b", 3000L, None, Some(2000L)))          // prev value 0 -> gap NULL
    } finally q.stop()
  }

  test("funnelStateful matches batch funnel across micro-batches (event-ordered arrival)") {
    import graft.streaming.{FunnelEvent, FunnelProgress}
    val steps = Seq("view", "click", "purchase")
    val us = 1000000L
    val b1 = Seq(
      FunnelEvent(1L, 10 * us, "view"), FunnelEvent(1L, 20 * us, "click"),
      FunnelEvent(2L, 10 * us, "click"),      // click before any view
      FunnelEvent(3L, 10 * us, "view"))
    val b2 = Seq(
      FunnelEvent(1L, 30 * us, "purchase"),   // completes across batches
      FunnelEvent(2L, 40 * us, "view"),
      FunnelEvent(3L, 10 * us, "click"))      // tie with u3's view: strict >
    val input = MemoryStream[FunnelEvent](spark)
    val out = StreamingOps.funnelStateful(input.toDS(), steps)
    val ckpt = Files.createTempDirectory("ckpt_funnel").toString
    val q = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // latest progress row per user = its final state
      val streamed = spark.table("funnel_out").as[FunnelProgress].collect()
        .groupBy(_.user).map { case (u, rows) =>
          val last = rows.maxBy(_.depth)
          u -> (last.depth, last.stepTsUs.toList)
        }
      // batch reference over the union, timestamps in whole seconds
      val batch = graft.operators.EventAnalytics.funnel(
          (b1 ++ b2).map(e => (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.etype))
            .toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps)
        .collect().map { r =>
          val ts = (2 to 4).flatMap(i => Option(r.getTimestamp(i)))
            .map(_.getTime * 1000L).toList
          r.getLong(0) -> (r.getInt(1), ts)
        }.toMap
      streamed shouldBe batch.filter(_._2._1 > 0) // depth-0 users emit nothing
      batch(2L)._1 shouldBe 1 // u2's early click never counted
      batch(3L)._1 shouldBe 1 // u3's same-ts click excluded by strict >
    } finally q.stop()
  }

  test("funnelStateful step deadline matches the batch q130 machine across micro-batches") {
    import graft.streaming.{FunnelEvent, FunnelProgress}
    val steps = Seq("view", "click", "purchase")
    val us = 1000000L
    val deadline = 15L * us
    val b1 = Seq(
      FunnelEvent(1L, 10 * us, "view"),
      FunnelEvent(2L, 10 * us, "view"))
    val b2 = Seq(
      FunnelEvent(1L, 20 * us, "click"),     // within 10+15 -> advance
      FunnelEvent(2L, 30 * us, "click"),     // past 10+15 -> frozen at 1
      FunnelEvent(1L, 50 * us, "purchase"))  // past 20+15 -> frozen at 2
    val input = MemoryStream[FunnelEvent](spark)
    val out = StreamingOps.funnelStateful(input.toDS(), steps,
      maxStepGapUs = Some(deadline))
    val ckpt = Files.createTempDirectory("ckpt_funnel_dl").toString
    val q = out.writeStream.format("memory").queryName("funnel_dl_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("funnel_dl_out").as[FunnelProgress].collect()
        .groupBy(_.user).map { case (u, rows) =>
          val last = rows.maxBy(_.depth)
          u -> (last.depth, last.stepTsUs.toList)
        }
      val batch = graft.operators.EventAnalytics.funnel(
          (b1 ++ b2).map(e =>
              (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.etype))
            .toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps,
          maxStepGapUs = Some(deadline))
        .collect().map { r =>
          val ts = (2 to 4).flatMap(i => Option(r.getTimestamp(i)))
            .map(_.getTime * 1000L).toList
          r.getLong(0) -> (r.getInt(1), ts)
        }.toMap
      streamed shouldBe batch.filter(_._2._1 > 0)
      batch(1L)._1 shouldBe 2 // purchase missed its window
      batch(2L)._1 shouldBe 1 // click missed its window
    } finally q.stop()
  }

  test("transitionsStateful: pair counts equal the batch transition matrix across micro-batches") {
    import graft.streaming.{TransEvent, Transition}
    val us = 1000000L
    val b1 = Seq(
      TransEvent(1L, 10 * us, 100L, "a"), TransEvent(1L, 20 * us, 101L, "b"),
      TransEvent(2L, 10 * us, 102L, "a"))
    val b2 = Seq(
      TransEvent(1L, 30 * us, 103L, "a"),   // cross-batch b->a
      TransEvent(2L, 20 * us, 104L, "c"))
    val input = MemoryStream[TransEvent](spark)
    val out = StreamingOps.transitionsStateful(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_trans").toString
    val q = out.writeStream.format("memory").queryName("trans_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("trans_out").as[Transition].collect()
        .groupBy(t => (t.et, t.net)).view.mapValues(_.length.toLong).toMap
      val batch = graft.operators.EventAnalytics.transitionMatrix(
          (b1 ++ b2).map(e =>
            (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.eid, e.etype))
            .toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_type", "event_id")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      streamed shouldBe batch
      batch(("b", "a")) shouldBe 1L // the cross-batch pair made it
    } finally q.stop()
  }

  test("gapsStateful: gap multiset equals the batch cadence extraction across micro-batches") {
    import graft.streaming.{TransEvent, EventGap}
    val us = 1000000L
    val b1 = Seq(
      TransEvent(1L, 10 * us, 100L, "a"), TransEvent(1L, 20 * us, 101L, "a"),
      TransEvent(1L, 15 * us, 102L, "b"), // other type, same user: isolated
      TransEvent(2L, 10 * us, 103L, "a"))
    val b2 = Seq(
      TransEvent(1L, 50 * us, 104L, "a"), // cross-batch 30 s gap
      TransEvent(2L, 11 * us, 105L, "a"))
    val input = MemoryStream[TransEvent](spark)
    val out = StreamingOps.gapsStateful(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_gaps").toString
    val q = out.writeStream.format("memory").queryName("gaps_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("gaps_out").as[EventGap].collect()
        .map(g => (g.user, g.etype, g.gapUs)).sorted.toSeq
      streamed shouldBe Seq(
        (1L, "a", 10 * us), (1L, "a", 30 * us), (2L, "a", 1 * us))
      // parity with the batch operator's aggregate over the same events
      val batch = graft.operators.EventAnalytics.interEventGaps(
          (b1 ++ b2).map(e =>
            (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.eid, e.etype))
            .toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_type", "event_id")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      batch shouldBe Map("a" -> 3L) // same three gaps, type b has none
    } finally q.stop()
  }

  test("entryExitStateful: closed sessions match the batch matrix minus each entity's final open session, across micro-batches") {
    import graft.streaming.{TransEvent, SessionSummary}
    val us = 1000000L
    val gap = 60 * us
    val b1 = Seq(
      TransEvent(1L, 10 * us, 100L, "a"),
      TransEvent(1L, 20 * us, 101L, "c"),
      TransEvent(2L, 10 * us, 102L, "z")) // single event so far
    val b2 = Seq(
      TransEvent(1L, 30 * us, 103L, "b"),   // continues u1's session
      TransEvent(1L, 300 * us, 104L, "c"),  // >60s: closes (a..b, n=3)
      TransEvent(2L, 400 * us, 105L, "y"))  // >60s: closes (z,z,1) bounce
    val input = MemoryStream[TransEvent](spark)
    val out = StreamingOps.entryExitStateful(input.toDS(), gap)
    val ckpt = Files.createTempDirectory("ckpt_ee").toString
    val q = out.writeStream.format("memory").queryName("ee_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("ee_out").as[SessionSummary].collect()
        .map(s => (s.user, s.entryType, s.exitType, s.nEvents))
        .sorted.toSeq
      streamed shouldBe Seq(
        (1L, "a", "b", 3L), (2L, "z", "z", 1L))
      // batch parity: the batch matrix over the same events counts the
      // SAME closed sessions plus exactly one final open session per
      // entity (u1: c alone; u2: y alone)
      val batch = graft.operators.EventAnalytics.sessionEntryExit(
          (b1 ++ b2).map(e =>
            (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.eid, e.etype))
            .toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_type", "event_id", gap)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      batch shouldBe Set(
        ("a", "b", 1L, 0L),  // the streamed closed session
        ("z", "z", 1L, 1L),  // the streamed bounce
        ("c", "c", 1L, 1L),  // u1's final open session (batch-only)
        ("y", "y", 1L, 1L))  // u2's final open session (batch-only)
    } finally q.stop()
  }

  test("entryExitStatefulTimeout: the watermark flushes idle sessions to full batch parity") {
    // the event-time-timeout face (VERDICT r10 item 7): u1 and u2 get
    // NO successor events — under NoTimeout their sessions would stay
    // in state forever; here the watermark (advanced by a far-future
    // horizon entity) times them out and emits them closed, matching
    // the batch matrix's final sessions
    import graft.streaming.{TransEvent, SessionSummary}
    val us = 1000000L
    val gap = 60 * us
    val b1 = Seq(
      TransEvent(1L, 10 * us, 100L, "a"),
      TransEvent(1L, 20 * us, 101L, "c"),
      TransEvent(2L, 10 * us, 102L, "z"))
    val b2 = Seq(TransEvent(3L, 500 * us, 103L, "w"))  // horizon: wm→500s
    val b3 = Seq(TransEvent(3L, 501 * us, 104L, "w"))  // trigger: fires 80s/70s timeouts
    val input = MemoryStream[TransEvent](spark)
    val out = StreamingOps.entryExitStatefulTimeout(input.toDS(), gap)
    val ckpt = Files.createTempDirectory("ckpt_eet").toString
    val q = out.writeStream.format("memory").queryName("eet_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      // nothing closed yet: no successor gaps, watermark still 0
      spark.table("eet_out").count() shouldBe 0L
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val streamed = spark.table("eet_out").as[SessionSummary].collect()
        .map(s => (s.user, s.entryType, s.exitType, s.nEvents))
        .sorted.toSeq
      streamed shouldBe Seq((1L, "a", "c", 2L), (2L, "z", "z", 1L))
      // watermark-relative parity: the batch matrix over u1/u2's
      // events counts exactly the flushed sessions (they ARE the
      // final sessions batch reports); only the horizon entity's
      // still-open session separates stream from batch
      val batch = graft.operators.EventAnalytics.sessionEntryExit(
          b1.map(e =>
            (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.eid, e.etype))
            .toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_type", "event_id", gap)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      batch shouldBe Set(("a", "c", 1L, 0L), ("z", "z", 1L, 1L))
    } finally q.stop()
  }

  test("entryExitStatefulTimeout: overdue timeouts clamp forward when a batch outruns the gap") {
    // a single micro-batch spanning MORE event time than the gap (hot
    // backfill) leaves open sessions whose desired flush time is
    // already BEHIND the post-batch watermark — Spark rejects such a
    // registration outright, so the operator clamps it one ms past the
    // current watermark and the overdue session flushes on the next
    // trigger. Pre-clamp this scenario threw
    // FLATMAPGROUPSWITHSTATE_USER_FUNCTION_ERROR (found by the
    // StreamBench hot-key face run).
    import graft.streaming.{TransEvent, SessionSummary}
    val us = 1000000L
    val gap = 60 * us
    val b1 = Seq(
      TransEvent(1L, 10 * us, 100L, "a"),
      TransEvent(1L, 20 * us, 101L, "b"),
      TransEvent(1L, 200 * us, 102L, "c"),  // in-batch close of (a,b)
      TransEvent(9L, 500 * us, 103L, "w"))  // same-batch horizon: wm→500s
    val b2 = Seq(TransEvent(9L, 501 * us, 104L, "w")) // fires the overdue flush
    val input = MemoryStream[TransEvent](spark)
    val out = StreamingOps.entryExitStatefulTimeout(input.toDS(), gap)
    val ckpt = Files.createTempDirectory("ckpt_eet2").toString
    val q = out.writeStream.format("memory").queryName("eet2_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      // the in-batch gap closed (a,b); u1's (c) session was open with
      // desired timeout 260s, far behind the 500s watermark — the
      // clamped registration must not throw, and the engine's no-data
      // timeout batch (watermark advanced) flushes the overdue session
      // within the same processAllAvailable
      spark.table("eet2_out").as[SessionSummary].collect()
        .map(s => (s.user, s.entryType, s.exitType, s.nEvents))
        .sorted.toSeq shouldBe Seq((1L, "a", "b", 2L), (1L, "c", "c", 1L))
      // a further trigger must not re-emit or duplicate anything
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("eet2_out").as[SessionSummary].collect()
        .map(s => (s.user, s.entryType, s.exitType, s.nEvents))
        .sorted.toSeq
      streamed shouldBe Seq((1L, "a", "b", 2L), (1L, "c", "c", 1L))
    } finally q.stop()
  }

  test("attributionStateful: credits equal the batch last-touch window across micro-batches") {
    import graft.streaming.{TransEvent, Attribution}
    val us = 1000000L
    val b1 = Seq(
      TransEvent(1L, 10 * us, 100L, "ad"),
      TransEvent(1L, 20 * us, 101L, "purchase"),  // credits ad
      TransEvent(2L, 10 * us, 102L, "purchase"))  // nothing before: (none)
    val b2 = Seq(
      TransEvent(1L, 30 * us, 103L, "purchase"),  // STILL ad, across batches
      TransEvent(2L, 20 * us, 104L, "email"),
      TransEvent(2L, 30 * us, 105L, "purchase"))  // credits email
    val input = MemoryStream[TransEvent](spark)
    val out = StreamingOps.attributionStateful(input.toDS(), "purchase")
    val ckpt = Files.createTempDirectory("ckpt_attr").toString
    val q = out.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("attr_out").as[Attribution].collect()
        .groupBy(_.channel).view.mapValues(_.length.toLong).toMap
      val batch = graft.operators.EventAnalytics.lastTouchAttribution(
          (b1 ++ b2).map(e =>
            (e.user, new java.sql.Timestamp(e.tsUs / 1000), e.eid, e.etype))
            .toDF("user_id", "ts", "event_id", "event_type"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      streamed shouldBe batch
      batch shouldBe Map("ad" -> 2L, "(none)" -> 1L, "email" -> 1L)
    } finally q.stop()
  }

  test("gaps/attribution stateful: hot key — one entity's entire large micro-batch group folds correctly") {
    // the sortedGroup memory-contract case (VERDICT r10 item 5): ONE
    // key receives a whole micro-batch of unsorted events; the fold
    // must sort the group once, emit every gap exactly, and carry
    // only O(1) state forward to the next batch
    import graft.streaming.{TransEvent, EventGap, Attribution}
    val us = 1000000L
    val n = 20000
    // arrival order scrambled deterministically (reverse-interleaved)
    val hot = (0 until n).map(i => if (i % 2 == 0) i / 2 else n - 1 - i / 2)
      .map(i => TransEvent(7L, (10L + i) * us, 1000L + i,
        if (i % 100 == 99) "purchase" else s"touch${i % 3}"))
    val input = MemoryStream[TransEvent](spark)
    val gaps = StreamingOps.gapsStateful(input.toDS())
    val ckpt = Files.createTempDirectory("ckpt_hot").toString
    val q = gaps.writeStream.format("memory").queryName("hot_gaps")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(hot: _*); q.processAllAvailable()
      // one more batch: the cross-batch gap proves state carried O(1)
      input.addData(TransEvent(7L, (10L + n + 9) * us, 9999L, "touch0"))
      q.processAllAvailable()
      val out = spark.table("hot_gaps").as[EventGap].collect()
      // per (user, type): events sorted by ts are 10+i for i≡type slots;
      // every within-type consecutive pair emits one gap
      val byType = hot.groupBy(_.etype).view.mapValues(_.size).toMap
      out.length shouldBe byType.values.map(_ - 1).sum + 1
      // purchases sit at EVERY slot i ≡ 99 (mod 100), so consecutive
      // purchase gaps are exactly 100 s — only a correctly event-time-
      // sorted fold of the scrambled arrival order produces that
      out.filter(g => g.etype == "purchase").map(_.gapUs).distinct
        .toSeq shouldBe Seq(100 * us)
    } finally q.stop()
    // attribution over the same hot group: every purchase credits the
    // immediately preceding touch in EVENT-TIME order (i-1 ≡ touch
    // slot (i-1)%3), never arrival order
    val input2 = MemoryStream[TransEvent](spark)
    val attr = StreamingOps.attributionStateful(input2.toDS(), "purchase")
    val ckpt2 = Files.createTempDirectory("ckpt_hot2").toString
    val q2 = attr.writeStream.format("memory").queryName("hot_attr")
      .outputMode("append").option("checkpointLocation", ckpt2).start()
    try {
      input2.addData(hot: _*); q2.processAllAvailable()
      val credits = spark.table("hot_attr").as[Attribution].collect()
      credits.length shouldBe n / 100
      // the k-th purchase (slot 99+100k) credits its event-time
      // predecessor slot 98+100k, whose touch type cycles with k
      // (100 ≡ 1 mod 3): k≡0→touch2, k≡1→touch0, k≡2→touch1
      val expected = (0 until n / 100)
        .map(k => s"touch${(98 + 100 * k) % 3}")
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      credits.groupBy(_.channel).view.mapValues(_.length.toLong)
        .toMap shouldBe expected
    } finally q2.stop()
  }

  test("packShardsStateful matches batch packShards across micro-batches (streaming shard packing)") {
    import graft.streaming.{ShardDoc, ShardAssigned}
    val docs = Seq(
      ShardDoc("s1", 1L, 600L), ShardDoc("s1", 2L, 600L),
      ShardDoc("s1", 3L, 600L), ShardDoc("s1", 4L, 500L),
      ShardDoc("s1", 5L, 100L),
      ShardDoc("s2", 1L, 5000L), ShardDoc("s2", 2L, 100L))
    val budget = 2000L
    // batch reference: the window formulation
    val batch = graft.operators.Curation.packShards(
        docs.toDF("source", "doc_id", "n_tok"), "source", "doc_id", "n_tok", budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet

    val input = MemoryStream[ShardDoc](spark)
    val out = StreamingOps.packShardsStateful(input.toDS(), budget)
    val ckpt = Files.createTempDirectory("ckpt_shards").toString
    val q = out.writeStream.format("memory").queryName("shards_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // id order respected ACROSS batches; the split lands mid-shard
      // for s1, so batch 2's first doc must continue shard 0 from the
      // state store, not restart at shard 0 with a zero counter
      input.addData(docs(0), docs(1), docs(5))
      q.processAllAvailable()
      input.addData(docs(2), docs(3), docs(4), docs(6))
      q.processAllAvailable()
      val got = spark.table("shards_out").as[ShardAssigned].collect()
        .map(a => (a.source, a.docId, a.shard)).toSet
      got shouldBe batch
    } finally q.stop()
  }

  test("file sink with checkpoint: AvailableNow drains once, restart ingests nothing twice (K1 exactly-once effect)") {
    val input = MemoryStream[Ev](spark)
    input.addData(Ev(ts("2024-01-01 10:00:05"), "a", 1.0),
      Ev(ts("2024-01-01 10:00:06"), "b", 2.0))
    val dir = Files.createTempDirectory("k1_sink")
    val out = dir.toString + "/out"
    val ckpt = dir.toString + "/ckpt"
    def runOnce(): Unit = {
      val q = StreamingOps.sink(input.toDF(), "parquet", Some(out), ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    spark.read.parquet(out).count() shouldBe 2
    // restart with the same checkpoint: offsets say everything committed
    runOnce()
    spark.read.parquet(out).count() shouldBe 2 // no duplicates
  }

  test("streaming decontamination: foreachBatch composes the batch operator against a static benchmark set") {
    // benchmark decontamination on an ARRIVING corpus: the contam set
    // is static (benchmark suites change rarely), every doc's shingles
    // live inside its own row, so each micro-batch decontaminates
    // independently with the unchanged batch operator — no cross-batch
    // state. The checkpoint prevents reprocessing on clean restart; a
    // blind parquet append is AT-LEAST-ONCE under mid-write failure
    // (the exactly-once upgrade is an idempotent batchId-keyed
    // overwrite, as the K1 file-sink test exercises). Output over all
    // batches must equal decontaminating the union as ONE batch.
    val t0 = ts("2024-01-01 10:00:00")
    val docs = Seq(
      Doc(t0, 1L, "the quick brown fox jumps over the lazy dog"),
      Doc(t0, 2L, "the quick brown fox jumps over the lazy cat"), // near-dup of contam
      Doc(t0, 3L, "completely different text about data pipelines"),
      Doc(t0, 4L, "another unrelated document entirely here"),
      Doc(t0, 5L, "the quick brown fox jumps over the lazy dog")) // exact contam
    val contam = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("bench_id", "bench_text")
    val (batchKept, _) = graft.operators.Curation.decontaminate(
      docs.toDF(), "doc_id", "text", contam, "bench_id", "bench_text",
      n = 2, t = 0.5)
    val expected = batchKept.select($"doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq

    val input = MemoryStream[Doc](spark)
    val dir = Files.createTempDirectory("decontam_stream")
    val outDir = dir.toString + "/kept"
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (kept, _) = graft.operators.Curation.decontaminate(
          batch, "doc_id", "text", contam, "bench_id", "bench_text",
          n = 2, t = 0.5)
        kept.write.mode("append").parquet(outDir)
        ()
      }
      .option("checkpointLocation", dir.toString + "/ckpt")
      .start()
    try {
      input.addData(docs(0), docs(1), docs(2))
      q.processAllAvailable()
      input.addData(docs(3), docs(4))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(outDir).select($"doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    got shouldBe expected
    got shouldBe Seq(3L, 4L) // contaminated 1, 2, 5 all dropped
  }

  test("incremental corpus manifest: complete-mode streaming agg equals the batch group-by (q90 streaming face)") {
    // the dataset-card counters a live ingest keeps current: per
    // (source, lang) doc counts and token totals as ONE streaming
    // aggregation (map-side partials + state store), complete-mode
    // memory sink. Corpus-global stats that need the whole corpus (the
    // LM mean, distinct-digest dedup rate) stay on the batch path by
    // design — this pins that the counter half is incremental with no
    // cross-batch drift.
    val rows = Seq(
      SrcDoc("src0", "en", "alpha beta gamma"),
      SrcDoc("src0", "en", "delta epsilon"),
      SrcDoc("src0", "de", "zeta"),
      SrcDoc("src1", "en", "eta theta iota kappa"),
      SrcDoc("src1", "en", "lambda"))
    def manifest(df: org.apache.spark.sql.DataFrame) = df
      .select($"source", $"lang",
        org.apache.spark.sql.functions.size(tokens($"text"))
          .cast("long").as("ntok"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("total_tokens"))
    val expected = manifest(rows.toDF()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

    val input = MemoryStream[SrcDoc](spark)
    val q = manifest(input.toDF()).writeStream
      .outputMode("complete").format("memory")
      .queryName("manifest_stream").start()
    try {
      input.addData(rows(0), rows(1), rows(2))
      q.processAllAvailable()
      input.addData(rows(3), rows(4))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("manifest_stream").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    got shouldBe expected
    got.map(t => (t._1, t._2)).toSet shouldBe
      Set(("src0", "en"), ("src0", "de"), ("src1", "en"))
  }

  test("streaming hash split: stateless per-row assignment composes with a complete-mode split manifest (q95 streaming face)") {
    // splitByHash is a pure per-row projection, so it drops into a
    // stream unchanged — each arriving doc gets its final split the
    // moment it lands (no state, no watermark, no reassignment ever),
    // and the per-(split, source) manifest is the same one streaming
    // aggregation as q90's counters. Pins batch/stream parity of BOTH
    // the assignment and the counts across micro-batches.
    val rows = (1L to 200L).map(id => IdDoc(id, s"src${id % 3}"))
    def manifest(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Curation.splitByHash(df, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy($"split", $"source")
        .agg(count(lit(1)).as("n_docs"))
    val expected = manifest(rows.toDF()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

    val input = MemoryStream[IdDoc](spark)
    val q = manifest(input.toDF()).writeStream
      .outputMode("complete").format("memory")
      .queryName("split_stream").start()
    try {
      input.addData(rows.take(120): _*)
      q.processAllAvailable()
      input.addData(rows.drop(120): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("split_stream").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    got shouldBe expected
    // all three splits materialized and the totals cover every row
    got.map(_._1).toSet shouldBe Set("train", "val", "test")
    got.map(_._3).sum shouldBe 200L
  }

  test("streaming ingest quarantine: one parse, valid rows to the sink, corrupt payloads to a dead-letter sink") {
    // the skip-bad-record-and-continue policy under Structured
    // Streaming: parseJson works unchanged on a streaming DataFrame,
    // and foreachBatch splits each micro-batch once into the parsed
    // sink and the raw-payload dead-letter (F1/F3 + §2.10 error
    // handling, ref option_trades/utils.py:205-208)
    import org.apache.spark.sql.types._
    val input = MemoryStream[String](spark)
    input.addData(
      """{"event_id": 1, "value": 10.5}""",
      """{"event_id": 2, "value": 20.5}""",
      "{definitely not json")
    val dir = Files.createTempDirectory("quarantine")
    val okDir = dir.toString + "/ok"
    val dlqDir = dir.toString + "/dlq"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val parsed = sources.Ingest.parseJson(
      input.toDF().toDF("raw"), "raw", schema)
    val q = parsed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // one materialization per micro-batch feeds both splits —
        // the same parse-once boundary the batch queries cut with
        // localCheckpoint
        val b = batch.persist()
        sources.Ingest.valid(b).drop("raw")
          .write.mode("append").parquet(okDir)
        sources.Ingest.corrupt(b).select(col("raw"))
          .write.mode("append").parquet(dlqDir)
        b.unpersist()
        ()
      }
      .option("checkpointLocation", dir.toString + "/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ok = spark.read.parquet(okDir)
    ok.count() shouldBe 2
    ok.select(dsum(col("value"))).collect()(0).getDouble(0) shouldBe 31.0
    val dlq = spark.read.parquet(dlqDir).collect().map(_.getString(0))
    dlq.toSeq shouldBe Seq("{definitely not json")
  }

  test("end-to-end pipeline: produce-shape → topic → S6 parse → 24-measure windowedAgg → checkpointed sink, restart = exactly-once (ref option_trade_aggs/main.py:203-230)") {
    // The reference's whole processor as ONE streaming pipeline:
    // producer callbacks build key/value/ts records, the consumer
    // parses the value, reduces into the 24-measure 1-minute window
    // per option symbol, and the sink is checkpointed. No broker in
    // the sandbox — a parquet dir stands in for the topic; the
    // produce/consume shape (key/value/ts columns, JSON body) is the
    // Kafka wire shape.
    import org.apache.spark.sql.types._
    import graft.operators.OptionAgg
    import graft.sources.Ingest

    val trades = Seq(
      // (ts, osym, side, otype, qty, premium) — hits whale and retail
      // cells across both sides and both option types in two windows
      (ts("2024-01-01 10:00:05"), "AAPL240119C00190000", "buy", "call", 10L, 300000.0),
      (ts("2024-01-01 10:00:20"), "AAPL240119C00190000", "sell", "call", 5L, 1000.0),
      (ts("2024-01-01 10:00:40"), "SPY240119P00470000", "no_side", "put", 7L, 260000.0),
      (ts("2024-01-01 10:01:10"), "AAPL240119C00190000", "buy", "put", 3L, 500.0),
      (ts("2024-01-01 10:01:30"), "SPY240119P00470000", "sell", "put", 2L, 100.0)
    ).toDF("ts", "osym", "side", "otype", "qty", "premium")
    // sentinel trade far past every real window + grace: closes them
    // all when the watermark advances, and its own window (still open
    // at drain) must NOT be emitted
    val sentinel = Seq(
      (ts("2024-01-01 10:30:00"), "ZZZ000000C00000000", "no_side", "call", 1L, 1.0)
    ).toDF("ts", "osym", "side", "otype", "qty", "premium")

    val dir = Files.createTempDirectory("e2e_pipeline")
    val topic = dir.toString + "/topic"
    val out = dir.toString + "/out"
    val ckpt = dir.toString + "/ckpt"

    // producer side (P16/P17): key/ts callbacks + JSON body
    Ingest.toProducerRecords(trades.unionByName(sentinel), "osym", "ts")
      .write.mode("overwrite").parquet(topic)

    // consumer side: readStream the topic, parse the value (S6/F3),
    // aggregate, sink with checkpoint
    val valueSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("osym", StringType),
      StructField("side", StringType), StructField("otype", StringType),
      StructField("qty", LongType), StructField("premium", DoubleType)))
    def runOnce(): Unit = {
      val raw = spark.readStream
        .schema("key string, value string, ts timestamp")
        .parquet(topic)
        // the transport timestamp (Kafka's `timestamp` column) is
        // distinct from the event-time `ts` INSIDE the body
        .withColumnRenamed("ts", "kafka_ts")
      val parsed = Ingest.valid(Ingest.parseJson(raw, "value", valueSchema))
        .select("ts", "osym", "side", "otype", "qty", "premium")
      val agged = StreamingOps.windowedAgg(parsed, "ts", "osym",
        "1 minute", "1 second",
        count(lit(1)).as("count") +: OptionAgg.measures())
      val q = StreamingOps.sink(agged, "parquet", Some(out), ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()

    // batch twin over the same (non-sentinel) trades — the emitted set
    // is exactly the closed windows, i.e. every real trade's window
    val twin = StreamingOps.windowedAgg(trades, "ts", "osym",
        "1 minute", "1 second",
        count(lit(1)).as("count") +: OptionAgg.measures())
      .orderBy($"window_start", $"osym")
      .collect().map(_.toSeq)
    val got = spark.read.parquet(out)
      .orderBy($"window_start", $"osym")
      .collect().map(_.toSeq)
    got.length shouldBe 4 // 2 windows × 2 symbols; sentinel window open
    got.toSeq shouldBe twin.toSeq

    // restart from the same checkpoint: the topic offsets are
    // committed, so nothing is reprocessed (K1 exactly-once effect)
    runOnce()
    spark.read.parquet(out).count() shouldBe 4
  }

  test("streaming curation: content-key dedup within watermark + quality floor, late duplicates stay dropped (q44 streaming twin)") {
    val input = MemoryStream[Doc](spark)
    val curated = StreamingOps.curateStream(input.toDF(), "ts", "10 seconds",
      "text", qualityFloor =
        org.apache.spark.sql.functions.length(col("text")) >= 20)
    val ckpt = Files.createTempDirectory("ckpt_curate").toString
    val q = curated.writeStream.format("memory").queryName("curated_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      val longA = "a long enough document about spark"
      val longB = "another sufficiently long document"
      input.addData(
        Doc(ts("2024-01-01 10:00:00"), 1L, longA),
        // same normalized content, different id and whitespace — the
        // content KEY collapses it, not the raw text
        Doc(ts("2024-01-01 10:00:02"), 2L, "  a  long enough document about spark "),
        Doc(ts("2024-01-01 10:00:03"), 3L, "too short"),
        // below-floor RAW text (18 chars) whose NORMALIZED content
        // equals doc 5's: the floor runs before dedup, so this must
        // NOT consume the content key and shadow the qualifying
        // duplicate behind it
        Doc(ts("2024-01-01 10:00:03"), 6L, "shadow me not here"),
        Doc(ts("2024-01-01 10:00:04"), 5L, "  shadow  me not here   "),
        Doc(ts("2024-01-01 10:00:04"), 4L, longB))
      q.processAllAvailable()
      val ids1 = spark.table("curated_out").select($"doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      ids1 shouldBe Seq(1L, 4L, 5L) // dup collapsed to first, short docs gated, 5 not shadowed by 6

      // advance the watermark far past the first batch
      input.addData(Doc(ts("2024-01-01 10:05:00"), 9L,
        "a sentinel document that advances the watermark"))
      q.processAllAvailable()
      // LATE duplicate of doc 1 (event time long before the watermark):
      // its original's dedup state may be evicted, but the row itself
      // is late input — it must NOT re-emit the content
      input.addData(Doc(ts("2024-01-01 10:00:05"), 10L, longA))
      q.processAllAvailable()
      val ids2 = spark.table("curated_out").select($"doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      ids2 shouldBe Seq(1L, 4L, 5L, 9L) // unchanged apart from the sentinel
    } finally q.stop()
  }

  test("streaming windowedAgg batch twin: the same helper works on a batch DataFrame") {
    val batchDf = Seq(
      Ev(ts("2024-01-01 10:00:05"), "a", 1.0),
      Ev(ts("2024-01-01 10:00:06"), "a", 2.0)).toDF()
    val out = StreamingOps.windowedAgg(batchDf, "ts", "key", "1 minute", "1 second",
      Seq(dsum(col("value")).as("sum_v")))
    val row = out.collect()(0)
    row.getAs[Timestamp]("window_start").toString shouldBe "2024-01-01 10:00:00.0"
    row.getAs[Double]("sum_v") shouldBe 3.0
  }

  test("§2.11 user reducer runs inside a STREAMING windowed aggregation") {
    import graft.operators.Reduce
    val input = MemoryStream[Ev](spark)
    val f = udaf(Reduce.eventBucketReducer)
    val agged = input.toDF().withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 minute"), col("key"))
      .agg(f(col("value"), col("key")).as("m")) // key doubles as event_type here
    val ckpt = Files.createTempDirectory("ckpt_udaf").toString
    val q = agged.select(col("window.start").as("w"), col("key"),
        element_at(col("m"), "n_events").as("n"))
      .writeStream.format("memory").queryName("udaf_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:00:10"), "purchase", 100.0),
        Ev(ts("2024-01-01 10:00:20"), "purchase", 10.0),
        Ev(ts("2024-01-01 10:02:00"), "z", 1.0)) // watermark sentinel
      q.processAllAvailable()
      val rows = spark.table("udaf_out").collect()
        .map(r => (r.getString(1), r.getDouble(2)))
      rows.toSeq shouldBe Seq(("purchase", 2.0))
    } finally q.stop()
  }

  test("J2 streaming fan-in: two sources union into one keyed window (streamIds[] disjunctive scan)") {
    val a = MemoryStream[Ev](spark)
    val b = MemoryStream[Ev](spark)
    val fanin = a.toDF().unionByName(b.toDF())
    val agged = StreamingOps.windowedAgg(fanin, "ts", "key", "1 minute", "1 second",
      Seq(dsum(col("value")).as("sum_v"), count(lit(1)).as("n")))
    val ckpt = Files.createTempDirectory("ckpt_fanin").toString
    val q = agged.writeStream.format("memory").queryName("fanin_out")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      a.addData(Ev(ts("2024-01-01 10:00:10"), "k", 1.0))
      b.addData(Ev(ts("2024-01-01 10:00:20"), "k", 2.0))
      q.processAllAvailable()
      // watermark = min over BOTH sources; advance both past the window
      a.addData(Ev(ts("2024-01-01 10:02:30"), "z", 0.0))
      b.addData(Ev(ts("2024-01-01 10:02:30"), "z", 0.0))
      q.processAllAvailable()
      val r = spark.table("fanin_out").filter($"key" === "k").collect()(0)
      r.getAs[Double]("sum_v") shouldBe 3.0 // rows from both sources in ONE window
      r.getAs[Long]("n") shouldBe 2L
    } finally q.stop()
  }

  test("sliding windows: one event lands in size/slide windows") {
    val df = Seq(Ev(ts("2024-01-01 10:00:30"), "a", 5.0)).toDF()
    val out = StreamingOps.windowedAggSliding(df, "ts", "key",
      "1 minute", "30 seconds", "1 second", Seq(dsum(col("value")).as("s")))
      .orderBy($"window_start")
      .collect().map(_.getAs[Timestamp]("window_start").toString)
    // windows are end-exclusive: 10:00:30 ∈ [10:00:00, 10:01:00) and
    // [10:00:30, 10:01:30), NOT [09:59:30, 10:00:30)
    out.toSeq shouldBe Seq("2024-01-01 10:00:00.0", "2024-01-01 10:00:30.0")
  }

  test("session windows close after the per-key gap") {
    val df = Seq(
      Ev(ts("2024-01-01 10:00:00"), "a", 1.0),
      Ev(ts("2024-01-01 10:00:20"), "a", 2.0),  // within 30s gap -> same session
      Ev(ts("2024-01-01 10:05:00"), "a", 3.0)   // new session
    ).toDF()
    val out = StreamingOps.sessionAgg(df, "ts", "key", "30 seconds", "1 second",
      Seq(dsum(col("value")).as("s"), count(lit(1)).as("n")))
      .orderBy($"session_start")
      .collect().map(r => (r.getAs[Double]("s"), r.getAs[Long]("n")))
    out.toSeq shouldBe Seq((3.0, 2L), (3.0, 1L))
  }

  // ---- restart with OPEN state ----

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** The two state stores a checkpoint can hold: the HDFS-backed
    * default, and RocksDB with changelog checkpointing as the cluster
    * defaults set it.
    */
  private val stateStores: Seq[(String, Map[String, String])] = Seq(
    "hdfs_default" -> Map.empty,
    "rocksdb_changelog" -> Seq(ProviderKey, ChangelogKey)
      .map(k => k -> GraftConf.clusterDefaults(k)).toMap)

  /** Publishes `batches` as one parquet topic file each (strictly
    * increasing mtimes, so a one-file-per-trigger source reads them in
    * order) and, on each state store: drains the first `stopAfter`
    * files on a checkpoint and stops with state still open, publishes
    * the rest and restarts on the same checkpoint, then requires the
    * sink to equal one uninterrupted drain of every file.
    */
  private def assertRestartParity(name: String, batches: Seq[DataFrame],
      stopAfter: Int)(query: DataFrame => DataFrame): Unit = {
    require(0 < stopAfter && stopAfter < batches.size)
    for ((store, confs) <- stateStores) withClue(s"$name on $store: ") {
      val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val dir = Files.createTempDirectory(s"restart_${name}_$store")
        val topic = dir.resolve("topic")
        Files.createDirectories(topic)
        val mtime0 = System.currentTimeMillis() - 3600000L
        def publish(from: Int, until: Int): Unit = (from until until).foreach { i =>
          val stage = dir.resolve(s"stage_$i")
          batches(i).coalesce(1).write.parquet(stage.toString)
          val part = Files.list(stage).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          val file = Files.move(part, topic.resolve(f"f$i%03d.parquet"))
          file.toFile.setLastModified(mtime0 + i * 1000L) shouldBe true
        }
        def drain(tag: String): org.apache.spark.sql.streaming.StreamingQuery = {
          val src = spark.readStream.schema(batches.head.schema)
            .option("maxFilesPerTrigger", "1").parquet(topic.toString)
          val q = StreamingOps.sink(query(src), "parquet",
            Some(s"$dir/out_$tag"), s"$dir/ckpt_$tag").start()
          q.awaitTermination()
          q
        }
        def sinkRows(tag: String): Seq[String] =
          spark.read.parquet(s"$dir/out_$tag").collect()
            .map(_.toSeq.mkString("|")).toSeq.sorted

        publish(0, stopAfter)
        val stopped = drain("restarted")
        stopped.recentProgress.count(_.numInputRows > 0) shouldBe stopAfter
        // the store really is the one named: only RocksDB reports
        // rocksdb* custom metrics
        stopped.recentProgress.flatMap(_.stateOperators)
          .exists(_.customMetrics.keySet().asScala.exists(_.startsWith("rocksdb"))) shouldBe
          confs.nonEmpty
        // the stop leaves state behind: the restart must read it back
        stopped.recentProgress.last.stateOperators.map(_.numRowsTotal).sum should be > 0L
        publish(stopAfter, batches.size)
        drain("restarted")
        drain("whole")
        sinkRows("whole") should not be empty
        sinkRows("restarted") shouldBe sinkRows("whole")
      } finally prior.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }

  test("restart with open windows: windowedAgg with the 24 option measures equals an uninterrupted run, on both state stores") {
    import graft.operators.OptionAgg
    val rnd = new scala.util.Random(11)
    val t0 = ts("2024-01-01 10:00:00").getTime
    // four event-ordered batches of two minutes each; the 1-minute grace
    // keeps the last windows of every batch open across the stop
    val batches = (0 until 4).map { b =>
      (0 until 40).map { i =>
        (new Timestamp(t0 + b * 120000L + i * 3000L + rnd.nextInt(3000)),
          s"SYM${rnd.nextInt(3)}", Seq("buy", "sell", "no_side")(rnd.nextInt(3)),
          Seq("put", "call")(rnd.nextInt(2)), 1L + rnd.nextInt(20),
          Seq(100.0, 5000.25, 260000.5, 400000.0)(rnd.nextInt(4)))
      }.toDF("ts", "osym", "side", "otype", "qty", "premium")
    }
    assertRestartParity("window", batches, stopAfter = 2) { src =>
      StreamingOps.windowedAgg(src, "ts", "osym", "1 minute", "1 minute",
        count(lit(1)).as("count") +: OptionAgg.measures())
    }
  }

  test("restart with open dedup state: dedupWithinWatermark equals an uninterrupted run, on both state stores") {
    val t0 = ts("2024-01-01 10:00:00").getTime
    // batch b carries keys k<b>..k<b+2> once each, so every key recurs in
    // the next two batches within the 30 s watermark and the first
    // batch's row must win across the stop
    val batches = (0 until 4).map { b =>
      (0 until 3).map { j =>
        Keyed(new Timestamp(t0 + (b * 10 + j) * 1000L), s"k${b + j}", s"b$b")
      }.toDF()
    }
    assertRestartParity("dedup", batches, stopAfter = 2) { src =>
      StreamingOps.dedupWithinWatermark(src, "ts", "30 seconds", Seq("k"))
    }
  }

  test("restart with open sessions and armed timeouts: entryExitStatefulTimeout equals an uninterrupted run, on both state stores") {
    import graft.streaming.TransEvent
    val us = 1000000L
    val rnd = new scala.util.Random(5)
    // four batches 100 s apart, 90 s of events each over six users; the
    // 60 s gap closes sessions by successor, by timeout, and across the
    // stop
    val batches = (0 until 4).map { b =>
      (0 until 18).map { i =>
        TransEvent(1L + rnd.nextInt(6), (b * 100 + i * 5) * us,
          b * 100L + i, Seq("view", "click", "cart", "purchase")(rnd.nextInt(4)))
      }.toDF()
    }
    assertRestartParity("sessions", batches, stopAfter = 2) { src =>
      StreamingOps.entryExitStatefulTimeout(src.as[TransEvent], 60 * us).toDF()
    }
  }
}
