package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Typed rows for the stateful streaming shard packer. */
case class ShardDoc(source: String, docId: Long, nTok: Long)
case class ShardAssigned(source: String, docId: Long, nTok: Long, shard: Long)
private[streaming] case class ShardState(cumTokens: Long)

/** Typed rows for the stateful per-key lag metrics (W1/W2 streaming). */
case class LagPoint(key: String, tsUs: Long, value: Double)
case class LagMetrics(key: String, tsUs: Long, value: Double,
                      pctGap: Option[Double], stalenessUs: Option[Long])
private[streaming] case class LagState(lastTs: Long, lastValue: Double)

/** Typed rows for the stateful streaming funnel. */
case class FunnelEvent(user: Long, tsUs: Long, etype: String)
case class FunnelProgress(user: Long, depth: Int, stepTsUs: Seq[Long])
private[streaming] case class FunnelState(stepTs: Seq[Long])

/** Typed rows for the stateful streaming transition feed. */
case class TransEvent(user: Long, tsUs: Long, eid: Long, etype: String)
case class Transition(user: Long, et: String, net: String, tsUs: Long)
private[streaming] case class TransState(tsUs: Long, eid: Long, etype: String)

/** Emitted row of the stateful streaming cadence feed. */
case class EventGap(user: Long, etype: String, gapUs: Long)
private[streaming] case class GapState(tsUs: Long)

/** Emitted row of the stateful streaming attribution feed. */
case class Attribution(user: Long, channel: String, tsUs: Long)
private[streaming] case class AttrState(channel: String)

/** Emitted row of the stateful streaming session entry/exit feed:
  * one row per CLOSED session. */
case class SessionSummary(user: Long, entryType: String,
                          exitType: String, nEvents: Long)
private[streaming] case class EntryExitState(entry: String, lastTs: Long,
                                             lastType: String, n: Long)

/** Structured-Streaming parity for the reference's stream processors.
  *
  * The defining computation (ref option_trade_aggs/main.py:203-230):
  * Kafka consume → extract event time → 1-minute tumbling window per
  * key with 1 s grace → reduce → emit FINAL results only → produce.
  * Spark mapping (SURVEY.md §2.10): `withWatermark(ts, grace)` +
  * `groupBy(window(ts, size), key)` + append output mode — append emits
  * a window exactly once, when the watermark passes window_end + grace,
  * which is Quix `.final()`.
  */
object StreamingOps {

  /** Tumbling-window keyed aggregation with final-only emission.
    * Works on any streaming (or batch) DataFrame with an event-time
    * column. Use `writeStream.outputMode("append")` for `.final()`
    * semantics, `update` for Quix `.current()`.
    */
  def windowedAgg(df: DataFrame, tsCol: String, keyCol: String,
                  windowSize: String, grace: String,
                  aggs: Seq[Column]): DataFrame =
    windowReshape(df, tsCol, keyCol, grace, aggs,
      window(col(tsCol), windowSize), "window")

  /** Sliding-window variant (SURVEY.md §2.10: the reference uses
    * tumbling only; Spark's sliding windows are exposed behind the
    * same API surface). An event lands in size/slide windows.
    */
  def windowedAggSliding(df: DataFrame, tsCol: String, keyCol: String,
                         windowSize: String, slide: String, grace: String,
                         aggs: Seq[Column]): DataFrame =
    windowReshape(df, tsCol, keyCol, grace, aggs,
      window(col(tsCol), windowSize, slide), "window")

  /** Session-window variant: windows close after `gap` of per-key
    * silence (same exposure rationale as [[windowedAggSliding]]).
    */
  def sessionAgg(df: DataFrame, tsCol: String, keyCol: String,
                 gap: String, grace: String, aggs: Seq[Column]): DataFrame =
    windowReshape(df, tsCol, keyCol, grace, aggs,
      session_window(col(tsCol), gap), "session")

  /** The shared window reshape: watermark → group by (window, key) →
    * aggregate → the window struct flattened into `<prefix>_start` /
    * `<prefix>_end` ahead of the key and the aggregates.
    */
  private def windowReshape(df: DataFrame, tsCol: String, keyCol: String,
                            grace: String, aggs: Seq[Column], win: Column,
                            prefix: String): DataFrame = {
    val agged = df.withWatermark(tsCol, grace)
      .groupBy(win, col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
    val w = agged.columns.head
    agged.select(
      col(s"$w.start").as(s"${prefix}_start") +:
        col(s"$w.end").as(s"${prefix}_end") +:
        agged.columns.filterNot(_ == w).map(col).toSeq: _*)
  }

  /** Exactly-once-effect dedup by business key within the watermark —
    * the Spark answer to the reference's exactly-once claim on an
    * at-least-once transport (SURVEY.md §7 hard part 4; dedup key = the
    * SHA-256 surrogate of ref darkpool_trades/main.py:88-92).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, grace: String,
                           keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, grace)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming curation — the streaming twin of the batch curation
    * pipeline's first two stages (q44: exact content dedup + quality
    * floor): documents are gated by the quality predicate, then keyed
    * by the sha2 of their normalized text (the same content key as
    * `Dedup.exact`) and deduplicated within the watermark. The floor
    * runs FIRST: the quality predicate may read columns the content
    * key ignores (raw whitespace, metadata), so a below-floor arrival
    * must not consume its content key and shadow a later qualifying
    * duplicate — floor-first guarantees the surviving representative
    * is a QUALIFYING one whenever any exists (and shrinks dedup state
    * as a bonus). Duplicates arriving within `grace` of each other are
    * guaranteed collapsed; a duplicate arriving after the watermark
    * passed its original is dropped as late input — either way at most
    * one representative survives, which is the curation invariant.
    * State is bounded: the store holds one entry per content key seen
    * within the watermark, and eviction follows the watermark.
    */
  def curateStream(docs: DataFrame, tsCol: String, grace: String,
                   textCol: String, qualityFloor: Column): DataFrame =
    dedupWithinWatermark(
      docs.filter(qualityFloor)
        .withColumn("content_key",
          sha2(graft.functions.normText(col(textCol)), 256)),
      tsCol, grace, Seq("content_key"))

  /** Event-time flush for [[foldByKey]]: a key's state becomes
    * closable at `deadlineMs(state)`, and on timeout the key emits
    * `emit(key, state)` and drops its state.
    */
  private case class Flush[K, S, O](deadlineMs: S => Long, emit: (K, S) => O)

  /** The one keyed-state fold under every stateful twin below: group
    * by `key`, sort the key's micro-batch rows by `order`, fold `step`
    * over them from the stored state (each call returns the next state
    * and may `emit` output rows), and write the final state back once.
    * Append output mode; works on batch Datasets too (state spans the
    * whole group, and timeouts never fire).
    *
    * Memory contract: `rows` is a single-pass iterator and each fold
    * needs `order`, so the group lands in memory once, in ONE array
    * sorted in place. The envelope is the hottest key's PER-MICRO-BATCH
    * arrival volume — trigger-bounded, never all-time history (state
    * stays O(1) per key) — and for the gap/transition-class twins the
    * OUTPUT is itself group-sized, so O(group) working memory is the
    * floor of ANY formulation. A bot-shaped key needs the same upstream
    * guard as the batch side
    * ([[graft.operators.EventAnalytics.funnel]]'s maxEventsPerEntity).
    *
    * With `timeoutFlush` the state carries an EVENT-TIME timeout,
    * re-armed once per (key, batch) at the flush's deadline. A single
    * micro-batch can span MORE event time than the deadline's lead
    * (hot backfill batches), leaving the deadline already behind the
    * current watermark — Spark rejects that registration. It is
    * clamped forward to watermark + 1 ms: the overdue timeout fires at
    * the next micro-batch, which is exactly when the watermark says the
    * state is closable anyway. (Try: batch execution has no watermark
    * to read; there timeouts never fire and the raw registration is
    * fine.)
    */
  private def foldByKey[T: ClassTag, K: Encoder, S: Encoder, O: Encoder, R: Ordering](
      ds: Dataset[T], key: T => K, order: T => R,
      timeoutFlush: Option[Flush[K, S, O]] = None)(
      step: (K, Option[S], T, O => Unit) => Option[S]): Dataset[O] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append(),
        if (timeoutFlush.isEmpty) GroupStateTimeout.NoTimeout()
        else GroupStateTimeout.EventTimeTimeout()) {
        (k, rows, state: GroupState[S]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(timeoutFlush.get.emit(k, s))
          } else {
            val group = rows.toArray
            group.sortInPlaceBy(order)
            val out = ArrayBuffer.empty[O]
            val emit: O => Unit = out += _
            var st = state.getOption
            group.foreach(r => st = step(k, st, r, emit))
            st.foreach { s =>
              state.update(s)
              timeoutFlush.foreach { f =>
                val wm = scala.util.Try(state.getCurrentWatermarkMs())
                  .getOrElse(-1L)
                state.setTimeoutTimestamp(math.max(f.deadlineMs(s), wm + 1L))
              }
            }
            out.iterator
          }
      }

  /** W1/W2 as a STREAMING stateful operator: per-key previous-value
    * percent gap and inter-arrival staleness, carried across
    * micro-batches in the state store — the MarketDataMonitor's
    * record-at-a-time state (ref darkpool_trades/metrics.py:105-123)
    * on Spark's `flatMapGroupsWithState`. Works on batch Datasets too
    * (state spans the whole group). Gap is NULL on a zero previous
    * value, matching [[graft.operators.Enrich.pctGap]].
    */
  def lagMetricsStateful(ds: Dataset[LagPoint]): Dataset[LagMetrics] = {
    import ds.sparkSession.implicits._
    foldByKey(ds, (_: LagPoint).key, (r: LagPoint) => (r.tsUs, r.value)) {
      (key, st: Option[LagState], r, emit: LagMetrics => Unit) =>
        emit(LagMetrics(key, r.tsUs, r.value,
          st.flatMap(s =>
            if (s.lastValue == 0.0) None
            else Some((r.value - s.lastValue) / s.lastValue * 100.0)),
          st.map(r.tsUs - _.lastTs)))
        Some(LagState(r.tsUs, r.value))
    }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics.funnel]]: the
    * per-entity funnel state machine (reached-step timestamps) lives in
    * the state store; a [[FunnelProgress]] row is emitted on every
    * ADVANCE, so the latest row per entity is its current depth. Within
    * a micro-batch, rows are folded in (tsUs, etype) order — identical
    * to the batch operator's sorted fold — so the final state equals
    * the batch result whenever arrival order across batches respects
    * event time (the same contract as [[packShardsStateful]]; a
    * late-arriving step-k event that predates an already-consumed
    * step-k match cannot rewind committed state). Works on batch
    * Datasets too (state spans the whole group).
    *
    * `maxStepGapUs` is the batch operator's step deadline (q130):
    * advance only when the candidate lands within the window of the
    * previous step. Greedy-first-match still equals chained
    * min-within-window (the earliest qualifying event is inside the
    * window iff any is), so batch/stream parity holds under the same
    * arrival contract.
    */
  def funnelStateful(ds: Dataset[FunnelEvent], steps: Seq[String],
      maxStepGapUs: Option[Long] = None): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import ds.sparkSession.implicits._
    foldByKey(ds, (_: FunnelEvent).user, (r: FunnelEvent) => (r.tsUs, r.etype)) {
      (user, st: Option[FunnelState], r, emit: FunnelProgress => Unit) =>
        val reached = st.fold(Seq.empty[Long])(_.stepTs)
        if (reached.length < steps.size && r.etype == steps(reached.length) &&
            (reached.isEmpty || (r.tsUs > reached.last &&
              maxStepGapUs.forall(gap => r.tsUs <= reached.last + gap)))) {
          val next = reached :+ r.tsUs
          emit(FunnelProgress(user, next.length, next))
          Some(FunnelState(next))
        } else Some(FunnelState(reached)) // written on every group seen
    }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics
    * .transitionMatrix]]'s pair extraction: the last event per entity
    * lives in the state store; each arriving event emits the
    * (previous-type → current-type) transition, so a downstream
    * (complete-mode or incremental) count by (et, net) IS the matrix's
    * count column. Within a micro-batch rows fold in (tsUs, eid)
    * order — the batch operator's window order — so the emitted pair
    * multiset equals the batch lead-pairs under event-ordered arrival
    * across batches. Works on batch Datasets too.
    */
  def transitionsStateful(ds: Dataset[TransEvent]): Dataset[Transition] = {
    import ds.sparkSession.implicits._
    foldByKey(ds, (_: TransEvent).user, eventOrder) {
      (user, st: Option[TransState], r, emit: Transition => Unit) =>
        st.foreach(p => emit(Transition(user, p.etype, r.etype, r.tsUs)))
        Some(TransState(r.tsUs, r.eid, r.etype))
    }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics
    * .interEventGaps]]'s gap extraction: the last event time per
    * (entity, type) lives in the state store; each arriving event
    * emits its µs gap to the previous same-key event, so a downstream
    * aggregate over the gap feed IS the cadence table, maintained
    * incrementally. Within a micro-batch rows fold in (tsUs, eid)
    * order — the batch operator's window order — so the emitted gap
    * multiset equals the batch lag-gaps under event-ordered arrival
    * across batches. Works on batch Datasets too.
    *
    * MEMORY BOUND: see [[foldByKey]] — one array per (key, batch),
    * envelope = the hottest key's per-batch arrival volume. Size
    * triggers so hot-key-per-batch stays in task memory.
    */
  def gapsStateful(ds: Dataset[TransEvent]): Dataset[EventGap] = {
    import ds.sparkSession.implicits._
    foldByKey(ds, (r: TransEvent) => (r.user, r.etype), eventOrder) {
      (userType, st: Option[GapState], r, emit: EventGap => Unit) =>
        st.foreach(l =>
          emit(EventGap(userType._1, userType._2, r.tsUs - l.tsUs)))
        Some(GapState(r.tsUs))
    }
  }

  /** STREAMING twin of [[graft.operators.EventAnalytics
    * .lastTouchAttribution]]: the running last non-conversion event
    * type per entity lives in the state store; each arriving
    * conversion emits its credited channel (`(none)` before any
    * touch), so a downstream count by channel IS the attribution
    * table, maintained incrementally. Within a micro-batch rows fold
    * in (tsUs, eid) order — the batch operator's window order — so the
    * emitted credit multiset equals the batch window under
    * event-ordered arrival across batches. Works on batch Datasets
    * too.
    */
  def attributionStateful(ds: Dataset[TransEvent],
      convType: String): Dataset[Attribution] = {
    import ds.sparkSession.implicits._
    foldByKey(ds, (_: TransEvent).user, eventOrder) {
      (user, st: Option[AttrState], r, emit: Attribution => Unit) =>
        if (r.etype == convType) {
          emit(Attribution(user, st.fold("(none)")(_.channel), r.tsUs))
          st
        } else Some(AttrState(r.etype))
    }
  }

  /** STREAMING face of [[graft.operators.EventAnalytics
    * .sessionEntryExit]]: the OPEN session per entity (entry type,
    * last event time/type, event count) lives in the state store; a
    * row arriving more than `gapMicros` after the session's last event
    * CLOSES it — emitting its (entry, exit, n) summary — and opens the
    * next, so a downstream count by (entry, exit) IS the landing/bounce
    * matrix over closed sessions, maintained incrementally. Within a
    * micro-batch rows fold in (tsUs, eid) order (the batch operator's
    * window order). Streaming semantics: a session is emitted ONLY
    * when a later event closes it — each entity's final, still-open
    * session stays in state (the batch operator, seeing a finite
    * input, reports it too; the parity spec accounts for exactly that
    * difference). NoTimeout by design: an idle-timeout flush would
    * emit sessions the batch twin can't deterministically reproduce.
    * Works on batch Datasets too.
    */
  def entryExitStateful(ds: Dataset[TransEvent],
      gapMicros: Long): Dataset[SessionSummary] = {
    require(gapMicros > 0, s"gapMicros must be positive: $gapMicros")
    import ds.sparkSession.implicits._
    foldByKey(ds, (_: TransEvent).user, eventOrder)(sessionStep(gapMicros))
  }

  /** [[entryExitStateful]] with an EVENT-TIME TIMEOUT flush (VERDICT
    * r10 item 7) — the variant that completes the face: an idle
    * entity's open session no longer waits forever for a successor
    * event; when the WATERMARK passes `lastTs + gapMicros`, the state
    * times out and the session is emitted as closed, exactly as a
    * successor arriving after the gap would have closed it. Parity
    * contract (watermark-relative, pinned by StreamingSpec): once the
    * watermark has advanced past every entity's `lastTs + gapMicros`,
    * the emitted session multiset equals the FULL batch
    * [[graft.operators.EventAnalytics.sessionEntryExit]] matrix —
    * including each entity's final session, which the NoTimeout
    * variant deliberately withholds. Holds under the same arrival
    * contract as every stateful twin here (event-ordered across
    * batches, no late data beyond `grace`); a timed-out entity's later
    * events open a FRESH session, which is the batch semantics too
    * (their gap to the flushed session necessarily exceeds
    * `gapMicros`, because the watermark only advances with event
    * time). State stays O(1) per entity; the timeout registration is
    * re-armed once per (key, batch) on the latest event.
    */
  def entryExitStatefulTimeout(ds: Dataset[TransEvent], gapMicros: Long,
      grace: String = "0 seconds"): Dataset[SessionSummary] = {
    require(gapMicros > 0, s"gapMicros must be positive: $gapMicros")
    import ds.sparkSession.implicits._
    foldByKey(
      ds.withColumn("__et", timestamp_micros(col("tsUs")))
        .withWatermark("__et", grace)
        .as[TransEvent],
      (_: TransEvent).user, eventOrder,
      Some(Flush[Long, EntryExitState, SessionSummary](
        s => (s.lastTs + gapMicros) / 1000L, closedSession)))(
      sessionStep(gapMicros))
  }

  /** The (tsUs, eid) fold order of the [[TransEvent]] twins — the
    * batch operators' window order.
    */
  private val eventOrder: TransEvent => (Long, Long) = r => (r.tsUs, r.eid)

  private def closedSession(user: Long, s: EntryExitState): SessionSummary =
    SessionSummary(user, s.entry, s.lastType, s.n)

  /** One row of the entry/exit session machine: a row more than
    * `gapMicros` after the open session's last event closes it and
    * opens the next; otherwise it extends the open session.
    */
  private def sessionStep(gapMicros: Long)(user: Long,
      st: Option[EntryExitState], r: TransEvent,
      emit: SessionSummary => Unit): Option[EntryExitState] = st match {
    case Some(s) if r.tsUs - s.lastTs > gapMicros =>
      emit(closedSession(user, s))
      Some(EntryExitState(r.etype, r.tsUs, r.etype, 1L))
    case Some(s) =>
      Some(s.copy(lastTs = r.tsUs, lastType = r.etype, n = s.n + 1L))
    case None =>
      Some(EntryExitState(r.etype, r.tsUs, r.etype, 1L))
  }

  /** STREAMING twin of [[graft.operators.Curation.packShards]]: the
    * per-source cumulative token count lives in the state store, so
    * shard assignment continues seamlessly across micro-batches — the
    * shape for packing an ARRIVING corpus into training shards without
    * re-reading what's already packed. Exclusive running sum, integral
    * division, docs never split — identical outputs to the batch
    * window when arrival order respects id order across batches (the
    * ingest-cursor guarantee; within a batch the sort restores it).
    * Works on batch Datasets too (state spans the whole group).
    */
  def packShardsStateful(ds: Dataset[ShardDoc], budget: Long): Dataset[ShardAssigned] = {
    require(budget > 0, s"budget must be positive: $budget")
    import ds.sparkSession.implicits._
    foldByKey(ds, (_: ShardDoc).source, (_: ShardDoc).docId) {
      (_, st: Option[ShardState], d, emit: ShardAssigned => Unit) =>
        val cum = st.fold(0L)(_.cumTokens)
        emit(ShardAssigned(d.source, d.docId, d.nTok, cum / budget))
        Some(ShardState(cum + d.nTok))
    }
  }

  /** File/console sink wiring with checkpointing (K1/K3 analog; the
    * Kafka sink is the same writer with format("kafka")).
    */
  def sink(df: DataFrame, format: String, path: Option[String],
           checkpoint: String, mode: OutputMode = OutputMode.Append(),
           trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    val w = df.writeStream.format(format).outputMode(mode).trigger(trigger)
      .option("checkpointLocation", checkpoint)
    path.map(w.option("path", _)).getOrElse(w)
  }
}
