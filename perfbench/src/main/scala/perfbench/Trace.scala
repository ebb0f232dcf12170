package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds at nanoTime resolution, aligned with the epoch
  * milliseconds Spark stamps on its listener events.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** One timed interval. `parent` is 0 for a root; every span of one
  * request, query or micro-batch shares its `trace` id.
  */
final case class Span(id: Long, parent: Long, trace: Long, layer: String,
                      name: String, startUs: Long, endUs: Long) {
  def durMs: Double = (endUs - startUs) / 1000.0
  def toJson: String = Json(Map("id" -> id, "parent" -> parent, "trace" -> trace,
    "layer" -> layer, "name" -> name, "start_us" -> startUs, "end_us" -> endUs))
}

/** In-memory span store plus named counters. With tracing off nothing is
  * stored, but [[timed]] still returns the span so callers get their
  * durations from one code path.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val maxima = new ConcurrentHashMap[String, java.lang.Double]()

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) { buf.add(s); () }
  def spans: Seq[Span] = buf.asScala.toSeq

  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def max(name: String, v: Double): Unit =
    if (enabled) { maxima.merge(name, v, (a, b) => math.max(a, b)); () }
  def layerValues: Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap ++
      maxima.asScala.map { case (k, v) => k -> v.doubleValue }

  def timed[T](parent: Long, trace: Long, layer: String, name: String)(body: Long => T): (T, Span) = {
    val id = newId(); val t0 = Clock.nowUs()
    val r = body(id)
    val s = Span(id, parent, trace, layer, name, t0, Clock.nowUs())
    add(s)
    (r, s)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startUs).foreach(s => w.println(s.toJson)) finally w.close()
  }
}

/** Local properties that carry the harness's span context into the jobs a
  * thread submits, so job spans can name their parent.
  */
object SpanContext {
  val ParentKey = "perfbench.parent"
  val TraceKey = "perfbench.trace"
  def set(spark: SparkSession, parent: Long, trace: Long): Unit = {
    spark.sparkContext.setLocalProperty(ParentKey, parent.toString)
    spark.sparkContext.setLocalProperty(TraceKey, trace.toString)
  }
}

/** Job, stage and task accounting from the scheduler's listener bus:
  * job and stage spans, task counts and task-seconds, scan input,
  * shuffle, spill and peak execution memory, and the wait from job
  * submission to its first task launch.
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  private final case class Job(spanId: Long, parent: Long, trace: Long,
                               streamKey: Option[String], submitMs: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val firstTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val pending = new ConcurrentLinkedQueue[(Span, Option[String])]()
  val schedWaitsMs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val streamKey = for {
      q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId")
    } yield s"$q/$b"
    jobs.put(e.jobId, Job(tracer.newId(), prop(SpanContext.ParentKey).map(_.toLong).getOrElse(0L),
      prop(SpanContext.TraceKey).map(_.toLong).getOrElse(0L), streamKey, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    tracer.count("exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      pending.add((Span(j.spanId, j.parent, j.trace, "job", s"job ${e.jobId}",
        j.submitMs * 1000L, e.time * 1000L), j.streamKey))
      Option(firstTask.get(e.jobId)).foreach(t => schedWaitsMs.add(t - j.submitMs))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    tracer.count("exec.stages", 1)
    for {
      jobId <- Option(stageJob.get(si.stageId)); j <- Option(jobs.get(jobId))
      start <- si.submissionTime; end <- si.completionTime
    } pending.add((Span(tracer.newId(), j.spanId, j.trace, "stage",
      s"stage ${si.stageId} (${si.numTasks} tasks)", start * 1000L, end * 1000L), None))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { jobId =>
      firstTask.merge(jobId, e.taskInfo.launchTime, (a, b) => math.min(a, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tracer.count("exec.tasks", 1)
    tracer.count("exec.task_s", e.taskInfo.duration / 1000.0)
    val m = e.taskMetrics
    if (m != null) {
      tracer.count("Tables.rows_read", m.inputMetrics.recordsRead.toDouble)
      tracer.count("Tables.bytes_read", m.inputMetrics.bytesRead.toDouble)
      tracer.count("shuffle.bytes_written", m.shuffleWriteMetrics.bytesWritten.toDouble)
      tracer.count("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      tracer.max("exec.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }

  /** Emit job and stage spans; a streaming job's parent is the span of
    * the micro-batch that ran it.
    */
  def flush(batchSpans: Map[String, (Long, Long)]): Unit =
    pending.asScala.foreach { case (s, key) =>
      val (p, t) = key.flatMap(batchSpans.get).getOrElse((s.parent, s.trace))
      tracer.add(s.copy(parent = p, trace = t))
    }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * execution the session reports, as spans; parents are resolved by time
  * once the run ends.
  */
final class PhaseListener(tracer: Tracer) extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[Span]()
  private def record(qe: QueryExecution): Unit = Phases.of(qe, tracer, 0L, 0L).foreach(phases.add)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object Phases {
  val Names: Seq[String] = Seq("analysis", "optimization", "planning")
  /** The tracker's phase spans of one execution, counted into the
    * catalyst.* layer totals.
    */
  def of(qe: QueryExecution, tracer: Tracer, parent: Long, trace: Long): Seq[Span] =
    qe.tracker.phases.toSeq.filter(p => Names.contains(p._1)).map { case (name, ps) =>
      tracer.count(s"catalyst.${name}_ms", ps.durationMs.toDouble)
      Span(tracer.newId(), parent, trace, name, name, ps.startTimeMs * 1000L, ps.endTimeMs * 1000L)
    }
}

/** Collects every micro-batch progress the session reports. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
}

/** Micro-batch progress as spans — the batch with its trigger phases laid
  * out in execution order — and the streaming.* and state.* layer totals.
  */
object Progress {
  val PhaseOrder: Seq[(String, String)] = Seq(
    "latestOffset" -> "streaming.latest_offset_ms", "walCommit" -> "streaming.wal_commit_ms",
    "getBatch" -> "streaming.get_batch_ms", "queryPlanning" -> "streaming.query_planning_ms",
    "addBatch" -> "streaming.add_batch_ms", "commitOffsets" -> "streaming.commit_offsets_ms")

  /** Record one progress as spans under `parent`; returns the batch's
    * key ("queryId/batchId") and the (span id, trace id) its jobs belong
    * under: the addBatch phase, which runs them.
    */
  def record(p: StreamingQueryProgress, tracer: Tracer, parent: Long): (String, (Long, Long)) = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val id = tracer.newId()
    tracer.add(Span(id, parent, id, "batch", s"batch ${p.batchId}", start,
      start + d.getOrElse("triggerExecution", 0L) * 1000L))
    var t = start
    var jobParent = id
    PhaseOrder.foreach { case (k, metric) =>
      d.get(k).foreach { ms =>
        tracer.count(metric, ms.toDouble)
        val sid = tracer.newId()
        if (k == "addBatch") jobParent = sid
        tracer.add(Span(sid, id, id, "trigger", k, t, t + ms * 1000L))
        t += ms * 1000L
      }
    }
    p.stateOperators.foreach { s =>
      tracer.count("state.commit_ms", s.commitTimeMs.toDouble)
      tracer.count("state.rows_dropped_late", s.numRowsDroppedByWatermark.toDouble)
      tracer.max("state.rows_total", s.numRowsTotal.toDouble)
      tracer.max("state.memory_bytes", s.memoryUsedBytes.toDouble)
    }
    (s"${p.id}/${p.batchId}", (jobParent, id))
  }
}

/** Global instrument readings that are deltas over the measured window. */
object Instruments {
  def codegen(): (Long, Long) = {
    val compiles =
      try {
        val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
        val mod = cls.getField("MODULE$").get(null)
        cls.getMethod("METRIC_COMPILATION_TIME").invoke(mod)
          .asInstanceOf[com.codahale.metrics.Histogram].getCount
      } catch { case _: Throwable => -1L }
    val nanos = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    (compiles, nanos)
  }

  /** Drain the asynchronous listener bus so counters are complete. */
  def flushBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
    } catch { case _: Throwable => () }
}
