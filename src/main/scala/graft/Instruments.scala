package graft

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The harnesses' instruments, in one place: host and JVM counters
  * (steal, GC pause, codegen compiles, allocation), the host snapshot,
  * and a capture of every SQL execution an action runs, with each
  * execution's final-plan census. Bench, TimeQuery, PlanAudit,
  * StressBench and the test-scope experiments all measure through
  * here.
  */
object Instruments {

  /** Cumulative host CPU steal jiffies from /proc/stat; -1 when the
    * file is unreadable.
    */
  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Real GC pause time: the JVM's own collector-time counter. In
    * local mode there is exactly one JVM, so deltas of this counter ARE
    * the wall-clock milliseconds the collectors ran — no task-level
    * multi-counting.
    */
  def gcPauseMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  // Spark's global CodegenMetrics is private[spark], so reflection;
  // None if the internals moved, and the counter reads -1, never a crash
  private lazy val compileHistogram: Option[com.codahale.metrics.Histogram] =
    try {
      val cls = Class.forName(
        "org.apache.spark.metrics.source.CodegenMetrics$")
      val mod = cls.getField("MODULE$").get(null)
      Some(cls.getMethod("METRIC_COMPILATION_TIME").invoke(mod)
        .asInstanceOf[com.codahale.metrics.Histogram])
    } catch { case _: Throwable => None }

  /** Janino compilations so far in this JVM; -1 when unavailable. */
  def codegenCompiles(): Long = compileHistogram.fold(-1L)(_.getCount)

  /** `after - before` of a counter that reads -1 when unavailable. */
  def delta(before: Long, after: Long): Long =
    if (before < 0 || after < 0) -1L else after - before

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val lastSeen = mutable.Map.empty[Long, Long]
  private var retiredBytes = 0L

  /** Cumulative heap MB allocated across ALL threads the JVM has run,
    * kept monotone across samples (ADVICE r14: a raw
    * sum-over-live-threads silently DROPS a thread's bytes when it
    * exits between samples — broadcast/cleaner/AQE threads are not all
    * pooled — letting per-pass deltas undercount or go negative). Each
    * sample folds the live threads' counters over a per-thread baseline
    * and retires vanished threads at their last-seen value; allocation
    * between a thread's last sample and its death is still invisible
    * (JMX exposes nothing after exit), so deltas remain a LOWER bound —
    * but a monotone one.
    */
  def allocMb(): Double = synchronized {
    val ids = threads.getAllThreadIds
    val bytes = threads.getThreadAllocatedBytes(ids)
    val live = mutable.Map.empty[Long, Long]
    var i = 0
    while (i < ids.length) {
      if (bytes(i) > 0) live += ids(i) -> bytes(i)
      i += 1
    }
    // threads gone since the previous sample: keep their last count
    lastSeen.foreach { case (id, v) =>
      if (!live.contains(id)) retiredBytes += v
    }
    lastSeen.clear()
    lastSeen ++= live
    (retiredBytes + live.valuesIterator.sum) / 1e6
  }

  /** Host-load snapshot: 1-min loadavg, cumulative cpu steal jiffies
    * (deltas between snapshots = steal in between), and the number of
    * FOREIGN live JVMs (concurrent harnesses are the usual contention
    * source on a shared host). This process, its ancestors (the
    * sbt/launcher chain) and its descendants are excluded, so a quiet
    * host reads foreign_jvms=0 machine-checkably.
    */
  def hostSnapshot(): String = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val steal = stealJiffies()
    val own = mutable.Set.empty[Long]
    var cur: java.util.Optional[ProcessHandle] =
      java.util.Optional.of(ProcessHandle.current())
    while (cur.isPresent) { own += cur.get.pid(); cur = cur.get.parent() }
    ProcessHandle.current().descendants().forEach(p => own += p.pid())
    val jvms = ProcessHandle.allProcesses()
      .filter(p => p.info().command()
        .map[java.lang.Boolean](_.contains("java")).orElse(false))
      .filter(p => !own.contains(p.pid()))
      .count()
    val l = "%.2f".formatLocal(java.util.Locale.ROOT, load)
    s"""{"loadavg":$l,"steal_jiffies":$steal,"foreign_jvms":$jvms}"""
  }

  /** Block until the listener bus has delivered every posted event (the
    * bytecode-public LiveListenerBus.waitUntilEmpty — private[spark] in
    * source, hence reflection). Best-effort: on any failure it returns
    * at once and late events trail into whatever is measured next.
    */
  def flushListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Throwable => () }

  /** One SQL execution: the action that started it (`count`, `collect`,
    * the write's command name; empty when Spark names none), its wall,
    * the jobs and tasks it ran, summed task wall, the final
    * executed-plan string (AQE's final plan, `skew=true` joins
    * included), that plan's node census ([[censusWithFinal]]) and
    * whether every adaptive plan in it was final.
    */
  final case class Execution(action: String, wallS: Double, jobs: Int,
      tasks: Int, taskS: Double, plan: String, census: Map[String, Int],
      finalized: Boolean)

  /** Per-class node counts over the FINALIZED tree: every
    * AdaptiveSparkPlanExec contributes its executedPlan (the final
    * plan), never its initial one; expression subqueries (scalar /
    * IN-subquery plans) are walked too. The second element is the
    * finalized flag, derived from the SAME adaptive nodes the walk
    * visits (ADVICE r12): a `root.collect` traverses only `children`,
    * so an un-finalized adaptive plan nested inside a cached
    * relation's plan or an expression subquery — exactly the trees
    * this walk deliberately descends — could never flip a
    * collect-based flag to false, letting it read true vacuously.
    *
    * Counts come from walking the tree, not from a substring census of
    * the printed plan: the printed form emits the '== Initial Plan =='
    * subtree next to the final one, so a string census sums
    * final+initial and reports operators that exist only in the
    * discarded initial plan.
    */
  private[graft] def censusWithFinal(
      root: SparkPlan): (Map[String, Int], Boolean) = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    var allFinal = true
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return // reused subtrees count once
      val q = p match {
        case a: AdaptiveSparkPlanExec =>
          if (!a.toString.linesIterator.next().contains("isFinalPlan=true"))
            allFinal = false
          a.executedPlan
        case other => other
      }
      if (!(q eq p) && !seen.add(q)) return
      counts(q.getClass.getSimpleName) += 1
      q.subqueries.foreach(walk)
      q.children.foreach(walk)
      // query stages are LeafExecNodes holding their materialized
      // plan OUTSIDE `children` — descend explicitly or an AQE plan's
      // census would see only the stage wrappers
      q match {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(qs.plan)
        // queries whose builders persist their result (the
        // materializeAndRelease discipline) execute as a cache scan —
        // the real operator tree lives in the relation's cached plan
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(im.relation.cachedPlan)
        case _ => ()
      }
    }
    walk(root)
    (counts.toMap, allFinal)
  }

  private final class Acc(val startMs: Long) {
    var action = ""; var wallS = 0.0; var jobs = 0; var tasks = 0
    var taskMs = 0L; var qe: QueryExecution = null
  }

  // the end event's executionName and qe are private[sql] vars with
  // public bytecode getters, hence reflection; null if they moved
  private def endField(e: SparkListenerSQLExecutionEnd, name: String): AnyRef =
    try e.getClass.getMethod(name).invoke(e)
    catch { case _: Throwable => null }

  /** Listener half of [[executions]]: executions are keyed by id in
    * start order, and jobs/tasks are attributed through the job's
    * `spark.sql.execution.id` property. Every ended task's `jvmGCTime`
    * is summed whether or not an execution claims it. The bus thread
    * only keeps each execution's QueryExecution; its plan string and
    * census are computed in [[result]], after the measured action.
    */
  private final class Capture extends SparkListener {
    private val byId = mutable.LinkedHashMap.empty[Long, Acc]
    private val stageExec = mutable.Map.empty[Int, Acc]
    private var gcMs = 0L

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          byId(s.executionId) = new Acc(s.time)
        case d: SparkListenerSQLExecutionEnd =>
          byId.get(d.executionId).foreach { a =>
            a.wallS = (d.time - a.startMs) / 1e3
            a.action = endField(d, "executionName") match {
              case Some(n: String) => n
              case _ => ""
            }
            a.qe = endField(d, "qe") match {
              case qe: QueryExecution => qe
              case _ => null
            }
          }
        case _ =>
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => byId.get(id.toLong))
        .foreach { a =>
          a.jobs += 1
          e.stageIds.foreach(stageExec(_) = a)
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null) gcMs += e.taskMetrics.jvmGCTime
      stageExec.get(e.stageId).foreach { a =>
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
      }
    }

    /** Summed `jvmGCTime` of every task that ended in the window. */
    def taskGcMs: Long = synchronized(gcMs)

    def result: Seq[Execution] = synchronized {
      byId.values.map { a =>
        val (plan, census, finalized) =
          try { // a null qe (the end event's field moved) lands in catch
            val p = a.qe.executedPlan
            val (c, f) = censusWithFinal(p)
            (p.toString, c, f)
          } catch { case _: Throwable => ("", Map.empty[String, Int], false) }
        Execution(a.action, a.wallS, a.jobs, a.tasks, a.taskMs / 1e3, plan,
          census, finalized)
      }.toSeq
    }
  }

  /** Open a capture around `action`. The bus is flushed before the
    * window opens (an earlier action's late events stay out) and after
    * it closes (this action's own events are all delivered).
    */
  private def window[T](spark: SparkSession)(action: => T): (T, Capture) = {
    val sc = spark.sparkContext
    flushListenerBus(spark)
    val capture = new Capture
    sc.addSparkListener(capture)
    try {
      val result = action
      flushListenerBus(spark)
      (result, capture)
    } finally sc.removeSparkListener(capture)
  }

  /** Run `action` and capture every SQL execution that starts inside
    * it — builder-side `count()`s, checkpoints and the final write
    * alike — in start order.
    */
  def executions[T](spark: SparkSession)(action: => T): (T, Seq[Execution]) = {
    val (result, capture) = window(spark)(action)
    (result, capture.result)
  }

  /** One isolated noop-sink pass: wall, counter deltas, the summed
    * task `jvmGCTime` (concurrent tasks each count the same collection,
    * so it over-reads pause time by up to the task-slot count; it is an
    * allocation-pressure signal) and the executions.
    */
  final case class Pass(wallS: Double, gcPauseMs: Long, taskGcMs: Long,
      allocMb: Double, steal: Long, compiles: Long,
      executions: Seq[Execution]) {

    /** Pass wall outside every SQL execution: plan building, driver-side
      * work and the waits between jobs.
      */
    def driverGapS: Double = wallS - executions.map(_.wallS).sum
  }

  /** Materialize `build` through the noop sink (every row produced,
    * nothing collected) with the cache cleared and prior garbage drained
    * first, so the counters read this pass's own cost. The builder runs
    * inside the window: its eager jobs are part of the pass.
    */
  def noopPass(spark: SparkSession)(build: => DataFrame): Pass = {
    spark.catalog.clearCache()
    System.gc()
    val (pass, capture) = window(spark) {
      val g0 = gcPauseMs(); val a0 = allocMb(); val s0 = stealJiffies()
      val c0 = codegenCompiles()
      val t0 = System.nanoTime()
      build.write.format("noop").mode("overwrite").save()
      Pass((System.nanoTime() - t0) / 1e9, gcPauseMs() - g0, 0L,
        allocMb() - a0, delta(s0, stealJiffies()),
        delta(c0, codegenCompiles()), Nil)
    }
    pass.copy(taskGcMs = capture.taskGcMs, executions = capture.result)
  }
}
