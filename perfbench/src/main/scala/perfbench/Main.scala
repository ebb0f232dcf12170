package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, work: String, report: String, streamFiles: Int)

/** What a workload sees: the session, its arguments, the tracer and a
  * private data directory.
  */
final case class Ctx(spark: SparkSession, args: Args, tracer: Tracer) {
  val dataDir: String = s"${args.work}/data"
}

/** A benchmark workload. `generate` writes the seeded inputs (not part of
  * set-up time), `prepare` is the set-up a user of the engine would pay
  * before the first operation, `measure` runs the timed operations and
  * `check` verifies their output outside the timed window.
  */
trait Workload {
  def generate(): Map[String, Any]
  def prepare(): Unit
  def measure(root: Long): Map[String, Any]
  def check(): Map[String, Any]
}

/** One benchmark run in one JVM: set up a session sized from the
  * arguments, run one workload, and write a JSON report of raw samples,
  * check results, host stamps and (traced) layer counters and spans.
  *
  * {{{
  * perfbench.Main --workload curation_batch --seed 1 --seconds 5 --trace 0 \
  *   --cores 4 --work <dir> --report <file> [--stream-files 41]
  * }}}
  */
object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("cores").toInt, m("work"), m("report"),
      m.get("stream-files").map(_.toInt).getOrElse(OptionStream.Files))
  }

  def session(a: Args): SparkSession = {
    System.setProperty("spark.local.dir", s"${a.work}/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    System.setProperty("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val s = graft.GraftConf.localSession(a.cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val hostBefore = Host.snapshot()
    val tracer = new Tracer(a.trace)
    val spark = session(a)
    val sessionReadyS = Host.sinceProcessStartMs() / 1000.0
    val ctx = Ctx(spark, a, tracer)
    val w: Workload = a.workload match {
      case "option_aggs_stream" => new OptionStream(ctx)
      case "curation_batch"     => new CurationBatch(ctx)
      case other                => sys.error(s"unknown workload $other")
    }
    val (gen, genSpan) = tracer.timed(0L, 0L, "generate", a.workload)(_ => w.generate())
    val (_, prep) = tracer.timed(0L, 0L, "setup", "prepare")(_ => w.prepare())
    val setupS = sessionReadyS + prep.durMs / 1000.0

    val layers = if (a.trace) Some(new LayerListener(tracer)) else None
    val phases = if (a.trace) Some(new PhaseListener(tracer)) else None
    val progress = if (a.trace) Some(new ProgressListener) else None
    layers.foreach(spark.sparkContext.addSparkListener)
    phases.foreach(spark.listenerManager.register)
    progress.foreach(spark.streams.addListener)
    val cg0 = Instruments.codegen(); val gc0 = Host.gcMs(); val steal0 = Host.stealJiffies()
    val rootId = tracer.newId()
    // the peak resident set covers the measured window only: generation
    // before it and the check after it are left out, as set-up time does
    Host.resetPeakRss()
    val t0 = Clock.nowUs()
    val res = w.measure(rootId)
    val t1 = Clock.nowUs()
    val peakRssMb = Host.peakRssMb()
    val steal1 = Host.stealJiffies(); val gc1 = Host.gcMs(); val cg1 = Instruments.codegen()
    tracer.add(Span(rootId, 0L, rootId, "workload", a.workload, t0, t1))

    val traced: Map[String, Any] = if (!a.trace) Map.empty else {
      Instruments.flushBus(spark)
      val batchSpans = progress.toSeq.flatMap(_.progress.asScala)
        .map(p => Progress.record(p, tracer, OptionStream.drainOf(p).getOrElse(rootId)))
        .toMap
      layers.foreach(_.flush(batchSpans))
      phases.foreach(pl => Spans.adopt(tracer, pl.phases.asScala.toSeq))
      tracer.count("codegen.compiles", (cg1._1 - cg0._1).toDouble)
      tracer.count("codegen.compile_ms", (cg1._2 - cg0._2) / 1e6)
      tracer.count("jvm.gc_pause_ms", (gc1 - gc0).toDouble)
      val spansPath = s"${a.work}/spans.jsonl"
      tracer.write(spansPath)
      Map("layers" -> tracer.layerValues, "spans" -> spansPath,
        "sched_waits_ms" -> layers.toSeq.flatMap(_.schedWaitsMs.asScala.map(_.doubleValue)))
    }
    layers.foreach(spark.sparkContext.removeSparkListener)
    phases.foreach(spark.listenerManager.unregister)
    progress.foreach(spark.streams.removeListener)

    val c0 = Clock.nowUs()
    val chk = try w.check() catch {
      case e: Throwable =>
        e.printStackTrace()
        Map("ok" -> false, "error" -> e.toString)
    }
    val checkS = (Clock.nowUs() - c0) / 1e6
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup_s" -> setupS, "session_ready_s" -> sessionReadyS, "prepare_s" -> prep.durMs / 1000.0,
      "wall_s" -> (t1 - t0) / 1e6, "generate_s" -> genSpan.durMs / 1000.0, "check_s" -> checkS,
      "peak_rss_mb" -> peakRssMb,
      "host" -> Map("before" -> hostBefore, "after" -> Host.snapshot(),
        "steal_jiffies_run" -> (steal1 - steal0)),
      "generated" -> gen, "check" -> chk) ++ res ++ traced
    val w2 = new java.io.PrintWriter(a.report, "UTF-8")
    try w2.println(Json(report)) finally w2.close()
    spark.stop()
  }
}

object Spans {
  /** Give each parentless span the innermost harness span (not a job or
    * stage) whose interval holds its midpoint, then store it.
    */
  def adopt(tracer: Tracer, orphans: Seq[Span]): Unit = {
    val hosts = tracer.spans.filter(s => s.layer != "job" && s.layer != "stage")
      .sortBy(s => s.endUs - s.startUs)
    orphans.foreach { o =>
      val mid = (o.startUs + o.endUs) / 2
      hosts.find(h => h.startUs <= mid && mid <= h.endUs) match {
        case Some(h) => tracer.add(o.copy(parent = h.id, trace = h.trace))
        case None    => tracer.add(o)
      }
    }
  }
}
