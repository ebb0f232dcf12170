package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, timing FULL materialization (noop datasource
  * sink — every row is produced, nothing is collected to the driver),
  * and prints one machine-parseable JSON line.
  *
  * The record is SELF-ATTRIBUTING (VERDICT r12 item 1: the r12 driver
  * record read 1.08× while solo re-timings proved 0.79× — the
  * inflation was in-suite/host noise, and nothing in the record let a
  * reader see that without a judge re-run). The instruments that make
  * an outlier explainable from the record alone:
  *
  *  - per-query `passes`: ALL pass times, not just the min — a query
  *    whose passes read [16.1, 16.0] regressed; [13.3, 3.6] hit a
  *    transient (GC storm, load burst, codegen compile) on pass 1.
  *    Each pass is one [[Instruments.noopPass]]; a failed pass reads
  *    -1.0 here and -1 in every per-pass counter below.
  *  - per-query `gc_ms` / `gc_pause_ms` / `codegen_compiles` per
  *    pass: `gc_ms` is the summed task jvmGCTime — concurrent
  *    tasks each count the same collection, so it over-reads real
  *    pause time by up to the task-slot count (r13/r14 burned
  *    adjudication time on ">100% gc share" artifacts); `gc_pause_ms`
  *    is the JVM GarbageCollectorMXBean collection-time delta — the
  *    REAL wall-clock pause, exact in local mode's single JVM (VERDICT
  *    r14 item 1). Quote gc_pause_ms; gc_ms remains for its
  *    allocation-pressure signal (tasks × pauses).
  *  - per-query `steal` per pass + top-level `pass_steal`: host CPU
  *    steal jiffies accrued during the query / the full-suite pass.
  *  - `steal_pre`: a pre-run steal sample over SPARK_GRAFT_STEAL_SECS
  *    seconds (default 120; 0 skips for local iteration) — this
  *    host's steal arrives in 10-60 min waves, so per-pass deltas
  *    alone can look clean while the suite ran inside a wave.
  *
  * Steal-aware pass retry (VERDICT r14 item 2: all five r14 attempts
  * ran on 51k-104k-jiffy steal and the round total was unusable
  * cross-round, while clean windows demonstrably existed): after the
  * base SPARK_GRAFT_PASSES passes, if fewer than min(2, passes) of
  * them accrued ≤ SPARK_GRAFT_STEAL_THRESHOLD jiffies (default 2000 ≈
  * 20 stolen CPU-seconds), up to SPARK_GRAFT_STEAL_RETRIES (default
  * 3) extra full passes run until enough clean ones exist. Per-query
  * mins stay min-over-ALL-passes — steal only ever inflates a pass,
  * so a contaminated pass can never fake a better min — and the
  * record stamps `pass_steal`, `clean_passes` (indices) and
  * `no_clean_window` so a reader can see at a glance whether the
  * total is comparable.
  *
  * Record files (VERDICT r14 item 5): every run lands ONLY in
  * bench_attempts/bench_out.<n>.json (first free n, CREATE_NEW).
  * `bench_out.json` — the round-record pointer cross-round tooling
  * reads — is written solely by an explicit
  * `graft.Bench --promote <n>` step, logged in
  * bench_attempts/promotions.log, so a driver or manual run can never
  * silently replace the committed round record in the working tree.
  */
object Bench {
  import Instruments.{delta, hostSnapshot, stealJiffies}

  def main(args: Array[String]): Unit = {
    // ---- explicit promotion mode: the ONLY writer of bench_out.json
    if (args.length >= 1 && args(0) == "--promote") {
      require(args.length == 2, "usage: graft.Bench --promote <n>")
      val n = args(1).toInt
      val src = Paths.get("bench_attempts", s"bench_out.$n.json")
      require(Files.exists(src), s"no such attempt: $src")
      Files.copy(src, Paths.get("bench_out.json"),
        StandardCopyOption.REPLACE_EXISTING)
      val note = s"promoted attempt $n -> bench_out.json at " +
        java.time.Instant.now().toString + "\n"
      Files.writeString(Paths.get("bench_attempts", "promotions.log"), note,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(s"[bench] $note")
      return
    }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftConf.hostCpus

    // Pre-run steal sample BEFORE the session spins up (an idle JVM —
    // any steal observed here is the host's, not ours). Records both
    // the window and the delta so the reader can rate-compare runs.
    val stealSecs =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_STEAL_SECS", "120").toInt)
    val stealPre =
      if (stealSecs == 0) """{"secs":0,"jiffies":-1}"""
      else {
        val s0 = stealJiffies()
        Thread.sleep(stealSecs * 1000L)
        val d = stealJiffies() - s0
        s"""{"secs":$stealSecs,"jiffies":$d}"""
      }

    // the shared harness session (GraftConf) so the bench runs the
    // same optimizer configuration as Verify and the specs
    val spark = GraftConf.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: run the flagship once untimed so JVM/codegen/session setup
    // is not attributed to the first timed query (r2's q01 showed 17 s of
    // suite warmup vs ~3 s steady-state).
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // Host-load attribution (r9 verdict item 4: the driver read +31%
    // over the builder's recorded total, uniformly — environment, not
    // regression, but unprovable without data): one
    // Instruments.hostSnapshot before each pass and one after the last.
    val hostSnaps = scala.collection.mutable.ArrayBuffer.empty[String]
    // queries the full-suite run leaves out, each with its reason (the
    // registry's `benchExcluded` field); the record DECLARES them
    // (VERDICT r14 item 4) in its `excluded` field so n-vs-gated
    // explains itself. Passing one as an explicit arg still benches it.
    val benchExcluded = SparkEntry.benchExcluded
    // optional args = query-name subset for local iteration; the driver
    // passes none and gets the full suite
    val selected =
      if (args.isEmpty)
        SparkEntry.queries.filter { case (k, _) => !benchExcluded.contains(k) }
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    val order = selected.keys.toSeq.sorted
    // per-query passes in run order; a failed pass is None (its wall
    // reads -1.0 and its counters -1 in the detail, excluded from min)
    val runs = order.map(_ ->
      scala.collection.mutable.ArrayBuffer.empty[Option[Instruments.Pass]]).toMap
    // Each query is one Instruments.noopPass: the cache is cleared and
    // prior garbage drained BEFORE it (so no query is timed under the
    // accumulated heap pressure of the suite — observed 4x run-to-run
    // swings on the dedup self-joins without — and localCheckpoint
    // blocks, which only the ContextCleaner frees after their RDD is
    // GC'd, do not sit in the block manager across later queries).
    def runPass(): Unit =
      order.foreach { name =>
        runs(name) += (
          try Some(Instruments.noopPass(spark)(selected(name)(spark, sfDir)))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
          })
      }
    // Per-query MIN over all full-suite passes (r6; base default 2).
    // One cold pass mixes JIT/codegen compilation into whichever
    // queries run first and leaves heavier ones hostage to transient
    // machine load — measured r6: q01 4.4 s as the suite opener vs
    // 2.05 s solo; q11 9.8-14 s across identical-code runs. Caches and
    // checkpoint blocks are dropped after every query, so later passes
    // re-run the full plan and only keep warmed codegen — min-of-N is
    // the steady-state throughput number the baseline comparison wants,
    // with run-to-run jitter (GC pause, load spike) filtered out.
    val basePasses =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    val stealThreshold =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_THRESHOLD", "2000").toLong
    val maxExtra =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_STEAL_RETRIES", "3").toInt)
    val passStealTotals = scala.collection.mutable.ArrayBuffer.empty[Long]
    def isClean(s: Long): Boolean = s < 0 || s <= stealThreshold
    val wantClean = math.min(2, basePasses)
    var done = false
    while (!done) {
      hostSnaps += hostSnapshot()
      val st0 = stealJiffies()
      runPass()
      passStealTotals += delta(st0, stealJiffies())
      val ranBase = passStealTotals.size >= basePasses
      val cleanSoFar = passStealTotals.count(isClean)
      val extrasLeft = passStealTotals.size - basePasses < maxExtra
      done = ranBase && (cleanSoFar >= wantClean || !extrasLeft)
    }
    hostSnaps += hostSnapshot() // post-run: catches load that built up DURING
    val totalPasses = passStealTotals.size
    val cleanIdx = passStealTotals.zipWithIndex.collect {
      case (s, i) if isClean(s) => i
    }
    // "no clean window": at least one pass measured real steal and
    // none came in under threshold (all-unknown stays false — nothing
    // to adjudicate from)
    val noCleanWindow = passStealTotals.exists(_ >= 0) &&
      !passStealTotals.exists(s => s >= 0 && s <= stealThreshold)
    // a query that failed EVERY pass has no real time — report 0 and
    // rely on the `failed` array (a sentinel would wreck the total)
    val results = order.map { name =>
      val good = runs(name).flatten.map(_.wallS)
      name -> (if (good.isEmpty) 0.0 else good.min)
    }
    // 3-decimal rounding: at 86+ queries, full-precision doubles push
    // the one-line JSON past the driver's captured log tail
    // (BENCH_r07.json came back parsed:null) — ms precision is already
    // below host noise, so nothing is lost
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val detail = order.map { name =>
      def per(f: Instruments.Pass => Long) =
        runs(name).map(_.fold(-1L)(f)).mkString("[", ",", "]")
      "\"" + name + "\":{\"passes\":" +
        runs(name).map(p => r3(p.fold(-1.0)(_.wallS))).mkString("[", ",", "]") +
        ",\"gc_ms\":" + per(_.taskGcMs) +
        ",\"gc_pause_ms\":" + per(_.gcPauseMs) +
        ",\"steal\":" + per(_.steal) +
        ",\"codegen_compiles\":" + per(_.compiles) +
        "}"
    }.mkString("{", ",", "}")
    // a query that fails one pass but succeeds another is "flaky"
    // (valid min time, listed separately); only all-pass failures are
    // "failed" — r6's flat set reported both a failure and a valid
    // time for the same query
    def names(p: Int => Boolean) = order.filter(k => p(runs(k).count(_.isEmpty)))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = names(_ == totalPasses) // no pass succeeded: time is 0.0
    val flakyJson = names(c => c > 0 && c < totalPasses) // timed, not clean
    val total = results.map(_._2).sum
    val hostJson = hostSnaps.mkString("[", ",", "]")
    val excludedJson =
      if (args.nonEmpty) "{}" // explicit subset: nothing auto-excluded
      else benchExcluded.toSeq.sorted.map { case (k, why) =>
        "\"" + k + "\":\"" + why + "\""
      }.mkString("{", ",", "}")
    val stealJson =
      s""""steal_threshold":$stealThreshold,"pass_steal":${
        passStealTotals.mkString("[", ",", "]")},"clean_passes":${
        cleanIdx.mkString("[", ",", "]")},"no_clean_window":$noCleanWindow"""
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"flaky":$flakyJson,"sf":"$sfDir","passes":$totalPasses,"passes_base":$basePasses,$stealJson,"steal_pre":$stealPre,"excluded":$excludedJson,"host":$hostJson,"query_detail":$detail}"""
    // At 87 queries the full line is ~2.6 kB — larger than the driver's
    // captured log tail, so it can never be recovered from stdout alone
    // (BENCH_r07/r08 both came back parsed:null). The full record lives
    // in the attempt file; stdout gets the full line for humans plus a
    // guaranteed-short summary line LAST, sized to always fit the tail.
    // Non-destructive attempts (VERDICT r13 item 2): every run lands in
    // bench_attempts/bench_out.<n>.json (first free n), so a later
    // attempt — or the driver's own run — can never clobber the only
    // copy of the cleanest record (r13 lost its 216.7 s attempt that
    // way). Since r15, bench_out.json itself is written ONLY by
    // `--promote` (VERDICT r14 item 5).
    val attemptsDir = Paths.get("bench_attempts")
    Files.createDirectories(attemptsDir)
    // CREATE_NEW, retrying on collision: a find-free-then-write pair
    // would let two concurrent bench JVMs (driver-launched racing a
    // manual run) pick the same n and silently clobber — the exact
    // loss this file exists to prevent
    val attemptPath = Iterator.from(1)
      .map(n => attemptsDir.resolve(s"bench_out.$n.json"))
      .flatMap { p =>
        try {
          Files.writeString(p, line + "\n",
            java.nio.file.StandardOpenOption.CREATE_NEW)
          Some(p)
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => None
        }
      }.next()
    val summary =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"failed":$failedJson,"flaky":$flakyJson,"sf":"$sfDir","passes":$totalPasses,"passes_base":$basePasses,$stealJson,"steal_pre":$stealPre,"excluded":$excludedJson,"host":$hostJson,"detail":"$attemptPath","attempt":"$attemptPath"}"""
    // stop BEFORE printing so the JSON lines are the LAST stdout lines —
    // the driver captures a bounded log tail and must find them there
    spark.stop()
    println(line)
    println(summary)
  }
}
