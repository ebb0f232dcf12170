package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sources.Ingest
import graft.operators.OptionAgg
import graft.streaming.StreamingOps

/** Streaming throughput micro-bench: the full e2e pipeline the
  * StreamingSpec gates for correctness (produce-shape records → topic
  * → S6 JSON parse + validity filter → 24-measure 1-minute windowedAgg
  * → checkpointed parquet sink), timed over a synthetic trade stream
  * and reported as ONE machine-parseable JSON line (also written to
  * stream_bench.json). The topic is a multi-file parquet dir consumed
  * with maxFilesPerTrigger, so the run exercises real micro-batch
  * scheduling (N batches), watermark advance, and state-store
  * open/commit per batch — the costs a single-batch run would hide.
  *
  * The pipeline runs TWICE, once per state-store provider — the
  * HDFS-backed in-memory default, then RocksDB with changelog
  * checkpointing (the GraftConf.clusterDefaults choice) — so the
  * cluster-config claim is a measured number, not a comment: the same
  * workload, same topic, fresh checkpoint each, with per-provider
  * rows/s side by side. The RocksDB run also asserts the provider
  * actually engaged (its stateOperators expose rocksdb custom
  * metrics) — a typo'd provider class would otherwise fall back
  * silently and "benchmark" the default twice.
  *
  * Rows default to 200k (SPARK_GRAFT_STREAM_ROWS overrides): enough
  * that per-batch fixed costs do not dominate, small enough to run in
  * seconds locally. Throughput = input rows / wall seconds across the
  * whole query (setup + all batches + final commit). Each provider
  * fragment also carries the per-trigger floor read from
  * `recentProgress`: the median trigger, WAL-commit and offset-commit
  * durations and the median summed state-store commit time.
  */
object StreamBench {
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** One drain's measurements: input rows, wall seconds, micro-batches
    * with data, the peak state-store row count, the rows in the sink,
    * and the per-trigger floor: the median over the batches it ran of
    * `triggerExecution`, `walCommit`, `commitOffsets` and the summed
    * state-store `commitTimeMs`.
    */
  private case class Drained(inputRows: Long, secs: Double, batches: Int,
                             stateRows: Long, outRows: Long, triggerMs: Double,
                             walCommitMs: Double, commitOffsetsMs: Double,
                             stateCommitMs: Double) {
    /** The floor as JSON fields, appended to a provider fragment. */
    def floorFields: String =
      s""""trigger_execution_ms_p50":$triggerMs,"wal_commit_ms_p50":$walCommitMs,""" +
        s""""commit_offsets_ms_p50":$commitOffsetsMs,"state_commit_ms_p50":$stateCommitMs"""
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val cpus = GraftConf.hostCpus
    val spark = GraftConf.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "200000").toLong
    val dir = Files.createTempDirectory("stream_bench")
    val topic = s"$dir/topic"

    // deterministic synthetic trades: 250 ms spacing (4 rows/s of
    // event time), 50 symbols, both sides/types, premiums straddling
    // the whale threshold — every conditional cell of the 24-measure
    // menu gets rows. Written time-ordered into 16 files so the
    // watermark advances monotonically as the source drains them.
    val baseUs = 1704103200000000L // 2024-01-01 10:00:00 UTC
    val trades = spark.range(n).select(
      timestamp_micros(lit(baseUs) + col("id") * 250000L).as("ts"),
      concat(lit("SYM"), (col("id") % 50).cast("string")).as("osym"),
      element_at(array(lit("buy"), lit("sell"), lit("no_side")),
        (col("id") % 3 + 1).cast("int")).as("side"),
      element_at(array(lit("call"), lit("put")),
        (col("id") % 2 + 1).cast("int")).as("otype"),
      (col("id") % 100 + 1).as("qty"),
      ((col("id") % 1000) * 301).cast("double").as("premium"))
    Ingest.toProducerRecords(trades, "osym", "ts")
      .repartitionByRange(16, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(topic)

    val valueSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("osym", StringType),
      StructField("side", StringType), StructField("otype", StringType),
      StructField("qty", LongType), StructField("premium", DoubleType)))

    /** One AvailableNow drain of `build`'s output into a fresh parquet
      * sink + checkpoint under the session's CURRENT state-store
      * provider, timed from before `build` to the end of the drain.
      */
    def drain(tag: String, expectRocksDb: Boolean)(build: => DataFrame): Drained = {
      val out = s"$dir/out_$tag"; val ckpt = s"$dir/ckpt_$tag"
      val t0 = System.nanoTime()
      val outDf = build
      val q = StreamingOps.sink(outDf, "parquet", Some(out), ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9

      val progress = q.recentProgress
      // provider engagement check: RocksDB's state operator exposes
      // rocksdb* custom metrics the default provider does not
      val rocksDbMetrics = progress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
        .exists(_.toLowerCase(java.util.Locale.ROOT).contains("rocksdb"))
      require(rocksDbMetrics == expectRocksDb,
        s"state-store provider mismatch for '$tag': rocksdb metrics " +
          s"present=$rocksDbMetrics, expected=$expectRocksDb")
      // the batches it ran, with or without data: an idle trigger
      // commits no WAL entry
      val ran = progress.filter(_.durationMs.containsKey("walCommit"))
      def floor(phase: String): Double =
        median(ran.flatMap(p => Option(p.durationMs.get(phase)).map(_.doubleValue)))
      // explicit schema: a tiny run (rows' event time all inside the
      // watermark grace) finalizes ZERO windows, and a schema-inferring
      // read of the empty sink dir would throw AFTER the bench succeeded
      Drained(progress.map(_.numInputRows).sum, secs,
        progress.count(_.numInputRows > 0),
        progress.flatMap(_.stateOperators).map(_.numRowsTotal)
          .foldLeft(0L)(math.max),
        spark.read.schema(outDf.schema).parquet(out).count(),
        floor("triggerExecution"), floor("walCommit"), floor("commitOffsets"),
        median(ran.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)))
    }

    /** One full pipeline run, against a fresh sink + checkpoint. */
    def runOnce(tag: String, expectRocksDb: Boolean): Drained =
      drain(tag, expectRocksDb) {
        val raw = spark.readStream
          .schema("key string, value string, ts timestamp")
          .option("maxFilesPerTrigger", "2") // 16 files / 2 → 8 micro-batches
          .parquet(topic)
          .withColumnRenamed("ts", "kafka_ts")
        val parsed = Ingest.valid(Ingest.parseJson(raw, "value", valueSchema))
          .select("ts", "osym", "side", "otype", "qty", "premium")
        // 10-minute grace: files drain near time-order (range-partitioned
        // write), so real cross-batch disorder stays far inside the grace
        StreamingOps.windowedAgg(parsed, "ts", "osym",
          "1 minute", "10 minutes",
          count(lit(1)).as("count") +: OptionAgg.measures())
      }

    /** Min-of-2 per provider, matching Bench's convention: whichever
      * provider runs second in this JVM would otherwise inherit warmed
      * JIT/codegen/file-cache state from the first and the side-by-side
      * comparison would be systematically biased toward it. Pass 1 is
      * the warm-up; the reported rows/s is the better (min-secs) pass,
      * with both passes' seconds recorded.
      */
    def runProvider(tag: String,
                    expectRocksDb: Boolean): (String, Double) = {
      val p1 = runOnce(s"${tag}_p1", expectRocksDb)
      val p2 = runOnce(s"${tag}_p2", expectRocksDb)
      val best = if (p2.secs <= p1.secs) p2 else p1
      val rps = best.inputRows / best.secs
      (s""""$tag":{"rows_per_sec":$rps,"secs":${best.secs},""" +
        s""""secs_pass1":${p1.secs},"secs_pass2":${p2.secs},""" +
        s""""input_rows":${best.inputRows},"batches":${best.batches},""" +
        s""""out_windows":${best.outRows},"rocksdb_engaged":$expectRocksDb,""" +
        s"""${best.floorFields}}""",
        rps)
    }

    // provider A: the HDFS-backed in-memory default (Spark's out-of-box)
    val defaultProvider = spark.conf.get(ProviderConf)
    val (hdfsFrag, _) = runProvider("hdfs_default", expectRocksDb = false)
    // provider B: the cluster default — RocksDB + changelog checkpointing
    spark.conf.set(ProviderConf, GraftConf.clusterDefaults(ProviderConf))
    spark.conf.set(ChangelogConf, GraftConf.clusterDefaults(ChangelogConf))
    val (rocksFrag, rocksRps) = runProvider("rocksdb_changelog", expectRocksDb = true)

    // ---- stateful-face throughput table (VERDICT r11 item 6) ----
    // The flatMapGroupsWithState twins (transitions / gaps /
    // attribution / entry-exit with event-time timeout) measured under
    // the HOT-KEY distribution the per-key memory contract documents:
    // 90% of rows on ONE entity, the rest spread over 10k entities —
    // so each micro-batch folds one huge sorted group AND ~thousands
    // of small ones, per provider, with the same engagement assertion
    // as the e2e run. Reported per (face, provider): rows/s (min-of-2,
    // the runProvider convention), emitted rows, and the state-store
    // row count from the final progress (the per-key O(1) contract:
    // state rows ≈ live keys, never input rows).
    val nf = sys.env.getOrElse("SPARK_GRAFT_STREAM_FACE_ROWS", "200000").toLong
    // the dedup face's closed form (out_rows == rows/4) assumes whole
    // quadruples; reject a knob value that would break the in-bench
    // assertion instead of aborting mid-run
    require(nf % 4 == 0,
      s"SPARK_GRAFT_STREAM_FACE_ROWS must be divisible by 4: $nf")
    val faceGapUs = 1000000L // 1 s session gap: cold entities churn
    def writeFaceTopic(rows: Long, path: String): Unit = {
      spark.range(rows).select(
          when(col("id") % 10 < 9, lit(0L))
            .otherwise(col("id") % 10000).as("user"),
          (lit(baseUs) + col("id") * 1000L).as("tsUs"), // 1 ms spacing
          col("id").as("eid"),
          element_at(
            array(lit("view"), lit("click"), lit("cart"), lit("purchase")),
            (col("id") % 4 + 1).cast("int")).as("etype"))
        .repartitionByRange(16, col("tsUs")).sortWithinPartitions(col("tsUs"))
        .write.mode("overwrite").parquet(path)
      // FileStreamSource takes files in mtime order, and the parallel
      // write tasks leave racing mtimes: stamp the range files in part
      // (= tsUs) order so the micro-batches, and the watermark-driven
      // timeout flushes, are the same on every run
      val parts = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val mtime0 = System.currentTimeMillis() - parts.length * 1000L
      parts.zipWithIndex.foreach { case (p, i) =>
        require(p.setLastModified(mtime0 + i * 1000L),
          s"cannot set the mtime of $p")
      }
    }
    val faceTopic = s"$dir/face_topic"
    writeFaceTopic(nf, faceTopic)

    def runFaceOnce(face: String, tag: String, expectRocksDb: Boolean,
                    topic: String, rows: Long): Drained = {
      import spark.implicits._
      val run = drain(s"face_$tag", expectRocksDb) {
        val ds = spark.readStream
          .schema("user bigint, tsUs bigint, eid bigint, etype string")
          .option("maxFilesPerTrigger", "2")
          .parquet(topic)
          .as[graft.streaming.TransEvent]
        face match {
          case "transitions" => StreamingOps.transitionsStateful(ds).toDF()
          case "gaps" => StreamingOps.gapsStateful(ds).toDF()
          case "attribution" =>
            StreamingOps.attributionStateful(ds, "purchase").toDF()
          case "entry_exit_timeout" =>
            StreamingOps.entryExitStatefulTimeout(ds, faceGapUs).toDF()
          case "dedup_watermark" =>
            // exactly-once-effect content dedup: every 4 consecutive
            // events share a content key (integer DIV — `/` on longs is
            // DOUBLE division and would make every key unique), so the
            // within-watermark guarantee collapses each quadruple and
            // out_rows has the exact closed form rows/4, asserted below.
            // The grace deliberately covers the whole topic span
            // (rows ms of event time + slack, SCALED with the row knob —
            // a fixed grace would silently re-break past span > grace):
            // the closed form must hold on any FileStreamSource pickup
            // order (with racing file mtimes a 10 s grace late-dropped
            // 25%), and the face's job is throughput + the
            // exactly-once closed form; watermark EVICTION mechanics
            // are pinned by StreamingSpec's dedup spec. State is
            // key-count-bounded (nf/4), 4x below input.
            StreamingOps.dedupWithinWatermark(
              ds.toDF()
                .withColumn("ts", timestamp_micros(col("tsUs")))
                .withColumn("ckey", expr("eid DIV 4")),
              "ts", s"${rows / 1000 + 60} seconds", Seq("ckey"))
        }
      }
      // the dedup face's correctness gate rides inside the bench: the
      // closed form holds on any batching (see the face's comment)
      require(face != "dedup_watermark" || run.outRows == rows / 4,
        s"dedup_watermark out_rows=${run.outRows}, expected ${rows / 4}")
      run
    }

    /** passes=2 (the Bench min-of-2 convention) for the base size;
      * the 10x scale point runs ONE pass per provider — at that size a
      * transient can no longer dominate a 40-80 s run, and a second
      * pass would double a ~10-minute section for noise filtering the
      * size already provides.
      */
    def runFaceProvider(face: String, provTag: String,
                        expectRocksDb: Boolean, topic: String, rows: Long,
                        passes: Int): String = {
      val runs = (1 to passes).map(i =>
        runFaceOnce(face, s"${face}_${provTag}_r${rows}_p$i", expectRocksDb,
          topic, rows))
      val best = runs.minBy(_.secs)
      s""""$provTag":{"rows_per_sec":${best.inputRows / best.secs},"secs":${best.secs},""" +
        s""""input_rows":${best.inputRows},"out_rows":${best.outRows},""" +
        s""""state_rows":${best.stateRows},"rocksdb_engaged":$expectRocksDb,""" +
        s"""${best.floorFields}}"""
    }

    val faceNames =
      Seq("transitions", "gaps", "attribution", "entry_exit_timeout",
        "dedup_watermark")
    def facesAt(topic: String, rows: Long, passes: Int): String =
      faceNames.map { face =>
        // RocksDB (still set from the e2e section) first, then the
        // default provider restored for the hdfs leg
        val rocks = runFaceProvider(face, "rocksdb_changelog",
          expectRocksDb = true, topic, rows, passes)
        spark.conf.set(ProviderConf, defaultProvider)
        val hdfs = runFaceProvider(face, "hdfs_default",
          expectRocksDb = false, topic, rows, passes)
        spark.conf.set(ProviderConf, GraftConf.clusterDefaults(ProviderConf))
        s""""$face":{$hdfs,$rocks}"""
      }.mkString("{", ",", "}")

    val facesFrag = facesAt(faceTopic, nf, passes = 2)

    // ---- the 10x scale point (VERDICT r12 item 4): the same five
    // faces at SPARK_GRAFT_STREAM_FACE_SCALE x the base rows (default
    // 10 → 2M), so the per-key O(1) state contract is a two-point
    // CURVE: state_rows must track live keys (≈ constant for the
    // hot-key faces, rows/4 for dedup), never input rows, and rows/s
    // must hold within noise of the base point. scale=0 skips (local
    // iteration).
    val faceScale =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_FACE_SCALE", "10").toInt
    val scaleFrag =
      if (faceScale <= 1) ""
      else {
        val nfScale = nf * faceScale
        val scaleTopic = s"$dir/face_topic_${faceScale}x"
        writeFaceTopic(nfScale, scaleTopic)
        val faces = s""","face_rows_scale":$nfScale,"faces_scale":""" +
          facesAt(scaleTopic, nfScale, passes = 1)
        // ---- RocksDB dedup-face tuning sweep (VERDICT r13 item 5):
        // the dedup face is the one face where RocksDB trails the
        // in-memory provider at the scale point (write-amp at ~rows/4
        // state rows: every event is one get + one put against a
        // store that no longer fits the memtable). Re-run it under
        // the documented RocksDB state-store knobs, one pass each
        // (the scale-point convention), next to the faces_scale
        // baseline in the same record — so the artifact carries
        // either a winning knob or the measured inherent cost.
        //  - write_buffer_256mb: 4x memtables, more of the working
        //    set absorbs writes before any flush/compaction;
        //  - no_row_tracking: skips the per-batch row-count
        //    maintenance (each put must know whether the key existed
        //    -> an extra get when tracking); state_rows then reads 0
        //    by design — the closed-form out_rows==rows/4 assertion
        //    inside runFaceOnce still gates correctness;
        //  - snapshot_checkpoint: changelog OFF — uploads SST
        //    snapshots instead of shipping per-batch deltas
        //    (isolates how much the changelog write path costs).
        // Provider is RocksDB here (facesAt restores it after its
        // hdfs leg); each variant restores the prior conf after.
        val variants: Seq[(String, Map[String, String])] = Seq(
          "write_buffer_256mb" -> Map(
            "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB" -> "256",
            "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber" -> "4"),
          "no_row_tracking" -> Map(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false"),
          "snapshot_checkpoint" -> Map(ChangelogConf -> "false"))
        val frags = variants.map { case (tag, confs) =>
          val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          // finally: a face that throws must not leak its tuned confs
          // (256 MB write buffers, changelog off) into later legs of
          // the same run (ADVICE r14)
          try runFaceProvider("dedup_watermark", tag,
            expectRocksDb = true, scaleTopic, nfScale, passes = 1)
          finally prior.foreach { case (k, vOpt) =>
            vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
          }
        }
        faces + s""","rocksdb_dedup_tuning":{${frags.mkString(",")}}"""
      }

    // top-level value = the cluster-default provider's rows/s, keeping
    // the {metric,value,unit} shape bench_out.json / stress_out.json use
    val line =
      s"""{"metric":"stream_e2e_pipeline","value":$rocksRps,"unit":"rows_per_sec",""" +
        s""""rows":$n,"cpus":$cpus,""" +
        s""""providers":{$hdfsFrag,$rocksFrag},""" +
        s""""face_rows":$nf,"faces":$facesFrag$scaleFrag}"""
    Files.writeString(Paths.get("stream_bench.json"), line + "\n")
    spark.stop()
    println(line)
  }
}
