package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.GraftConf
import graft.operators.{Enrich, OptionAgg}
import graft.sources.{Ingest, Schemas}
import graft.streaming.StreamingOps

/** The option-aggregation stream: a seeded backlog of option-trade
  * producer records drained once with AvailableNow, one file per
  * micro-batch, through parse → quarantine → enrich → 1-minute
  * 24-measure windowedAgg → checkpointed parquet sink, on the RocksDB
  * changelog state store.
  */
final class OptionStream(ctx: Ctx) extends Workload {
  import OptionStream._
  private val spark = ctx.spark
  private var topic: Gen.Topic = _
  private var agged: DataFrame = _

  def generate(): Map[String, Any] = {
    topic = Gen.trades(spark, ctx.args.seed, ctx.dataDir, ctx.args.streamFiles, PerFile,
      jitterMs = 3000L, graceMs = GraceMs, lateShare = LateShare, poison = Poison)
    Map("input_digest" -> topic.digest, "records" -> topic.records, "files" -> topic.files,
      "late" -> topic.late, "poison" -> topic.poison, "grace_ms" -> GraceMs,
      "final_watermark_ms" -> (topic.maxAcceptedTsMs - GraceMs))
  }

  private def source(df: DataFrame): DataFrame = {
    val parsed = Ingest.parseJson(df.withColumnRenamed("ts", "kafka_ts"), "value", Schemas.optionTrade)
    val observed = if (df.isStreaming)
      parsed.observe("ingest", count(lit(1)).as("rows_in"), count(col(Ingest.CorruptCol)).as("quarantined"))
    else parsed
    Enrich.enrichOptionTrade(Ingest.valid(observed).drop("key", "value", "kafka_ts"))
  }

  def prepare(): Unit = {
    Seq(ProviderConf, ChangelogConf).foreach(k => spark.conf.set(k, GraftConf.clusterDefaults(k)))
    val raw = spark.readStream.schema(TopicSchema).option("maxFilesPerTrigger", "1").json(topic.dir)
    agged = StreamingOps.windowedAgg(
      source(raw).withColumn("event_ts", timestamp_millis(col("ts"))),
      "event_ts", "osym", "1 minute", s"${GraceMs / 1000} seconds",
      count(lit(1)).as("count") +: OptionAgg.measures())
  }

  /** Drain the backlog once, on a fresh checkpoint and sink. */
  private def drain(root: Long): Map[String, Any] = {
    val out = s"${ctx.args.work}/sink"; val ckpt = s"${ctx.args.work}/ckpt"
    val (progress, span) = ctx.tracer.timed(root, 0L, "drain", "drain") { id =>
      val q = StreamingOps.sink(agged, "parquet", Some(out), ckpt).start()
      drainSpans.put(q.id.toString, id)
      q.awaitTermination()
      q.recentProgress.toSeq
    }
    val data = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    def observed(p: StreamingQueryProgress, k: String): Long =
      Option(p.observedMetrics.get("ingest")).map(_.getAs[Long](k)).getOrElse(0L)
    def durMs(p: StreamingQueryProgress): Long = p.durationMs.get("triggerExecution").longValue
    // cold: query start to the end of the first micro-batch with data
    val firstEndUs = (java.time.Instant.parse(data.head.timestamp).toEpochMilli + durMs(data.head)) * 1000L
    Map("sink" -> out, "wall_s" -> span.durMs / 1000.0,
      "cold_s" -> (firstEndUs - span.startUs) / 1e6, "warm_s" -> (span.endUs - firstEndUs) / 1e6,
      "warm_rows" -> data.tail.map(_.numInputRows).sum,
      "batches" -> data.size, "batch_ms" -> data.map(durMs),
      "rows_in" -> progress.map(_.numInputRows).sum,
      "observed_rows_in" -> progress.map(observed(_, "rows_in")).sum,
      "quarantined" -> progress.map(observed(_, "quarantined")).sum,
      "dropped_late" -> progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum,
      "no_data_batches" -> (progress.size - data.size))
  }

  /** One drain of the whole backlog in the fresh session. Its first
    * micro-batch is the cold part; the rest, the warm part.
    */
  def measure(root: Long): Map[String, Any] = {
    val d = drain(root)
    val bad = if (d("rows_in") == topic.records.toLong) 0 else d("batches").asInstanceOf[Int]
    if (ctx.tracer.enabled) {
      ctx.tracer.count("sources.rows_in", d("observed_rows_in").asInstanceOf[Long].toDouble)
      ctx.tracer.count("sources.rows_quarantined", d("quarantined").asInstanceOf[Long].toDouble)
    }
    val warmS = d("warm_s").asInstanceOf[Double]
    Map("attempted" -> d("batches"), "failed" -> bad,
      "ops_ms" -> d("batch_ms").asInstanceOf[Seq[Long]].drop(1).map(_.toDouble),
      "cold_wall_s" -> d("cold_s"), "warm_wall_s" -> Seq(warmS),
      "throughput_per_s" -> d("warm_rows").asInstanceOf[Long] / warmS,
      "drain" -> d)
  }

  /** Writes the batch twin — `OptionAgg.aggregate` over the accepted rows,
    * restricted to the windows the final watermark closes — for the
    * sink comparison; the counts are compared with the generator's
    * closed form by the caller.
    */
  def check(): Map[String, Any] = {
    val expected = s"${ctx.args.work}/expected"
    val wm = topic.maxAcceptedTsMs - GraceMs
    val accepted = source(spark.read.schema(TopicSchema).json(topic.dir))
      .filter(!col("id").startsWith(Gen.LatePrefix))
      .withColumn("ts", timestamp_millis(col("ts")))
    val twin = OptionAgg.aggregate(accepted).filter(col("end") <= wm)
    twin.drop("end", "usym", "strike", "expiry", "otype")
      .write.mode("overwrite").parquet(expected)
    Map("ok" -> true, "expected" -> expected, "late" -> topic.late, "poison" -> topic.poison,
      "records" -> topic.records)
  }
}

object OptionStream {
  /** 40 warm micro-batches after the cold one: enough for a p75. */
  val Files = 41
  /** Trades per micro-batch: large enough that per-row work (JSON
    * parsing, enrichment, state updates) is a measured share of a batch,
    * small enough that 41 batches fit one run (sizing in the README).
    */
  val PerFile = 3000
  val GraceMs = 5000L
  val LateShare = 0.01
  val Poison = 25
  val TopicSchema = "key STRING, value STRING, ts BIGINT"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogConf = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Query id → span id of the drain that started it. */
  private val drainSpans = new ConcurrentHashMap[String, Long]()
  def drainOf(p: StreamingQueryProgress): Option[Long] = Option(drainSpans.get(p.id.toString))
}
