package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded load generators. They know nothing of the engine's operators:
  * each turns a seed into input files (and, for the stream, the closed
  * form of what the pipeline must do with them), and each returns a
  * SHA-256 digest of what it generated so two runs of one seed can be
  * shown to have had identical inputs.
  */
object Gen {

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------------
  // events: the telemetry points table the Telemetry reports query

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val EventUsers = 1500
  val EventsBaseUs: Long = 1704067200000000L // 2024-01-01 00:00:00 UTC
  val EventsSpanUs: Long = 30L * 86400L * 1000000L

  final case class Event(id: Long, tsUs: Long, user: Long, etype: String,
                         value: Double, k: Int)

  /** `n` events over 30 days with strictly increasing, hence unique,
    * timestamps; values carry two decimals; `k` lands in props JSON.
    */
  def events(seed: Long, n: Int, users: Int): IndexedSeq[Event] = {
    val r = new SplittableRandom(seed)
    val step = EventsSpanUs / n
    (0 until n).map { i =>
      Event(i.toLong, EventsBaseUs + i * step + r.nextLong(step / 2),
        r.nextInt(users).toLong, EventTypes(r.nextInt(EventTypes.size)),
        (1 + r.nextInt(50000)) / 100.0, r.nextInt(100))
    }
  }

  def writeEvents(spark: SparkSession, ev: IndexedSeq[Event], dir: String): String = {
    val d = new Digest
    ev.foreach(e => d.add(s"${e.id},${e.tsUs},${e.user},${e.etype},${e.value},${e.k}"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = ev.map(e => Row(e.id, e.tsUs, e.user, e.etype, e.value, s"""{"k": ${e.k}}"""))
    spark.createDataFrame(rows.asJava, schema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    d.hex
  }

  // ------------------------------------------------------------------
  // option trades: the backlog the option-aggregation stream drains

  /** The stream's generated topic and the closed form of its outcome:
    * exactly `late` records sit beyond the grace when their file is
    * read, so the pipeline must drop them; exactly `poison` records do
    * not parse and must be quarantined; every other record is accepted.
    */
  final case class Topic(dir: String, files: Int, records: Int, late: Int,
                         poison: Int, maxAcceptedTsMs: Long, digest: String)

  val LatePrefix = "late-"
  val TradesBaseMs: Long = 1704189600000L // 2024-01-02 10:00:00 UTC

  /** `perFile` records in each of `files` JSON-lines files of producer
    * records (key, value, ts), offered in event-time order. Symbols
    * follow Zipf(1.1) over 400 contracts; accepted trades are 20 ms
    * apart in event time with disorder under `jitterMs`; `lateShare` of
    * records (never in the first two files) are stamped far behind the
    * watermark, each in its own (minute, symbol) group; `poison`
    * records carry truncated JSON.
    */
  def trades(spark: SparkSession, seed: Long, dir: String, files: Int, perFile: Int,
             jitterMs: Long, graceMs: Long, lateShare: Double, poison: Int): Topic = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val nSym = 400
    val zipf = new Zipf(nSym, 1.1)
    val unders = Seq("AAPL", "MSFT", "NVDA", "TSLA", "SPY", "QQQ", "AMZN", "META")
    def symbol(i: Int): (String, String, Double, String, String) = {
      val u = unders(i % unders.size)
      val otype = if ((i / unders.size) % 2 == 0) "call" else "put"
      val strike = 50.0 + 5.0 * (i / (2 * unders.size))
      val exp = java.time.LocalDate.of(2024, 1, 3).plusDays((i % 7).toLong * 3)
      val osym = f"$u${exp.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).drop(2)}" +
        f"${otype.head.toUpper}${(strike * 1000).toLong}%08d"
      (osym, u, strike, exp.toString, otype)
    }
    val symbols = Array.tabulate(nSym)(symbol)
    val sides = Seq(Seq("ask_side"), Seq("bid_side"), Seq.empty[String])
    val total = files * perFile
    val nLate = math.round(total * lateShare).toInt
    // late and poison slots: distinct arrival positions outside the first two files
    val slots = r.ints(0L + nLate + poison + 64, 2 * perFile, total).toArray.distinct
      .take(nLate + poison)
    require(slots.length == nLate + poison, "too few distinct late/poison slots")
    val lateSlots = slots.take(nLate).toSet
    val poisonSlots = slots.drop(nLate).toSet
    val usedLate = scala.collection.mutable.Set.empty[(Long, Int)]

    val tradeSchema = graft.sources.Schemas.optionTrade
    val rows = new java.util.ArrayList[Row](total)
    val kinds = new Array[Char](total)
    var fileMinTs = Long.MaxValue; var prevFileMinTs = Long.MaxValue
    var maxAccepted = Long.MinValue
    for (i <- 0 until total) {
      if (i % perFile == 0) { prevFileMinTs = fileMinTs; fileMinTs = Long.MaxValue }
      val si = zipf.sample(r)
      val (osym, usym, strike, exp, otype) = symbols(si)
      val onTime = TradesBaseMs + i * 20L + r.nextLong(jitterMs)
      val ts =
        if (lateSlots(i)) {
          // window end <= this ts + 60 s < previous file's min ts - grace <= watermark
          var t = 0L
          do t = prevFileMinTs - graceMs - 120000L - r.nextLong(12L * 3600000L)
          while (!usedLate.add((t / 60000L, si)))
          t
        } else onTime
      if (!lateSlots(i) && !poisonSlots(i)) maxAccepted = math.max(maxAccepted, ts)
      fileMinTs = math.min(fileMinTs, onTime)
      val qty = 1L + r.nextInt(200)
      val price = 0.05 + r.nextInt(4000) / 100.0
      val premium = math.rint(qty * price * 100.0 * 100.0) / 100.0
      val side = sides(r.nextInt(3))
      val tags = (side ++ (if (qty > 150) Seq("sweep") else Nil)).asJava
      kinds(i) = if (lateSlots(i)) 'L' else if (poisonSlots(i)) 'P' else 'A'
      val id = (if (lateSlots(i)) LatePrefix else "t-") + i
      rows.add(Row(id, ts, osym, usym, strike * 1.01, strike, exp, null, otype, qty,
        price, premium, null, "CBOE", "S", 0.3, 1000L, price - 0.05, price + 0.05,
        price, 0.5, 0.04, 0.1, -0.05, 0.02, qty, 0L, 0L, 0L, 0L, 0L, qty, tags))
    }
    val trades = spark.createDataFrame(rows, tradeSchema)
    val recs = graft.sources.Ingest.toProducerRecords(trades, "osym", "ts")
      .collect().map(row => (row.getString(0), row.getString(1), row.getLong(2)))
    val topic = new File(s"$dir/topic"); topic.mkdirs()
    val d = new Digest
    val mtime0 = System.currentTimeMillis() - 86400000L
    for (f <- 0 until files) {
      val file = new File(topic, f"part-$f%05d.json")
      val w = new PrintWriter(file, "UTF-8")
      try for (i <- f * perFile until (f + 1) * perFile) {
        val (key, value, ts) = recs(i)
        val v = if (kinds(i) == 'P') value.take(value.length / 2) else value
        val line = s"""{"key":${Json.quote(key)},"value":${Json.quote(v)},"ts":$ts}"""
        d.add(line); w.println(line)
      } finally w.close()
      // the file source offers files by modification time
      file.setLastModified(mtime0 + f * 1000L)
    }
    Topic(topic.getPath, files, total, nLate, poison, maxAccepted, d.hex)
  }

  // ------------------------------------------------------------------
  // documents + embeddings: the curation corpus

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Random-word documents truncated to a uniform character budget, with
    * exactly 5% near-duplicates (an earlier document plus a trailing "dup")
    * and 1% exact duplicates up to case and whitespace; embeddings are
    * unit Gaussian 64-vectors with uniform labels.
    */
  def corpus(spark: SparkSession, seed: Long, dir: String, docs: Int, vecs: Int): String = {
    val r = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    val d = new Digest
    val texts = new Array[String](docs)
    val docRows = (0 until docs).map { i =>
      // fixed shares, so every seed gives the queries the same amount of work
      val text =
        if (i >= 20 && i % 20 == 7) texts(r.nextInt(i)) + (if (r.nextBoolean()) " dup" else " dup dup")
        else if (i >= 20 && i % 100 == 13) texts(r.nextInt(i)).toUpperCase.replace(" ", "  ")
        else {
          val budget = 50 + r.nextInt(510)
          val sb = new StringBuilder
          while (sb.length < budget) {
            if (sb.nonEmpty) sb.append(' ')
            sb.append(Vocab(r.nextInt(Vocab.size)))
          }
          sb.take(budget).toString
        }
      texts(i) = text
      val src = s"src${r.nextInt(10)}"; val lang = Langs(r.nextInt(Langs.size))
      d.add(s"doc,$i,$src,$lang,$text")
      Row(i.toLong, text, lang, src, text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(docRows.asJava, docSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecRows = (0 until vecs).map { i =>
      val g = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(g.map(x => x * x).sum)
      val v = g.map(x => (x / norm).toFloat)
      val label = r.nextInt(10)
      d.add(s"vec,$i,$label,${v.mkString(",")}")
      Row(i.toLong, v.toSeq, label)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(vecRows.asJava, vecSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    d.hex
  }
}
