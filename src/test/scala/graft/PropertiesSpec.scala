package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{GapFill, Telemetry}
import graft.sinks.ConfluentFraming

/** Cross-cutting property tests (seeded generation): invariants that
  * future refactors must not break.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  test("SparkEntry contract: every oracle names a query; every query has an oracle") {
    // the driver's correctness gate keys on these maps — an oracle
    // entry whose key doesn't match a query is silently dead, and a
    // query without an oracle silently downgrades to rows-only. As of
    // r10 there are NO rows-only queries (q40 gates against the exact
    // Jaccard twin — the dial is lossless on this corpus, and the gate
    // pins it); a new query landing without a twin fails here first.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    o.diff(q) shouldBe empty
    q.diff(o) shouldBe empty
  }

  test("query registry refuses a duplicated name") {
    import graft.queries.Query
    val build = (s: org.apache.spark.sql.SparkSession, _: String) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      Query.registry(Seq(Query("qa", build, "SELECT 1"),
        Query("qb", build, "SELECT 2"), Query("qa", build, "SELECT 3")))
    }
    e.getMessage should include("qa")
    e.getMessage should not include "qb"
    SparkEntry.registry.map(_.name).distinct should have size
      SparkEntry.registry.size.toLong
  }

  test("BPE mergeFold property: distributed fold == reference fold on random sequences") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(11)
    val syms = Vector("a", "b", "ab", "aa", "</w>")
    val cases = Seq.fill(150) {
      val n = 1 + rnd.nextInt(8)
      Seq.fill(n)(syms(rnd.nextInt(syms.length)))
    }
    // pairs chosen to hit overlap runs ((a,a) over a* runs), multi-char
    // symbols, and the end marker
    for ((a, b) <- Seq(("a", "a"), ("a", "b"), ("ab", "a"), ("b", "</w>"))) {
      val got = cases.zipWithIndex.toDF("s", "i")
        .select($"i", TextAnalysis.mergeFold($"s", a, b).as("m"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      cases.zipWithIndex.foreach { case (s, i) =>
        assert(got(i) == TextAnalysis.mergeFoldReference(s, a, b),
          s"pair ($a,$b) seq $s: got ${got(i)}")
      }
    }
  }

  test("timeBucket property: bucket_ts <= ts < bucket_ts + bucket, epoch-aligned") {
    val rnd = new scala.util.Random(3)
    val bucketNs = 3600L * 1000000000L
    val tss = Seq.fill(200)(
      new Timestamp(1700000000000L + (rnd.nextLong() % 100000000000L).abs))
    val rows = tss.toDF("ts")
      .select(unix_micros($"ts").as("us"),
        unix_micros(Telemetry.timeBucket($"ts", bucketNs)).as("bus"))
      .collect()
    val bucketUs = bucketNs / 1000
    rows.foreach { r =>
      val (us, bus) = (r.getLong(0), r.getLong(1))
      withClue(s"ts=$us bucket=$bus") {
        bus should be <= us
        (us - bus) should be < bucketUs
        bus % bucketUs shouldBe 0L
      }
    }
  }

  test("fillLinear property: interpolated values stay within the neighbor envelope") {
    val rnd = new scala.util.Random(5)
    val days = (0 until 40).map { i =>
      val v = if (rnd.nextBoolean()) Some(rnd.nextDouble() * 100) else None
      ("k", new Timestamp(1704067200000L + i * 86400000L), v)
    }
    val df = days.toDF("k", "day", "v")
    val filled = GapFill.fillLinear(df, "k", "day", "v", "f")
      .orderBy($"day").collect()
      .map(r => (if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val known = days.flatMap(_._3)
    if (known.nonEmpty) {
      val (lo, hi) = (known.min, known.max)
      filled.foreach { case (_, f) =>
        f.foreach { x => x should (be >= lo - 1e-9 and be <= hi + 1e-9) }
      }
      // present values pass through untouched
      filled.collect { case (Some(v), Some(f)) => (v, f) }
        .foreach { case (v, f) => f shouldBe v }
    }
  }

  test("normText is idempotent over messy generated inputs") {
    val rnd = new scala.util.Random(9)
    val junk = Seq.fill(100)(
      Seq.fill(rnd.nextInt(8))(
        Seq(" ", "\t", "\n", "Word", "UPPER", "x1", "!?").apply(rnd.nextInt(7)))
        .mkString(rnd.nextInt(3) match { case 0 => "" case 1 => " " case _ => "  " }))
    val once = junk.toDF("t").select(normText($"t")).collect().map(_.getString(0))
    val twice = once.toSeq.toDF("t").select(normText($"t")).collect().map(_.getString(0))
    once.toSeq shouldBe twice.toSeq
    all(once.toSeq) should not include "  "
  }

  test("Confluent framing round-trips arbitrary payloads including empty") {
    val rnd = new scala.util.Random(13)
    val payloads = "" +: Seq.fill(50)(
      new String(Array.fill(rnd.nextInt(64))((rnd.nextInt(94) + 32).toChar)))
    val df = payloads.toDF("p")
      .select($"p", ConfluentFraming.frame($"p".cast("binary"), 7).as("f"))
      .select($"p", org.apache.spark.sql.functions.length($"f").as("flen"),
        ConfluentFraming.unframe($"f").getField("payload").cast("string").as("back"),
        ConfluentFraming.unframe($"f").getField("schema_id").as("sid"))
      .collect()
    df.foreach { r =>
      r.getAs[String]("back") shouldBe r.getAs[String]("p")
      r.getAs[Int]("flen") shouldBe r.getAs[String]("p").getBytes.length + 5
      r.getAs[Int]("sid") shouldBe 7
    }
  }
}
