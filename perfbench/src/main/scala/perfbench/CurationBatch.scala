package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The curation batch: a fixed slice of LLM-data curation queries and two
  * Telemetry reports, run through `SparkEntry.queries`. The first pass in
  * the fresh session is the cold one a scheduled job pays; later passes
  * are warm.
  */
final class CurationBatch(ctx: Ctx) extends Workload {
  import CurationBatch._
  private val spark = ctx.spark
  private var builders: Map[String, (SparkSession, String) => DataFrame] = _
  private val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Each query's DataFrame from the last pass, written out by the check. */
  private val last = scala.collection.mutable.Map.empty[String, DataFrame]

  def generate(): Map[String, Any] = {
    val d = new Gen.Digest
    d.add(Gen.corpus(spark, ctx.args.seed, ctx.dataDir, Docs, Vecs))
    d.add(Gen.writeEvents(spark, Gen.events(ctx.args.seed, Events, Gen.EventUsers), ctx.dataDir))
    Map("input_digest" -> d.hex, "documents" -> Docs, "embeddings" -> Vecs, "events" -> Events)
  }

  def prepare(): Unit = {
    val all = graft.SparkEntry.queries
    builders = Queries.map(q => q -> all(q)).toMap
  }

  /** Build and run one query to the noop sink; returns its timings and
    * the built DataFrame.
    */
  private def runQuery(name: String, pass: Int, parent: Long): (Map[String, Any], Option[DataFrame]) = {
    val trace = ctx.tracer.newId()
    try {
      val ((df, b, e), q) = ctx.tracer.timed(parent, trace, "query", name) { id =>
        val (df, b) = ctx.tracer.timed(id, trace, "build", name) { bid =>
          if (ctx.tracer.enabled) SpanContext.set(spark, bid, trace)
          builders(name)(spark, ctx.dataDir)
        }
        // report queries are collected, as a dashboard client does; the rest
        // are materialised to the noop sink
        val (rows, e) = ctx.tracer.timed(id, trace, if (Reports(name)) "collect" else "execute", name) { eid =>
          if (ctx.tracer.enabled) SpanContext.set(spark, eid, trace)
          if (Reports(name)) df.collect().length
          else { df.write.format("noop").mode("overwrite").save(); 0 }
        }
        if (ctx.tracer.enabled && Reports(name)) {
          ctx.tracer.count(if (name == GapFillReport) "GapFill.build_ms" else "Telemetry.build_ms", b.durMs)
          ctx.tracer.count("result.rows", rows.toDouble)
          ctx.tracer.count("result.collect_ms", e.durMs)
        }
        (df, b, e)
      }
      (Map("query" -> name, "pass" -> pass, "wall_s" -> q.durMs / 1000.0,
        "build_s" -> b.durMs / 1000.0, "final_plan_s" -> e.durMs / 1000.0, "failed" -> false),
        Some(df))
    } catch {
      case ex: Throwable =>
        System.err.println(s"[curation] $name failed: $ex")
        (Map("query" -> name, "pass" -> pass, "failed" -> true), None)
    }
  }

  def measure(root: Long): Map[String, Any] = {
    val t0 = System.nanoTime()
    var pass = 0
    val passWall = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (pass <= WarmPasses || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
      val p = pass
      ctx.tracer.timed(root, 0L, "pass", s"pass $p") { id =>
        passWall += Queries.map { q =>
          val (r, df) = runQuery(q, p, id)
          runs += r
          df.foreach(last(q) = _)
          r.getOrElse("wall_s", 0.0).asInstanceOf[Double]
        }.sum
      }
      pass += 1
    }
    val ok = runs.filterNot(_("failed") == true)
    val warm = ok.filter(_("pass") != 0)
    Map("attempted" -> runs.size, "failed" -> (runs.size - ok.size),
      "ops_ms" -> warm.map(_("wall_s").asInstanceOf[Double] * 1000.0),
      "cold_wall_s" -> passWall.head, "warm_wall_s" -> passWall.drop(1).toSeq,
      "passes" -> pass, "queries" -> runs.toSeq)
  }

  private def outDir(q: String) = s"${ctx.args.work}/out/$q"

  /** Write each query's last-pass output next to its DuckDB twin SQL, for
    * the oracle comparison.
    */
  def check(): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    last.foreach { case (q, df) => df.write.mode("overwrite").parquet(outDir(q)) }
    val outs = Queries.map(q => Map("query" -> q, "dir" -> outDir(q), "oracle_sql" -> oracle(q)))
    Map("ok" -> Queries.forall(last.contains), "tables" -> ctx.dataDir, "outputs" -> outs)
  }
}

object CurationBatch {
  /** One query per family the workload stands for: Dedup's prefix-filtered
    * Jaccard join, Similarity's brute-force cosine top-k, and the Curation
    * chain (canonicalise, decontaminate, cap per source); then two
    * Telemetry planner reports (a bucketed aggregation menu, and bucketing
    * with GapFill interpolation) collected by the caller. Every query here
    * is exact: q37's LSH near-dup is left out because its recall gate fails
    * on some seeded corpora (seed 403), which would fail the run.
    */
  val Queries: Seq[String] = Seq("q11_jaccard_pairs", "q13_topk_sim",
    "q44_curation_pipeline", "q03_bucketed_agg_menu", "q45_planner_interpolation")
  /** Warm passes after the cold one; the warm figures are their medians. */
  val WarmPasses = 2
  val GapFillReport = "q45_planner_interpolation"
  val Reports: Set[String] = Set("q03_bucketed_agg_menu", GapFillReport)
  val Events = 25000
  val Docs = 500
  val Vecs = 200
}
