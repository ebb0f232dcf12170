package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Scale, TextAnalysis}

/** Per-stage wall probe for q71_training_capstone (r16 evidence tool,
  * the ProbeQ50 pattern): times each cumulative prefix of the pipeline
  * through the noop sink, min-of-N with cache clear between passes.
  * Args: sfDir [passes]
  */
object ProbeQ71 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark

    def stage(name: String)(f: () => DataFrame): Unit = {
      val runs = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        f().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name min=${runs.min}%.3f all=${runs.map(r => f"$r%.2f").mkString(",")}")
    }

    def prefix(upTo: Int): DataFrame = {
      val docs = Tables.documents(s, dir)
      val h = sha2(graft.functions.normText(col("text")), 256)
      val hist = docs.filter(col("doc_id") % 2 === 0).select(h.as("h"))
      val batch = Scale.bloomPrunedAntiJoin(
          docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("source"), col("text"), h.as("h")),
          "h", hist, "h", expectedKeys = 10000L)
        .drop("h").persist()
      if (upTo == 1) return batch
      val chunked = Curation.chunkDocs(batch, "doc_id", "text",
          chunkTokens = 64, strideTokens = 48)
        .join(batch.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("ckey",
          when(assert_true(col("chunk_idx") < 1000,
              lit("q71 ckey packing assumes < 1000 chunks per doc")).isNull,
            col("doc_id") * 1000 + col("chunk_idx")))
      if (upTo == 2) return chunked.select("ckey", "source", "n_chunk_tok")
      val chunks = chunked
        .select(col("ckey"), col("source"), col("n_chunk_tok")).persist()
      val lm = TextAnalysis.unigramLogProb(chunked, "ckey", "chunk_text")
      if (upTo == 3) return lm
      val thr = lm.agg(
        org.apache.spark.sql.GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.GraftColumnBridge.expression(
              sum(col("nll_mean_nano"))),
            org.apache.spark.sql.GraftColumnBridge.expression(
              count(lit(1))))).as("__t"))
      val keptKeys = lm.crossJoin(broadcast(thr))
        .filter(col("nll_mean_nano") < col("__t"))
        .select(col("id").as("ckey"))
      val gated = chunks.join(keptKeys, "ckey")
      if (upTo == 4) return gated
      val mixed = Curation.sampleTemperature(gated, "ckey", "source",
        alpha = 0.5, budgetFraction = 0.5)
      if (upTo == 5) return mixed
      Curation.packShards(mixed, "source", "ckey", "n_chunk_tok",
          budget = 2000L)
        .select(col("source"), col("ckey"), col("n_chunk_tok"),
          col("shard"))
        .orderBy(col("source"), col("ckey"))
    }

    stage("1_bloom_batch")(() => prefix(1))
    stage("2_chunk_join")(() => prefix(2))
    stage("3_lm")(() => prefix(3))
    stage("4_gate")(() => prefix(4))
    stage("5_tempmix")(() => prefix(5))
    stage("6_full")(() => prefix(6))
    spark.stop()
  }
}
