package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, TextAnalysis}

/** Per-stage wall probe for q50_curation_v2 (optimization-round
  * evidence tool, mirrors the r15 builder's cumulative-stage probe):
  * times each cumulative prefix of the pipeline through the noop sink,
  * min-of-N with cache clear between passes.
  * Args: sfDir [passes]
  */
object ProbeQ50 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")

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

    val s = spark

    def canonDf() = {
      val docs = Tables.documents(s, dir)
      Curation.canonicalizeBy(
          docs.withColumn("__nt",
            sha2(graft.functions.normText(col("text")), 256)),
          Seq("__nt"), col("doc_id"))
        .drop("__nt")
    }

    // cumulative prefixes of the CURRENT q50 shape
    stage("1_canon")(() => canonDf())

    def prefix(upTo: Int): DataFrame = {
      val docs = Tables.documents(s, dir)
      val canon = canonDf().persist()
      val canonSh = Dedup.hashedShingles(canon, "doc_id", "text", n = 3,
        materialize = false)
      if (upTo == 2) {
        val pairs = Dedup.containmentJoinPreShingled(canonSh, canon,
          "doc_id", "text")
        return pairs.select(col("id_a").as("doc_id")).distinct()
      }
      val contained = Dedup.materializeAndRelease(
        Dedup.containmentJoinPreShingled(canonSh, canon, "doc_id", "text")
          .select(col("id_a").as("doc_id")).distinct())
      val noExcerpts = canon.join(contained, Seq("doc_id"), "left_anti")
      if (upTo == 3) return noExcerpts
      val noExSh = canonSh.join(
        contained.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      val contam = docs.filter(col("doc_id") % 97 === 0)
      val (clean, _) = Curation.decontaminatePreShingled(noExSh, noExcerpts,
        "doc_id", contam, "doc_id", "text", n = 3, t = 0.5)
      if (upTo == 4) return clean
      val gated = TextAnalysis.withRepetitionStats(clean, "text", n = 3)
        .filter(col("top_token_ratio") <= 0.12)
        .drop("ntok", "dup_ngram_rate", "top_token_ratio")
      if (upTo == 5) return gated
      val mixed = Curation.sampleStratified(gated, "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0), defaultRate = 0.5)
      if (upTo == 6) return mixed
      Curation.capPerGroup(mixed, Seq("source"),
          Seq(col("n_chars").desc, col("doc_id").asc), quota = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
    }

    stage("2_containment")(() => prefix(2))
    stage("3_antijoin")(() => prefix(3))
    stage("4_decontaminate")(() => prefix(4))
    stage("5_repetition_gate")(() => prefix(5))
    stage("6_stratified")(() => prefix(6))
    stage("7_full")(() => prefix(7))
    spark.stop()
  }
}
