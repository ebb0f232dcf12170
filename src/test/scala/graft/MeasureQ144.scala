package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Ad-hoc measurement for the q144 gate floors: prints the RAW
  * neighbor-set recall and vote mean-absolute-error of the approximate
  * label audit against the exact one, per sfDir arg — the numbers the
  * q144 comment cites and the floors are set one variance band below.
  */
object MeasureQ144 {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { dir =>
      val emb = Tables.embeddings(spark, dir)
      val exactN = Similarity.knnNeighborsExact(emb, "vec_id", "embedding", 5)
      val approxN = Similarity.knnNeighborsApprox(emb, "vec_id", "embedding",
        5, tables = 16, multiProbe = true)
      val recall = exactN.select(col("vec_id"), col("nbr_id"))
        .join(approxN.select(col("vec_id"), col("nbr_id"), lit(1).as("hit")),
          Seq("vec_id", "nbr_id"), "left")
        .agg((count(col("hit")).cast("double") / count(lit(1))).as("recall"))
        .head().getDouble(0)
      // plain (no multiprobe, 8 tables) recall — the "losing the
      // machinery" reference point the floor must sit above
      val plainN = Similarity.knnNeighborsApprox(emb, "vec_id", "embedding", 5)
      val plainRecall = exactN.select(col("vec_id"), col("nbr_id"))
        .join(plainN.select(col("vec_id"), col("nbr_id"), lit(1).as("hit")),
          Seq("vec_id", "nbr_id"), "left")
        .agg((count(col("hit")).cast("double") / count(lit(1))).as("r"))
        .head().getDouble(0)
      val exactA = Similarity.knnLabelAgreement(emb, "vec_id", "embedding",
        "label", 5)
      val approxA = Similarity.knnLabelAgreementApprox(emb, "vec_id",
        "embedding", "label", 5, tables = 16, multiProbe = true)
      val mae = exactA.select(col("vec_id"), col("agree_rate").as("er"))
        .join(approxA.select(col("vec_id"), col("agree_rate").as("ar")),
          "vec_id")
        .agg(avg(abs(col("ar") - col("er")))).head().getDouble(0)
      println(f"[q144] $dir recall=$recall%.4f plain=$plainRecall%.4f mae=$mae%.4f")
    }
    spark.stop()
  }
}
