package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Per-stage wall + recall probe for q37_cosine_neardup (r16 evidence
  * tool). Times the exact-sampled gate and the LSH approx stage
  * separately through the noop sink, then prints ACTUAL recall and
  * candidate volume for a grid of (tables, planesPerTable, multiProbe)
  * dials — the evidence a dial change must carry (VERDICT r16 item 2).
  * Args: sfDir [passes]
  */
object ProbeQ37 {
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

    val t = 0.4
    val emb = Tables.embeddings(spark, dir)
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))

    def exactSampled(): DataFrame = {
      val stride = math.max(1L, (e.count() + 999L) / 1000L)
      val q = e.filter(col("id") % stride === 0)
      q.as("a").join(e.as("b"), col("a.id") =!= col("b.id"))
        .filter(graft.functions.cosineSim(col("a.vec"), col("b.vec")) >= t)
        .select(least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b"))
        .distinct()
    }

    stage("exact_sampled_gate")(() => exactSampled())
    stage("approx_t16_mp")(() =>
      Similarity.cosineNearDup(emb, "vec_id", "embedding", t,
        tables = 16, multiProbe = true))

    // recall/volume grid: exact baseline once, then each dial
    val exact = exactSampled().persist()
    val nExact = exact.count()
    println(s"[probe] exact sampled pairs: $nExact  corpus: ${e.count()}")
    for ((tb, pl, mp) <- Seq((16, 6, true), (12, 6, true), (8, 6, true),
                             (6, 6, true), (4, 6, true), (16, 6, false),
                             (8, 7, true), (12, 7, true))) {
      val approx = Similarity.cosineNearDup(emb, "vec_id", "embedding", t,
          tables = tb, planesPerTable = pl, multiProbe = mp)
        .select(col("id_a"), col("id_b")).persist()
      val nApprox = approx.count()
      val hits = exact.join(approx, Seq("id_a", "id_b"), "left_semi").count()
      val recall = if (nExact == 0) 1.0 else hits.toDouble / nExact
      // wall for this dial
      val runs = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        Similarity.cosineNearDup(emb, "vec_id", "embedding", t,
            tables = tb, planesPerTable = pl, multiProbe = mp)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] dial tables=$tb planes=$pl mp=$mp recall=$recall%.4f " +
        f"($hits/$nExact) pairs=$nApprox wall_min=${runs.min}%.3f " +
        f"all=${runs.map(r => f"$r%.2f").mkString(",")}")
      approx.unpersist()
    }
    exact.unpersist()
    spark.stop()
  }
}
