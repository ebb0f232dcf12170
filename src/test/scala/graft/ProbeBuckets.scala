package graft

import org.apache.spark.sql.functions._

/** One-off evidence probe: LSH sign-bucket occupancy for the q37
  * cosineNearDup tables at a given sf — quantifies the hot-bucket
  * skew hypothesis for the neardup_clone4x core-scaling plateau.
  * Args: sfDir
  */
object ProbeBuckets {
  def main(args: Array[String]): Unit = {
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, args(0))
    val planes = (0 until 12).map(tb =>
      graft.operators.Similarity.hyperplanes(6, 64, 42L + tb))
    val withB = emb.select(col("vec_id"), col("embedding").as("vec"))
      .select(col("vec_id"),
        posexplode(graft.operators.Similarity.bucketsCol(col("vec"), planes)))
      .toDF("vec_id", "tbl", "bucket")
    val occ = withB.groupBy("tbl", "bucket").count()
    println("[buckets] top-10 occupancy:")
    occ.orderBy(col("count").desc).limit(10).collect()
      .foreach(r => println(s"[buckets] tbl=${r.get(0)} bucket=${r.get(1)} n=${r.get(2)}"))
    val n = emb.count()
    val stats = occ.agg(max("count").as("mx"),
      expr("percentile(count, 0.5)").as("med"), count(lit(1)).as("nb"))
      .head()
    println(s"[buckets] vectors=$n buckets=${stats.get(2)} max=${stats.get(0)} median=${stats.get(1)}")
    spark.stop()
  }
}
