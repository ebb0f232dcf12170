package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for named SparkEntry queries to files —
  * the optimization-round plan evidence (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Each query is EXECUTED first (same discipline as [[PlanAudit]]: AQE
  * only finalizes stages on execution, so a pre-execution explain would
  * show `isFinalPlan=false` placeholders and guessed join strategies);
  * the dump therefore shows the plan that actually ran, including
  * AQEShuffleRead coalescing and runtime join rewrites.
  *
  * Usage: graft.PlanDump <sfDir> <outDir> <suffix> <queryName>...
  *   writes <outDir>/<queryName>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: graft.PlanDump <sfDir> <outDir> <suffix> <queryName>...")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.queryExecution.toRdd.count() // finalize AQE stages
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      Files.write(out, (s"-- $name ($suffix, exec-finalized, rows=$rows, " +
        s"sf=$sfDir)\n$txt").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      System.err.println(s"[plandump] wrote $out")
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
