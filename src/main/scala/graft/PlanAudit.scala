package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Exec-mode plan audit: runs named SparkEntry queries to completion
  * (noop-equivalent RDD materialization — AQE finalizes every stage),
  * then reports the AQE-FINALIZED physical plan's operator census as
  * one JSON line per query. This is the scale-readiness gate the
  * round logs cite: a CartesianProduct or an un-broadcast small-side
  * join in the final plan is a 100× scale-killer regardless of local
  * wall time, and only the POST-execution plan shows what AQE
  * actually picked (explain() before execution shows
  * isFinalPlan=false placeholders).
  *
  * Usage: graft.PlanAudit [--dump <outDir> <suffix>] <sfDir> [queryName...]
  *   (no names = the full suite; heavy — prefer a subset)
  *
  * `--dump` also writes `.explain("formatted")` of each query's
  * executed plan to <outDir>/<queryName>_<suffix>.txt — the
  * optimization-round plan evidence (`plans/r<N>/<query>_{before,after}.txt`),
  * showing the plan that actually ran, AQEShuffleRead coalescing and
  * runtime join rewrites included.
  *
  * The census is the [[Instruments.Execution]] census of the query's
  * last execution (see [[Instruments.censusWithFinal]]). BNLJ/cartesian
  * hits are NOT asserted here (some queries carry documented 1-row
  * broadcast riders); the reader compares against the round log's
  * declared rider counts.
  */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val (dump, rest) = args.toSeq match {
      case "--dump" +: outDir +: suffix +: tail => (Some((outDir, suffix)), tail)
      case all => (None, all)
    }
    require(rest.nonEmpty && rest.head != "--dump",
      "usage: graft.PlanAudit [--dump <outDir> <suffix>] <sfDir> [queryName...]")
    val sfDir = rest.head
    val names = rest.drop(1).toSet
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would otherwise produce a silently truncated audit")
    dump.foreach { case (outDir, _) => Files.createDirectories(Paths.get(outDir)) }
    val selected = SparkEntry.queries
      .filter { case (k, _) => names.isEmpty || names(k) }
      .toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        // Execute THIS DataFrame's own QueryExecution (df.write would
        // wrap the logical plan in a new QueryExecution and leave
        // df.queryExecution un-finalized — observed: isFinalPlan=false
        // on every query whose builder runs no driver-side action),
        // under an execution id so the capture sees it as the last
        // execution.
        val ((df, rows), execs) = Instruments.executions(spark) {
          val df = fn(spark, sfDir)
          val qe = df.queryExecution
          (df, SQLExecution.withNewExecutionId(qe)(qe.toRdd.count()))
        }
        val last = execs.last
        val c = last.census
        if (sys.env.contains("SPARK_GRAFT_PLAN_DEBUG"))
          System.err.println(s"[plan-debug] $name ${c.toSeq.sortBy(_._1)}")
        def n(names: String*) = names.map(c.getOrElse(_, 0)).sum
        // rows matters for reading the census: a 0-row result at tiny
        // SF lets AQE empty-relation-propagate the whole tree, so its
        // census legitimately shows no joins — audit at a SF where
        // the query returns rows to see the real join picks
        println(s"""{"q":"$name","final":${last.finalized},"rows":$rows,""" +
          s""""exchange":${n("ShuffleExchangeExec", "BroadcastExchangeExec")},""" +
          s""""bhj":${n("BroadcastHashJoinExec")},""" +
          s""""smj":${n("SortMergeJoinExec")},""" +
          s""""bnlj":${n("BroadcastNestedLoopJoinExec")},""" +
          s""""cartesian":${n("CartesianProductExec")},""" +
          s""""codegen_spans":${n("WholeStageCodegenExec")}}""")
        dump.foreach { case (outDir, suffix) =>
          val txt = df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))
          val out = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.write(out, (s"-- $name ($suffix, exec-finalized, rows=$rows, " +
            s"sf=$sfDir)\n$txt").getBytes("UTF-8"))
          System.err.println(s"[planaudit] wrote $out")
        }
      } catch { case e: Throwable =>
        println(s"""{"q":"$name","error":"${e.getClass.getSimpleName}"}""")
      } finally {
        spark.sqlContext.clearCache()
      }
    }
    spark.stop()
  }
}
