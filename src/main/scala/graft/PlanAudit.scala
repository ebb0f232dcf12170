package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

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
  * Usage: graft.PlanAudit <sfDir> [queryName...]
  *   (no names = the full suite; heavy — prefer a subset)
  *
  * Counts come from WALKING the executed-plan tree, descending into
  * every AdaptiveSparkPlanExec's FINAL plan and into expression
  * subqueries — NOT from a substring census of the printed plan: the
  * printed form emits the '== Initial Plan ==' subtree next to the
  * final one, so a string census sums final+initial and can report a
  * scale-killer that exists only in the DISCARDED initial plan
  * (observed: pre-fix artifact rows systematically doubled on
  * unchanged plans). BNLJ/cartesian hits are NOT asserted here (some
  * queries carry documented 1-row broadcast riders); the reader
  * compares against the round log's declared rider counts.
  */
object PlanAudit {

  /** Per-class node counts over the FINALIZED tree: every
    * AdaptiveSparkPlanExec contributes its executedPlan (the final
    * plan), never its initial one; expression subqueries (scalar /
    * IN-subquery plans) are walked too. The second element is the
    * finalized flag, derived from the SAME adaptive nodes the walk
    * visits (ADVICE r12): a `root.collect` traverses only `children`,
    * so an un-finalized adaptive plan nested inside a cached
    * relation's plan or an expression subquery — exactly the trees
    * this walk deliberately descends — could never flip a
    * collect-based flag to false, letting it read true vacuously.
    */
  private[graft] def censusWithFinal(
      root: SparkPlan): (Map[String, Int], Boolean) = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    var allFinal = true
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return // reused subtrees count once
      val q = p match {
        case a: AdaptiveSparkPlanExec =>
          if (!a.toString.linesIterator.next().contains("isFinalPlan=true"))
            allFinal = false
          a.executedPlan
        case other => other
      }
      if (!(q eq p) && !seen.add(q)) return
      counts(q.getClass.getSimpleName) += 1
      q.subqueries.foreach(walk)
      q.children.foreach(walk)
      // query stages are LeafExecNodes holding their materialized
      // plan OUTSIDE `children` — descend explicitly or an AQE plan's
      // census would see only the stage wrappers
      q match {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(qs.plan)
        // queries whose builders persist their result (the
        // materializeAndRelease discipline) execute as a cache scan —
        // the real operator tree lives in the relation's cached plan
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(im.relation.cachedPlan)
        case _ => ()
      }
    }
    walk(root)
    (counts.toMap, allFinal)
  }

  private[graft] def census(root: SparkPlan): Map[String, Int] =
    censusWithFinal(root)._1

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would otherwise produce a silently truncated audit")
    val selected = SparkEntry.queries
      .filter { case (k, _) => names.isEmpty || names(k) }
      .toSeq.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Execute THIS DataFrame's own QueryExecution (df.write would
        // wrap the logical plan in a new QueryExecution and leave
        // df.queryExecution un-finalized — observed: isFinalPlan=false
        // on every query whose builder runs no driver-side action).
        val rows = df.queryExecution.toRdd.count()
        val root = df.queryExecution.executedPlan
        val (c, finalized) = censusWithFinal(root)
        if (sys.env.contains("SPARK_GRAFT_PLAN_DEBUG"))
          System.err.println(s"[plan-debug] $name ${c.toSeq.sortBy(_._1)}")
        def n(names: String*) = names.map(c.getOrElse(_, 0)).sum
        // rows matters for reading the census: a 0-row result at tiny
        // SF lets AQE empty-relation-propagate the whole tree, so its
        // census legitimately shows no joins — audit at a SF where
        // the query returns rows to see the real join picks
        println(s"""{"q":"$name","final":$finalized,"rows":$rows,""" +
          s""""exchange":${n("ShuffleExchangeExec", "BroadcastExchangeExec")},""" +
          s""""bhj":${n("BroadcastHashJoinExec")},""" +
          s""""smj":${n("SortMergeJoinExec")},""" +
          s""""bnlj":${n("BroadcastNestedLoopJoinExec")},""" +
          s""""cartesian":${n("CartesianProductExec")},""" +
          s""""codegen_spans":${n("WholeStageCodegenExec")}}""")
      } catch { case e: Throwable =>
        println(s"""{"q":"$name","error":"${e.getClass.getSimpleName}"}""")
      } finally {
        spark.sqlContext.clearCache()
      }
    }
    spark.stop()
  }
}
