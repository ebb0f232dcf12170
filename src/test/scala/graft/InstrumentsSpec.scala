package graft

import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions.col

/** Pins the shared harness instruments (Instruments): the execution
  * capture and its final-plan census, a pass's task-GC sum, the
  * monotone allocation counter and the codegen counter.
  */
class InstrumentsSpec extends SparkSpec {

  test("a builder-side count then a noop write are two executions, in order") {
    val (_, execs) = Instruments.executions(spark) {
      val df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
      val n = df.count()
      df.filter(col("count") < n).write.format("noop").mode("overwrite").save()
    }
    execs should have size 2
    execs.head.action shouldBe "count"
    execs(1).action should not be "count"
    all(execs.map(_.jobs)) should be >= 1
    all(execs.map(_.tasks)) should be >= 1
    all(execs.map(_.plan)) should include("HashAggregate")
  }

  test("an execution's census counts each node of the AQE final plan once") {
    // the initial plan sort-merge joins (no static broadcast); AQE sees
    // the small side's shuffle output and re-plans a broadcast join
    val confs = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0, 1000)
        .join(spark.range(0, 1000).filter("id % 100 = 0"), "id")
      val qe = df.queryExecution
      val (rows, execs) = Instruments.executions(spark) {
        SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
      }
      rows shouldBe 10L
      val e = execs.last
      e.finalized shouldBe true
      e.census("BroadcastHashJoinExec") shouldBe 1
      // the printed plan still carries the discarded initial plan
      e.plan should include("SortMergeJoin")
      e.census.get("SortMergeJoinExec") shouldBe None
      val finalNodes = (new AdaptiveSparkPlanHelper {})
        .collect(qe.executedPlan) {
          case p if !p.isInstanceOf[AdaptiveSparkPlanExec] => p.getClass.getSimpleName
        }
      e.census shouldBe finalNodes.groupBy(identity).map { case (k, v) => k -> v.size }
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("a pass's task-GC sum is non-negative and counts tasks outside every SQL execution") {
    Instruments.noopPass(spark)(spark.range(1000).toDF()).taskGcMs should be >= 0L
    val pass = Instruments.noopPass(spark) {
      // a plain RDD job: its tasks belong to no SQL execution
      spark.sparkContext.parallelize(1 to 2, 2).foreach(_ => System.gc())
      spark.range(1).toDF()
    }
    pass.executions should have size 1 // the noop write alone
    pass.taskGcMs should be > 0L
  }

  test("allocMb stays monotone when an allocating thread exits between samples") {
    val allocated = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var sink: Array[Array[Byte]] = null
    val t = new Thread(() => {
      sink = Array.fill(32)(new Array[Byte](1 << 20))
      allocated.countDown()
      release.await()
    })
    val a0 = Instruments.allocMb()
    t.start()
    allocated.await()
    val a1 = Instruments.allocMb() // the thread is live: its bytes count
    release.countDown()
    t.join()
    val a2 = Instruments.allocMb() // the thread is gone: still counted
    sink = null
    (a1 - a0) should be >= 32.0
    a2 should be >= a1
  }

  test("the codegen counter never throws and never runs backwards") {
    noException should be thrownBy Instruments.codegenCompiles()
    val before = Instruments.codegenCompiles()
    spark.range(100).selectExpr("id * 3 + 1 AS x").filter("x % 2 = 0").count()
    val after = Instruments.codegenCompiles()
    if (before >= 0) after should be >= before else after shouldBe -1L
  }
}
