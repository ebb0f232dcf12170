package graft

import org.apache.spark.sql.functions.col

/** Pins the shared harness instruments (Instruments): the execution
  * capture, the monotone allocation counter and the codegen counter.
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
