package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for the whole suite (one JVM — sbt forks a
  * single test JVM, so a single lazily-created session is reused by
  * every spec class).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // the engine's `file:` file system, as every harness session has it,
    // so checkpoints and sinks in the specs run over the same classes
    GraftConf.clusterDefaults.foreach { case (k, v) =>
      if (k.startsWith("spark.hadoop.fs.")) b.config(k, v)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Runs `body` once on generated code only (whole-stage codegen,
    * factoryMode CODEGEN_ONLY and no compile fallback, so a template
    * that fails to compile fails the test instead of being silently
    * interpreted) and once interpreted only (no whole-stage codegen,
    * factoryMode NO_CODEGEN), restoring the session's confs after each
    * run. Returns (generated, interpreted). `body` must build its
    * Dataset itself: a Dataset plans once, at its first action, and
    * would rerun that plan under the second mode.
    */
  def inBothCodegenModes[T](body: => T): (T, T) = {
    val factoryKey = "spark.sql.codegen.factoryMode"
    def in(confs: (String, String)*): T = withClue(s"$confs: ") {
      val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prior.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    (in("spark.sql.codegen.wholeStage" -> "true", factoryKey -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      in("spark.sql.codegen.wholeStage" -> "false", factoryKey -> "NO_CODEGEN"))
  }
}
