package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names run a
    // subset (local iteration); the driver passes exactly two args.
    val sfDir = args(0); val outDir = args(1)
    val subset = args.drop(2).toSet
    // the shared harness session (GraftConf) so the correctness gate
    // runs the same optimizer configuration as Bench and the specs
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Preflight: one line per table with the PHYSICAL schema Spark sees,
    // so a driver-side testdata regeneration (round 8: events.ts switched
    // ns→µs and 30 queries died in analysis) is diagnosable from the log
    // header instead of from 30 opaque per-query failures.
    Tables.names.foreach { t =>
      val s = try Tables.load(spark, sfDir, t).schema.simpleString
              catch { case e: Throwable => s"UNREADABLE: ${e.getMessage}" }
      System.err.println(s"[verify] schema $t: $s")
    }
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Bench's per-query cache discipline (it was missing here): each
      // query's materializeAndRelease leaves its RESULT persisted, so
      // a full 217-query dump accumulated every result in the cache
      // and the tail of the run executed under the whole suite's heap
      // pressure. Session seams survive this — they are pinned
      // localCheckpoint blocks, not CacheManager entries.
      spark.sqlContext.clearCache()
      System.gc()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
