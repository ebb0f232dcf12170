package graft

/** Ad-hoc single-query timer for same-session A/B comparisons
  * (min-of-N over one JVM, the bench-variance discipline): args =
  * sfDir queryNames[,comma-list] [passes] [sqlConfKey=value ...].
  * Each pass is an [[Instruments.noopPass]]. Per query it reports wall,
  * gc_ms (JVM GC-pause MXBean delta — real pause time, not the
  * task-summed jvmGCTime the in-suite bench multi-counts), allocated MB
  * and host steal jiffies per pass (allocation is the host-noise-free
  * counterpart of gc_ms for A/B work; steal flags the passes this
  * host's noise waves contaminated), then one line per SQL execution of
  * the min pass and its `driver_gap_s`: the pass wall spent outside
  * every execution.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',').toSeq // comma-list shares one JVM/session
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = GraftConf.localSession(GraftConf.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(3).foreach { kv =>
      val Array(k, v) = kv.split("=", 2) // values may contain '='
      spark.conf.set(k, v)
      println(s"[timeq] set $k=$v")
    }
    for (name <- names) {
      val runs = (1 to passes).map { _ =>
        Instruments.noopPass(spark)(SparkEntry.queries(name)(spark, dir))
      }
      val best = runs.minBy(_.wallS)
      println(f"[timeq] $name min=${best.wallS}%.3f gc_at_min=${best.gcPauseMs}ms " +
        f"alloc_at_min=${best.allocMb}%.0fMB steal_at_min=${best.steal} " +
        f"compiles_p1=${runs.head.compiles} " +
        f"all=${runs.map(r => f"${r.wallS}%.2f/${r.gcPauseMs}/${r.allocMb}%.0f/${r.steal}").mkString(",")}")
      best.executions.zipWithIndex.foreach { case (e, i) =>
        println(f"[timeq]   exec ${i + 1}/${best.executions.size} ${e.action} " +
          f"wall=${e.wallS}%.3f jobs=${e.jobs} tasks=${e.tasks} task_s=${e.taskS}%.3f")
      }
      println(f"[timeq]   driver_gap_s=${best.driverGapS}%.3f")
    }
    spark.stop()
  }
}
