package graft

/** Ad-hoc single-query timer for same-session A/B comparisons
  * (min-of-N over one JVM, the bench-variance discipline): args =
  * sfDir queryNames[,comma-list] [passes] [sqlConfKey=value ...].
  * Reports wall, gc_ms (JVM GC-pause MXBean delta — real pause time,
  * not the task-summed jvmGCTime the in-suite bench multi-counts),
  * allocated MB and host steal jiffies per pass (allocation is the
  * host-noise-free counterpart of gc_ms for A/B work; steal flags the
  * passes this host's noise waves contaminated).
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
    import scala.jdk.CollectionConverters._
    def gcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def stealJiffies(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val f = src.getLines().next().trim.split("\\s+")
          if (f.length > 8) f(8).toLong else -1L
        } finally src.close()
      } catch { case _: Throwable => -1L }
    // Cumulative heap bytes allocated across ALL threads the JVM has
    // run, kept monotone across samples (ADVICE r14: a raw
    // sum-over-live-threads silently DROPS a thread's bytes when it
    // exits between samples — broadcast/cleaner/AQE threads are not
    // all pooled — letting per-pass deltas undercount or go negative).
    // Each sample folds the live threads' counters over a per-thread
    // baseline and retires vanished threads at their last-seen value;
    // allocation between a thread's last sample and its death is still
    // invisible (JMX exposes nothing after exit), so deltas remain a
    // LOWER bound — but now a monotone one.
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val lastSeen = scala.collection.mutable.Map.empty[Long, Long]
    var retiredBytes = 0L
    def allocMb(): Double = {
      val ids = tmx.getAllThreadIds
      val bytes = tmx.getThreadAllocatedBytes(ids)
      val live = scala.collection.mutable.Map.empty[Long, Long]
      var i = 0
      while (i < ids.length) {
        if (bytes(i) > 0) live += ids(i) -> bytes(i)
        i += 1
      }
      // threads gone since the previous sample: keep their last count
      lastSeen.foreach { case (id, v) =>
        if (!live.contains(id)) retiredBytes += v
      }
      lastSeen.clear()
      lastSeen ++= live
      (retiredBytes + live.valuesIterator.sum) / 1e6
    }
    // Janino compilation counter (the Bench instrument, same
    // reflection; -1 everywhere if the internals moved)
    val codegenCount: () => Long =
      try {
        val cls = Class.forName(
          "org.apache.spark.metrics.source.CodegenMetrics$")
        val mod = cls.getField("MODULE$").get(null)
        val hist = cls.getMethod("METRIC_COMPILATION_TIME").invoke(mod)
          .asInstanceOf[com.codahale.metrics.Histogram]
        () => hist.getCount
      } catch { case _: Throwable => () => -1L }
    for (name <- names) {
      val runs = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        System.gc() // drain prior garbage so gc_ms is THIS pass's own
        val g0 = gcMs(); val a0 = allocMb(); val s0 = stealJiffies()
        val c0 = codegenCount()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, gcMs() - g0, allocMb() - a0,
          stealJiffies() - s0, codegenCount() - c0)
      }
      val best = runs.minBy(_._1)
      println(f"[timeq] $name min=${best._1}%.3f gc_at_min=${best._2}ms " +
        f"alloc_at_min=${best._3}%.0fMB steal_at_min=${best._4} " +
        f"compiles_p1=${runs.head._5} " +
        f"all=${runs.map(r => f"${r._1}%.2f/${r._2}/${r._3}%.0f/${r._4}").mkString(",")}")
    }
    spark.stop()
  }
}
