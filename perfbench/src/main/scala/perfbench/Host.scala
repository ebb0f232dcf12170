package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Host and process state: the stamp that lets a record alone show
  * whether the run shared its cores (steal, load, foreign JVMs), plus
  * the process's own peak RSS and collector time.
  */
object Host {
  private def firstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().nextOption() finally src.close()
    } catch { case _: Throwable => None }

  /** Cumulative CPU steal jiffies over all cores (/proc/stat field 8). */
  def stealJiffies(): Long =
    firstLine("/proc/stat").map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  def loadavg(): Seq[Double] =
    firstLine("/proc/loadavg").map(_.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Nil)

  /** JVMs on the host other than this process, its ancestors and its
    * descendants: a quiet host reads 0.
    */
  def foreignJvms(): Long = {
    val own = scala.collection.mutable.Set.empty[Long]
    var cur: java.util.Optional[ProcessHandle] = java.util.Optional.of(ProcessHandle.current())
    while (cur.isPresent) { own += cur.get.pid(); cur = cur.get.parent() }
    ProcessHandle.current().descendants().forEach(p => own += p.pid())
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      !own.contains(p.pid()) &&
        p.info().command().map[java.lang.Boolean](_.endsWith("java")).orElse(false)
    }.toLong
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Reset this process's VmHWM to its current resident set (Linux 4.0+;
    * a no-op where the kernel does not allow it).
    */
  def resetPeakRss(): Unit =
    try {
      val w = new java.io.FileWriter("/proc/self/clear_refs")
      try w.write("5") finally w.close()
    } catch { case _: Throwable => () }

  /** Total collector time of this JVM, ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Milliseconds from JVM process start to now. */
  def sinceProcessStartMs(): Double =
    System.currentTimeMillis().toDouble - ManagementFactory.getRuntimeMXBean.getStartTime

  def snapshot(): Map[String, Any] = Map(
    "steal_jiffies" -> stealJiffies(),
    "loadavg" -> loadavg(),
    "foreign_jvms" -> foreignJvms(),
    "epoch_ms" -> System.currentTimeMillis())
}
