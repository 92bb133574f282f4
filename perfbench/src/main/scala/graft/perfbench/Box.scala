package graft.perfbench

import java.lang.management.ManagementFactory

/** Box state over the timed phase: steal and iowait shares from
  * `/proc/stat`, and the CPU share of processes other than this one from
  * the OS MXBean, sampled every second. Diagnostics only: no run is
  * dropped or re-graded on them. */
final class Box {
  private val os = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])
  private val external = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  @volatile private var running = true
  private val stat0 = Box.procStat()
  private val sampler = new Thread(() => {
    while (running) {
      val sys = os.getCpuLoad
      val self = os.getProcessCpuLoad
      if (sys >= 0 && self >= 0) external.add(math.max(0.0, sys - self))
      try Thread.sleep(1000) catch { case _: InterruptedException => () }
    }
  }, "perfbench-box")
  sampler.setDaemon(true)
  sampler.start()

  /** Stops sampling; returns (steal, iowait, external CPU) shares. */
  def stop(): (Double, Double, Double) = {
    running = false
    sampler.interrupt()
    sampler.join()
    val (steal, iowait) = (stat0, Box.procStat()) match {
      case (Some(a), Some(b)) if a.length > 7 && b.length > 7 =>
        val d = a.indices.map(i => (b(i) - a(i)).toDouble)
        val total = d.sum
        if (total > 0) (d(7) / total, d(4) / total) else (0.0, 0.0)
      case _ => (-1.0, -1.0)
    }
    val ext = external.toArray.map(_.asInstanceOf[java.lang.Double].doubleValue)
    (steal, iowait, if (ext.isEmpty) -1.0 else ext.sum / ext.length)
  }
}

object Box {
  /** Cumulative jiffies of the `cpu` line: user nice system idle iowait
    * irq softirq steal ... */
  def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Exception => None }
}
