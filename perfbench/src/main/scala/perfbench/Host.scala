package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host and JVM sensors, read the same way `graft.Bench` reads them:
  * `/proc/stat` jiffies (USER_HZ = 100) for steal and for the CPU other
  * processes burn, this JVM's process CPU time, garbage-collection time,
  * and the live heap after a forced full collection.
  */
object Host {

  /** (busy jiffies including steal, steal jiffies); zeros when
    * `/proc/stat` is unreadable.
    */
  private def jiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (f.length > 7) f(7) else 0L
      (f(0) + f(1) + f(2) + f(5) + f(6) + steal, steal)
    } catch { case _: Exception => (0L, 0L) }

  private def ownCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** A window over which steal seconds and co-tenant cores are taken. */
  final class Window {
    private val t0 = System.nanoTime()
    private val (busy0, steal0) = jiffies()
    private val own0 = ownCpuNs()

    /** (steal seconds, cores used by other processes) since the start. */
    def close(): (Double, Double) = {
      val (busy1, steal1) = jiffies()
      val own1 = ownCpuNs()
      val elapsedNs = (System.nanoTime() - t0).toDouble
      val other = math.max(0.0, ((busy1 - busy0) * 10e6 - (own1 - own0)) / elapsedNs)
      ((steal1 - steal0) / 100.0, other)
    }
  }

  /** Heap occupancy right after a full collection, in MB. Forcing the
    * collection makes the reading the live set: occupancy after the
    * collector's own young collections depends on when they happen to
    * run, which varies from run to run. Spark's cleaner thread frees
    * blocks only after a collection shows them unreachable, so the
    * collection repeats until the reading settles (within 1 MB).
    */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var settled = false
    var tries = 0
    while (!settled && tries < 5) {
      Thread.sleep(200)
      val now = collect()
      settled = math.abs(last - now) < 1.0
      last = now
      tries += 1
    }
    last
  }
}
