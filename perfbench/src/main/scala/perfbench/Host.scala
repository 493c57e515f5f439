package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Host record printed with every run, so a noisy run flags itself:
  * `nproc`, load average, CPU steal over the run, and a quietness probe
  * (a fixed CPU loop on `nproc` threads; its wall time stretches with
  * contention from outside the process) at the start and the end. */
object Host {
  val nproc: Int = Runtime.getRuntime.availableProcessors

  private val sink = new AtomicLong
  private val ProbeIters = 20000000L

  /** Wall seconds of `ProbeIters` xorshift steps on each of `nproc` threads. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to nproc).map { i =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L * i; var n = 0L
        while (n < ProbeIters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
        sink.addAndGet(x)
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def readFirstLine(f: String): String = {
    val s = scala.io.Source.fromFile(f)
    try s.getLines().next() finally s.close()
  }

  def loadAvg(): Double =
    try readFirstLine("/proc/loadavg").split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal, busy) jiffies of the aggregate cpu line of /proc/stat;
    * busy is user + nice + system + irq + softirq + steal, the time the
    * CPUs wanted to run something. */
  def busyJiffies(): (Long, Long) =
    try {
      val f = readFirstLine("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (f.length > 7) f(7) else 0L
      (steal, f(0) + f(1) + f(2) + f(5) + f(6) + steal)
    } catch { case _: Exception => (0L, 0L) }

  /** Measures one operation's wall time with the CPU time stolen from the
    * host's virtual CPUs by other tenants taken out: the wall time scaled
    * by the share of the busy CPU time that was not stolen. A stolen
    * slice stretches whatever the operation was waiting on, whether it
    * ran on one core or on all of them, so this share applies to both. */
  final class StealMeter {
    private val (s0, b0) = busyJiffies()
    private val t0 = System.nanoTime()
    /** (wall ns, steal-free wall ns, stolen share) since construction. */
    def stop(): (Long, Long, Double) = {
      val wall = System.nanoTime() - t0
      val (s1, b1) = busyJiffies()
      val share = if (b1 > b0) (s1 - s0).toDouble / (b1 - b0) else 0.0
      (wall, (wall * (1 - share)).toLong, share)
    }
  }

  /** CPU nanoseconds the JVM's JIT compiler threads have used so far,
    * from /proc/self/task (clock-tick resolution). The runner keeps the
    * compiler threads alive for the whole run
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is
    * lost with an exited thread; 0 outside Linux. */
  def jitCpuNs(): Long = {
    var total = 0L
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.foreach { t =>
      try {
        val comm = readFirstLine(s"$t/comm")
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) {
          val f = readFirstLine(s"$t/stat")
          val fields = f.substring(f.lastIndexOf(')') + 2).split(" ")
          total += (fields(11).toLong + fields(12).toLong) * (1000000000L / 100)
        }
      } catch { case _: Exception => () }
    }
    total
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally s.close()
    } catch { case _: Exception => -1.0 }

  /** A run is flagged noisy when more than 5% of its busy CPU time was
    * stolen or the probe stretched by half between start and end. */
  final class Record {
    probe() // warms the loop's JIT so the start probe measures the host
    val startProbe: Double = probe()
    val startLoad: Double = loadAvg()
    private val (st0, tot0) = busyJiffies()
    def finish(): Map[String, Any] = {
      val endProbe = probe()
      val (st1, tot1) = busyJiffies()
      val steal = if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0
      Map("nproc" -> nproc, "loadavg_start" -> startLoad, "loadavg_end" -> loadAvg(),
        "steal_frac" -> steal, "probe_start_s" -> startProbe, "probe_end_s" -> endProbe,
        "noisy" -> (steal > 0.05 || math.max(startProbe, endProbe) > 1.5 * math.min(startProbe, endProbe)))
    }
  }
}
