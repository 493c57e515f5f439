package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The pipeline benchmark's entry point.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Runs one workload as a closed loop with one client on Spark
  * `local[nproc]`, checks every operation's output against a model that
  * does not come from the engine, and prints the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`) as the last
  * stdout line. See README.md for the workloads and the metric table. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")))
  }

  /** Everything a workload reports back. `opNs` are the timed operations'
    * latencies, `opFreeNs` the same with the host's stolen CPU time taken
    * out and `opStolen` the stolen share ([[Host.StealMeter]]), `opCpuNs`
    * the CPU time the JVM spent in each of them outside JIT compilation,
    * `opRows` the input rows each processed. */
  final class Result {
    val opNs = ArrayBuffer[Long]()
    val opFreeNs = ArrayBuffer[Long]()
    val opStolen = ArrayBuffer[Double]()
    val opCpuNs = ArrayBuffer[Long]()
    val opRows = ArrayBuffer[Long]()
    var loopNs = 0L
    var attempted = 0L
    val failures = ArrayBuffer[String]()
    val layers = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    val extra = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM so far, in nanoseconds. */
  def cpuNs(): Long = os.getProcessCpuTime
  /** [[cpuNs]] less the JIT compiler threads: the work the program itself
    * does, without the compilation that keeps settling over a short run. */
  def workCpuNs(): Long = cpuNs() - Host.jitCpuNs()

  /** Wall and CPU nanoseconds spent generating inputs and checking
    * outputs: the benchmark's own work, excluded from set-up and from the
    * timed loop. */
  var genNs = 0L
  var genCpuNs = 0L
  def gen[T](body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    try body finally {
      genNs += System.nanoTime() - t0
      genCpuNs += cpuNs() - c0
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // the host probe is the benchmark's own work, not set-up
    val host = gen(new Host.Record)
    args.work.mkdirs()
    if (args.trace) {
      // read by SparkConf from system properties when the session starts
      System.setProperty("spark.hadoop.fs.file.impl", classOf[Trace.CountingLocalFs].getName)
      System.setProperty("spark.hadoop.fs.file.impl.disable.cache", "true")
    }
    val spark = graft.Spark.session(cores = Host.nproc.toString, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if (args.trace) Trace.install(spark)

    val workload: Workload = args.workload match {
      case "drop_small" => new Drops
      case "lake_mor" => new Lake
      case "query_mix" => new QueryMix
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val res = new Result
    val setupEndMs = workload.setup(spark, args, res)
    val setupCpuS = (cpuNs() - genCpuNs) / 1e9
    val setupWallS = (setupEndMs - jvmStartMs - genNs / 1000000) / 1e3
    val loop0 = System.nanoTime()
    val genBefore = genNs
    workload.run(spark, args, res)
    res.loopNs = System.nanoTime() - loop0 - (genNs - genBefore)
    val peakRss = Host.peakRssMb()
    val hostRec = host.finish()
    spark.stop()

    val lat = res.opNs.map(_ / 1e9).toSeq
    val failed = res.failures.size
    // On a shared host, raw wall times move with the CPU time other
    // tenants steal far more than the bounds allow: the result carries the
    // steal-free latency and CPU times, and prints the raw wall times.
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupCpuS, "s"),
      "latency_p50_s" -> (Stats.median(res.opFreeNs.map(_ / 1e9).toSeq), "s"),
      "op_cpu_p50_s" -> (Stats.median(res.opCpuNs.map(_ / 1e9).toSeq), "s"))
    val wall = Seq(
      "setup_wall_s" -> (setupWallS, "s"),
      "wall_p50_s" -> (Stats.median(lat), "s"),
      "stolen_p50" -> (Stats.median(res.opStolen.toSeq), "fraction"),
      "rows_per_s" -> (Stats.median(res.opRows.zip(res.opNs).map { case (r, ns) => r / (ns / 1e9) }.toSeq),
        "rows/s"),
      "peak_rss_mb" -> (peakRss, "MB"))
    val (tailP, tail) = Stats.tail(lat)
    println(s"host ${Json.write(hostRec)}")
    println(s"workload ${args.workload} seed ${args.seed} ops ${lat.size} " +
      s"(latencies s: ${lat.map(x => f"$x%.3f").mkString(" ")}; " +
      s"steal-free s: ${res.opFreeNs.map(x => f"${x / 1e9}%.3f").mkString(" ")}; " +
      s"CPU s: ${res.opCpuNs.map(x => f"${x / 1e9}%.2f").mkString(" ")})")
    println(f"time loop ${res.loopNs / 1e9}%.1f s, generating inputs and checking outputs " +
      f"${genNs / 1e9}%.1f s")
    (e2e ++ wall).foreach { case (k, (v, u)) => println(f"metric $k%-24s $v%14.4f $u") }
    tail.foreach(t => println(f"metric wall_p${tailP}%-21s $t%14.4f s  (tail: >=10 samples above)"))
    println(f"metric error_rate               ${failed.toDouble / res.attempted}%14.4f fraction " +
      s"($failed of ${res.attempted})")
    res.extra.foreach { case (k, (v, u)) => println(f"metric $k%-24s $v%14.4f $u") }
    res.layers.foreach { case (k, (v, u)) => println(f"layer  $k%-32s $v%14.3f $u") }
    res.failures.take(20).foreach(f => println(s"FAILED $f"))

    val out = if (args.trace) res.layers else e2e
    val json = Map(
      "correct" -> (failed == 0),
      "attempted" -> res.attempted,
      "failed" -> failed.toLong,
      "metrics" -> out.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    println(Json.write(json))
    System.out.flush()
    System.exit(if (failed == 0) 0 else 1)
  }
}

/** One benchmark workload. `setup` does everything before the first
  * timed operation, including the untimed warm-up, and returns the
  * epoch millis at which it finished. */
trait Workload {
  def setup(spark: SparkSession, args: Main.Args, res: Main.Result): Long
  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None below 11 samples. */
  def tail(xs: Seq[Double]): (Int, Option[Double]) = {
    val n = xs.size
    if (n < 11) (0, None)
    else {
      val s = xs.sorted
      val p = ((n - 10) * 100) / n
      (p, Some(s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1))))
    }
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def conv(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, conv(x)) }
      j
    case s: Seq[_] => java.util.Arrays.asList(s.map(conv): _*)
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }
  def write(v: Any): String = mapper.writeValueAsString(conv(v))
}
