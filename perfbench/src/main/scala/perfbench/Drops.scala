package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.io.Sinks
import graft.pipeline.Streaming

/** `drop_small`: the reference's event-driven job as a closed loop.
  * Each operation lands one drop's CSVs in the raw dir by atomic rename,
  * opens the gate ([[Streaming.gate]]) and runs
  * [[Streaming.runAvailableNow]] to `awaitTermination`; its latency runs
  * from the last file landing to that return, when the KPIs are
  * committed and the raw files archived. Each drop is one calendar month
  * (~1.9k orders, ~7.6k items, 20k products, ~210 KV keys), so per-drop
  * fixed cost dominates. One pipeline work dir serves the whole run, so
  * the checkpoint logs, the KV directory and the archive grow with every
  * drop. */
final class Drops extends Workload {
  /** Timed operations per second of `--seconds`. The count is fixed
    * before the loop starts, so a faster commit times the same work. */
  private val OpsPerSecond = 0.4
  /** The first drop is cold (class loading, JIT, codegen); latencies keep
    * falling over the next few while the JIT compiles the hot paths. */
  private val WarmUps = 2

  private var snap: Inputs.Snapshot = _
  private var raw: File = _
  private var pipe: File = _
  private var staging: File = _
  private var months: Array[Array[Int]] = _
  private var kvFactory: () => Sinks.KvClient = _
  private var dropNo = 0
  private val tsSeen = scala.collection.mutable.Set[String]()
  private val traced = ArrayBuffer[Map[String, Double]]()

  def setup(spark: SparkSession, args: Main.Args, res: Main.Result): Long = {
    snap = Main.gen(Inputs.snapshot(args.seed))
    months = Main.gen {
      val by = Array.fill(Inputs.FullMonths)(ArrayBuffer[Int]())
      (0 until snap.nOrders).foreach { i =>
        val m = snap.orderMonth(i)
        if (m < Inputs.FullMonths) by(m) += i
      }
      by.map(_.toArray)
    }
    raw = new File(args.work, "raw"); pipe = new File(args.work, "pipeline")
    staging = new File(args.work, "staging")
    Seq(raw, pipe, staging).foreach(_.mkdirs())
    val kvDir = new File(pipe, "kv").getPath
    kvFactory =
      if (args.trace) () => new Trace.CountingKv(new Sinks.FileKvClient(kvDir))
      else () => new Sinks.FileKvClient(kvDir)
    (1 to WarmUps).foreach(_ => oneDrop(spark, args, res, timed = false))
    System.currentTimeMillis()
  }

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val n = math.max(3, math.round(args.seconds * OpsPerSecond).toInt)
    (1 to n).foreach(_ => oneDrop(spark, args, res, timed = true))
    if (args.trace) {
      Trace.settle()
      res.layers ++= Layers.report(traced.toSeq)
    }
  }

  private def nextDrop(seed: Long): Inputs.Drop = {
    val i = dropNo
    dropNo += 1
    // consecutive months from a seeded start, so every drop adds new KV keys
    val m = (Math.floorMod(seed, Inputs.FullMonths.toLong).toInt + i) % Inputs.FullMonths
    Inputs.drop(snap, months(m), f"d$i%03d", seed)
  }

  private def oneDrop(spark: SparkSession, args: Main.Args, res: Main.Result,
                      timed: Boolean): Unit = {
    res.attempted += 1
    val (d, want, rels) = Main.gen {
      val d = nextDrop(args.seed)
      val stage = new File(staging, d.tag)
      (d, KpiModel.expected(d), Inputs.writeStaged(d, stage))
    }
    val kv0 = (Trace.kvPuts.get, Trace.kvPutNs.get)
    Inputs.land(new File(staging, d.tag), raw, rels)
    val meter = new Host.StealMeter
    val cpu0 = Main.workCpuNs()
    val w0 = Layers.open()
    var streamW: Layers.Window = null
    val gateNs = System.nanoTime()
    val ok = try {
      if (!Streaming.gate(spark, raw.getPath)) Some("gate stayed closed")
      else {
        val s0 = Layers.open()
        val q = Streaming.runAvailableNow(spark, raw.getPath, pipe.getPath, kvFactory)
        q.awaitTermination()
        streamW = Layers.close(s0)
        None
      }
    } catch { case e: Exception => Some(s"drop ${d.tag} failed: $e") }
    val endNs = System.nanoTime()
    val (wallNs, freeNs, stolen) = meter.stop()
    val cpu = Main.workCpuNs() - cpu0
    val w = Layers.close(w0)
    val gateMs = (Option(streamW).map(_.startNs).getOrElse(endNs) - gateNs) / 1e6
    val failure = ok.orElse(Main.gen(check(d, want, rels)))
    failure.foreach(res.failures += _)
    if (timed) {
      res.opNs += wallNs
      res.opFreeNs += freeNs
      res.opStolen += stolen
      res.opCpuNs += cpu
      res.opRows += d.rows
      if (args.trace && streamW != null) {
        traced += Layers.drop(w, streamW, gateMs, wallNs / 1e6,
          raw.getPath, (Trace.kvPuts.get - kv0._1).toDouble, (Trace.kvPutNs.get - kv0._2) / 1e6)
      }
    }
  }

  /** The drop's KPIs in the KV store match the model, the raw dir is
    * empty, and every landed file sits in one archive batch dir that no
    * earlier drop used (`Sinks.batchTimestamp` has 1 s resolution, so two
    * drops in one second would share `processed/<ts>` and `archive/<ts>`). */
  private def check(d: Inputs.Drop, want: KpiModel.Expected, rels: Seq[String]): Option[String] = {
    val kvDir = new File(pipe, "kv")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bad = KpiModel.check(want, (table, key) => {
      val f = new File(new File(kvDir, table), java.net.URLEncoder.encode(key, "UTF-8") + ".json")
      if (!f.isFile) None
      else {
        val m = mapper.readValue(f, classOf[java.util.LinkedHashMap[String, String]])
        val b = Map.newBuilder[String, String]
        m.forEach((k, v) => b += k -> v)
        Some(b.result())
      }
    })
    def files(dir: File): Seq[File] =
      Option(dir.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val left = files(raw)
    val archive = new File(pipe, "archive")
    val batches = Option(archive.listFiles).toSeq.flatten
      .filter(b => new File(b, rels.last).isFile)
    val problems =
      (if (bad.nonEmpty) Seq(s"${bad.size} KV mismatches, first: ${bad.head}") else Nil) ++
      (if (left.nonEmpty) Seq(s"${left.size} files left in raw, e.g. ${left.head}") else Nil) ++
      (batches match {
        case Seq(b) =>
          val missing = rels.filterNot(r => new File(b, r).isFile)
          val others = files(b).map(_.getName).filter(n => n != "products.csv" && !n.startsWith(d.tag))
          val reused = !tsSeen.add(b.getName)
          (if (missing.nonEmpty) Seq(s"${missing.size} landed files not archived") else Nil) ++
            (if (others.nonEmpty || reused)
              Seq(s"batch timestamp ${b.getName} shared with an earlier drop") else Nil)
        case bs => Seq(s"drop archived under ${bs.size} batch dirs")
      })
    if (problems.isEmpty) None else Some(s"drop ${d.tag}: ${problems.mkString("; ")}")
  }
}
