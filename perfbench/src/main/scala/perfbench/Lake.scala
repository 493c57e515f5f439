package perfbench

import java.io.File
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Manifest
import graft.plans.ManifestScan

/** `lake_mor`: the manifest lake's merge-on-read cycle, which the drop
  * workloads never call. Set-up creates a table from the snapshot's
  * orders (`Manifest.create`, partitioned by `o_orderstatus`, min/max
  * stats on `o_orderdate`). Each operation is one round: `upsertMor` of
  * ~1% of the keys (a tenth of them new), `deleteMor` of ~0.2%, and a
  * date-filtered `ManifestScan.scan`, aggregated and collected. Deletion
  * vectors pile up round after round, so reads pay for the writes before
  * them. An in-memory model of the table checks every read. */
final class Lake extends Workload {
  import Lake.Order

  /** Timed operations per second of `--seconds`. The count is fixed
    * before the loop starts, so a faster commit times the same work. */
  private val OpsPerSecond = 0.6
  private val WarmUps = 1
  private val UpsertFrac = 0.01
  private val DeleteFrac = 0.002

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))

  private val model = new java.util.HashMap[Long, Order]()
  private var keys = new ArrayBuffer[Long]()
  private var nextKey = 0L
  private var dir: String = _
  private var round = 0
  private val traced = ArrayBuffer[() => Map[String, Double]]()
  private val phaseNs = Map("upsert" -> ArrayBuffer[Long](), "delete" -> ArrayBuffer[Long](),
    "read" -> ArrayBuffer[Long]())

  def setup(spark: SparkSession, args: Main.Args, res: Main.Result): Long = {
    val rows = Main.gen {
      val s = Inputs.snapshot(args.seed)
      (0 until s.nOrders).map { i =>
        val k = i + 1L
        val o = Order(s.oCust(i), Inputs.Statuses(s.oStatus(i)), s.oTotalCents(i),
          s.orderDay(i), Inputs.Priorities(s.oPriority(i)))
        model.put(k, o); keys += k
        o.row(k)
      }
    }
    nextKey = keys.size + 1L
    dir = new File(args.work, "orders_tbl").getPath
    val df = Main.gen(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    Manifest.create(spark, dir, df, "o_orderstatus", statsCols = Seq("o_orderdate"))
    (1 to WarmUps).foreach(_ => oneRound(spark, args, res, timed = false))
    System.currentTimeMillis()
  }

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val n = math.max(3, math.round(args.seconds * OpsPerSecond).toInt)
    (1 to n).foreach(_ => oneRound(spark, args, res, timed = true))
    phaseNs.foreach { case (k, v) =>
      res.extra += s"${k}_p50_s" -> (Stats.median(v.map(_ / 1e9).toSeq), "s")
    }
    if (args.trace) {
      Trace.settle()
      res.layers ++= Layers.report(traced.map(_()).toSeq)
    }
  }

  private def oneRound(spark: SparkSession, args: Main.Args, res: Main.Result,
                       timed: Boolean): Unit = {
    res.attempted += 1
    val rnd = new SplittableRandom(args.seed * 1000003L + round)
    round += 1
    // the round's batches, drawn from the model's live keys
    val (upd, del, win, updRows) = Main.gen {
      val n = keys.size
      val nUpd = (n * UpsertFrac).toInt
      val picked = scala.collection.mutable.LinkedHashSet[Long]()
      while (picked.size < nUpd + (n * DeleteFrac).toInt)
        picked += keys(rnd.nextInt(n))
      val (updKeys, delKeys) = picked.toSeq.splitAt(nUpd)
      val updates = updKeys.take(nUpd * 9 / 10).map { k =>
        val o = model.get(k)
        k -> o.copy(cents = 90000L + rnd.nextInt(50000000), priority =
          Inputs.Priorities(rnd.nextInt(Inputs.Priorities.length)))
      } ++ (0 until nUpd - nUpd * 9 / 10).map { _ =>
        val k = nextKey; nextKey += 1
        k -> Order(1 + rnd.nextInt(15000), Inputs.Statuses(rnd.nextInt(3)),
          90000L + rnd.nextInt(50000000), LocalDate.of(1992, 1, 1).toEpochDay + rnd.nextInt(2406),
          Inputs.Priorities(rnd.nextInt(Inputs.Priorities.length)))
      }
      val from = LocalDate.of(1992, 1, 1).toEpochDay + rnd.nextInt(2406 - 365)
      (updates, delKeys, (from, from + 364), updates.map { case (k, o) => o.row(k) })
    }
    val updDf = Main.gen(spark.createDataFrame(java.util.Arrays.asList(updRows: _*), schema))
    val delDf = Main.gen(spark.createDataFrame(java.util.Arrays.asList(
      del.map(k => Row(k, model.get(k).status)): _*),
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType)))))
    val r0 = Layers.open()
    val meter = new Host.StealMeter
    val cpu0 = Main.workCpuNs()
    val failure = try {
      val u0 = Layers.open()
      Manifest.upsertMor(spark, dir, updDf, Seq("o_orderkey"), "o_orderstatus")
      val uw = Layers.close(u0)
      val d0 = Layers.open()
      Manifest.deleteMor(spark, dir, delDf, Seq("o_orderkey"), "o_orderstatus")
      val dw = Layers.close(d0)
      val q0 = Layers.open()
      val got = ManifestScan.scan(spark, dir, Some("o_orderstatus"))
        .filter(col("o_orderdate").between(java.sql.Date.valueOf(LocalDate.ofEpochDay(win._1)),
          java.sql.Date.valueOf(LocalDate.ofEpochDay(win._2))))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(DecimalType(12, 2))).as("total"))
        .collect()
      val qw = Layers.close(q0)
      val rw = Layers.close(r0)
      val (wallNs, freeNs, stolen) = meter.stop()
      val cpu = Main.workCpuNs() - cpu0
      if (timed) {
        res.opNs += wallNs
        res.opFreeNs += freeNs
        res.opStolen += stolen
        res.opCpuNs += cpu
        res.opRows += upd.size + del.size
        phaseNs("upsert") += uw.endNs - uw.startNs
        phaseNs("delete") += dw.endNs - dw.startNs
        phaseNs("read") += qw.endNs - qw.startNs
        if (args.trace) {
          val dv = Main.gen(dvFiles)
          // attributed after the loop, once the listener events have settled
          traced += (() => Layers.generic(rw) ++ Layers.lakeOp("upsert", uw) ++
            Layers.lakeOp("delete", dw) ++ Layers.lakeOp("read", qw) + ("dv_files" -> dv.toDouble))
        }
      }
      Main.gen {
        upd.foreach { case (k, o) => if (!model.containsKey(k)) keys += k; model.put(k, o) }
        del.foreach(model.remove)
        keys = keys.filter(model.containsKey)
        check(got, win)
      }
    } catch { case e: Exception => Some(s"round $round failed: $e") }
    failure.foreach(res.failures += _)
  }

  private def dvFiles: Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new File(dir, "_dv"))
  }

  /** Per-status row count and exact price total in the read window. */
  private def check(got: Array[Row], win: (Long, Long)): Option[String] = {
    val want = scala.collection.mutable.Map[String, (Long, Long)]()
    model.forEach { (_, o) =>
      if (o.day >= win._1 && o.day <= win._2) {
        val (n, c) = want.getOrElse(o.status, (0L, 0L))
        want(o.status) = (n + 1, c + o.cents)
      }
    }
    val have = got.map(r => r.getString(0) ->
      (r.getLong(1), r.getDecimal(2).movePointRight(2).longValueExact)).toMap
    if (have == want.toMap) None
    else Some(s"round $round read: got ${have.toSeq.sorted}, want ${want.toSeq.sorted}")
  }
}

object Lake {
  private final case class Order(cust: Long, status: String, cents: Long, day: Long,
                                 priority: String) {
    def row(key: Long): Row = Row(key, cust, status, cents / 100.0,
      java.sql.Date.valueOf(LocalDate.ofEpochDay(day)), priority)
  }
}
