package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: sweeps over a fixed subset of `SparkEntry.benchQueries`
  * that loads the engine's own operators, which the pipeline workloads
  * never call: `ops.Dedup` (MinHash and SimHash banding, whose sketches
  * are `functions.Expressions`), `ops.Similarity` (brute-force cosine
  * top-k), `ops.TextAnalysis` (quality score), the custom Catalyst as-of
  * join (`plans.AsOfJoinPlan`) and the bucketed range join
  * (`ops.RangeJoin`). Each operation is one sweep: every query in turn,
  * collected to the driver; the seed rotates the order. Set-up writes the
  * seeded tables as parquet, as the testdata ships them.
  *
  * Every sweep's output is checked. Each query's row count and
  * order-insensitive hash must equal those of the warm-up sweep (a
  * consistency check; the DuckDB oracle of `tools/selfcheck.py` stays
  * the authority on the queries' semantics), and plain-Scala models of
  * the inputs check the as-of join, the range join and the top-k
  * exactly, every planted duplicate document among the dedup pairs, and
  * one score in [0, 1] per document. */
final class QueryMix extends Workload {
  import QueryMix._

  /** Timed operations per second of `--seconds`. The count is fixed
    * before the loop starts, so a faster commit times the same work. */
  private val OpsPerSecond = 0.6
  /** The first sweep is cold (class loading, JIT, codegen). */
  private val WarmUps = 1

  private var tables: Tables = _
  private var data: String = _
  private var order: Seq[String] = _
  private var pins: Map[String, (Int, Int)] = Map.empty
  private var sweepNo = 0
  private val traced = ArrayBuffer[() => Map[String, Double]]()

  def setup(spark: SparkSession, args: Main.Args, res: Main.Result): Long = {
    tables = Main.gen(generate(args.seed))
    data = new File(args.work, "qdata").getPath
    Main.gen(tables.write(spark, data))
    val rot = Math.floorMod(args.seed, Queries.size.toLong).toInt
    order = Queries.drop(rot) ++ Queries.take(rot)
    (1 to WarmUps).foreach(_ => sweep(spark, args, res, timed = false))
    System.currentTimeMillis()
  }

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val n = math.max(3, math.round(args.seconds * OpsPerSecond).toInt)
    (1 to n).foreach(_ => sweep(spark, args, res, timed = true))
    if (args.trace) {
      Trace.settle()
      res.layers ++= Layers.report(traced.map(_()).toSeq)
    }
  }

  private def sweep(spark: SparkSession, args: Main.Args, res: Main.Result,
                    timed: Boolean): Unit = {
    res.attempted += 1
    sweepNo += 1
    val got = LinkedHashMap[String, Array[Row]]()
    val windows = LinkedHashMap[String, Layers.Window]()
    val w0 = Layers.open()
    val meter = new Host.StealMeter
    val cpu0 = Main.workCpuNs()
    val ran = try {
      order.foreach { q =>
        val q0 = Layers.open()
        got(q) = SparkEntry.queries(q)(spark, data).collect()
        windows(q) = Layers.close(q0)
      }
      None
    } catch { case e: Exception => Some(s"sweep $sweepNo failed: $e") }
    val (wallNs, freeNs, stolen) = meter.stop()
    val cpu = Main.workCpuNs() - cpu0
    val w = Layers.close(w0)
    ran.orElse(Main.gen(check(got))).foreach(res.failures += _)
    if (timed) {
      res.opNs += wallNs
      res.opFreeNs += freeNs
      res.opStolen += stolen
      res.opCpuNs += cpu
      res.opRows += tables.rows
      if (args.trace) traced += (() => Layers.generic(w) ++
        windows.flatMap { case (q, qw) => Layers.query(q, qw) })
    }
  }

  /** Problems with one sweep's results, or None. */
  private def check(got: LinkedHashMap[String, Array[Row]]): Option[String] = {
    val sums = got.map { case (q, rows) =>
      q -> (rows.length, MurmurHash3.unorderedHash(rows.toSeq.map(_.toSeq)))
    }.toMap
    val problems = ArrayBuffer[String]()
    got.foreach { case (q, rows) =>
      try tables.check(q, rows).foreach(p => problems += s"$q: $p")
      catch { case e: Exception => problems += s"$q: unreadable result ($e)" }
    }
    if (pins.isEmpty && problems.isEmpty) pins = sums
    pins.foreach { case (q, want) =>
      if (sums.get(q).exists(_ != want))
        problems += s"$q: ${sums(q)} (rows, hash), the warm-up sweep gave $want"
    }
    if (problems.isEmpty) None
    else Some(s"sweep $sweepNo: ${problems.take(3).mkString("; ")}")
  }
}

object QueryMix {
  /** Covers every operator module named above; the other ten bench
    * queries repeat the scans, joins and aggregations the pipeline
    * workloads already load, or the manifest paths of `lake_mor`. */
  val Queries: Seq[String] = Seq("dedup_minhash", "dedup_simhash", "sim_topk_brute",
    "txt_quality", "join_asof_native", "join_range")

  private val Words = Array("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
    "order", "data", "column", "join", "small", "big", "customer", "query", "stream",
    "filter", "group", "vector")
  private val EventTypes = Array("view", "click", "cart", "purchase", "error")

  val NDocs = 2000
  val NVecs = 1000
  val Dim = 64
  val NCust = 3000
  val NOrders = 30000
  val NEvents = 20000
  /** 2023-01-01T00:00:00Z and the span of orders and events. */
  private val StartSec = 1672531200L
  private val SpanSec = 2L * 365 * 86400
  private val WindowSec = 90L * 86400

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)

  /** The seeded tables, with the columns the queries read (TESTDATA.md's
    * shapes). Order timestamps are distinct even seconds and event
    * timestamps odd ones, so no as-of match is a tie. */
  final class Tables(val text: Array[String], val vecs: Array[Array[Float]],
                     val evUser: Array[Long], val evSec: Array[Long],
                     val oCust: Array[Long], val oSec: Array[Long], val oCents: Array[Long],
                     rnd: SplittableRandom) {
    val rows: Long = text.length.toLong + vecs.length + evUser.length + oCust.length
    private val evType = Array.fill(evUser.length)(EventTypes(rnd.nextInt(EventTypes.length)))
    private val evValue = Array.fill(evUser.length)(rnd.nextInt(100000) / 100.0)
    private val oStatus = Array.fill(oCust.length)(Inputs.Statuses(rnd.nextInt(3)))
    private val oPriority =
      Array.fill(oCust.length)(Inputs.Priorities(rnd.nextInt(Inputs.Priorities.length)))

    def write(spark: SparkSession, dir: String): Unit = {
      def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.parquet(s"$dir/$name.parquet")
      save("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))),
        text.indices.map(i => Row(i.toLong, text(i), "en", s"src${i % 5}", text(i).length.toLong)))
      save("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
        vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq, i % 10)))
      save("events", StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))),
        evUser.indices.map(i => Row(i.toLong, ts(evSec(i)), evUser(i), evType(i), evValue(i),
          s"""{"k": ${i % 100}}""")))
      save("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
        oCust.indices.map(i => Row(i + 1L, oCust(i), oStatus(i), oCents(i) / 100.0, ts(oSec(i)),
          oPriority(i))))
    }

    /** Each customer's orders as (second, index), by time. */
    private lazy val byCust: Map[Long, Array[(Long, Int)]] =
      oCust.indices.groupBy(i => oCust(i)).map { case (c, is) => c -> is.map(i => (oSec(i), i)).toArray.sortBy(_._1) }

    private def long(r: Row, c: String): Long = r.getAs[Number](c).longValue

    def check(q: String, rows: Array[Row]): Option[String] = q match {
      case "dedup_minhash" | "dedup_simhash" =>
        val pairs = rows.map(r => (long(r, "id_a"), long(r, "id_b"))).toSet
        val missing = plantedPairs.filterNot(pairs.contains)
        if (missing.isEmpty) None
        else Some(s"${missing.size} of ${plantedPairs.size} identical-text pairs missing, e.g. ${missing.head}")
      case "sim_topk_brute" =>
        val got = rows.groupBy(r => long(r, "query_id")).map { case (k, rs) =>
          k -> rs.sortBy(r => long(r, "rank")).map(r => long(r, "neighbor_id")).toSeq }
        val bad = (0L until 10L).filterNot { qid =>
          val want = topK(qid.toInt, 5)
          got.get(qid).exists(g => g.size == want.size && g.distinct.size == g.size &&
            !g.contains(qid) && g.zip(want).forall { case (a, b) =>
              math.abs(cos(qid.toInt, a.toInt) - cos(qid.toInt, b.toInt)) < 1e-9 })
        }
        if (bad.isEmpty) None else Some(s"top-5 of queries ${bad.mkString(",")} differ from the model")
      case "txt_quality" =>
        val ids = rows.map(r => long(r, "doc_id"))
        val scores = rows.map(r => r.getAs[Number]("quality_score").doubleValue)
        if (ids.length != text.length || ids.distinct.length != ids.length)
          Some(s"${ids.length} rows (${ids.distinct.length} documents), want ${text.length}")
        else if (scores.exists(s => !(s >= 0 && s <= 1))) Some("a score outside [0, 1]")
        else None
      case "join_asof_native" =>
        val bad = rows.count { r =>
          val e = long(r, "event_id").toInt
          val want = byCust.get(evUser(e)).flatMap { os =>
            os.takeWhile(_._1 <= evSec(e)).lastOption.map(_._2) }
          val key = Option(r.getAs[Any]("o_orderkey")).map(_.asInstanceOf[Number].longValue)
          val cents = Option(r.getAs[Any]("o_totalprice"))
            .map(p => math.round(p.asInstanceOf[Number].doubleValue * 100))
          key != want.map(_ + 1L) || cents != want.map(oCents(_))
        }
        if (rows.length != evUser.length) Some(s"${rows.length} rows, want ${evUser.length}")
        else if (bad > 0) Some(s"$bad events matched the wrong order") else None
      case "join_range" =>
        val bad = rows.count { r =>
          val e = long(r, "event_id").toInt
          val in = byCust.getOrElse(evUser(e), Array.empty[(Long, Int)])
            .filter { case (s, _) => s >= evSec(e) - WindowSec && s <= evSec(e) }
          val sum = Option(r.getAs[Any]("sum_in_window"))
            .map(p => math.round(p.asInstanceOf[Number].doubleValue * 100))
          long(r, "n_in_window") != in.length ||
            sum != (if (in.isEmpty) None else Some(in.map(x => oCents(x._2)).sum))
        }
        if (rows.length != evUser.length) Some(s"${rows.length} rows, want ${evUser.length}")
        else if (bad > 0) Some(s"$bad events with a wrong window aggregate") else None
      case other => Some(s"no check for $other")
    }

    /** Document pairs (a < b) with identical text: Jaccard 1 under any
      * shingling, Hamming 0 under any sketch. */
    private lazy val plantedPairs: Seq[(Long, Long)] =
      text.indices.groupBy(text(_)).values.filter(_.size > 1).toSeq.flatMap { is =>
        val s = is.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i).toLong, s(j).toLong)
      }

    private def cos(a: Int, b: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < Dim) {
        val x = vecs(a)(k).toDouble; val y = vecs(b)(k).toDouble
        dot += x * y; na += x * x; nb += y * y; k += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    private def topK(q: Int, k: Int): Seq[Long] =
      vecs.indices.filter(_ != q).map(i => (-cos(q, i), i)).sorted.take(k).map(_._2.toLong)
  }

  def generate(seed: Long): Tables = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 31)
    val text = new Array[String](NDocs)
    (0 until NDocs).foreach { i =>
      // about 1% of the documents repeat an earlier one word for word
      text(i) =
        if (i > 0 && rnd.nextInt(100) == 0) text(rnd.nextInt(i))
        else Array.fill(8 + rnd.nextInt(73))(Words(rnd.nextInt(Words.length))).mkString(" ")
    }
    val vecs = Array.fill(NVecs)(Array.fill(Dim)((rnd.nextGaussian() / 8).toFloat))
    val step = SpanSec / NOrders
    val oSec = Array.tabulate(NOrders)(i => StartSec + i * step + 2 * rnd.nextLong(step / 2))
    val oCust = Array.fill(NOrders)(1L + rnd.nextInt(NCust))
    val oCents = Array.fill(NOrders)(90000L + rnd.nextInt(50000000))
    val evUser = Array.fill(NEvents)(1L + rnd.nextInt(NCust + NCust / 10))
    val evSec = Array.fill(NEvents)(StartSec + 1 + 2 * rnd.nextLong(SpanSec / 2))
    new Tables(text, vecs, evUser, evSec, oCust, oSec, oCents, rnd)
  }
}
