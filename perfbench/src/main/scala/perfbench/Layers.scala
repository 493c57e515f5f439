package perfbench

import scala.jdk.CollectionConverters._

/** Splits each traced operation into layers by attributing the records
  * of [[Trace]] to the operation's time window. Every workload reports
  * every key of [[Keys]]; a layer the workload never calls reads 0. */
object Layers {

  /** A timed interval in both clocks: epoch ms for Spark's events, nanos
    * for the FS wrapper. */
  final case class Window(startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
    def wallMs: Double = (endNs - startNs) / 1e6
  }
  def open(): (Long, Long) = (System.currentTimeMillis(), System.nanoTime())
  def close(o: (Long, Long)): Window =
    Window(o._1, System.currentTimeMillis(), o._2, System.nanoTime())

  val DropActions = Seq("validated_write", "kv_category", "kv_order", "csv_category", "csv_order")
  val LakeOps = Seq("upsert", "delete", "read")

  /** Every per-layer metric, in report order, with its unit. */
  val Keys: Seq[(String, String)] = {
    val drop = Seq("gate_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
      "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
      "stream.add_batch_ms" -> "ms", "stream.overhead_ms" -> "ms", "archive_ms" -> "ms") ++
      DropActions.flatMap(a => Seq(s"$a.wall_ms" -> "ms", s"$a.plan_ms" -> "ms",
        s"$a.jobs" -> "count", s"$a.exec_run_ms" -> "ms", s"$a.shuffle_write_bytes" -> "bytes")) ++
      Seq("batch_driver_ms" -> "ms", "kv.puts" -> "count", "kv.put_ms" -> "ms",
        "accounted_pct" -> "%")
    val lake = LakeOps.flatMap(o => Seq(s"$o.wall_ms" -> "ms", s"$o.plan_ms" -> "ms",
      s"$o.jobs" -> "count", s"$o.exec_run_ms" -> "ms", s"$o.shuffle_write_bytes" -> "bytes",
      s"$o.driver_gap_ms" -> "ms", s"$o.fs_creates" -> "count", s"$o.fs_renames" -> "count",
      s"$o.fs_lists" -> "count", s"$o.fs_opens" -> "count")) :+ ("dv_files" -> "count")
    val queries = QueryMix.Queries.flatMap(q => Seq(s"$q.wall_ms" -> "ms", s"$q.jobs" -> "count"))
    val generic = Seq("plan_ms" -> "ms", "jobs" -> "count",
      "tasks" -> "count", "driver_gap_ms" -> "ms", "exec_run_ms" -> "ms",
      "exec_cpu_ms" -> "ms", "gc_ms" -> "ms", "shuffle_write_bytes" -> "bytes",
      "spill_bytes" -> "bytes", "fs.creates" -> "count", "fs.renames" -> "count",
      "fs.lists" -> "count", "fs.opens" -> "count", "fs.deletes" -> "count")
    generic ++ drop ++ lake ++ queries
  }

  private def execsIn(w: Window): Seq[Trace.Exec] =
    Trace.execs.values.asScala.filter(e => e.startMs >= w.startMs && e.startMs <= w.endMs).toSeq
  private def jobsIn(w: Window): Seq[Trace.Job] =
    Trace.jobs.values.asScala.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs).toSeq
  def fsIn(w: Window): Seq[Trace.FsCall] =
    Trace.fsCalls.asScala.filter(c => c.startNs >= w.startNs && c.startNs <= w.endNs).toSeq

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Job and task totals of a set of jobs; stages shared by several jobs
    * count once. */
  final case class JobTotals(jobs: Int, tasks: Long, runMs: Long, cpuMs: Double,
                             gcMs: Long, shuffleWrite: Long, spill: Long, unionMs: Long)
  def totals(js: Seq[Trace.Job]): JobTotals = {
    val st = js.flatMap(_.stages).distinct.flatMap(s => Option(Trace.stages.get(s)))
    JobTotals(js.size, st.map(_.tasks).sum, st.map(_.runMs).sum, st.map(_.cpuNs).sum / 1e6,
      st.map(_.gcMs).sum, st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      unionMs(js.map(j => (j.startMs, math.max(j.startMs, j.endMs)))))
  }

  /** Catalyst time of the given executions. A QueryExecutionListener
    * does not see execution ids, so each reported plan goes to the first
    * execution of the window that ends at or after its last phase. */
  private def planOf(es: Seq[Trace.Exec], w: Window): Double = {
    val all = execsIn(w).sortBy(_.endMs)
    Trace.plans.asScala.filter(p => p.endMs >= w.startMs && p.endMs <= w.endMs).toSeq
      .flatMap(p => all.find(_.endMs >= p.endMs).filter(e => es.exists(_.id == e.id)).map(_ => p.ms))
      .sum.toDouble
  }
  private def planIn(w: Window): Double =
    Trace.plans.asScala.filter(p => p.endMs >= w.startMs && p.endMs <= w.endMs).map(_.ms).sum.toDouble

  private def fsCounts(cs: Seq[Trace.FsCall], prefix: String, sep: String): Map[String, Double] = {
    val by = cs.groupBy(_.kind).map { case (k, v) => k -> v.size.toDouble }
    Seq("create" -> "creates", "rename" -> "renames", "list" -> "lists", "open" -> "opens",
      "delete" -> "deletes").map { case (k, n) => s"$prefix$sep$n" -> by.getOrElse(k, 0.0) }.toMap
  }

  /** Spark/FS layer totals of one operation window. */
  def generic(w: Window): Map[String, Double] = {
    val t = totals(jobsIn(w))
    Map("plan_ms" -> planIn(w),
      "jobs" -> t.jobs.toDouble, "tasks" -> t.tasks.toDouble,
      "driver_gap_ms" -> (w.wallMs - t.unionMs), "exec_run_ms" -> t.runMs.toDouble,
      "exec_cpu_ms" -> t.cpuMs, "gc_ms" -> t.gcMs.toDouble,
      "shuffle_write_bytes" -> t.shuffleWrite.toDouble, "spill_bytes" -> t.spill.toDouble) ++
      fsCounts(fsIn(w), "fs", ".")
  }

  private val WritePath =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: (\S+?),""".r

  /** The engine's five drop actions, recognised by where their physical
    * plans write: file writes by their output path, the KV upserts
    * (`foreachPartition`, no file write) by their KPI columns. */
  def dropAction(e: Trace.Exec): Option[String] =
    WritePath.findFirstMatchIn(e.plan).map(_.group(1)) match {
      case Some(p) if p.contains("/validated/") => Some("validated_write")
      case Some(p) if p.contains("/processed/") && p.endsWith("category_kpi") => Some("csv_category")
      case Some(p) if p.contains("/processed/") && p.endsWith("order_kpi") => Some("csv_order")
      case Some(_) => None
      case None if e.plan.contains("DeserializeToObject") =>
        if (e.plan.contains("avg_return_rate")) Some("kv_category")
        else if (e.plan.contains("unique_customers")) Some("kv_order")
        else None
      case None => None
    }

  /** One drop: `w` spans gate → awaitTermination, `stream` the
    * runAvailableNow → awaitTermination part, `latencyMs` landing →
    * awaitTermination. */
  def drop(w: Window, stream: Window, gateMs: Double, latencyMs: Double, rawDir: String,
           kvPuts: Double, kvPutMs: Double): Map[String, Double] = {
    val es = execsIn(w)
    val js = jobsIn(w)
    val actions = DropActions.map { a =>
      val mine = es.filter(e => dropAction(e).contains(a))
      val t = totals(js.filter(j => mine.exists(_.id == j.execId)))
      a -> Map(s"$a.wall_ms" -> mine.map(e => (e.endMs - e.startMs).toDouble).sum,
        s"$a.plan_ms" -> planOf(mine, w), s"$a.jobs" -> t.jobs.toDouble,
        s"$a.exec_run_ms" -> t.runMs.toDouble, s"$a.shuffle_write_bytes" -> t.shuffleWrite.toDouble)
    }.toMap
    val prog = Trace.progress.asScala.filter { case (ts, _) => ts >= w.startMs && ts <= w.endMs }
      .map(_._2).toSeq
    def dur(k: String) = prog.map(_.getOrElse(k, 0L)).sum.toDouble
    val addBatch = dur("addBatch")
    // archive: from the last sink action's end to the last rename out of the raw dir
    val lastSink = es.filter(dropAction(_).isDefined).map(_.endMs).foldLeft(w.startMs)(math.max)
    val nsToMs = (ns: Long) => w.startMs + (ns - w.startNs) / 1e6
    val archiveEnd = fsIn(w).filter(c => c.kind == "rename" && c.path.contains(rawDir))
      .map(c => nsToMs(c.endNs)).foldLeft(lastSink.toDouble)(math.max)
    val archive = archiveEnd - lastSink
    val overhead = stream.wallMs - addBatch
    val actionSum = actions.values.map(m => m.collectFirst {
      case (k, v) if k.endsWith(".wall_ms") => v }.get).sum
    val accounted = gateMs + overhead + actionSum + archive
    generic(w) ++ actions.values.flatten ++ Map(
      "gate_ms" -> gateMs, "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.wal_commit_ms" -> dur("walCommit"), "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.add_batch_ms" -> addBatch, "stream.overhead_ms" -> overhead,
      "archive_ms" -> archive, "batch_driver_ms" -> (addBatch - actionSum - archive),
      "kv.puts" -> kvPuts, "kv.put_ms" -> kvPutMs,
      "accounted_pct" -> 100.0 * accounted / latencyMs)
  }

  /** One lake operation (upsert, delete or read). */
  def lakeOp(op: String, w: Window): Map[String, Double] = {
    val t = totals(jobsIn(w))
    Map(s"$op.wall_ms" -> w.wallMs, s"$op.plan_ms" -> planIn(w),
      s"$op.jobs" -> t.jobs.toDouble, s"$op.exec_run_ms" -> t.runMs.toDouble,
      s"$op.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      s"$op.driver_gap_ms" -> (w.wallMs - t.unionMs)) ++
      fsCounts(fsIn(w), op, ".fs_").view.filterKeys(!_.endsWith("deletes")).toMap
  }

  /** One query of a `query_mix` sweep. */
  def query(q: String, w: Window): Map[String, Double] =
    Map(s"$q.wall_ms" -> w.wallMs, s"$q.jobs" -> jobsIn(w).size.toDouble)

  /** Medians over operations (keys no operation produced read 0), then
    * the process-wide codegen totals: warm operations hit the codegen
    * cache, so compile time is a set-up cost and is reported per run. */
  def report(perOp: Seq[Map[String, Double]]): Seq[(String, (Double, String))] = {
    val (cgMs, cgN) = Trace.codegen()
    Keys.map { case (k, unit) =>
      val xs = perOp.flatMap(_.get(k))
      k -> ((if (xs.isEmpty) 0.0 else Stats.median(xs)), unit)
    } ++ Seq("codegen.compile_ms" -> (cgMs.toDouble, "ms"), "codegen.compiles" -> (cgN.toDouble, "count"))
  }
}
