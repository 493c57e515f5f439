package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments. All of them hook public extension
  * points from outside the engine; all records stay in memory until
  * the run ends. Times are epoch milliseconds unless named `Ns`.
  *
  *  - [[Listener]]: jobs, stages and tasks (run/CPU/GC time, shuffle,
  *    spill), and SQL executions, attributed by `spark.sql.execution.id`;
  *  - [[QeListener]]: each execution's `QueryExecution.tracker` phases;
  *  - [[StreamListener]]: each micro-batch's `durationMs` breakdown;
  *  - [[CountingLocalFs]]: every Hadoop local-FS call, by kind;
  *  - [[CountingKv]]: every KV put and its time. */
object Trace {

  final case class Exec(id: Long, startMs: Long, plan: String) {
    @volatile var endMs: Long = -1L
  }
  final case class Job(id: Int, execId: Long, startMs: Long, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }

  val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  /** Catalyst phases of one reported QueryExecution: the end of its last
    * phase (epoch ms) and the phases' total milliseconds. */
  final case class Plan(endMs: Long, ms: Long)
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val ex = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, ex, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId,
          Exec(s.executionId, s.time, s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  class QeListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add(Plan(ph.map(_.endTimeMs).max, ph.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  class StreamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  // ------------------------------------------------------------ Hadoop FS

  final case class FsCall(kind: String, startNs: Long, endNs: Long, path: String)
  val fsCalls = new ConcurrentLinkedQueue[FsCall]()

  /** Hadoop's local FileSystem with every call counted and timed, set as
    * `fs.file.impl` through the session's Hadoop configuration. */
  class CountingLocalFs extends LocalFileSystem {
    private def timed[T](kind: String, p: Path)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally fsCalls.add(FsCall(kind, t0, System.nanoTime(), p.toString))
    }
    override def create(f: Path, perm: FsPermission, overwrite: Boolean, buf: Int,
                        repl: Short, block: Long, prog: Progressable): FSDataOutputStream =
      timed("create", f)(super.create(f, perm, overwrite, buf, repl, block, prog))
    override def open(f: Path, buf: Int): FSDataInputStream =
      timed("open", f)(super.open(f, buf))
    override def rename(src: Path, dst: Path): Boolean =
      timed("rename", src)(super.rename(src, dst))
    override def delete(f: Path, recursive: Boolean): Boolean =
      timed("delete", f)(super.delete(f, recursive))
    override def listStatus(f: Path): Array[FileStatus] =
      timed("list", f)(super.listStatus(f))
  }

  // ------------------------------------------------------------ KV sink

  val kvPuts = new AtomicLong()
  val kvPutNs = new AtomicLong()

  /** Counts and times every put of the wrapped client. Static counters:
    * local-mode tasks run in this JVM. */
  class CountingKv(inner: graft.io.Sinks.KvClient) extends graft.io.Sinks.KvClient {
    def put(table: String, key: String, item: Map[String, String]): Unit = {
      val t0 = System.nanoTime()
      inner.put(table, key, item)
      kvPutNs.addAndGet(System.nanoTime() - t0); kvPuts.incrementAndGet()
    }
    override def putBatch(table: String, items: Seq[(String, Map[String, String])]): Unit = {
      val t0 = System.nanoTime()
      inner.putBatch(table, items)
      kvPutNs.addAndGet(System.nanoTime() - t0); kvPuts.addAndGet(items.size)
    }
    override def close(): Unit = inner.close()
  }

  // ------------------------------------------------------------ codegen

  /** Milliseconds of whole-stage codegen compilation so far in this JVM,
    * summed over the histogram's retained samples (all of them while fewer
    * than its reservoir size of 1028 have been recorded), and the count. */
  def codegen(): (Long, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getSnapshot.getValues.sum, h.getCount)
  }

  /** Installs the listeners on the running session (the FS wrapper is
    * set before the session starts, see [[Main]]). */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new Listener)
    spark.listenerManager.register(new QeListener)
    spark.streams.addListener(new StreamListener)
  }

  /** Listener events arrive asynchronously: waits until every started
    * job and execution has its end event and every execution its phases. */
  def settle(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = jobs.values.asScala.forall(_.endMs >= 0) &&
      execs.values.asScala.forall(e => e.endMs >= 0)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // QE listener runs on its own bus queue after the end event
  }
}
