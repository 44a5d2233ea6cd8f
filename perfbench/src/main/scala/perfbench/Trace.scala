package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: wall-clock bounds for attributing Spark
  * events (milliseconds), monotonic bounds for its duration.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    endMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def interval: (Long, Long) = (startMs, endMs)
}

/** Spans recorded around the benchmark's calls into the program, kept in
  * memory until the run ends. One client thread, so a stack gives each
  * span its parent.
  */
final class Spans {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0

  def apply[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    stack = (id, name, System.currentTimeMillis(), System.nanoTime()) :: stack
    try f
    finally {
      val (_, _, s0, n0) = stack.head
      stack = stack.tail
      done += Span(id, name, stack.headOption.map(_._1).getOrElse(-1), s0,
        System.currentTimeMillis(), n0, System.nanoTime())
    }
  }

  def all: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq
}

final case class StageRec(submitMs: Long, tasks: Int, runMs: Long, cpuMs: Long,
    gcMs: Long, inputBytes: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, scanFiles: Long, scanBytes: Long, scanRows: Long)
final case class ProgressRec(atMs: Long, addBatchMs: Long, triggerMs: Long,
    planningMs: Long, inputRows: Long)

/** Spark's own counters, registered by the benchmark in the traced run
  * only: job and stage task metrics, query planning phases and scan-node
  * SQL metrics, and streaming progress.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  val jobs = ArrayBuffer.empty[(Long, Long)]
  val stages = ArrayBuffer.empty[StageRec]
  val queries = ArrayBuffer.empty[QeRec]
  val progress = ArrayBuffer.empty[ProgressRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      SparkCounters.this.synchronized {
        progress += ProgressRec(java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          d.getOrElse("addBatch", 0L),
          d.getOrElse("triggerExecution", 0L), d.getOrElse("queryPlanning", 0L),
          e.progress.numInputRows)
      }
    }
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
    this
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) synchronized {
      stages += StageRec(i.submissionTime.getOrElse(i.completionTime.getOrElse(0L)),
        i.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
    val at = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.endTimeMs).max
    var files, bytes, rows = 0L
    PlanWalk.scans(qe).foreach { m =>
      files += m.getOrElse("numFiles", 0L)
      bytes += m.getOrElse("filesSize", 0L)
      rows += m.getOrElse("numOutputRows", 0L)
    }
    synchronized {
      queries += QeRec(at, phase("analysis"), phase("optimization"), phase("planning"),
        files, bytes, rows)
    }
  }

  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Scan leaves of an executed plan, through adaptive stages and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  private val notScans = Set("LocalTableScan", "InMemoryTableScan", "Range")

  def scans(qe: QueryExecution): Seq[Map[String, Long]] =
    collectWithSubqueries(qe.executedPlan) {
      case p if p.children.isEmpty && p.nodeName.contains("Scan") &&
          !notScans.exists(p.nodeName.startsWith) =>
        p.metrics.map { case (k, v) => k -> v.value }
    }
}

/** Local filesystem that counts the calls made on it, installed as
  * `fs.file.impl` in the traced run only. Counters are JVM-wide because
  * Hadoop caches and shares filesystem instances.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
}

object CountingLocalFs {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong

  /** (read ops, write ops, list ops, bytes written) so far. */
  def snapshot(): Seq[Long] = {
    val written = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    Seq(reads.get, writes.get, lists.get, written)
  }
}
