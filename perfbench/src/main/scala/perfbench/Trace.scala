package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanosecond resolution, so benchmark spans line
  * up with the epoch-millisecond times carried by Spark's listener events.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6
}

/** Ops and spans of one run, kept in memory and written once at exit.
  *
  * An op is one client request (a declared query, a sink micro-batch or a
  * table read); every op is timed. With tracing on, each call the
  * benchmark makes into a layer is a span whose parent is the enclosing
  * span, and the ids of the current op and span ride on the SparkContext
  * local properties so every job a call submits names its caller.
  */
final class Recorder(val tracing: Boolean) {
  /** Set once the session exists; spans before that carry no job tags. */
  var sc: SparkContext = null
  val ops = new java.util.ArrayList[Map[String, Any]]()
  val spans = new java.util.ArrayList[Map[String, Any]]()
  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def op(kind: String, name: String)(body: => Unit): Unit = {
    val id = ops.size
    currentOp = id
    val t0 = Clock.nowMs()
    val err = try { span(s"op.$kind")(body); None }
    catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = Clock.nowMs()
    err.foreach(e => System.err.println(s"[perfbench] op $id $kind $name failed: $e"))
    ops.add(Map("id" -> id, "kind" -> kind, "name" -> name, "start" -> t0,
      "end" -> t1, "ok" -> err.isEmpty, "error" -> err.orNull))
    currentOp = -1
  }

  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      setProps(id)
      val t0 = Clock.nowMs()
      try body
      finally {
        val t1 = Clock.nowMs()
        stack = stack.tail
        setProps(parent)
        spans.add(Map("id" -> id, "name" -> name, "start" -> t0, "end" -> t1,
          "parent" -> parent, "op" -> currentOp))
      }
    }

  /** A span measured elsewhere (planner phases read from a tracker). */
  def addChild(name: String, start: Double, end: Double): Unit =
    if (tracing) {
      spans.add(Map("id" -> nextSpan, "name" -> name, "start" -> start,
        "end" -> end, "parent" -> stack.headOption.getOrElse(-1), "op" -> currentOp))
      nextSpan += 1
    }

  private def setProps(spanId: Int): Unit = if (sc != null) {
    sc.setLocalProperty("perfbench.span", spanId.toString)
    sc.setLocalProperty("perfbench.op", currentOp.toString)
  }
}

/** Listener records for the traced run: jobs with their call site and
  * task totals, planner phases, streaming progress and file-system events.
  * Callbacks run on Spark's listener bus threads; their own cost is summed
  * in `callbackNanos` so the tracing overhead has a direct reading too.
  */
final class Listeners extends SparkListener with QueryExecutionListener {
  import Listeners._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val callbackNanos = new java.util.concurrent.atomic.AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the result stage is created last and carries the job's call site:
    // the last Spark frame, then the caller's frames, one a line
    val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    val r = new JobRec(e.jobId, e.time.toDouble,
      prop("perfbench.span").map(_.toInt).getOrElse(-1),
      prop("perfbench.op").map(_.toInt).getOrElse(-1),
      site.linesIterator.map(_.trim).filter(_.nonEmpty).take(4).mkString("\n"),
      prop("sql.streaming.queryId").isDefined)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    Option(stageToJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (e.reason != org.apache.spark.Success) r.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          r.taskMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.spillMem += m.memoryBytesSpilled
          r.spillDisk += m.diskBytesSpilled
          r.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(recordPhases(funcName, qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    timed(recordPhases(funcName, qe))

  private def recordPhases(funcName: String, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add(Map("func" -> funcName, "phase" -> phase,
        "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble))
    }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "durationMs" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** Drops what was recorded so far (the set-up's jobs and batches). */
  def reset(): Unit = {
    jobs.clear()
    stageToJob.clear()
    phases.clear()
    progress.clear()
    callbackNanos.set(0)
    TracingFileSystem.events.clear()
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap)
}

object Listeners {
  final class JobRec(val id: Int, val start: Double, val span: Int, val op: Int,
      val site: String, val streaming: Boolean) {
    @volatile var end: Double = Double.NaN
    var stages, tasks, failedTasks = 0
    var taskMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spillMem, spillDisk, input = 0L
    def toMap: Map[String, Any] = synchronized(Map(
      "id" -> id, "start" -> start, "end" -> end, "span" -> span, "op" -> op,
      "site" -> site, "streaming" -> streaming, "stages" -> stages,
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_ms" -> taskMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
      "shuffle_read" -> shuffleRead, "spill_mem" -> spillMem,
      "spill_disk" -> spillDisk, "input" -> input))
  }
}

/** Local file system that records when the streaming sink's maintenance
  * lock is taken and released and which paths it deletes: `vacuumVersions`
  * runs inside the sink's micro-batch, so these events are the only view
  * of it from outside the engine. Installed for the traced run only.
  */
class TracingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (f.getName == TracingFileSystem.LockName) TracingFileSystem.record("lock", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val ok = super.delete(f, recursive)
    if (ok) TracingFileSystem.record(
      if (f.getName == TracingFileSystem.LockName) "unlock" else "delete", f)
    ok
  }
}

object TracingFileSystem {
  val LockName = "_maintenance.lock"
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  def record(kind: String, f: org.apache.hadoop.fs.Path): Unit =
    events.add(Map("kind" -> kind, "time" -> Clock.nowMs(), "path" -> f.toUri.getPath))
}
