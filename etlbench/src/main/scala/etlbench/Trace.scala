package etlbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of metadata calls on the local file system, process-wide.
  * Installed only for traced runs, as `fs.file.impl`. */
object FsCalls {
  val list = new LongAdder
  val open = new LongAdder
  val create = new LongAdder
}

class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCalls.list.increment(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int) = {
    FsCalls.open.increment(); super.open(f, bufferSize)
  }
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    if (!append) FsCalls.create.increment()
    super.createOutputStreamWithMode(f, append, permission)
  }
}

class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

/** Bytes moved through the local file system (Hadoop's own always-on
  * statistics, so they are available untraced too). */
object FsBytes {
  private def stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
  def read: Long = stats.map(_.getBytesRead).sum
  def written: Long = stats.map(_.getBytesWritten).sum
}

/** One traced span. Times are epoch milliseconds; `parent` is the id of
  * the enclosing span (-1 for an op) and `op` the op it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** Task-side totals of one op. */
final class TaskTotals {
  var cpuNs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
}

/** Catalyst rule time, JVM-wide: every analyzer and optimizer run,
  * including plans built for caching and adaptive re-optimization that
  * no QueryExecutionListener call reports. */
object RuleTime {
  def nanos: Long =
    org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time
}

/** Records a named span around a call into one engine layer. */
trait Layer {
  def apply[T](name: String)(body: => T): T
}

object Layer {
  val off: Layer = new Layer { def apply[T](name: String)(body: => T): T = body }
}

/** Per-layer tracing from outside the engine. A SparkListener records
  * jobs and task metrics, a QueryExecutionListener the planning phases
  * of each query, and file-system counters and Catalyst rule time are
  * diffed around each op. Ops and the layer calls inside them are spans
  * too; a job or planning phase belongs to the innermost open span at
  * its start. Spans stay in memory until [[write]]. Only ops run with
  * `traceIt` are recorded; for the others each callback returns early,
  * which is what the overhead figure compares against. */
final class Tracer(spark: SparkSession) extends Layer {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val scoped = mutable.Map.empty[Int, Span] // op and layer spans by id
  private val opSpan = mutable.Map.empty[Int, Int] // op -> span id
  private val counters = mutable.Map.empty[Int, (FsCounts, Long)]
  private val jobStart = mutable.Map.empty[Int, (Long, Span)]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val totals = mutable.Map.empty[Int, TaskTotals]
  private var nextId = 0
  private var stack: List[Span] = Nil // open spans of the client thread

  private def addSpan(name: String, s: Long, e: Long, parent: Int, op: Int): Span =
    synchronized {
      nextId += 1
      val sp = Span(nextId, name, s, e, parent, op)
      spans += sp
      sp
    }

  /** The innermost op or layer span of a traced op that holds wall
    * time `t`, optionally within op `op`. */
  private def ownerAt(t: Long, op: Option[Int] = None): Option[Span] = synchronized {
    scoped.values.filter(s => s.start <= t && t <= s.end && op.forall(_ == s.op))
      .maxByOption(s => (s.start, s.id))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt)
      ownerAt(e.time, op).orElse(op.flatMap(o => Tracer.this.synchronized(
        opSpan.get(o).flatMap(scoped.get)))).foreach { owner =>
        Tracer.this.synchronized {
          jobStart(e.jobId) = (e.time, owner)
          e.stageIds.foreach(stageOp(_) = owner.op)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobStart.remove(e.jobId)).foreach { case (start, owner) =>
        addSpan("job", start, e.time, owner.id, owner.op)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stageOp.get(e.stageId).foreach { op =>
          val t = totals.getOrElseUpdate(op, new TaskTotals)
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.maxTaskMs = math.max(t.maxTaskMs, e.taskInfo.duration)
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        ownerAt(p.startTimeMs).foreach { owner =>
          addSpan(s"plan.$name", p.startTimeMs, p.endTimeMs, owner.id, owner.op)
        }
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def openSpan(name: String, op: Int): Span = {
    val s = addSpan(name, System.currentTimeMillis(), Long.MaxValue,
      stack.headOption.map(_.id).getOrElse(-1), op)
    synchronized(scoped(s.id) = s)
    stack = s :: stack
    s
  }

  private def closeSpan(s: Span): Span = {
    val closed = s.copy(end = System.currentTimeMillis())
    synchronized {
      scoped(s.id) = closed
      spans(spans.lastIndexWhere(_.id == s.id)) = closed
    }
    stack = stack.tail
    closed
  }

  /** A layer call inside the current traced op; untraced ops pass through. */
  def apply[T](name: String)(body: => T): T = stack.headOption match {
    case None => body
    case Some(top) =>
      val s = openSpan(name, top.op)
      try body finally closeSpan(s)
  }

  /** Runs `body` as op `op` of kind `kind`, traced or not, and returns
    * its result with its wall seconds. */
  def run[T](op: Int, kind: String, traceIt: Boolean)(body: => T): (T, Double) = {
    val before = if (traceIt) (FsCounts.now(), RuleTime.nanos) else null
    val span = if (traceIt) {
      val s = openSpan(kind, op)
      synchronized(opSpan(op) = s.id)
      s
    } else null
    sc.setLocalProperty(OpProperty, op.toString)
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.setLocalProperty(OpProperty, null)
      if (traceIt) {
        closeSpan(span)
        val delta = (FsCounts.now().minus(before._1), RuleTime.nanos - before._2)
        synchronized(counters(op) = delta)
      }
    }
  }

  private def selfMs(s: Span, all: Seq[Span]): Long =
    Stats.selfTime((s.start, s.end), all.filter(_.parent == s.id).map(k => (k.start, k.end)))

  /** (kind, op id, per-layer metrics) of each traced op, once every
    * posted event has been delivered. */
  def records(): Seq[(String, Int, Map[String, Double])] = {
    org.apache.spark.etlbench.ListenerBusDrain(sc)
    synchronized {
      val all = spans.toSeq
      opSpan.map { case (op, sid) =>
        val s = scoped(sid)
        val mine = all.filter(_.op == op)
        val jobs = mine.filter(_.name == "job").map(j => (j.start, j.end))
        val plans = mine.filter(_.name.startsWith("plan.")).map(p => (p.start, p.end))
        val t = totals.getOrElse(op, new TaskTotals)
        val (fs, ruleNs) = counters(op)
        val driverMs = Stats.selfTime((s.start, s.end), jobs)
        (s.name, op, Map(
          "plan_s" -> Stats.unionLength(plans) / 1e3,
          "rules_s" -> ruleNs / 1e9,
          "jobs" -> jobs.size.toDouble,
          "job_s" -> (s.end - s.start - driverMs) / 1e3,
          "driver_s" -> driverMs / 1e3,
          "task_cpu_s" -> t.cpuNs / 1e9,
          "gc_s" -> t.gcMs / 1e3,
          "max_task_s" -> t.maxTaskMs / 1e3,
          "shuffle_mb" -> t.shuffleBytes / 1e6,
          "rows_decoded" -> t.recordsRead.toDouble,
          "fs_list" -> fs.list.toDouble,
          "fs_open" -> fs.open.toDouble,
          "fs_create" -> fs.create.toDouble,
          "read_mb" -> fs.readBytes / 1e6,
          "written_mb" -> fs.writtenBytes / 1e6))
      }.toSeq
    }
  }

  /** Writes every span as one JSON line, with its self time (duration
    * minus what its children cover). */
  def write(path: java.nio.file.Path): Unit = {
    val all = synchronized(spans.toList)
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end},""" +
        s""""self_ms":${selfMs(s, all)},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  /** Total self time per span name over the traced ops, in seconds. */
  def selfByName(): Seq[(String, Double, Int)] = {
    val all = synchronized(spans.toList)
    all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(selfMs(_, all)).sum / 1e3, ss.size)
    }.sortBy(-_._2)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

final case class FsCounts(list: Long, open: Long, create: Long,
                          readBytes: Long, writtenBytes: Long) {
  def minus(o: FsCounts): FsCounts = FsCounts(list - o.list, open - o.open,
    create - o.create, readBytes - o.readBytes, writtenBytes - o.writtenBytes)
}

object FsCounts {
  def now(): FsCounts = FsCounts(FsCalls.list.sum, FsCalls.open.sum,
    FsCalls.create.sum, FsBytes.read, FsBytes.written)
}

object Tracer {
  val OpProperty = "etlbench.op"
}
