package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One Spark job: its active interval, epoch milliseconds (listener
  * clock), and the tag of the code that launched it ("" if untagged). */
final case class JobRec(startMs: Long, endMs: Long, tag: String)

/** Spark-side work of one op, filled by [[SparkCounters]]. */
final class WorkCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  val jobRecs = mutable.ArrayBuffer.empty[JobRec]
  def jobIntervals: Seq[(Long, Long)] = jobRecs.toSeq.map(j => (j.startMs, j.endMs))
}

/** Attributes every Spark job, stage and task to the op that launched
  * it. Each op sets the `graftbench.op` local property on the client
  * thread; Spark copies local properties into the threads it spawns for
  * that work (stream execution, broadcast exchange), so the attribution
  * is exact rather than time-windowed.
  *
  * Each job is also tagged from its call site: the first `(frame, tag)`
  * of `siteTags` whose frame prefix occurs in the launching thread's
  * stack. A SQL job's stack is its execution's (`spark.sql.execution.id`;
  * the execution starts on the client thread even when a broadcast
  * thread submits the job), any other job's is its result stage's. */
final class SparkCounters(siteTags: Seq[(String, String)]) extends SparkListener {
  import SparkCounters._

  private val byOp = mutable.HashMap.empty[Long, WorkCounters]
  private val stageOwner = mutable.HashMap.empty[Int, Long]
  private val openJobs = mutable.HashMap.empty[Int, (Long, Long, String)]
  private val execTags = mutable.HashMap.empty[Long, String]

  private def owner(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(ps => Option(ps.getProperty(OpKey))).map(_.toLong)
  private def acc(op: Long): WorkCounters = byOp.getOrElseUpdate(op, new WorkCounters)
  private def tagOf(stack: String): String =
    siteTags.collectFirst { case (frame, tag) if stack.contains(frame) => tag }.getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execTags(s.executionId) = tagOf(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    owner(e.properties).foreach { op =>
      acc(op).jobs += 1
      val exec = Option(e.properties.getProperty(ExecIdKey)).map(_.toLong)
      val tag = exec.flatMap(execTags.get).getOrElse(
        e.stageInfos.maxByOption(_.stageId).fold("")(s => tagOf(s.details)))
      openJobs(e.jobId) = (op, e.time, tag)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (op, t0, tag) =>
      acc(op).jobRecs += JobRec(t0, e.time, tag)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      owner(e.properties).foreach { op =>
        acc(op).stages += 1
        stageOwner(e.stageInfo.stageId) = op
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { op =>
      val a = acc(op)
      val m = e.taskMetrics
      a.tasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def forOp(op: Long): WorkCounters =
    synchronized(byOp.getOrElse(op, new WorkCounters))
}

object SparkCounters {
  val OpKey = "graftbench.op"
  val ExecIdKey = "spark.sql.execution.id"
  /** Stack depth Spark keeps in a call site (20 by default); deep enough
    * for the launching frames to reach the workload's own. */
  val CallSiteDepth = "512"
}

/** Keeps every micro-batch progress report, keyed by query run id. */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  private val byRun =
    mutable.HashMap.empty[java.util.UUID, mutable.ArrayBuffer[StreamingQueryProgress]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    byRun.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer.empty) +=
      e.progress
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def progress(run: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(byRun.get(run).fold(Seq.empty[StreamingQueryProgress])(_.toSeq))
}

/** One traced interval. `startNs`/`endNs` are on the `System.nanoTime`
  * clock; listener-derived spans are converted onto it. */
final case class Span(id: Long, op: Long, parent: Long, layer: String,
                      name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, [[span]] is a plain call. The
  * client is one thread; a stream's foreachBatch runs on the stream
  * thread while the client blocks on it, so one shared stack still
  * describes the nesting. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[(Long, Long)] = Nil // (span id, op id)
  /** Time spent on trace-only work (extra metadata calls, directory
    * walks), so the traced run can state its own overhead. */
  var extraNs = 0L

  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val (id, op, parent) = synchronized {
        val id = nextId; nextId += 1
        val (parent, op) = stack.headOption.getOrElse((0L, -1L))
        stack = (id, op) :: stack
        (id, op, parent)
      }
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.tail
          spans += Span(id, op, parent, layer, name, t0, t1)
        }
      }
    }

  /** Open the root span of op `op`. */
  def root[A](op: Long, name: String)(f: => A): A =
    if (!on) f
    else {
      synchronized { stack = (0L, op) :: stack }
      try span("bench", name)(f) finally synchronized { stack = stack.tail }
    }

  /** Run trace-only work and charge it to the overhead account. */
  def extra[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally extraNs += System.nanoTime() - t0
  }
}

object Intervals {
  /** Total length of the union of `xs` clipped to [lo, hi]. */
  def unionWithin(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
