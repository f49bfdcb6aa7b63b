package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One measured op: a single call into the engine, timed from outside. */
final case class OpRec(id: Long, cls: String, cycle: Int, startNs: Long,
                       endNs: Long, startMs: Long, endMs: Long, ok: Boolean) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** One write op as seen by walking its table before and after it. */
final case class CommitRec(filesAdded: Int, bytesAdded: Long, userBytes: Long)

/** State shared by the workloads: the session, the seed, the op runner
  * and (when tracing) the span recorder and trace-only samples. */
final class Harness(val spark: SparkSession, val seed: Long, trace: Boolean) {
  private val sc = spark.sparkContext
  val tracer = new Tracer(trace)
  if (trace) System.setProperty("spark.callstack.depth", SparkCounters.CallSiteDepth)
  val counters: Option[SparkCounters] =
    if (trace) Some(new SparkCounters(Layers.FplSiteTags)) else None
  val streams: Option[StreamCounters] =
    if (trace) Some(new StreamCounters) else None
  counters.foreach(sc.addSparkListener)
  streams.foreach(spark.streams.addListener)

  /** Ops are recorded only while measuring; set-up ops run the same way
    * but a failure there aborts the run. */
  var measuring = false
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failedByCheck = mutable.Set.empty[Long]
  val commits = mutable.ArrayBuffer.empty[CommitRec]
  /** Trace-only timing samples by metric name. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Trace-only counters by metric name (e.g. file-sets scanned). */
  val tallies = mutable.LinkedHashMap.empty[String, Double]
  private var nextOp = 1L
  private var currentCycle = 0
  var lastOpId = 0L

  def cycle(i: Int): Unit = currentCycle = i

  /** Run one op. Returns its id and its value (None if it threw). */
  def op[A](cls: String)(f: => A): (Long, Option[A]) = {
    val id = nextOp
    nextOp += 1
    lastOpId = id
    sc.setLocalProperty(SparkCounters.OpKey, id.toString)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r =
      try Right(tracer.root(id, cls)(f))
      catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val m1 = System.currentTimeMillis()
    sc.setLocalProperty(SparkCounters.OpKey, null)
    r match {
      case Left(e) if !measuring => throw e
      case Left(e) =>
        System.err.println(s"[graftbench] op $id ($cls) failed: $e")
      case Right(_) =>
    }
    if (measuring)
      ops += OpRec(id, cls, currentCycle, t0, t1, m0, m1, r.isRight)
    (id, r.toOption)
  }

  /** Mark a measured op whose output was wrong. */
  def fail(id: Long, why: String): Unit = {
    if (measuring || ops.exists(_.id == id)) {
      System.err.println(s"[graftbench] op $id output check failed: $why")
      failedByCheck += id
    } else sys.error(s"set-up output check failed: $why")
  }

  /** A span around a call into one layer; when tracing, its duration is
    * also kept as a sample of `metric`. */
  def layer[A](layer: String, name: String, metric: String = null)(f: => A): A =
    if (!trace) f
    else {
      val t0 = System.nanoTime()
      val r = tracer.span(layer, name)(f)
      if (metric != null && measuring)
        sample(metric, (System.nanoTime() - t0) / 1e6)
      r
    }

  /** Trace-only work, charged to the overhead account; skipped unless
    * tracing a measured op. */
  def traced(f: => Unit): Unit = if (trace && measuring) tracer.extra(f)

  def sample(metric: String, v: Double): Unit =
    if (trace && measuring)
      samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  def tally(metric: String, v: Double): Unit =
    if (trace && measuring) tallies(metric) = tallies.getOrElse(metric, 0.0) + v

  /** Record the QueryPlanningTracker phases of an executed DataFrame. */
  def planPhases(df: DataFrame): Unit =
    if (trace && measuring) tracer.extra {
      val ph = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        sample(s"plans.${p}_ms", ph.get(p).fold(0.0)(_.durationMs.toDouble))
        ph.get(p).foreach(s => planSpans += ((lastOpId, p, s.startTimeMs, s.endTimeMs)))
      }
    }
  val planSpans = mutable.ArrayBuffer.empty[(Long, String, Long, Long)]

  /** Wrap a write op on `table`: when tracing, walk the table (or the
    * `walk` tree) before and after it (trace-only work) and keep what
    * the commit added. */
  def write[A](cls: String, table: graft.tables.VersionedTable,
               userBytes: => Long, walk: String = null)(f: => A): (Long, Option[A]) =
    if (!trace || !measuring) op(cls)(f)
    else {
      val root = java.nio.file.Paths.get(Option(walk).getOrElse(table.root))
      val (before, ub) = tracer.extra((Harness.fileSizes(root), userBytes))
      val r = op(cls)(f)
      tracer.extra {
        val after = Harness.fileSizes(root)
        val added = after.keySet -- before.keySet
        commits += CommitRec(added.size, added.toSeq.map(after).sum, ub)
      }
      r
    }

  /** After each op: time one version-log read of the workload's main
    * table (trace only — `log.history_ms`). */
  def probeLog(table: graft.tables.VersionedTable): Unit =
    if (trace && measuring) tracer.extra {
      val t0 = System.nanoTime()
      table.history
      sample("log.history_ms", (System.nanoTime() - t0) / 1e6)
    }
}

object Harness {
  /** Every regular file under `root` with its size, keyed by path. */
  def fileSizes(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def treeBytes(root: Path): Long = fileSizes(root).values.sum

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
