package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One slice_v1 DAG task within op `op`: its interval, epoch
  * milliseconds (listener clock), and its Spark job count. */
final case class FplTask(op: Long, task: String, startMs: Long, endMs: Long, jobs: Int)

/** Per-layer figures of a traced run, and the trace document: every
  * span, each layer's self time, and the Spark counts of every op. A
  * metric whose layer the workload does not exercise reads 0. */
object Layers {
  val SelfLayers = Seq("bench", "tables", "plans", "spark", "streaming", "fpl")
  /** The slice_v1 DAG tasks in run order, each with the `Pipeline`
    * method whose frame tags its Spark jobs. An untagged job (the
    * flagship query's collect) belongs to the last task. */
  val FplTasks = Seq("ingest_bronze" -> "ingestBronze", "silver_dims" -> "buildSilverDims",
    "gold_dims" -> "publishGoldDims", "horizon" -> "buildHorizonFact",
    "query" -> "playerFixtureHorizon")
  val FplSiteTags = FplTasks.map { case (t, m) => s"graft.fpl.Pipeline.$m(" -> t }
  val StreamPhases = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
    "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
    "commitOffsets" -> "commit_offsets")

  def report(h: Harness, w: Workload, gcLoopMs: Long, context: Map[String, Any],
             e2e: collection.Map[String, (Double, String)])
      : (mutable.LinkedHashMap[String, (Double, String)], Map[String, Any]) = {
    val ops = h.ops.toSeq
    val n = math.max(1, ops.size).toDouble
    val sc = h.counters.get
    val perOp = ops.map(o => o -> sc.forOp(o.id))
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
    def mean(k: String): Double = Stats.mean(h.samples.getOrElse(k, Nil).toSeq)
    def tally(k: String): Double = h.tallies.getOrElse(k, 0.0)

    // Spark runtime, per op
    put("spark.jobs_per_op", perOp.map(_._2.jobs).sum / n, "count")
    put("spark.stages_per_op", perOp.map(_._2.stages).sum / n, "count")
    put("spark.tasks_per_op", perOp.map(_._2.tasks).sum / n, "count")
    put("spark.task_ms_per_op", perOp.map(_._2.taskMs).sum / n, "ms")
    put("spark.cpu_ms_per_op", perOp.map(_._2.cpuNs).sum / 1e6 / n, "ms")
    put("spark.shuffle_bytes_per_op", perOp.map(_._2.shuffleBytes).sum / n, "bytes")
    put("spark.driver_ms_per_op", perOp.map { case (o, c) =>
      o.wallMs - Intervals.unionWithin(c.jobIntervals.toSeq, o.startMs, o.endMs)
    }.sum / n, "ms")
    put("jvm.gc_ms_per_op", gcLoopMs / n, "ms")

    // graft.tables: SQL front end, version log, commit path, read path
    put("sql.call_ms", mean("sql.call_ms"), "ms")
    put("log.history_ms", mean("log.history_ms"), "ms")
    put("log.files", logFiles(w), "count")
    put("log.checkpoint_ms", checkpointMs(w), "ms")
    val commits = h.commits.toSeq
    val nc = math.max(1, commits.size).toDouble
    put("commit.files_added", commits.map(_.filesAdded).sum / nc, "count")
    put("commit.bytes_written", commits.map(_.bytesAdded).sum / nc, "bytes")
    val userIn = commits.map(_.userBytes).sum
    put("commit.write_amp",
      if (userIn == 0) 0.0 else commits.map(_.bytesAdded).sum.toDouble / userIn, "ratio")
    put("read.plan_ms", mean("read.plan_ms"), "ms")
    put("read.skip_ratio", if (tally("read.sets_total") == 0) 0.0
      else tally("read.sets_skipped") / tally("read.sets_total"), "ratio")

    // graft.plans
    Seq("analysis", "optimization", "planning").foreach(p =>
      put(s"plans.${p}_ms", mean(s"plans.${p}_ms"), "ms"))
    put("plans.mv_hit_ratio", if (tally("plans.mv_eligible") == 0) 0.0
      else tally("plans.mv_hits") / tally("plans.mv_eligible"), "ratio")

    // graft.streaming, per trigger op
    val triggers = ops.filter(_.cls == "trigger")
    val nt = math.max(1, triggers.size).toDouble
    val progress = triggerProgress(h, w, triggers)
    put("stream.start_ms", mean("stream.start_ms"), "ms")
    StreamPhases.foreach { case (phase, metric) =>
      put(s"stream.${metric}_ms", progress.map(_._2.flatMap(p =>
        Option(p.durationMs.get(phase)).map(_.toDouble)).sum).sum / nt, "ms")
    }
    put("stream.batches_per_trigger",
      progress.map(_._2.count(_.numInputRows > 0)).sum / nt, "count")
    put("stream.sink_merge_ms",
      h.samples.getOrElse("stream.sink_merge_ms", Nil).sum / nt, "ms")

    // graft.fpl, per slice_v1 run: time and jobs of each DAG task
    val slices = ops.filter(_.cls == "slice_v1")
    val ns = math.max(1, slices.size).toDouble
    val tasks = slices.flatMap(o => fplTasks(o, sc.forOp(o.id)))
    FplTasks.foreach { case (t, _) =>
      val mine = tasks.filter(_.task == t)
      put(s"fpl.${t}_ms", mine.map(x => x.endMs - x.startMs).sum / ns, "ms")
      put(s"fpl.${t}_jobs", mine.map(_.jobs).sum / ns, "count")
    }

    // self time of every layer, and what the tracing itself cost
    val (tree, self) = selfTimes(h, progress, tasks)
    SelfLayers.foreach(l =>
      put(s"self.${l}_ms_per_op", self.getOrElse(l, (0L, 0))._1 / 1e6 / n, "ms"))
    put("trace.extra_ms_per_op", h.tracer.extraNs / 1e6 / n, "ms")

    val doc = Map(
      "context" -> context,
      "e2e_traced" -> e2e.map { case (k, v) => k -> v._1 },
      "per_layer" -> m.map { case (k, v) => k -> v._1 },
      "self_time" -> SelfLayers.map { l =>
        val (ns0, cnt) = self.getOrElse(l, (0L, 0))
        Map("layer" -> l, "self_ms" -> ns0 / 1e6, "spans" -> cnt)
      },
      "op_counts" -> perOp.map { case (o, c) =>
        Map("op" -> o.id, "class" -> o.cls, "cycle" -> o.cycle, "wall_ms" -> o.wallMs,
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks)
      },
      "spans" -> tree.map(s => Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> (s.startNs - ops.headOption.fold(0L)(_.startNs)) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6)))
    (m, doc)
  }

  private def logFiles(w: Workload): Double = {
    val dir = Paths.get(w.mainTable.root, "_log")
    if (!Files.isDirectory(dir)) 0.0
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.size.toDouble finally s.close()
    }
  }

  /** Time to fold the main table's log into a checkpoint: the extra
    * work a commit landing on a checkpoint version does (runs this short
    * rarely cross one). Taken after the output checks. */
  private def checkpointMs(w: Workload): Double = {
    val t0 = System.nanoTime()
    w.mainTable.checkpointLog()
    (System.nanoTime() - t0) / 1e6
  }

  /** The DAG tasks of one slice_v1 op, from its jobs' tags.
    * `runSliceV1` runs the tasks one
    * after the other, so a task runs from the end of the previous task's
    * last job (the op's start, for the first) to the end of its own last
    * job, and the last task runs to the op's end. A task without jobs
    * gets no time. */
  private def fplTasks(o: OpRec, c: WorkCounters): Seq[FplTask] = {
    val last = FplTasks.size - 1
    var at = o.startMs
    FplTasks.zipWithIndex.map { case ((t, _), k) =>
      val jobs = c.jobRecs.filter(j => if (k == last) !FplTasks.init.exists(_._1 == j.tag)
                                       else j.tag == t)
      val end = if (k == last) o.endMs else jobs.map(_.endMs).maxOption.fold(at)(math.max(at, _))
      val r = FplTask(o.id, t, at, end, jobs.size)
      at = end
      r
    }
  }

  private def triggerProgress(h: Harness, w: Workload, triggers: Seq[OpRec])
      : Seq[(OpRec, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])] =
    w match {
      case c: CommitPath =>
        val runOf = c.streamRuns.toMap
        triggers.map(o => o -> runOf.get(o.id).fold(
          Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress])(h.streams.get.progress))
      case _ => Nil
    }

  /** Spans of the measured ops, with slice_v1 DAG tasks (from their
    * jobs' tags), Spark jobs (listener timestamps),
    * planner phases (QueryPlanningTracker) and streaming phases
    * (StreamingQueryProgress.durationMs, laid end to end from the
    * trigger's start) added as children of the innermost traced span
    * holding their midpoint; self time is a span's duration minus the
    * union of its children. Streaming phases are recorded but
    * left out of the self-time sums: their placement is approximate. */
  private def selfTimes(h: Harness,
      progress: Seq[(OpRec, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])],
      tasks: Seq[FplTask])
      : (Seq[Span], Map[String, (Long, Int)]) = {
    val offset = {
      val ns = System.nanoTime(); val ms = System.currentTimeMillis()
      ns - ms * 1000000L
    }
    def ns(ms: Long): Long = ms * 1000000L + offset
    val measured = h.ops.map(_.id).toSet
    var nextId = -1L
    def derived(op: Long, layer: String, name: String, a: Long, b: Long): Span = {
      nextId -= 1
      Span(nextId, op, 0L, layer, name, a, b)
    }
    val traced = h.tracer.spans.filter(s => measured(s.op)).toSeq
    val rootOf = traced.filter(_.parent == 0L).map(s => s.op -> s.id).toMap
    val real = traced ++ tasks.map(t =>
      derived(t.op, "fpl", t.task, ns(t.startMs), ns(t.endMs)).copy(parent = rootOf.getOrElse(t.op, 0L)))
    val jobs = h.ops.toSeq.flatMap(o => h.counters.get.forOp(o.id).jobIntervals
      .map { case (a, b) => derived(o.id, "spark", "job", ns(a), ns(b)) })
    val plans = h.planSpans.toSeq.filter(p => measured(p._1))
      .map { case (op, name, a, b) => derived(op, "plans", name, ns(a), ns(b)) }
    val phases = progress.flatMap { case (o, ps) =>
      ps.flatMap { p =>
        var t = ns(java.time.Instant.parse(p.timestamp).toEpochMilli)
        StreamPhases.flatMap { case (phase, _) =>
          Option(p.durationMs.get(phase)).map { d =>
            val s = derived(o.id, "streaming", phase, t, t + d * 1000000L)
            t += d * 1000000L
            s
          }
        }
      }
    }
    val realByOp = real.groupBy(_.op)
    def innermost(op: Long, at: Long): Long = realByOp.getOrElse(op, Nil)
      .filter(s => s.startNs <= at && at <= s.endNs)
      .minByOption(s => s.endNs - s.startNs).fold(0L)(_.id)
    val nested = real ++ (jobs ++ plans).map(d =>
      d.copy(parent = innermost(d.op, d.startNs + (d.endNs - d.startNs) / 2)))
    val children = nested.groupBy(_.parent)
    val self = nested.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.layer -> math.max(0L, (s.endNs - s.startNs) -
        Intervals.unionWithin(kids, s.startNs, s.endNs))
    }.groupBy(_._1).map { case (l, xs) => l -> (xs.map(_._2).sum, xs.size) }
    val phaseSpans = phases.map { p =>
      val holder = nested.filter(s => s.op == p.op && s.name == "awaitTermination")
        .find(s => s.startNs <= p.startNs && p.startNs <= s.endNs)
      p.copy(parent = holder.fold(0L)(_.id))
    }
    (nested ++ phaseSpans, self)
  }
}
