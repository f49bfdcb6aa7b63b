package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

/** One benchmark run:
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <scratch dir> [--trace-out <file>]
  * }}}
  * Prints a context line, then the result object as the last stdout
  * line. Exits 1 when any op failed or produced a wrong output. */
object Main {
  val SetupReps = 3
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-$name")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.MvRewrite.install(spark)
    val sessionS = (System.nanoTime() - s0) / 1e9
    var exit = 1
    try {
      val h = new Harness(spark, seed, trace)
      val w = Workload(name, h)

      // set-up, several times over: each rep seeds a fresh warehouse
      // (timed); the last rep's warehouse is warmed up with untimed
      // cycles and then measured
      val setups = (1 to SetupReps).map { r =>
        val wh = work.resolve(s"wh$r")
        val t0 = System.nanoTime()
        w.setup(wh.toString)
        val s = (System.nanoTime() - t0) / 1e9
        if (r > 1) Harness.deleteTree(work.resolve(s"wh${r - 1}"))
        s
      }
      val w0 = System.nanoTime()
      (0 until w.warmupCycles).foreach { k =>
        h.cycle(k)
        w.cycle(k)
      }
      val warmupS = (System.nanoTime() - w0) / 1e9
      val wh = work.resolve(s"wh$SetupReps")
      val stored = Harness.treeBytes(wh).toDouble / w.userBytes()

      // the measured closed loop
      val gc0 = gcMs()
      h.measuring = true
      val loop0 = System.nanoTime()
      var i = w.warmupCycles
      while (System.nanoTime() - loop0 < seconds * 1e9) {
        h.cycle(i)
        w.cycle(i)
        i += 1
      }
      val loopS = (System.nanoTime() - loop0) / 1e9
      h.measuring = false
      val gcLoop = gcMs() - gc0
      val heapMb = liveHeapMb()
      val calCpu = Seq(calibrate(spark), calibrate(spark))
      val calIo = Seq(graft.Bench.calibrateIo(work), graft.Bench.calibrateIo(work))

      w.verify()
      if (trace) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

      val ops = h.ops.toSeq
      val failed = ops.count(o => !o.ok || h.failedByCheck(o.id))
      val cycleMs = ops.groupBy(_.cycle).toSeq.sortBy(_._1).map(_._2.map(_.wallMs).sum)
      // a typical cycle: the sum over op classes of each class's median
      def classSum(xs: Seq[OpRec]): Double =
        xs.groupBy(_.cls).values.map(c => Stats.median(c.map(_.wallMs))).sum
      val cycleP50 = classSum(ops)
      val e2e = mutable.LinkedHashMap[String, (Double, String)](
        "setup_s" -> (Stats.median(setups), "s"),
        "cycle_p50_ms" -> (cycleP50, "ms"),
        "stored_bytes_ratio" -> (stored, "ratio"),
        "live_heap_mb" -> (heapMb, "MB"))

      // per-class latencies, plus a p90 where the run holds >= 100 samples
      val classes = w.classGroups.flatMap { g =>
        val mine = ops.filter(o => g.classes(o.cls))
        val xs = mine.map(_.wallMs)
        val p50 =
          if (g.perClassSum) classSum(mine) else Stats.median(xs)
        Seq(g.name -> Stats.round(p50 * g.scale)) ++
          (if (xs.size >= 100 && !g.perClassSum)
             Seq(g.name.replace("p50", "p90") -> Stats.round(Stats.quantile(xs, 0.9) * g.scale))
           else Nil)
      }
      val context = Map(
        "workload" -> name, "seed" -> seed, "trace" -> trace,
        "spark_master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "cores" -> Runtime.getRuntime.availableProcessors(),
        "calibration_cpu_s" -> calCpu.map(Stats.round),
        "calibration_io_s" -> calIo.map(Stats.round),
        "session_start_s" -> Stats.round(sessionS),
        "setup_reps_s" -> setups.map(Stats.round),
        "warmup_s" -> Stats.round(warmupS),
        "measured_s" -> Stats.round(loopS),
        "ops_per_s" -> Stats.round(ops.size / loopS),
        "cycle_ms" -> cycleMs.map(Stats.round),
        "ops_by_class" -> ops.groupBy(_.cls).map { case (c, xs) => c -> xs.size },
        "failed_ratio" -> (if (ops.isEmpty) 1.0 else failed.toDouble / ops.size),
        "class_medians" -> classes.toMap)

      val metrics =
        if (!trace) e2e
        else {
          val (layers, traceDoc) = Layers.report(h, w, gcLoop, context, e2e)
          opt.get("trace-out").foreach { p =>
            Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
            Files.writeString(Paths.get(p), Json.render(traceDoc))
          }
          layers
        }
      val correct = ops.nonEmpty && failed == 0
      println(Json.render(Map("context" -> context)))
      println(Json.render(mutable.LinkedHashMap(
        "correct" -> correct,
        "attempted" -> ops.size,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
      exit = if (correct) 0 else 1
    } finally {
      spark.stop()
      System.out.flush()
    }
    sys.exit(exit)
  }

  /** The CPU microtask `graft.Bench` samples between queries. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(10000000L).agg(sum("id")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def round(x: Double): Double = math.rint(x * 1e4) / 1e4
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString + ".0"
      else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(render)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 =>
      render(Seq(p.productElement(0), p.productElement(1)))
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
