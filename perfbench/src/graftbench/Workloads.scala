package graftbench

import java.nio.file.Paths
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.fpl.{Bronze, Pipeline, SampleData}
import graft.plans.MvRewrite
import graft.tables.{Catalog, GraftSql, VersionedTable}

/** A closed-loop workload: one client thread issues one op after the
  * other. `setup` builds a fresh warehouse and seeds it; `cycle` is the
  * unit the measured loop repeats, after `warmupCycles` untimed ones. */
abstract class Workload(val h: Harness) {
  def spark = h.spark
  def seed: Long = h.seed
  def setup(wh: String): Unit
  def cycle(i: Int): Unit
  /** Table whose version log the `log.*` metrics follow. */
  def mainTable: VersionedTable
  /** Bytes of user rows the warehouse holds (measured after set-up). */
  def userBytes(): Long
  /** End-of-run output checks; failures go to [[Harness.fail]]. */
  def verify(): Unit
  /** Untimed cycles run on the measured warehouse before measuring. */
  def warmupCycles: Int = 2
  /** Context figures: per-class latencies over the measured ops. */
  def classGroups: Seq[ClassGroup]
}

/** A named latency over some op classes: the median over all their ops
  * pooled, or (`perClassSum`) the sum of each class's median; `scale`
  * converts from milliseconds. A p90 is added where the pooled sample
  * holds at least 100 ops. */
final case class ClassGroup(name: String, classes: Set[String],
                            perClassSum: Boolean = false, scale: Double = 1.0)

object Workload {
  val Names = Seq("commit_path", "snapshot_scan", "medallion_refresh")
  def apply(name: String, h: Harness): Workload = name match {
    case "commit_path"       => new CommitPath(h)
    case "snapshot_scan"     => new SnapshotScan(h)
    case "medallion_refresh" => new MedallionRefresh(h)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The write path: each cycle runs the SQL DML statements of
  * [[DmlCommit]] and then the append-and-trigger of [[StreamTrigger]],
  * on separate tables of one warehouse. The two share the commit layer;
  * their per-class medians and counters tell them apart. */
final class CommitPath(h: Harness) extends Workload(h) {
  private val dml = new DmlCommit(h)
  private val stream = new StreamTrigger(h)
  def setup(wh: String): Unit = { dml.setup(wh); stream.setup(wh) }
  def cycle(i: Int): Unit = { dml.cycle(i); stream.cycle(i) }
  def mainTable: VersionedTable = dml.table
  def userBytes(): Long = dml.userBytes() + stream.userBytes()
  def verify(): Unit = { dml.verify(); stream.verify() }
  def classGroups = dml.classGroups ++ stream.classGroups
  def streamRuns: Seq[(Long, java.util.UUID)] = stream.runs.toSeq
}

/** The DML half of [[CommitPath]]: MERGE INTO / UPDATE / DELETE through
  * `GraftSql.sql` against a merge-bucketed `silver.orders`. Checked
  * against a plain-Spark replay of the same statements. */
final class DmlCommit(h: Harness) {
  private def spark = h.spark
  private def seed = h.seed
  val Rows = 60000L
  val Residues = 120L // matched MERGE keys per cycle: Rows / Residues
  val NewKeys = 500L

  private var cat: Catalog = _
  private var sql: GraftSql = _
  private var t: VersionedTable = _
  /** Committed statements, in order: (op id, class, cycle). */
  private val stmts = mutable.ArrayBuffer.empty[(Long, String, Int)]
  private var version = -1L

  def table: VersionedTable = t
  def classGroups = Seq(ClassGroup("merge_p50_ms", Set("merge")),
    ClassGroup("dml_p50_ms", Set("update", "delete")),
    ClassGroup("commit_p50_ms", Set("merge", "update", "delete")))

  private def mergeSource(i: Int): DataFrame = {
    val r = Gen.pick(seed, Residues, 1, i)
    val matched = spark.range(0, Rows / Residues)
      .select((col("id") * Residues + r + 1).as("k"))
    val fresh = spark.range(0, NewKeys)
      .select((col("id") + Rows + 1 + i.toLong * NewKeys).as("k"))
    matched.union(fresh).select(Gen.orderRow(seed, col("k"), i,
      concat(lit(s"m$i-"), col("k"))): _*)
  }
  /** A 30-day window inside the order-date range, so every seed's
    * UPDATE touches rows. */
  private def updateWindow(i: Int): (String, String) = {
    val lo = Gen.pick(seed, Gen.OrderDays - 30, 2, i)
    (Gen.day(lo), Gen.day(lo + 30))
  }
  private def deleteResidue(i: Int): Long = Gen.pick(seed, 1000, 3, i)

  def setup(wh: String): Unit = {
    cat = new Catalog(spark, wh)
    cat.bootstrap()
    sql = GraftSql(spark, cat)
    t = cat.table("silver", "orders")
    t.merge(Gen.orders(spark, seed, Rows), Seq("o_orderkey"))
    version = t.latestVersion.get
    stmts.clear()
  }

  private def statement(cls: String, i: Int, text: String,
                        userBytes: => Long): Unit = {
    val (id, res) = h.write(cls, t, userBytes) {
      h.layer("tables", "GraftSql.sql")(sql.sql(text)).collect()
    }
    res.foreach { rows =>
      stmts += ((id, cls, i))
      val v = rows.head.getAs[Long]("version")
      if (v != version + 1) h.fail(id, s"$cls committed v$v after v$version")
      version = v
    }
    h.probeLog(t)
  }

  def cycle(i: Int): Unit = {
    mergeSource(i).createOrReplaceTempView("merge_src")
    statement("merge", i,
      """MERGE INTO silver.orders AS t USING merge_src AS s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      Gen.csvBytes(mergeSource(i)))
    val (lo, hi) = updateWindow(i)
    statement("update", i,
      s"UPDATE silver.orders SET o_totalprice = o_totalprice + 7, " +
        s"o_comment = 'u$i' WHERE o_orderdate BETWEEN DATE'$lo' AND DATE'$hi'",
      0L)
    statement("delete", i,
      s"DELETE FROM silver.orders WHERE pmod(o_custkey, 1000) = ${deleteResidue(i)}",
      0L)
  }

  def userBytes(): Long = Gen.csvBytes(t.read)

  /** Replay every committed statement on plain Spark DataFrames and
    * compare row count and checksums with the table. */
  def verify(): Unit = {
    var m = Gen.orders(spark, seed, Rows)
    stmts.zipWithIndex.foreach { case ((_, cls, i), n) =>
      m = cls match {
        case "merge" =>
          val s = mergeSource(i)
          m.join(s.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
            .unionByName(s)
        case "update" =>
          val (lo, hi) = updateWindow(i)
          val hit = col("o_orderdate").between(lit(lo).cast("date"), lit(hi).cast("date"))
          m.withColumn("o_totalprice",
              when(hit, col("o_totalprice") + 7).otherwise(col("o_totalprice")))
            .withColumn("o_comment", when(hit, lit(s"u$i")).otherwise(col("o_comment")))
        case "delete" =>
          m.filter(pmod(col("o_custkey"), lit(1000L)) =!= deleteResidue(i))
      }
      if (n % 9 == 8) m = m.localCheckpoint()
    }
    val want = Gen.checksum(m, "o_totalprice")
    val got = Gen.checksum(t.read, "o_totalprice")
    if (want != got) {
      val why = s"table checksum $got != plain-Spark model $want"
      h.ops.filter(o => stmts.exists(_._1 == o.id)).foreach(o => h.fail(o.id, why))
    }
  }
}

/** Reads only: a Q1-style aggregate, a date-window `readRange`, a
  * `readEquals` point probe, a join, and one aggregate an armed MV
  * serves next to one it cannot. Every result is checked against the
  * same query over plain `spark.read.parquet`. */
final class SnapshotScan(h: Harness) extends Workload(h) {
  val Lines = 300000L
  val Params = 3

  private var cat: Catalog = _
  private var sql: GraftSql = _
  private var li: VersionedTable = _
  private var mvRoot: String = _
  private val results = mutable.ArrayBuffer.empty[(Long, String, String)]

  def mainTable: VersionedTable = li
  /** Two warm-up cycles per parameter set: every statement text has
    * run (and compiled) before measuring, and the read path's JIT has
    * had a few seconds more. */
  override def warmupCycles: Int = 2 * Params
  def classGroups = Seq(ClassGroup("query_p50_ms",
    Set("q1_agg", "range_read", "point_read", "join", "mv_served", "mv_unserved")))

  private def q1Cut(j: Int) = Gen.day(2000 + Gen.pick(seed, 400, 10, j))
  /** A 60-day ship-date window inside one year: exactly one yearly
    * file-set qualifies, whatever the seed. */
  private def rangeWindow(j: Int) = {
    val start = java.time.LocalDate.of(1992 + Gen.pick(seed, 6, 11, j).toInt, 1, 1)
      .plusDays(Gen.pick(seed, 300, 14, j))
    (start.toString, start.plusDays(60).toString)
  }
  /** Three order keys whose orders fall in February-July of one seeded
    * year, so all their lines ship within that year's file-set. Picked
    * from the seeded orders on first use (outside any op). */
  private val probes = mutable.HashMap.empty[Int, Seq[Long]]
  private def probeKeys(j: Int): Seq[Long] = probes.getOrElseUpdate(j, {
    val y = 1993 + Gen.pick(seed, 5, 12, j)
    cat.table("silver", "orders").read
      .filter(col("o_orderdate").between(lit(s"$y-02-01").cast("date"),
        lit(s"$y-07-31").cast("date")) &&
        pmod(col("o_orderkey"), lit(97L)) === Gen.pick(seed, 97, 15, j))
      .select("o_orderkey").orderBy("o_orderkey").limit(3)
      .collect().map(_.getLong(0)).toSeq
  })
  private def joinWindow(j: Int) = {
    val lo = Gen.pick(seed, Gen.OrderDays - 90, 13, j)
    (Gen.day(lo), Gen.day(lo + 90))
  }

  /** The SQL of each statement class, over the given view names. */
  private def text(cls: String, j: Int, l: String, o: String): String = cls match {
    case "q1_agg" =>
      s"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        s"sum(l_extendedprice) AS sum_base, count(*) AS cnt FROM $l " +
        s"WHERE l_shipdate <= DATE'${q1Cut(j)}' GROUP BY l_returnflag, l_linestatus"
    case "join" =>
      val (lo, hi) = joinWindow(j)
      s"SELECT o.o_orderpriority, count(*) AS n, sum(x.l_quantity) AS q " +
        s"FROM $o o JOIN $l x ON x.l_orderkey = o.o_orderkey " +
        s"WHERE o.o_orderdate BETWEEN DATE'$lo' AND DATE'$hi' GROUP BY o.o_orderpriority"
    case "mv_served" =>
      s"SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS cnt " +
        s"FROM $l GROUP BY l_returnflag"
    case "mv_unserved" =>
      s"SELECT l_returnflag, sum(l_extendedprice * (100 - l_discount)) AS rev " +
        s"FROM $l GROUP BY l_returnflag"
  }

  private def rangeAgg(df: DataFrame) =
    df.agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
  private val PointCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")

  def setup(wh: String): Unit = {
    cat = new Catalog(spark, wh)
    cat.bootstrap()
    sql = GraftSql(spark, cat)
    li = cat.table("silver", "lineitem")
    val all = Gen.lineitem(spark, seed, Lines)
    (1992 to 1998).foreach(y => li.append(all.filter(year(col("l_shipdate")) === y)))
    li.computeStats(Seq("l_shipdate"), Seq("l_orderkey"))
    cat.table("silver", "orders").append(Gen.lineOrders(spark, seed, Lines / 4))
    sql.sql("CREATE MATERIALIZED VIEW gold.mv_flags AS SELECT l_returnflag, " +
      "l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS cnt " +
      "FROM silver.lineitem GROUP BY l_returnflag, l_linestatus")
    mvRoot = cat.table("gold", "mv_flags").root
    cat.registerViews()
    results.clear()
    probes.clear()
  }

  /** A SQL statement; its plan phases and MV routing are read after the
    * op (trace only). */
  private def query(cls: String, j: Int): Unit = {
    val (id, res) = h.op(cls) {
      val df = h.layer("tables", "GraftSql.sql", "sql.call_ms")(
        sql.sql(text(cls, j, "silver_lineitem", "silver_orders")))
      (df, h.layer("spark", "collect")(df.collect()))
    }
    res.foreach { case (df, rows) =>
      h.planPhases(df)
      if (cls == "mv_served") h.traced {
        h.tally("plans.mv_eligible", 1)
        if (MvRewrite.scannedPaths(df).exists(_.contains(mvRoot)))
          h.tally("plans.mv_hits", 1)
      }
      results += ((id, s"$cls/$j", Gen.fingerprint(rows)))
    }
    h.probeLog(li)
  }

  /** A `VersionedTable` read; its plan phases and skipped file-sets are
    * read after the op (trace only). */
  private def read(cls: String, j: Int)(df: => DataFrame, shape: DataFrame => DataFrame): Unit = {
    val (id, res) = h.op(cls) {
      val base = h.layer("tables", s"VersionedTable.$cls", "read.plan_ms")(df)
      val out = shape(base)
      (base, out, h.layer("spark", "collect")(out.collect()))
    }
    res.foreach { case (base, out, rows) =>
      h.planPhases(out)
      h.traced {
        val snap = li.history.last.fileSets.size
        val scanned = MvRewrite.scannedPaths(base).count(_.contains("/data/"))
        h.tally("read.sets_total", snap)
        h.tally("read.sets_skipped", math.max(0, snap - scanned))
      }
      results += ((id, s"$cls/$j", Gen.fingerprint(rows)))
    }
    h.probeLog(li)
  }

  def cycle(i: Int): Unit = {
    val j = i % Params
    query("q1_agg", j)
    val (lo, hi) = rangeWindow(j)
    read("range_read", j)(li.readRange("l_shipdate", lo, hi), rangeAgg)
    val keys = probeKeys(j)
    read("point_read", j)(li.readEquals("l_orderkey", keys),
      _.select(PointCols.map(col): _*))
    query("join", j)
    query("mv_served", j)
    query("mv_unserved", j)
  }

  def userBytes(): Long =
    Gen.csvBytes(li.read) + Gen.csvBytes(cat.table("silver", "orders").read)

  private def plain(t: VersionedTable): DataFrame = {
    val dataDir = Paths.get(t.root, "data")
    spark.read.parquet(t.history.last.fileSets.map(fs => dataDir.resolve(fs).toString): _*)
  }

  /** Expected results from plain parquet reads of the same snapshot,
    * with the graft optimizer rules switched off, so the MV-served
    * aggregate is compared with its unserved form. */
  def verify(): Unit = {
    val rules = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    try {
      plain(li).createOrReplaceTempView("plain_lineitem")
      plain(cat.table("silver", "orders")).createOrReplaceTempView("plain_orders")
      val expected = mutable.HashMap.empty[String, String]
      def want(key: String): String = expected.getOrElseUpdate(key, {
        val Array(cls, js) = key.split("/")
        val j = js.toInt
        val pl = spark.table("plain_lineitem")
        val df = cls match {
          case "range_read" =>
            val (lo, hi) = rangeWindow(j)
            rangeAgg(pl.filter(col("l_shipdate").between(
              lit(lo).cast("date"), lit(hi).cast("date"))))
          case "point_read" =>
            pl.filter(col("l_orderkey").isin(probeKeys(j): _*))
              .select(PointCols.map(col): _*)
          case _ => spark.sql(text(cls, j, "plain_lineitem", "plain_orders"))
        }
        Gen.fingerprint(df.collect())
      })
      results.foreach { case (id, key, got) =>
        if (got != want(key)) h.fail(id, s"$key differs from the plain-parquet result")
      }
    } finally spark.experimental.extraOptimizations = rules
  }
}

/** The stream half of [[CommitPath]]: append a small delta to a
  * `graft-table` source, then drain it with one `Trigger.AvailableNow`
  * run into a keyed `VersionedTable.merge` sink (txn id = batch id,
  * persistent checkpoint). The first trigger (a warm-up) also drains the
  * seeded snapshot. */
final class StreamTrigger(h: Harness) {
  private def spark = h.spark
  private def seed = h.seed
  val InitialRows = 20000L
  val DeltaRows = 2500L
  val KeySpace = 50000L
  val AppId = "graftbench-stream"

  private var src: VersionedTable = _
  private var sink: VersionedTable = _
  private var ckpt: String = _
  val runs = mutable.ArrayBuffer.empty[(Long, java.util.UUID)]

  /** Freshness: from the start of the source append until the sink
    * commit is readable — the two ops' medians, summed. */
  def classGroups = Seq(ClassGroup("freshness_p50_ms", Set("source_append", "trigger"),
    perClassSum = true))

  private def delta(i: Int): DataFrame = {
    val off = Gen.pick(seed, KeySpace, 20, i)
    spark.range(0, DeltaRows).select(
      pmod(col("id") * 7 + off, lit(KeySpace)).as("k"),
      (col("id") + i.toLong * 1000000L).as("v"),
      lit(i).as("cyc"),
      concat(lit(s"p$i-"), col("id")).as("payload"))
  }

  def setup(wh: String): Unit = {
    val cat = new Catalog(spark, wh)
    cat.bootstrap()
    src = cat.table("bronze", "events")
    sink = cat.table("silver", "events_latest")
    ckpt = s"$wh/_checkpoints/events_latest"
    src.append(spark.range(0, InitialRows).select(col("id").as("k"),
      col("id").as("v"), lit(-1).as("cyc"), concat(lit("init-"), col("id")).as("payload")))
    runs.clear()
  }

  /** One AvailableNow run; returns once the sink commit is readable. */
  private def drain(): Unit = {
    val sinkFn: (DataFrame, Long) => Unit = (batch, batchId) =>
      h.layer("tables", "VersionedTable.merge", "stream.sink_merge_ms") {
        sink.merge(batch, Seq("k"), preferUpdateBy = Some("cyc"),
          txn = Some((AppId, batchId)))
      }
    val q = h.layer("streaming", "start", "stream.start_ms") {
      spark.readStream.format("graft-table").load(src.root)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch(sinkFn)
        .start()
    }
    h.layer("streaming", "awaitTermination")(q.awaitTermination())
    q.exception.foreach(e => throw e)
    runs += ((h.lastOpId, q.runId))
    val last = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    if (last.isEmpty || !sink.lastTxnVersion(AppId).contains(last.max))
      sys.error(s"sink txn ${sink.lastTxnVersion(AppId)} does not hold batch ${last.lastOption}")
  }

  def cycle(i: Int): Unit = {
    h.write("source_append", src, Gen.csvBytes(delta(i))) {
      h.layer("tables", "VersionedTable.append")(src.append(delta(i)))
    }
    h.write("trigger", sink, 0L)(drain())
    h.probeLog(sink)
  }

  def userBytes(): Long = Gen.csvBytes(src.read) + Gen.csvBytes(sink.read)

  /** The sink must hold the latest source row of every key. */
  def verify(): Unit = {
    val dataDir = Paths.get(src.root, "data")
    val all = spark.read.parquet(
      src.history.last.fileSets.map(fs => dataDir.resolve(fs).toString): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("cyc").desc)
    val want = Gen.checksum(all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn"), "v")
    val got = Gen.checksum(sink.read.select("k", "v", "cyc", "payload"), "v")
    if (want != got) {
      val why = s"sink checksum $got != latest-per-key of the source $want"
      h.ops.filter(_.cls == "trigger").foreach(o => h.fail(o.id, why))
    }
  }
}

/** The paper's slice_v1 DAG (`Pipeline.runSliceV1`), re-run with a fresh
  * run id per op. The flagship result must equal the first run's. */
final class MedallionRefresh(h: Harness) extends Workload(h) {
  private var pipe: Pipeline = _
  private var wh: String = _
  private var expected: String = _

  def mainTable: VersionedTable =
    pipe.table("gold", "fact_team_fixture_horizon_snapshot")
  def classGroups = Seq(ClassGroup("refresh_p50_s", Set("slice_v1"), scale = 0.001))

  private val Ts = java.sql.Timestamp.valueOf("2025-08-12 06:15:00")
  private def payloads(url: String, json: String): DataFrame =
    Bronze.payloadRows(spark, Seq((Ts, s"https://fantasy.premierleague.com/api/$url", 200, json)))

  /** Seeding lands the two raw payloads in bronze; the first full run
    * (the warm-up) builds every silver and gold table. */
  def setup(wh: String): Unit = {
    this.wh = wh
    pipe = new Pipeline(spark, wh)
    expected = null
    pipe.ingestBronze(payloads("bootstrap-static/", SampleData.bootstrapJson()),
      s"seed-$seed", "fpl_bootstrap_raw")
    pipe.ingestBronze(payloads("fixtures/", SampleData.fixturesJson()),
      s"seed-$seed", "fpl_fixtures_raw")
  }

  /** One `runSliceV1` and the collect of its flagship query. When
    * tracing, the listener splits the op's Spark jobs among the DAG tasks
    * by call site ([[Layers.FplTasks]]). */
  def cycle(i: Int): Unit = {
    val (id, res) = h.write("slice_v1", mainTable, userBytes(), walk = wh) {
      val df = pipe.runSliceV1(s"run-$seed-$i")
      (df, df.collect())
    }
    res.foreach { case (df, rows) =>
      h.planPhases(df)
      val fp = Gen.fingerprint(rows)
      if (expected == null) expected = fp
      if (rows.isEmpty || fp != expected)
        h.fail(id, "flagship rows differ from the first run's")
    }
    h.probeLog(mainTable)
  }

  def userBytes(): Long =
    (SampleData.bootstrapJson() + SampleData.fixturesJson()).getBytes("UTF-8").length.toLong

  def verify(): Unit = ()
}
