package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of the seed
  * and a row index, so the same seed gives the same inputs and the
  * engine sees only the generated rows. Money is integer cents and
  * discounts are integer percent, so every checksum is an exact sum. */
object Gen {
  /** SplitMix64 over the seed and a path of integers: the driver-side
    * source of residues, windows and probe keys. */
  def mix(seed: Long, xs: Long*): Long =
    xs.foldLeft(seed ^ 0x9E3779B97F4A7C15L) { (h, x) =>
      var z = h + x * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  def pick(seed: Long, n: Long, xs: Long*): Long = Math.floorMod(mix(seed, xs: _*), n)

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((cs :+ lit(seed) :+ lit(salt)): _*)
  private def pm(c: Column, n: Long): Column = pmod(c, lit(n))

  val Epoch: java.sql.Date = java.sql.Date.valueOf("1992-01-01")
  def day(offset: Long): String = Epoch.toLocalDate.plusDays(offset).toString

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def oneOf(xs: Seq[String], c: Column): Column =
    element_at(array(xs.map(lit): _*), (c + 1).cast("int"))

  /** Order date of order key `k` — shared by orders and lineitem so the
    * two tables join consistently. */
  private def orderDate(seed: Long, k: Column): Column =
    date_add(lit(Epoch), pm(h(seed, 4, k), OrderDays).cast("int"))
  /** Order dates span this many days from [[Epoch]] (to mid-1998). */
  val OrderDays = 2255L

  /** An orders row for key column `k`; `version` salts the non-key
    * values, so a MERGE source carries new values for old keys. */
  def orderRow(seed: Long, k: Column, version: Int, comment: Column): Seq[Column] = Seq(
    k.as("o_orderkey"),
    (pm(h(seed, 1, k, lit(version)), 15000) + 1).as("o_custkey"),
    oneOf(Seq("O", "F", "P"), pm(h(seed, 2, k, lit(version)), 3)).as("o_orderstatus"),
    (pm(h(seed, 3, k, lit(version)), 50000000L) + 100).as("o_totalprice"),
    orderDate(seed, k).as("o_orderdate"),
    oneOf(Priorities, pm(h(seed, 5, k, lit(version)), 5)).as("o_orderpriority"),
    comment.as("o_comment"))

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(1, n + 1).select(
      orderRow(seed, col("id"), 0, concat(lit("c"), col("id"))): _*)

  /** `n` lineitem rows, four per order key (keys 1..n/4); ship dates fall
    * 0-120 days after the order date, so each order's lines sit in one
    * or two yearly file-sets. */
  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = (col("id") / 4).cast("long") + 1
    spark.range(0, n).select(
      k.as("l_orderkey"),
      (pm(col("id"), 4) + 1).cast("int").as("l_linenumber"),
      (pm(h(seed, 6, col("id")), 20000) + 1).as("l_partkey"),
      (pm(h(seed, 7, col("id")), 50) + 1).as("l_quantity"),
      (pm(h(seed, 8, col("id")), 10000000L) + 90000).as("l_extendedprice"),
      pm(h(seed, 9, col("id")), 11).cast("int").as("l_discount"),
      pm(h(seed, 10, col("id")), 9).cast("int").as("l_tax"),
      oneOf(Seq("A", "N", "R"), pm(h(seed, 11, col("id")), 3)).as("l_returnflag"),
      oneOf(Seq("F", "O"), pm(h(seed, 12, col("id")), 2)).as("l_linestatus"),
      date_add(orderDate(seed, k), pm(h(seed, 13, col("id")), 121).cast("int"))
        .as("l_shipdate"))
  }

  /** Orders matching [[lineitem]]'s keys 1..n. */
  def lineOrders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    orders(spark, seed, n).select("o_orderkey", "o_custkey", "o_orderdate",
      "o_orderpriority", "o_totalprice")

  /** Bytes of `df`'s rows rendered as CSV: the size of the user data. */
  def csvBytes(df: DataFrame): Long = {
    val r = df.select(sum(octet_length(to_csv(struct(df.columns.map(col): _*)))))
      .head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Order-independent content checksum: row count, and the sums of a
    * 64-bit hash of every row and of one numeric column. */
  def checksum(df: DataFrame, numeric: String): (Long, Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.sorted.map(col): _*),
        lit(2147483647L))), lit(0L)),
      coalesce(sum(col(numeric)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Rows as an order-independent fingerprint. */
  def fingerprint(rows: Array[org.apache.spark.sql.Row]): String =
    rows.map(_.toString).sorted.mkString("|")
}
