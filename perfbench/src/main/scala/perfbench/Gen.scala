package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Every value is a hash of (seed, column salt,
  * row id), so the same seed gives the same tables whatever the
  * partitioning. The shapes follow the library's fixture contract
  * (`graft.Tables`): a TPC-H-like star schema plus `events`,
  * `documents` and `embeddings`. */
object Gen {
  /** Month partition column of the dlv workloads. */
  val MONTH = "order_month"
  /** Order dates span 1995-01-01 .. 2001-08-31: exactly 80 months. */
  val START = "1995-01-01"
  val DAYS = 2435
  val MONTHS: Seq[String] =
    (0 until 80).map(m => f"${1995 + m / 12}%04d-${m % 12 + 1}%02d")

  private val Two53 = (1L << 53).toDouble

  /** Uniform double in [0, 1) from (seed, salt, parts). */
  def u(seed: Long, salt: Int, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(1L << 53))
      .cast("double") / lit(Two53)

  /** Uniform integer in [0, n). */
  def ui(seed: Long, salt: Int, n: Int, parts: Column*): Column =
    floor(u(seed, salt, parts: _*) * n).cast("int")

  private def pick(seed: Long, salt: Int, id: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), ui(seed, salt, xs.size, id) + 1)

  private def day(from: String, offset: Column): Column =
    date_add(lit(from).cast("date"), offset).cast("timestamp")

  val PRIORITIES = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val STATUSES = Seq("F", "O", "P")

  /** `orders` rows with keys [from, from + n), dated over `days` days
    * from day `firstDay` of the range. */
  def orders(spark: SparkSession, seed: Long, from: Long, n: Long,
      customers: Int, firstDay: Int = 0, days: Int = DAYS): DataFrame = {
    val id = col("id")
    spark.range(from, from + n, 1, 8).select(
      id.as("o_orderkey"),
      ui(seed, 1, customers, id).cast("long").as("o_custkey"),
      pick(seed, 2, id, STATUSES: _*).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 3, id) * 499000.0, 2).as("o_totalprice"),
      day(START, ui(seed, 4, days, id) + firstDay).as("o_orderdate"),
      pick(seed, 5, id, PRIORITIES: _*).as("o_orderpriority"))
  }

  def withMonth(df: DataFrame): DataFrame =
    df.withColumn(MONTH, date_format(col("o_orderdate"), "yyyy-MM"))

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "window",
    "spark", "order", "data", "column", "join", "small", "line", "customer",
    "query", "big", "stream", "sort", "group", "filter", "vector")

  /** Write the ten fixture tables as `<dir>/<name>.parquet`, sized like
    * the sf0.01 fixture (`lineitem` 60k rows). */
  def fixture(spark: SparkSession, seed: Long, dir: String): Unit = {
    val id = col("id")
    def range(n: Long) = spark.range(0, n, 1, 4)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")

    save("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), id.cast("int") + 1).as("r_name")))
    save("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("customer", range(1500).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      ui(seed, 10, 25, id).as("c_nationkey"),
      round(u(seed, 11, id) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pick(seed, 12, id, "AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    save("supplier", range(100).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      ui(seed, 13, 25, id).as("s_nationkey"),
      round(u(seed, 14, id) * 10000.0, 2).as("s_acctbal")))
    save("part", range(2000).select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, 15, id, "small", "red", "blue", "green", "large"),
        pick(seed, 16, id, "ring", "widget", "bolt", "gear", "pipe")).as("p_name"),
      concat(lit("Brand#"), ui(seed, 17, 25, id) + 1).as("p_brand"),
      pick(seed, 18, id, "ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM",
        "PROMO").as("p_type"),
      (ui(seed, 19, 50, id) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice")))
    save("orders", orders(spark, seed, 0, 15000, 1500))
    val qty = (ui(seed, 22, 50, id) + 1).cast("double")
    save("lineitem", range(60000).select(
      ui(seed, 20, 15000, id).cast("long").as("l_orderkey"),
      ui(seed, 21, 2000, id).cast("long").as("l_partkey"),
      ui(seed, 23, 100, id).cast("long").as("l_suppkey"),
      (ui(seed, 24, 7, id) + 1).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, 25, id) * 1100.0), 2).as("l_extendedprice"),
      (ui(seed, 26, 11, id).cast("double") / 100.0).as("l_discount"),
      (ui(seed, 27, 9, id).cast("double") / 100.0).as("l_tax"),
      pick(seed, 28, id, "A", "N", "R").as("l_returnflag"),
      pick(seed, 29, id, "O", "F").as("l_linestatus"),
      day("1995-01-02", ui(seed, 30, 2498, id)).as("l_shipdate")))
    save("events", range(10000).select(id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) + id * 259000000L +
        ui(seed, 31, 259000000, id)).as("ts"),
      ui(seed, 32, 150, id).cast("long").as("user_id"),
      pick(seed, 33, id, "click", "view", "purchase", "signup", "error").as("event_type"),
      round(lit(0.01) + u(seed, 34, id) * 490.0, 2).as("value"),
      concat(lit("{\"k\": "), ui(seed, 35, 100, id), lit("}")).as("props")))
    val vocab = array(Vocab.map(lit): _*)
    val text = array_join(transform(
      sequence(lit(1), ui(seed, 40, 83, id) + 8),
      k => element_at(vocab, ui(seed, 41, Vocab.size, id, k) + 1)), " ")
    save("documents", range(500).select(id.as("doc_id"), text.as("text"),
      pick(seed, 42, id, "en", "en", "en", "en", "fr", "zh", "de", "es").as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val label = ui(seed, 50, 10, id)
    save("embeddings", range(500).select(id.as("vec_id"),
      transform(sequence(lit(1), lit(64)), k =>
        ((u(seed, 51, label, k) - 0.5) * 0.4 + (u(seed, 52, id, k) - 0.5) * 0.2)
          .cast("float")).as("embedding"),
      label.as("label")))
  }
}
