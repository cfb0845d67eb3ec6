package perfbench

import scala.collection.mutable

import graft.sources.dlv.{DlvLog, DlvMaintenance, DlvTable}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** `ingest`: small appends into a month-partitioned `orders` table.
  *
  * Set-up loads `orders` minus a seeded 90% of the recent-month rows.
  * Each timed commit appends 10-80 held-back rows spread over 1-3
  * adjacent recent months. Every `ReadEvery` commits there is a pruned
  * read of the latest month touched, and every `OptimizeEvery` commits
  * an OPTIMIZE of the recent months. Per-commit costs dominate: stage,
  * finalize, publish, checkpoint (every 10 versions), log replay and
  * the snapshot cache. */
final class Ingest(spark: SparkSession, rec: Recorder, seed: Long, root: String)
    extends Workload {
  import Gen.MONTH

  val Rows0 = 150000L // sf0.1 `orders`
  val Recent = 12
  val ReadEvery = 4
  val OptimizeEvery = 5
  private val recent = Gen.MONTHS.takeRight(Recent)
  private val rng = new scala.util.Random(seed)

  private val src = s"$root/data/orders.parquet"
  Gen.withMonth(Gen.orders(spark, seed, 0, Rows0, 15000))
    .withColumn("held", col(MONTH).isin(recent: _*) &&
      Gen.u(seed, 60, col("o_orderkey")) < 0.9)
    .write.parquet(src)
  private val all = spark.read.parquet(src)
  private val base = all.filter(!col("held")).drop("held")
  private val schema = base.schema
  /** Held-back rows per month, in key order: the appends' input. */
  private val pool: Map[String, mutable.Queue[Row]] = {
    val rows = all.filter(col("held")).drop("held").orderBy("o_orderkey").collect()
    recent.map(m => m -> mutable.Queue(rows.filter(_.getAs[String](MONTH) == m): _*)).toMap
  }
  /** Expected (count, exact price sum) per month, kept beside the table. */
  private val model = mutable.Map[String, (Long, BigDecimal)]()
  base.groupBy(MONTH).agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(38,6)")))
    .collect().foreach(r => model(r.getString(0)) = Rows.pair(Row(r.getLong(1), r.getDecimal(2))))
  private val baseRows = model.values.map(_._1).sum
  private val appended = mutable.ArrayBuffer[Row]()
  private var path = ""
  private var commits = 0
  private var steps = 0
  private var lastMonth = recent.last
  private val readMismatches = mutable.ArrayBuffer[String]()
  private val tally = new Tally

  def setupOnce(i: Int): Unit = {
    path = s"$root/tables/ingest_$i"
    DlvTable.create(spark, path, schema.toDDL, Seq(MONTH))
    DlvTable.append(spark, path, base.repartition(col(MONTH)))
  }

  /** The next commit's rows: 10-80 rows over 1-3 adjacent recent months
    * that still have held-back rows. */
  private def nextCommit(): Option[(Seq[Row], Seq[String])] = {
    val avail = recent.filter(pool(_).nonEmpty)
    if (avail.isEmpty) return None
    val k = math.min(1 + rng.nextInt(3), avail.size)
    val from = rng.nextInt(avail.size - k + 1)
    val months = avail.slice(from, from + k)
    val n = 10 + rng.nextInt(71)
    val rows = months.zipWithIndex.flatMap { case (m, j) =>
      val q = pool(m)
      val want = n / k + (if (j < n % k) 1 else 0)
      (0 until math.min(want, q.size)).map(_ => q.dequeue())
    }
    Some((rows, months))
  }

  private def append(rows: Seq[Row], months: Seq[String]): Unit = {
    val df = Rows.frame(spark, rows, schema).repartition(col(MONTH))
    val probe = new DlvProbe(path)
    rec.op("append")(_ => DlvTable.append(spark, path, df)).foreach { v =>
      val r = rec.ops.last
      r.attrs ++= probe.commit(v)
      r.attrs("rows") = rows.size
      r.attrs("months") = months.size
      tally.add("rows_per_commit", rows.size)
      tally.add("files_per_commit", r.attrs("files_added").asInstanceOf[Int])
      tally.add("partitions_per_op", months.size)
      rows.foreach { row =>
        val m = row.getAs[String](MONTH)
        val (n, s) = model.getOrElse(m, (0L, BigDecimal(0)))
        model(m) = (n + 1, s + Rows.dec6(row.getAs[Double]("o_totalprice")))
      }
      appended ++= rows
      lastMonth = months.last
    }
  }

  private def read(month: String): Unit = {
    var files = 0L
    val got = rec.op("read") { r =>
      val snap = rec.phase(r, "snapshot") { DlvTable.log(path).snapshotAt(None) }
      files = snap.numFiles
      val df = rec.phase(r, "plan") {
        val d = Rows.countSum(DlvTable.toDF(spark, path).filter(col(MONTH) === month))
        d.queryExecution.executedPlan
        d
      }
      val row = rec.phase(r, "exec") { df.collect().head }
      (df, Rows.pair(row))
    }
    got.foreach { case (df, pair) =>
      val r = rec.ops.last
      r.attrs("files_total") = files
      r.attrs("files_read") = Plans.filesRead(df)
      if (pair != model(month)) readMismatches += s"$month: got $pair want ${model(month)}"
    }
  }

  private def optimize(): Unit = {
    val probe = new DlvProbe(path)
    rec.op("optimize") { _ =>
      DlvMaintenance.optimize(spark, path, where = Some(col(MONTH) >= recent.head))
    }.foreach(v => rec.ops.last.attrs ++= probe.commit(v))
  }

  private def commitOnce(): Boolean = nextCommit() match {
    case None => false
    case Some((rows, months)) =>
      commits += 1
      steps += 1
      rec.parent = s"step:$steps"
      append(rows, months)
      if (commits % ReadEvery == 0) read(lastMonth)
      if (commits % OptimizeEvery == 0) optimize()
      true
  }

  /** Four optimize cycles of commits, with their reads: the JIT keeps
    * speeding appends up well past the first few. */
  def warmup(): Unit = {
    (1 to 4 * OptimizeEvery).foreach(_ => commitOnce())
    commits = 0
  }

  def step(): Boolean = commitOnce()

  def checks(): Seq[Check] = {
    def perMonth(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(MONTH).agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(38,6)")))
        .collect().map(r => r.getString(0) -> Rows.pair(Row(r.getLong(1), r.getDecimal(2))))
        .toMap
    // expected: the loaded rows (plain parquet) plus every appended row
    val want = perMonth(base.unionByName(Rows.frame(spark, appended, schema)))
    val got = perMonth(DlvTable.toDF(spark, path))
    val diff = (want.keySet ++ got.keySet).toSeq.sorted
      .filter(m => want.get(m) != got.get(m))
    Seq(
      Check("ingest.final_per_month", diff.isEmpty,
        if (diff.isEmpty) s"${want.size} months match"
        else diff.take(3).map(m => s"$m: got ${got.get(m)} want ${want.get(m)}").mkString("; ")),
      Check("ingest.model_per_month", model.toMap == want,
        "per-month model kept beside the table equals the plain-parquet oracle"),
      Check("ingest.reads", readMismatches.isEmpty,
        if (readMismatches.isEmpty) "every pruned read matched" else readMismatches.take(3).mkString("; ")))
  }

  def inputs: Map[String, Any] = tally.toMap ++ Map(
    "base_rows" -> baseRows, "appended_rows" -> appended.size,
    "read_every" -> ReadEvery, "optimize_every" -> OptimizeEvery,
    "checkpoint_interval" -> DlvLog.checkpointInterval,
    "recent_months" -> Recent)

  def table: Map[String, Any] = new DlvProbe(path).footprint
}
