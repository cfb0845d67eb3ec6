package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.dlv.{AddFile, DlvLog, DlvTable, RemoveFile}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** One output check: its name, whether it held, and what was compared. */
final case class Check(name: String, ok: Boolean, detail: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** A workload: a set-up that is repeated (the last one is used), an
  * untimed warm-up, then timed steps in a closed loop until the run's
  * time is up, then output checks. */
trait Workload {
  def setupOnce(i: Int): Unit
  def warmup(): Unit
  /** One timed step (one or a few ops); false when the inputs ran out. */
  def step(): Boolean
  def checks(): Seq[Check]
  /** Input properties the layers depend on. */
  def inputs: Map[String, Any]
  /** Footprint of the workload's table after the run. */
  def table: Map[String, Any]
}

/** Helpers shared by the dlv workloads: what one commit did, read from
  * the table's `_dlv_log` and data files (never from engine internals). */
final class DlvProbe(path: String) {
  private def log = DlvTable.log(path)
  private val logDir = new java.io.File(path, DlvTable.LOG_DIR)

  def latest: Long = log.latestVersion

  /** Files, bytes and rows one commit added and removed. */
  def commit(v: Long): Map[String, Any] = {
    val actions = log.commitActionsOf(v)
    val adds = actions.collect { case a: AddFile => a }
    val removes = actions.collect { case r: RemoveFile => r }
    val json = new java.io.File(logDir, f"$v%020d.json")
    Map(
      "version" -> v,
      "files_added" -> adds.size,
      "files_removed" -> removes.size,
      "bytes_written" -> adds.map(_.size).sum,
      "rows_written" -> adds.flatMap(_.parsedStats).map(_.numRecords).sum,
      "partitions" -> adds.map(_.partitionValues).distinct.size,
      "commit_bytes" -> json.length(),
      "checkpoint" -> (v > 0 && v % DlvLog.checkpointInterval == 0),
      "checkpoint_bytes" -> checkpointBytes(v))
  }

  /** Bytes of the checkpoint written at version `v`, 0 if none. */
  def checkpointBytes(v: Long): Long = {
    val prefix = f"$v%020d.checkpoint"
    Option(logDir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix)).map(Disk.bytes).sum
  }

  /** Live files and bytes (from the log) against bytes on disk. */
  def footprint: Map[String, Any] = {
    val snap = log.snapshotAt(None)
    val live = snap.files.map(_.size).sum
    val disk = Disk.bytes(new java.io.File(path))
    Map("files_live" -> snap.numFiles, "bytes_live" -> live,
      "bytes_on_disk" -> disk,
      "bytes_per_user_byte" -> (if (live > 0) disk.toDouble / live else 0.0))
  }
}

object Disk {
  /** Bytes of a file, or of every file under a directory. */
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    else f.length()
}

object Plans {
  /** Leaf operators of an executed plan, looking through adaptive
    * query stages. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case o if o.children.isEmpty => Seq(o)
    case o => o.children.flatMap(leaves)
  }

  /** Files the plan's file scans opened (the scans' `numFiles` metric,
    * i.e. after partition pruning and data skipping). */
  def filesRead(df: DataFrame): Long =
    leaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
}

object Rows {
  /** Exact decimal form Spark gives `CAST(d AS DECIMAL(38,6))`. */
  def dec6(d: Double): BigDecimal =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** count(*) and exact sum of `o_totalprice` of a DataFrame. */
  def countSum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(38,6)")).as("s"))

  def pair(r: Row): (Long, BigDecimal) =
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
      .setScale(6))

  /** Order-insensitive content digest: row count and the exact sum of
    * a 64-bit hash of every column. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def frame(spark: SparkSession, rows: Iterable[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(rows.toSeq.asJava, schema)
}

/** Input-property samples by name, for the run's report. */
final class Tally {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def toMap: Map[String, Any] = m.map { case (k, xs) => k -> xs.toSeq }.toMap
}
