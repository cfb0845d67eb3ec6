package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plan of the one rewrite job behind OPTIMIZE and REORG
  * PURGE ([[DlvMaintenance]]): one read, exactly ONE shuffle (bin b to
  * task b) and one partitioned write, on each dead-row route. */
class RewritePlanSpec extends SparkSpec with DlvTestProps
    with AdaptiveSparkPlanHelper {

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"dlv-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  /** A 3-partition table of 60 rows written by `appends` appends, so
    * each partition holds `appends` files. */
  private def mk(name: String, props: Map[String, String],
      appends: Int): String = {
    import spark.implicits._
    val path = freshDir(name)
    DlvTable.create(spark, path, "id BIGINT, part INT, v DOUBLE",
      Seq("part"), props)
    (0 until appends).foreach { a =>
      DlvTable.append(spark, path, (0 until 60).filter(_ % appends == a)
        .map(i => (i.toLong, i % 3, i.toDouble)).toDF("id", "part", "v")
        .repartition(col("part")))
    }
    path
  }

  /** Shuffle exchanges in the executed plan of each data write
    * (`dlv:write`) that `body` runs. */
  private def writeShuffles(body: => Unit): Seq[Int] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(
          name: String, qe: QueryExecution, ns: Long): Unit =
        if (name == "dlv:write") plans.add(qe)
      override def onFailure(
          name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.map(qe =>
      collect(qe.executedPlan) { case s: ShuffleExchangeExec => s }.size)
  }

  test("OPTIMIZE bin-packing executes one shuffle") {
    val path = mk("plan-opt", Map.empty, appends = 4)
    val shuffles = writeShuffles(DlvMaintenance.optimize(spark, path))
    assert(shuffles == Seq(1), s"shuffles per rewrite write: $shuffles")
    assert(DlvTable.toDF(spark, path).count() == 60L)
  }

  /** REORG PURGE of a table whose odd-id files bear a vector. */
  private def purgeShuffles(name: String): Unit = {
    val path = mk(name, Map(DlvDv.PROP -> "true"), appends = 2)
    DlvDml.delete(spark, path, col("id") % 4 === 1)
    val shuffles = writeShuffles(DlvMaintenance.reorgPurge(spark, path))
    assert(shuffles == Seq(1), s"shuffles per rewrite write: $shuffles")
    assert(DlvTable.log(path).snapshot().files.forall(_.dv.isEmpty))
    assert(DlvTable.toDF(spark, path).count() == 45L)
  }

  test("REORG PURGE over DV files executes one shuffle on the default " +
    "(broadcast anti-join) route") {
    purgeShuffles("plan-purge")
  }

  test("REORG PURGE over DV files executes one shuffle on the " +
    "reader-filter route (broadcast limit 0)") {
    withProps("graft.dlv.dvBroadcastLimit" -> "0") {
      purgeShuffles("plan-purge0")
    }
  }
}
