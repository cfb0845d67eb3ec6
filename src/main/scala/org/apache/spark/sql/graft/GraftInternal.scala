package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}

/** The one compile-time bridge into `private[sql]` Spark internals the
  * dlv source needs: turning a hand-built logical plan (a
  * LogicalRelation over our FileIndex) into a DataFrame, and running a
  * parquet write under a dlv commit protocol. Everything
  * else the source does uses public or effectively-public
  * (`execution.datasources`) surface. Kept to a single object so the
  * internal-API exposure is auditable at a glance.
  */
object GraftInternal {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** Catalyst expression behind a public Column (Spark 4 hides `.expr`
    * behind the classic ColumnNode converter). */
  def expr(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Public Column over a hand-built Catalyst expression (the reverse
    * of [[expr]]) — how native custom expressions surface in the
    * DataFrame API. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The session's instantiated `spark_catalog` plugin (the wired
    * catalog extension when one is configured) — specs drive V2
    * catalog methods directly through it. */
  def sessionCatalogPlugin(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[SparkSession].sessionState.catalogManager
      .catalog(org.apache.spark.sql.connector.catalog
        .CatalogManager.SESSION_CATALOG_NAME)

  /** Write `df` as parquet under `outputPath` through `committer`,
    * hive-partitioned by `partitionColumns` (case-insensitive, like
    * `DataFrameWriter.partitionBy`): Spark's own `FileFormatWriter`
    * with the caller's commit protocol in place of the
    * `DataFrameWriter` → `FileOutputCommitter` hop. Runs as one SQL
    * execution whose description (and job description) is `name`;
    * the caller's job description is restored afterwards. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, outputPath: String,
      partitionColumns: Seq[String],
      committer: org.apache.spark.internal.io.FileCommitProtocol,
      name: String): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{
      BasicWriteJobStatsTracker, FileFormatWriter}
    val ds = df.asInstanceOf[Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val plan = qe.executedPlan
    val resolver = spark.sessionState.conf.resolver
    val parts = partitionColumns.map(c =>
      plan.output.find(a => resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c is not in ${plan.output.mkString(", ")}")))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(org.apache.spark.SparkContext
      .SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(name)
    try SQLExecution.withNewExecutionId(qe, Some(name)) {
      FileFormatWriter.write(spark, plan,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat,
        committer,
        FileFormatWriter.OutputSpec(outputPath, Map.empty, plan.output),
        hadoopConf, parts, bucketSpec = None,
        // task output metrics and the execution's written-files/bytes
        // metrics, as a DataFrameWriter write reports them
        statsTrackers = Seq(new BasicWriteJobStatsTracker(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf),
          BasicWriteJobStatsTracker.metrics)),
        options = Map.empty)
    } finally sc.setJobDescription(prior)
    ()
  }

  /** Re-tag a batch DataFrame's rows as a STREAMING DataFrame — the V1
    * `Source.getBatch` contract (the micro-batch planner asserts
    * `isStreaming`; every V1 source does exactly this internally). */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[DataFrame]
    val spark = classic.sparkSession
    spark.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = true)
  }

  /** The reverse: pin a micro-batch DataFrame handed to a V1
    * `Sink.addBatch` down to a plain BATCH DataFrame that batch write
    * paths can plan (the incremental execution's own plan must not be
    * re-planned by them) — the FileStreamSink pattern. */
  def asBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[DataFrame]
    val spark = classic.sparkSession
    spark.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = false)
  }
}
