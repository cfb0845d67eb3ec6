package graft.sources.dlv

import org.apache.spark.sql.SparkSession

/** Probes of the Spark jobs an operation launches, for specs that pin
  * what a dlv read or write may run (no listing job, a bounded job
  * count). */
trait JobProbe {
  def spark: SparkSession

  /** Descriptions of the file-listing jobs `body` launched — the job
    * Spark's InMemoryFileIndex runs to discover leaf files. */
  def listingJobs(body: => Unit): Seq[String] =
    jobDescriptions(body).filter(_.startsWith("Listing leaf files"))

  /** Descriptions of the jobs `body` launched. */
  def jobDescriptions(body: => Unit): Seq[String] =
    jobsOf(body)(e => Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))))

  /** Call sites (`collect at DlvDml.scala:42`) of the jobs `body`
    * launched: Spark names a job's result stage after the call site. */
  def jobCallSites(body: => Unit): Seq[String] =
    jobsOf(body)(e => e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))

  private def jobsOf(body: => Unit)(
      label: org.apache.spark.scheduler.SparkListenerJobStart => Option[String])
      : Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        label(e).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }
}
