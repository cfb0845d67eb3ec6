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
  def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
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
