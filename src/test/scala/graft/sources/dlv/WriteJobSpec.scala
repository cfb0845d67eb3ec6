package graft.sources.dlv

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal

/** What a dlv write job ([[GraftInternal.writeParquet]], behind every
  * `dlv:write` and `dlv:cdc` job) ships to its tasks and what they
  * report back: one Hadoop conf without the MapReduce/YARN defaults,
  * and task output metrics set by [[DirectCommitProtocol]] in place
  * of a stats tracker. */
class WriteJobSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"dlv-$name-")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def serializedBytes(c: Configuration): Int = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(bytes)
    c.write(out)
    out.close()
    bytes.size
  }

  test("a dlv write's Hadoop conf drops only the MapReduce/YARN " +
    "default entries, keeps every other raw value and the session's " +
    "spark.hadoop overrides, routes file: to LocalWriteFs and " +
    "serializes under 50 KB") {
    // registers mapred-default.xml and yarn-default.xml process-wide,
    // as the first write's Job.getInstance does
    org.apache.hadoop.mapreduce.Job.getInstance()
    // a `spark.hadoop.mapreduce.job.reduces` session config, entered
    // in the context's conf as Spark enters it, over the key's
    // mapred-default.xml entry
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.job.reduces"
    val (prior, priorSource) = (hc.getRaw(key), hc.getPropertySources(key))
    assert(priorSource.toSeq == Seq("mapred-default.xml"))
    hc.set(key, "7", "Set by Spark from keys starting with 'spark.hadoop'")
    try {
      val full = spark.asInstanceOf[org.apache.spark.sql.classic
        .SparkSession].sessionState
        .newHadoopConfWithOptions(LocalWriteFs.writerOptions)
      val lean = GraftInternal.writeConf(spark, LocalWriteFs.writerOptions)
      val mrOnly = Set("mapred-default.xml", "yarn-default.xml")
      val (dropped, kept) = entries(full).partition { case (k, _) =>
        Option(full.getPropertySources(k)).exists(_.forall(mrOnly))
      }
      assert(dropped.size > 500, s"only ${dropped.size} MapReduce/YARN " +
        "default entries: the defaults were not registered")
      val got = entries(lean)
      assert(got.keySet.intersect(dropped.keySet).isEmpty,
        got.keySet.intersect(dropped.keySet).take(5))
      assert(got == kept, (kept.toSet diff got.toSet).take(5))
      assert(got.contains("fs.defaultFS") &&
        got.keys.exists(_.startsWith("spark.sql.")))
      assert(lean.get("fs.file.impl") == classOf[LocalWriteFs].getName)
      assert(lean.get("fs.file.impl.disable.cache") == "true")
      assert(lean.get(key) == "7")
      // the copy FileFormatWriter's Job.getInstance makes, which every
      // task deserializes, loads no defaults back
      val shipped = org.apache.hadoop.mapreduce.Job.getInstance(lean)
        .getConfiguration
      assert(entries(shipped).keySet.intersect(dropped.keySet).isEmpty)
      val before = serializedBytes(
        org.apache.hadoop.mapreduce.Job.getInstance(full).getConfiguration)
      val after = serializedBytes(shipped)
      assert(after < 50 * 1024, s"shipped conf: $after bytes " +
        s"(full conf: $before bytes)")
    } finally hc.set(key, prior, priorSource.head)
  }

  test("dlv:write and dlv:cdc tasks report the bytes and records they " +
    "wrote as output metrics: an append and a CDF UPDATE") {
    val byJob = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val stageOut =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .foreach(byJob.put(e.jobId, _))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) stageOut.add((e.stageInfo.stageId,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }
    /** (bytes, records) the stages of each labelled job wrote in `body`. */
    def outputOf(body: => Unit): Map[String, (Long, Long)] = {
      byJob.clear(); stageJob.clear(); stageOut.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      stageOut.asScala.toSeq.flatMap { case (stage, bytes, records) =>
        Option(byJob.get(stageJob.get(stage))).map(_ -> (bytes, records))
      }.groupMapReduce(_._1)(_._2) { case ((b1, r1), (b2, r2)) =>
        (b1 + b2, r1 + r2)
      }
    }
    val path = freshDir("outmetrics")
    DlvTable.create(spark, path, "id BIGINT, p INT, v STRING", Seq("p"),
      Map(DlvDml.CDF_PROP -> "true"))
    val l = DlvTable.log(path)
    def addsOf(v: Long) = l.commitActionsOf(v).collect { case a: AddFile => a }

    val append = outputOf(DlvTable.append(spark, path,
      spark.range(0, 60, 1, 3).select(col("id"),
        (col("id") % 4).cast("int").as("p"), lit("a").as("v"))))
    val appended = addsOf(l.latestVersion)
    assert(appended.size >= 4)
    assert(append.get("dlv:write") ==
      Some((appended.map(_.size).sum, 60L)), append)

    val update = outputOf(
      DlvDml.update(spark, path, col("id") % 3 === 0, Map("v" -> lit("u"))))
    val v = l.latestVersion
    val rewritten = addsOf(v)
    assert(rewritten.nonEmpty)
    assert(update.get("dlv:write") == Some((rewritten.map(_.size).sum,
      rewritten.map(_.parsedStats.get.numRecords).sum)), update)
    val cdc = l.commitActionsOf(v).collectFirst {
      case c: CommitInfo if c.cdcPath.isDefined => c.cdcPath.get
    }.getOrElse(fail(s"v$v carries no change-data blob"))
    val blobs = java.nio.file.Files.list(
      java.nio.file.Paths.get(l.resolve(cdc))).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet"))
    // each of the 20 updated rows has a pre- and a post-image
    assert(update.get("dlv:cdc") == Some((
      blobs.map(java.nio.file.Files.size).sum, 40L)), update)
  }
}
