package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution.
  * Spark's listener events carry epoch milliseconds, so op spans and
  * job/task spans share one time axis. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6
}

/** CPU time the hypervisor gave to other guests: Linux `steal` in
  * /proc/stat, as a share of all CPU time between two reads (0 where
  * the file or the field is missing). */
object Steal {
  def read(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").toSeq.tail.map(_.toLong)
      finally src.close()
    } catch { case NonFatal(_) => Nil }

  def share(from: Seq[Long], to: Seq[Long]): Double =
    if (from.size > 7 && to.size > 7 && to.sum > from.sum)
      (to(7) - from(7)).toDouble / (to.sum - from.sum)
    else 0.0

  /** Above this share an op is counted as stolen: left out of the
    * metrics, and the timed loop runs on to make up its time. */
  val Max = 0.05
}

/** Minimal JSON encoder for the harness's own records (maps, sequences,
  * strings, numbers, booleans, null). */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => put(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case n: BigDecimal => sb.append(n.toString)
    case m: collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; put(sb, x) }
      sb.append(']')
    case a: Array[_] => put(sb, a.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** A named sub-interval of an op, recorded by the harness around a
  * public call (e.g. `plan` = build the DataFrame and its physical plan,
  * `exec` = run it). */
final case class Phase(name: String, start: Double, end: Double)

/** One timed call into the library. `traced` says whether the Spark
  * listener was recording while it ran. */
final class OpRec(val kind: String, val i: Int, val group: String,
    val parent: String, val timed: Boolean, val traced: Boolean) {
  var start = 0.0
  var end = 0.0
  var ok = true
  var error: String = ""
  val phases = mutable.ArrayBuffer[Phase]()
  val attrs = mutable.LinkedHashMap[String, Any]()

  def toMap: Map[String, Any] = Map(
    "kind" -> kind, "i" -> i, "group" -> group, "parent" -> parent, "timed" -> timed,
    "traced" -> traced,
    "start" -> start, "end" -> end, "ok" -> ok, "error" -> error,
    "phases" -> phases.map(p =>
      Map("name" -> p.name, "start" -> p.start, "end" -> p.end)),
    "attrs" -> attrs)
}

/** Keeps every span in memory until the run ends.
  *
  *   - ops and their phases: always (they are the end-to-end samples);
  *   - stream micro-batches (StreamingQueryListener progress): always,
  *     since a micro-batch's `triggerExecution` is an end-to-end sample;
  *   - Spark jobs, stages and tasks (SparkListener): from `startTracing`
  *     on. Listener events arrive asynchronously, so jobs are matched to
  *     ops by time afterwards, not by what is running when an event lands. */
final class Recorder(spark: SparkSession, workload: String) {
  /** False during warm-up: those ops are run and checked, not reported. */
  var timed = false
  private var tracing = false
  /** The span the next ops belong to: the workload's current step. */
  var parent = "run"
  /** Wall time of the timed ops the hypervisor stole from (see [[Steal]]). */
  var stolenMs = 0.0
  val ops = mutable.ArrayBuffer[OpRec]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streamStarts = new ConcurrentLinkedQueue[Map[String, Any]]()
  private var counter = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(s => stageJob.put(s, Integer.valueOf(e.jobId)))
      jobs.put(e.jobId, mutable.LinkedHashMap[String, Any](
        "id" -> e.jobId, "start" -> e.time.toDouble, "end" -> e.time.toDouble,
        "group" -> group, "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j("end") = e.time.toDouble
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job = stageJob.get(si.stageId)
      if (job != null && jobs.containsKey(job.intValue)) {
        val m = si.taskMetrics
        stages.add(Map(
          "stage" -> si.stageId, "job" -> job.intValue, "tasks" -> si.numTasks,
          "run_ms" -> (if (m == null) 0L else m.executorRunTime),
          "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "shuffle_read" -> (if (m == null) 0L else
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
          "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = stageJob.get(e.stageId)
      if (job != null && jobs.containsKey(job.intValue) && e.taskInfo != null)
        tasks.add(Seq(job.intValue, e.stageId, e.taskInfo.launchTime.toDouble,
          e.taskInfo.finishTime.toDouble))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamStarts.add(Map("run" -> e.runId.toString,
        "start" -> isoMs(e.timestamp)))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (p.numInputRows > 0 || d.contains("addBatch"))
        batches.add(Map("run" -> p.runId.toString, "batch" -> p.batchId,
          "start" -> isoMs(p.timestamp), "rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "addbatch_ms" -> d.getOrElse("addBatch", 0L)))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def isoMs(ts: String): Double =
    java.time.Instant.parse(ts).toEpochMilli.toDouble

  spark.streams.addListener(streamListener)

  /** Record Spark jobs, stages and tasks from now on. */
  def startTracing(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    tracing = true
  }

  /** Run `body` as one timed op of `kind`. The job group
    * `bench:<workload>:<kind>:<i>` labels its Spark jobs. A failure is
    * recorded, not thrown. */
  def op[A](kind: String)(body: OpRec => A): Option[A] = {
    counter += 1
    val traced = tracing && timed
    val group = s"bench:$workload:$kind:$counter"
    val rec = new OpRec(kind, counter, group, parent, timed, traced)
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val mats = graft.sources.dlv.DlvLog.snapshotMaterializations.get
    val cpu0 = processCpuNs()
    val steal0 = Steal.read()
    rec.start = Clock.nowMs
    val out =
      try Some(body(rec))
      catch {
        case NonFatal(e) =>
          rec.ok = false
          rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          None
      }
    rec.end = Clock.nowMs
    rec.attrs("cpu_s") = (processCpuNs() - cpu0) / 1e9
    val steal = Steal.share(steal0, Steal.read())
    rec.attrs("steal") = steal
    if (timed && steal > Steal.Max) stolenMs += rec.end - rec.start
    rec.attrs("materializations") = graft.sources.dlv.DlvLog.snapshotMaterializations.get - mats
    sc.clearJobGroup()
    ops += rec
    out
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM so far. */
  private def processCpuNs(): Long = os.getProcessCpuTime

  /** Time one phase of the current op. */
  def phase[A](rec: OpRec, name: String)(body: => A): A = {
    val s = Clock.nowMs
    try body
    finally rec.phases += Phase(name, s, Clock.nowMs)
  }

  def close(): Unit = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def toMap: Map[String, Any] = Map(
    "ops" -> ops.map(_.toMap),
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int]),
    "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "batches" -> batches.asScala.toSeq,
    "stream_starts" -> streamStarts.asScala.toSeq)
}
