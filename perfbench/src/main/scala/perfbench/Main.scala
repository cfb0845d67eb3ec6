package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload and writes every raw sample (ops,
  * phases, Spark jobs/stages/tasks, stream batches, checks, input
  * properties) as one JSON file. `perfbench/run.py` builds this, runs
  * it and turns the samples into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --root DIR --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val root = opts("root")
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = Clock.nowMs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sources.dlv.sql.DlvSparkSessionExtension")
      .config("spark.ui.enabled", "false")
      // keep Spark's own job/stage/query history small, so the live heap
      // reflects the library rather than how many jobs a run launched
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config(graft.sources.dlv.sql.DlvRegistry.METASTORE_CONF, s"$root/metastore.json")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Clock.nowMs - t0) / 1000

    val rec = new Recorder(spark, workload)
    val t1 = Clock.nowMs
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, rec, seed, root)
      case "upsert" => new Upsert(spark, rec, seed, root)
      case "analytics" => new AnalyticsPasses(spark, rec, seed, root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = (Clock.nowMs - t1) / 1000

    // three set-ups; the median is reported, so the first, colder one
    // does not set it
    val setups = (0 until 3).map { i =>
      val s = Clock.nowMs
      w.setupOnce(i)
      (Clock.nowMs - s) / 1000
    }
    val t2 = Clock.nowMs
    w.warmup()
    val warmupS = (Clock.nowMs - t2) / 1000

    // the timed loop; with --trace 1 a second, traced loop follows, and
    // the difference between the two is the tracing overhead
    val loops = (if (trace) Seq(false, true) else Seq(false)).map { traced =>
      if (traced) rec.startTracing()
      val steal0 = Steal.read()
      rec.timed = true
      rec.stolenMs = 0
      val start = Clock.nowMs
      // `seconds` of ops the hypervisor did not steal from, at most 1.25
      // times that in all (the whole run must stay within its time budget)
      def more = Clock.nowMs - start - rec.stolenMs < seconds * 1000 &&
        Clock.nowMs - start < 1.25 * seconds * 1000
      while (more && w.step()) ()
      val end = Clock.nowMs
      rec.timed = false
      Map("traced" -> traced, "timed_start" -> start, "timed_end" -> end,
        "heap_live_mb" -> liveHeapMb(), "steal_frac" -> Steal.share(steal0, Steal.read()),
        "stolen_s" -> rec.stolenMs / 1000)
    }
    val checks = w.checks()
    rec.close()

    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "session_s" -> sessionS, "gen_s" -> genS, "setup_s" -> setups,
      "warmup_s" -> warmupS, "loops" -> loops, "checks" -> checks.map(_.toMap),
      "inputs" -> w.inputs, "table" -> w.table) ++ rec.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), Json.write(out))
    spark.stop()
  }

  /** Heap the pools held right after a full collection, in MB. Collects
    * a few times so references Spark's cleaner releases after a
    * collection are gone too. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
  }
}
