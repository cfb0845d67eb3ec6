package perfbench

import graft.QuerySpec
import org.apache.spark.sql.SparkSession

/** `analytics`: passes over the 23 `operators.Analytics` gates and the
  * 28 `llm.LlmQueries` gates on a generated fixture, read-only. No dlv
  * code runs, so a dlv-layer change should leave it unchanged; operator,
  * expression and codegen changes show here.
  *
  * The warm-up pass runs every gate's checked form and writes its
  * result, with the gates' oracle SQL, for the DuckDB comparison the
  * runner makes after the run. Timed ops run the bench form
  * (`QuerySpec.benchBuild`): `plan` builds the DataFrame and its
  * physical plan, `exec` counts its rows. */
final class AnalyticsPasses(spark: SparkSession, rec: Recorder, seed: Long, root: String)
    extends Workload {
  private val specs: Seq[(String, QuerySpec, String)] =
    (graft.operators.Analytics.specs.toSeq.map { case (n, s) => (n, s, "operators") } ++
      graft.llm.LlmQueries.specs.toSeq.map { case (n, s) => (n, s, "llm") }).sortBy(_._1)
  private var dir = ""
  private var next = 0
  private var passes = 0
  /** Row counts of the checked forms, for gates whose bench form is the same query. */
  private val checkedRows = scala.collection.mutable.Map[String, Long]()
  private val countMismatches = scala.collection.mutable.ArrayBuffer[String]()

  def setupOnce(i: Int): Unit = {
    dir = s"$root/data/fixture_$i"
    Gen.fixture(spark, seed, dir)
  }

  def warmup(): Unit = {
    val out = s"$root/results"
    specs.foreach { case (name, spec, _) =>
      rec.op(s"check:$name") { _ =>
        spec.build(spark, dir).coalesce(1).write.parquet(s"$out/$name.parquet")
      }
      if (spec.bench.isEmpty)
        checkedRows(name) = spark.read.parquet(s"$out/$name.parquet").count()
    }
    val oracles = specs.collect { case (n, QuerySpec(_, Some(sql), _), _) => n -> sql }.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.write(oracles))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/fixture_dir.txt"), dir)
  }

  def step(): Boolean = {
    val (name, spec, layer) = specs(next)
    rec.op(name) { r =>
      val df = rec.phase(r, "plan") {
        val d = spec.benchBuild(spark, dir)
        d.queryExecution.executedPlan
        d
      }
      rec.phase(r, "exec") { df.count() }
    }.foreach { n =>
      rec.ops.last.attrs("layer") = layer
      rec.ops.last.attrs("rows") = n
      checkedRows.get(name).filter(_ != n).foreach(want =>
        countMismatches += s"$name: timed run counted $n rows, checked form $want")
    }
    next = (next + 1) % specs.size
    if (next == 0) passes += 1
    true
  }

  def checks(): Seq[Check] = Seq(Check("analytics.timed_row_counts", countMismatches.isEmpty,
    if (countMismatches.isEmpty) "every timed gate counted the rows its checked form wrote"
    else countMismatches.take(3).mkString("; ")))

  def inputs: Map[String, Any] = Map(
    "gates" -> specs.size,
    "operators_gates" -> specs.count(_._3 == "operators"),
    "llm_gates" -> specs.count(_._3 == "llm"),
    "full_passes" -> passes, "fixture" -> "sf0.01-sized, generated from the seed")

  def table: Map[String, Any] = Map.empty
}
