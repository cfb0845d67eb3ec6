package perfbench

import scala.collection.mutable

import graft.sources.dlv.{DlvChangeFeed, DlvDml, DlvLog, DlvMaintenance, DlvTable}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** `upsert`: CDC upserts, DML and history reads on a CDF-enabled,
  * month-partitioned `orders` table.
  *
  * Each round: a change stream of seeded key updates (spread uniformly
  * over the table) plus new keys, drained by `EventStreams.upsertToDlv`
  * one MERGE per micro-batch; one UPDATE and one DELETE on a key
  * predicate; change-feed reads over the last rounds' versions;
  * full-table aggregates `VERSION AS OF` older versions; then an
  * OPTIMIZE. Every write rewrites files in all 24 partitions. An
  * in-memory model of the table is kept beside it and is the oracle. */
final class Upsert(spark: SparkSession, rec: Recorder, seed: Long, root: String)
    extends Workload {
  import Gen.MONTH

  val Rows0 = 150000L // sf0.1 `orders`
  /** Order dates span the last 24 months of the range (1999-09 ..
    * 2001-08): 24 partitions, each write rewriting files in all of them.
    * (Each op's cost is mostly per file and per Spark job, not per row;
    * 24 rather than 80 partitions fits more ops into the timed loop.) */
  val FirstDay = 1704
  val Days = Gen.DAYS - FirstDay
  val TtReads = 2
  val UpdateMod = 97  // UPDATE touches keys with key % 97 == r: ~1% of rows
  val DeleteMod = 211 // DELETE: ~0.5% of rows
  private val rng = new scala.util.Random(seed)
  private val deleteResidues = rng.shuffle((0 until DeleteMod).toList).iterator

  private val src = s"$root/data/orders.parquet"
  Gen.withMonth(Gen.orders(spark, seed, 0, Rows0, 15000, FirstDay, Days)
      .withColumn("o_seq", lit(0L)))
    .write.parquet(src)
  private val base = spark.read.parquet(src)
  private val schema = base.schema
  private val cols = schema.fieldNames.toSeq
  private def idx(c: String) = schema.fieldIndex(c)
  /** key -> row: the table as it should be. */
  private val model = mutable.HashMap[Long, Row]()
  base.collect().foreach(r => model(r.getLong(0)) = r)
  private var nextKey = Rows0
  private var seq = 0L
  /** Versions whose content the model knows, with (count, price sum). */
  private val known = mutable.LinkedHashMap[Long, (Long, BigDecimal)]()
  private var path = ""
  private var round = 0
  private var roundFrom = 0L
  private var streamDir = ""
  private var expected = Map.empty[String, Long]
  /** The previous round's first version and change counts. */
  private var prev: Option[(Long, Map[String, Long])] = None
  /** Versions right after each round's DELETE: the time-travel targets. */
  private val roundEnds = mutable.ArrayBuffer[Long]()
  private val mismatches = mutable.ArrayBuffer[String]()
  private val tally = new Tally

  private def agg: (Long, BigDecimal) =
    (model.size.toLong, model.valuesIterator.map(r => Rows.dec6(r.getDouble(idx("o_totalprice")))).sum)

  def setupOnce(i: Int): Unit = {
    path = s"$root/tables/upsert_$i"
    DlvTable.create(spark, path, schema.toDDL, Seq(MONTH), Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, path, base.repartition(col(MONTH)))
    known.clear()
    known(DlvTable.log(path).latestVersion) = agg
  }

  private def price(): Double = math.round((1000 + rng.nextDouble() * 499000) * 100) / 100.0

  private def changed(r: Row): Row = {
    val v = r.toSeq.toArray
    v(idx("o_orderstatus")) = Gen.STATUSES(rng.nextInt(3))
    v(idx("o_totalprice")) = price()
    seq += 1
    v(idx("o_seq")) = seq
    Row.fromSeq(v.toSeq)
  }

  private def fresh(key: Long): Row = {
    val day = java.time.LocalDate.parse(Gen.START).plusDays((FirstDay + rng.nextInt(Days)).toLong)
    seq += 1
    Row(key, rng.nextInt(15000).toLong, Gen.STATUSES(rng.nextInt(3)), price(),
      java.sql.Timestamp.from(day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
      Gen.PRIORITIES(rng.nextInt(5)), seq, day.toString.take(7))
  }

  /** Write the round's change stream: 2 files (one per micro-batch),
    * each 400-600 updates of distinct existing keys plus 40-80 new keys. */
  private def genChanges(): Seq[Seq[Row]] = {
    val keys = model.keysIterator.toArray
    val taken = mutable.HashSet[Long]()
    val batches = (0 until 2).map { _ =>
      val ups = Iterator.continually(keys(rng.nextInt(keys.length)))
        .filter(taken.add).take(400 + rng.nextInt(201)).map(k => changed(model(k))).toSeq
      val news = (0 until 40 + rng.nextInt(41)).map { _ => nextKey += 1; fresh(nextKey) }
      ups ++ news
    }
    streamDir = s"$root/streams/round_$round"
    batches.foreach(b =>
      Rows.frame(spark, b, schema).coalesce(1).write.mode("append").parquet(streamDir))
    batches
  }

  private def upsert(): Unit = {
    val batches = genChanges()
    val probe = new DlvProbe(path)
    prev = Some((roundFrom, expected))
    roundFrom = probe.latest
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    rec.op("upsert") { _ =>
      EventStreams.upsertToDlv(stream, path, Seq("o_orderkey"), Seq("o_seq"),
        checkpoint = Some(s"$root/checkpoints/round_$round"))
    }.foreach { _ =>
      val to = probe.latest
      val cs = (roundFrom + 1 to to).map(probe.commit)
      rec.ops.last.attrs("commits") = cs
      rec.ops.last.attrs("rows_affected") = batches.map(_.size).sum
      val rows = batches.flatten
      val updates = rows.count(r => model.contains(r.getLong(0)))
      rows.foreach(r => model(r.getLong(0)) = r)
      expected = Map("insert" -> (rows.size - updates).toLong,
        "update_preimage" -> updates.toLong, "update_postimage" -> updates.toLong)
      known(to) = agg
      batches.foreach(b => tally.add("rows_per_batch", b.size))
      tally.add("batches_per_round", batches.size)
      cs.foreach { c =>
        tally.add("files_per_commit", c("files_added").asInstanceOf[Int])
        tally.add("partitions_per_op", c("partitions").asInstanceOf[Int])
      }
    }
  }

  private def dml(kind: String, mod: Int)(run: Int => Long)(apply: Long => Unit): Unit = {
    // a DELETE never reuses a residue: the rows it names must still exist
    val r0 = if (kind == "delete") deleteResidues.next() else rng.nextInt(mod)
    val probe = new DlvProbe(path)
    val hit = model.keysIterator.count(_ % mod == r0)
    rec.op(kind)(_ => run(r0)).foreach { v =>
      val c = probe.commit(v)
      rec.ops.last.attrs ++= c
      rec.ops.last.attrs("rows_affected") = hit
      model.keys.filter(_ % mod == r0).toSeq.foreach(apply)
      known(v) = agg
      if (kind == "delete") roundEnds += v
      tally.add(s"${kind}_rows", hit)
      tally.add("files_per_commit", c("files_added").asInstanceOf[Int])
      tally.add("partitions_per_op", c("partitions").asInstanceOf[Int])
      val key = if (kind == "delete") Seq("delete") else Seq("update_preimage", "update_postimage")
      key.foreach(k => expected += k -> (expected.getOrElse(k, 0L) + hit))
    }
  }

  private def update(): Unit = {
    val delta = (1 + rng.nextInt(10000)) / 100.0
    val p = idx("o_totalprice")
    dml("update", UpdateMod) { r0 =>
      DlvDml.update(spark, path, col("o_orderkey") % UpdateMod === r0,
        Map("o_totalprice" -> (col("o_totalprice") + lit(delta))))
    } { k =>
      val v = model(k).toSeq.toArray
      v(p) = v(p).asInstanceOf[Double] + delta
      model(k) = Row.fromSeq(v.toSeq)
    }
  }

  private def delete(): Unit =
    dml("delete", DeleteMod) { r0 =>
      DlvDml.delete(spark, path, col("o_orderkey") % DeleteMod === r0)
    }(k => model.remove(k))

  /** Change-feed read over this round's versions (`rounds` = 1) or over
    * this and the previous round's (`rounds` = 2, from the second round on). */
  private def cdf(rounds: Int): Unit = {
    val to = new DlvProbe(path).latest
    val range =
      if (rounds == 1) Some((roundFrom, expected))
      else prev.filter(_._1 > 0).map { case (from, counts) =>
        (from, (counts.keySet ++ expected.keySet).map(k =>
          k -> (counts.getOrElse(k, 0L) + expected.getOrElse(k, 0L))).toMap)
      }
    range.foreach { case (from, want) =>
      rec.op("cdf") { r =>
        val df = rec.phase(r, "plan") { DlvChangeFeed.changes(spark, path, from + 1, Some(to)) }
        rec.phase(r, "exec") { df.collect() }
      }.foreach { rows =>
        val got = rows.groupBy(_.getAs[String]("_change_type")).map { case (k, v) => k -> v.length.toLong }
        rec.ops.last.attrs("versions") = to - from
        if (got != want.filter(_._2 > 0)) mismatches += s"cdf v${from + 1}..v$to: got $got want $want"
      }
    }
  }

  /** A full-table aggregate `VERSION AS OF` the end state (after the
    * DELETE) of an earlier round at least 5 commits old, so older than
    * the snapshot cache's 4 entries; in the warm-up, any older version. */
  private def ttRead(): Unit = {
    val latest = new DlvProbe(path).latest
    val old = roundEnds.filter(_ <= latest - 5)
    val pool = if (old.nonEmpty) old.toSeq else known.keys.filter(_ < latest).toSeq
    val v = pool(rng.nextInt(pool.size))
    tally.add("tt_target_age", (latest - v).toDouble)
    var files = 0L
    rec.op("tt_read") { r =>
      files = rec.phase(r, "snapshot") { DlvTable.log(path).snapshotAt(Some(v)) }.numFiles
      val df = rec.phase(r, "plan") {
        val d = Rows.countSum(DlvTable.toDF(spark, path, version = Some(v)))
        d.queryExecution.executedPlan
        d
      }
      (df, Rows.pair(rec.phase(r, "exec") { df.collect().head }))
    }.foreach { case (df, got) =>
      val r = rec.ops.last
      r.attrs("version") = v
      r.attrs("files_total") = files
      r.attrs("files_read") = Plans.filesRead(df)
      if (got != known(v)) mismatches += s"tt v$v: got $got want ${known(v)}"
    }
  }

  /** Compact every partition at the end of a round, so each round
    * starts from one file per partition instead of the file count
    * growing run-long. Reported as its own op kind, outside the
    * end-to-end metrics. */
  private def compact(): Unit = {
    val probe = new DlvProbe(path)
    rec.op("compact")(_ => DlvMaintenance.optimize(spark, path)).foreach { v =>
      rec.ops.last.attrs ++= probe.commit(v)
      known(v) = agg
    }
  }

  private val sequence: Seq[() => Unit] = Seq(() => upsert(), () => update(),
    () => delete(), () => cdf(1), () => cdf(2)) ++
    Seq.fill(TtReads)(() => ttRead()) :+ (() => compact())
  private var pos = 0

  def warmup(): Unit = { rec.parent = "round:0"; sequence.foreach(_()) }

  /** The next op of the round: the timed loop is cut by time, not at a
    * round's end, so a slower machine runs fewer ops rather than a
    * different number of whole rounds. */
  def step(): Boolean = {
    if (pos == 0) { round += 1; rec.parent = s"round:$round" }
    sequence(pos)()
    pos = (pos + 1) % sequence.size
    true
  }

  def checks(): Seq[Check] = {
    val got = Rows.digest(DlvTable.toDF(spark, path).select(cols.map(col): _*), cols)
    val want = Rows.digest(Rows.frame(spark, model.values, schema), cols)
    Seq(
      Check("upsert.final_table", got == want, s"(rows, hash sum) got $got want $want"),
      Check("upsert.cdf_and_time_travel", mismatches.isEmpty,
        if (mismatches.isEmpty) "every change-feed count and time-travel aggregate matched"
        else mismatches.take(3).mkString("; ")))
  }

  def inputs: Map[String, Any] = tally.toMap ++ Map(
    "base_rows" -> Rows0, "update_mod" -> UpdateMod, "delete_mod" -> DeleteMod,
    "rounds" -> round, "tt_targets" -> rec.ops.filter(_.kind == "tt_read")
      .flatMap(_.attrs.get("version")).toSeq,
    "checkpoint_interval" -> DlvLog.checkpointInterval)

  def table: Map[String, Any] = new DlvProbe(path).footprint
}
