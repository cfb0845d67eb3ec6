package graft.operators

import java.nio.file.{Files, Paths}

import graft.{QuerySpec, Tables}
import graft.sources.dlv._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dlv-table scenario gates: one driver-checkable query per reference
  * validation scenario (`validation_suite.py` tests 1-12), plus the
  * `dlv_bench_*` A/B contrast pairs the bench harness totals separately.
  *
  * Shape of every scenario gate: build a throwaway dlv table from the
  * `orders` fixture in a temp dir, run the scenario's operation(s),
  * `require(...)` the scenario's own physical invariants (file counts,
  * metadata-only deletes, swept partition dirs — the things DuckDB
  * cannot see), and return a DataFrame whose CONTENT DuckDB can
  * recompute from the raw fixture parquet. The oracle never needs to
  * understand the table format — every operation here is a
  * deterministic function of the fixture.
  *
  * Cross-engine value discipline matches [[Analytics]]: decimal-exact
  * FP sums surfaced as `round(CAST(.. AS DOUBLE), 6)`, BIGINT counts,
  * identical aliases both sides, totally ordered output.
  */
object DlvQueries {

  private def exactSum(c: Column): Column =
    round(sum(c.cast("decimal(38,6)")).cast("double"), 6)

  private def exactSumSql(c: String): String =
    s"round(CAST(sum(CAST($c AS DECIMAL(38,6))) AS DOUBLE), 6)"

  /** Partition column: month granularity. Day-grain dates would mean
    * ~2400 partitions of near-empty files at fixture scale (and 2400
    * object-store dirs per table at 100 TB) — month keeps partitions
    * meaningfully sized while still exercising hive-layout pruning,
    * partition deletes, and vacuum's dir sweep. */
  private val MONTH = "order_month"
  private val MONTH_SQL = "strftime(o_orderdate, '%Y-%m')"

  private def ordersM(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn(MONTH, date_format(col("o_orderdate"), "yyyy-MM"))

  private def scratch(name: String): String = {
    val dir = Files.createTempDirectory(s"dlv-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  /** Point the session at a FRESH temp metastore for the gate body,
    * restoring the prior setting after — registry-using gates must not
    * leak their scratch metastore into later gates on the shared bench
    * session. Safe because the body's final `s.sql` analyzes eagerly:
    * every registry lookup resolves before the restore runs. */
  private def withTempMetastore[A](s: SparkSession)(body: => A): A = {
    val conf = graft.sources.dlv.sql.DlvRegistry.METASTORE_CONF
    val prior = s.conf.getOption(conf)
    val metastore = Files.createTempDirectory("dlv-meta-")
      .resolve("metastore.json")
    s.conf.set(conf, metastore.toString)
    try body
    finally prior match {
      case Some(v) => s.conf.set(conf, v)
      case None => s.conf.unset(conf)
    }
  }

  /** Create an empty month-partitioned orders table in a temp dir. */
  private def mkPartitioned(
      s: SparkSession, d: String, name: String,
      cdf: Boolean = false): (String, DataFrame) = {
    val df = ordersM(s, d)
    val path = scratch(name)
    DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH),
      if (cdf) Map(DlvDml.CDF_PROP -> "true") else Map.empty)
    (path, df)
  }

  /** Cluster by the partition column before the partitioned write: the
    * writer emits one file per (task, month); without this every one of
    * the 32 shuffle partitions holds every month and the table starts
    * life as 32 × #months tiny files — the small-file problem OPTIMIZE
    * exists to fix, not the state to create it in. */
  private def appendByMonth(
      s: SparkSession, path: String, df: DataFrame): Long =
    DlvTable.append(s, path, df.repartition(col(MONTH)))

  private def statusAgg(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        exactSum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")

  private def statusAggSql(where: String): String =
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
       |  ${exactSumSql("o_totalprice")} AS total
       |FROM orders $where
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ───────────────────────── scenario gates ─────────────────────────

  private val writeRead = QuerySpec.withOracle(statusAggSql("")) { (s, d) =>
    // test_1_write_read_to_delta (validation_suite.py:545): write then
    // read back the full table
    val (path, df) = mkPartitioned(s, d, "wr")
    appendByMonth(s, path, df)
    statusAgg(DlvTable.toDF(s, path))
  }

  private val timeTravel = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 2 = 0")) { (s, d) =>
    // test_2_time_travel_read (:561): write batch 1, note its commit
    // timestamp from history, write batch 2, TIMESTAMP AS OF t(batch 1)
    val (path, df) = mkPartitioned(s, d, "tt")
    appendByMonth(s, path, df.filter(col("o_orderkey") % 2 === 0))
    val ts1 = DlvTable.log(path).commitTimestamp(1)
    // the reference sleeps 1 s so the two commits cannot share a
    // timestamp; ms-resolution needs only to cross one tick
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    appendByMonth(s, path, df.filter(col("o_orderkey") % 2 === 1))
    require(DlvTable.toDF(s, path).count() == df.count(),
      "current snapshot must see both batches")
    statusAgg(DlvTable.toDF(s, path, timestampMs = Some(ts1)))
  }

  private val versionRead = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 3 = 0")) { (s, d) =>
    // test_3_read_table_version (:598): VERSION AS OF the first write
    val (path, df) = mkPartitioned(s, d, "vr")
    appendByMonth(s, path, df.filter(col("o_orderkey") % 3 === 0))
    appendByMonth(s, path, df.filter(col("o_orderkey") % 3 =!= 0))
    require(DlvTable.toDF(s, path).count() == df.count(),
      "current snapshot must see both batches")
    statusAgg(DlvTable.toDF(s, path, version = Some(1L)))
  }

  private val cdf = QuerySpec.withOracle(
    """SELECT * FROM (
      |  SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n
      |    FROM orders WHERE o_orderkey % 10 = 7
      |  UNION ALL SELECT 'insert', CAST(count(*) AS BIGINT) FROM orders
      |  UNION ALL SELECT 'update_postimage', CAST(count(*) AS BIGINT)
      |    FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL SELECT 'update_preimage', CAST(count(*) AS BIGINT)
      |    FROM orders WHERE o_orderkey % 10 = 3
      |) AS t ORDER BY _change_type""".stripMargin) { (s, d) =>
    // test_4_read_change_data_feed (:629): table_changes(t, 1) after an
    // append (replays as inserts), an update (eager pre/post images) and
    // a delete (eager delete rows)
    val (path, df) = mkPartitioned(s, d, "cdf", cdf = true)
    appendByMonth(s, path, df)
    DlvDml.update(s, path, col("o_orderkey") % 10 === 3,
      Map("o_orderpriority" -> lit("0-TOUCHED")))
    DlvDml.delete(s, path, col("o_orderkey") % 10 === 7)
    DlvChangeFeed.changes(s, path, 1)
      .groupBy("_change_type").agg(count(lit(1)).as("n"))
      .orderBy("_change_type")
  }

  private val mergeGate = QuerySpec.withOracle(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
       |  round(CAST(sum(CAST(
       |    CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 50000
       |         WHEN o_orderkey % 4 = 1 THEN o_totalprice + 100000
       |         ELSE o_totalprice END AS DECIMAL(38,6))) AS DOUBLE), 6)
       |    AS total
       |FROM orders
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, d) =>
      // test_5_merge_data (:640): MERGE with updates-win policy —
      // matched rows take the source's values, unmatched source rows
      // insert (the reference's WHEN MATCHED UPDATE / NOT MATCHED INSERT)
      import DlvDml._
      val (path, df) = mkPartitioned(s, d, "mrg")
      appendByMonth(s, path, df.filter(col("o_orderkey") % 4 =!= 0))
      val src = df.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 50000)
        .unionByName(df.filter(col("o_orderkey") % 4 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 100000))
      val fields = df.schema.fieldNames.toSeq
      merge(s, path, src,
        on = col("tgt.o_orderkey") === col("src.o_orderkey"),
        clauses = Seq(
          MatchedUpdate(None, Map("o_totalprice" -> col("src.o_totalprice"))),
          NotMatchedInsert(None,
            fields.map(f => f -> col(s"src.$f")).toMap)))
      statusAgg(DlvTable.toDF(s, path))
  }

  private val restoreGate = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 2 = 0")) { (s, d) =>
    // delta-parity RESTORE (beyond the reference's own surface): build
    // v1, mutate twice, RESTORE TABLE .. TO VERSION AS OF 1 — content
    // AND file set must equal v1's exactly, with no data copied (the
    // restore commit is pure log arithmetic)
    val (path, df) = mkPartitioned(s, d, "rst")
    appendByMonth(s, path, df.filter(col("o_orderkey") % 2 === 0)) // v1
    DlvTable.overwrite(s, path,
      df.filter(col("o_orderkey") % 3 === 0).repartition(col(MONTH))) // v2
    DlvDml.delete(s, path, col("o_orderkey") % 5 === 0) // v3
    val v1Files = DlvTable.log(path).snapshotAt(Some(1))
      .files.map(_.path).toSet
    s.sql(s"RESTORE TABLE '$path' TO VERSION AS OF 1")
    val nowFiles = DlvTable.log(path).snapshot().files.map(_.path).toSet
    require(nowFiles == v1Files,
      s"RESTORE must reinstate v1's exact file set " +
        s"(got ${nowFiles.size} vs ${v1Files.size})")
    statusAgg(DlvTable.toDF(s, path))
  }

  private val convertGate = QuerySpec.withOracle(statusAggSql("")) {
    (s, d) =>
      // CONVERT TO DLV: adopt a plain hive-partitioned parquet dir in
      // place — no file may move or be rewritten; every AddFile must
      // carry its partition value and footer stats (that's what makes
      // the converted table prune/skip like a native one)
      val df = ordersM(s, d)
      val path = scratch("cnv")
      df.repartition(col(MONTH)).write
        .partitionBy(MONTH).parquet(path)
      val beforeFiles = DlvTable.log(path).io.walkFiles(path)
        .count(_.name.endsWith(".parquet"))
      s.sql(s"CONVERT TO DLV '$path' PARTITIONED BY ($MONTH)")
      val snap = DlvTable.log(path).snapshot()
      require(snap.numFiles == beforeFiles,
        s"convert must adopt all $beforeFiles files, got ${snap.numFiles}")
      require(snap.files.forall(f =>
        f.partitionValues.contains(MONTH) && f.stats.nonEmpty),
        "every adopted file needs partition values and footer stats")
      statusAgg(DlvTable.toDF(s, path))
  }

  private val countMetaGate = QuerySpec.withOracle(
    """SELECT CAST(count(*) AS BIGINT) AS n FROM orders
      |WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, d) =>
    // metadata-answered COUNT(*): after real DML churn the ungrouped,
    // unfiltered count must come from log stats — the optimized plan
    // holds a LocalRelation and NO scan relation at all
    val (path, df) = mkPartitioned(s, d, "cmeta")
    appendByMonth(s, path, df)
    DlvDml.delete(s, path, col("o_orderkey") % 7 === 0)
    val q = s.sql(s"SELECT count(*) AS n FROM dlv_table('$path')")
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    require(scans.isEmpty,
      s"count(*) must be metadata-answered, found ${scans.size} scans")
    q
  }

  private val overwrite = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 3 = 0")) { (s, d) =>
    // test_6_overwrite_data (:679): after overwrite only the new batch
    // exists
    val (path, df) = mkPartitioned(s, d, "ow")
    appendByMonth(s, path, df.filter(col("o_orderkey") % 2 === 0))
    DlvTable.overwrite(s, path,
      df.filter(col("o_orderkey") % 3 === 0).repartition(col(MONTH)))
    statusAgg(DlvTable.toDF(s, path))
  }

  private val deleteGate = QuerySpec.withOracle(
    s"""SELECT CAST(count(DISTINCT $MONTH_SQL) AS BIGINT) AS months,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM orders
       |WHERE $MONTH_SQL <> (SELECT min($MONTH_SQL) FROM orders)"""
      .stripMargin) { (s, d) =>
    // test_7_delete_data (:710): partition-predicate DELETE; deleted
    // partition's rows gone, everything else intact. The invariant the
    // oracle can't see: a pure partition delete is METADATA-ONLY (only
    // RemoveFiles, nothing rewritten).
    val (path, df) = mkPartitioned(s, d, "del")
    appendByMonth(s, path, df)
    val minMonth = df.agg(min(col(MONTH))).head().getString(0)
    val before = DlvTable.log(path).snapshot().files.map(_.path).toSet
    DlvDml.delete(s, path, col(MONTH) === lit(minMonth))
    val after = DlvTable.log(path).snapshot().files.map(_.path).toSet
    require(after.subsetOf(before) && after.size < before.size,
      "partition delete must drop files without staging new ones")
    DlvTable.toDF(s, path)
      .agg(countDistinct(col(MONTH)).as("months"),
        count(lit(1)).as("cnt"))
  }

  private val dvDeleteGate = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 7 <> 3")) { (s, d) =>
    // beyond-reference (delta-parity): DELETE via DELETION VECTOR —
    // matched rows are marked dead in a sidecar instead of rewriting
    // every touched file, the write-amplification lever for DML at
    // 100 TB. The invariants the oracle can't see: the data file set
    // is byte-identical after the delete (zero rewrite), the vectors
    // account for exactly the dead rows, and the protocol gates
    // readers that wouldn't apply them.
    val df = ordersM(s, d)
    val path = scratch("dvdel")
    DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH),
      Map(DlvDv.PROP -> "true"))
    appendByMonth(s, path, df)
    val before = DlvTable.log(path).snapshot().files.map(_.path).toSet
    DlvDml.delete(s, path, col("o_orderkey") % 7 === 3)
    val snap = DlvTable.log(path).snapshot()
    require(snap.files.map(_.path).toSet == before,
      "deletion-vector DELETE must not rewrite or drop data files")
    val dead = snap.files.flatMap(_.dv).map(_.cardinality).sum
    val total = df.count()
    val expectDead = df.filter(col("o_orderkey") % 7 === 3).count()
    require(dead == expectDead,
      s"vector cardinalities $dead != matched rows $expectDead " +
        s"(of $total)")
    require(snap.protocol.minReaderVersion == DlvLog.DV_READER_VERSION,
      "first vector must bump the reader gate")
    statusAgg(DlvTable.toDF(s, path))
  }

  private val dvUpdateGate = QuerySpec.withOracle(
    """SELECT CASE WHEN o_orderkey % 5 = 2 THEN '0-RESET'
      |  ELSE o_orderpriority END AS o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
      // beyond-reference (delta-parity): UPDATE via DELETION VECTOR —
      // matched rows are soft-deleted in a sidecar and their updated
      // copies appended as NEW files, so a sparse update costs
      // O(matched rows) written instead of O(touched bytes) rewritten.
      // The invariants the oracle can't see: every original data file
      // survives byte-identical, the copies land in NEW staged files,
      // and the vectors account for exactly the matched rows.
      val df = ordersM(s, d)
      val path = scratch("dvupd")
      DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH),
        Map(DlvDv.PROP -> "true"))
      appendByMonth(s, path, df)
      val before = DlvTable.log(path).snapshot().files.map(_.path).toSet
      DlvDml.update(s, path, col("o_orderkey") % 5 === 2,
        Map("o_orderpriority" -> lit("0-RESET")))
      val snap = DlvTable.log(path).snapshot()
      val after = snap.files.map(_.path).toSet
      require(before.subsetOf(after),
        "deletion-vector UPDATE must not rewrite or drop the originals")
      require(after.size > before.size,
        "updated copies must land in new staged files")
      val dead = snap.files.flatMap(_.dv).map(_.cardinality).sum
      val expectDead = df.filter(col("o_orderkey") % 5 === 2).count()
      require(dead == expectDead,
        s"vector cardinalities $dead != matched rows $expectDead")
      DlvTable.toDF(s, path)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
  }

  private val dvMergeGate = QuerySpec.withOracle(
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt FROM (
      |  SELECT CASE WHEN o_orderkey % 10 = 4 THEN '0-MERGED'
      |    ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 <> 7
      |  UNION ALL
      |  SELECT '9-NEW' AS o_orderpriority FROM orders
      |  WHERE o_orderkey % 100 = 0
      |) GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    // beyond-reference (delta-parity): MERGE via DELETION VECTOR —
    // the rows a clause deletes or updates are marked dead in a
    // sidecar and only the updated copies + inserts land as new
    // files, completing the DML triple (DELETE/UPDATE/MERGE) on the
    // soft-delete path. A sparse merge costs O(affected rows), not
    // O(touched bytes). Invariants the oracle can't see: every
    // original data file survives byte-identical and the vectors
    // account for exactly the deleted + updated rows.
    import DlvDml._
    val df = ordersM(s, d)
    val path = scratch("dvmrg")
    DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH),
      Map(DlvDv.PROP -> "true"))
    appendByMonth(s, path, df)
    val before = DlvTable.log(path).snapshot().files.map(_.path).toSet
    val src = df
      .filter(col("o_orderkey") % 10 === 4 || col("o_orderkey") % 10 === 7)
      .unionByName(df.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        .withColumn("o_orderpriority", lit("9-NEW")))
    DlvDml.merge(s, path, src,
      on = col("tgt.o_orderkey") === col("src.o_orderkey"),
      clauses = Seq(
        MatchedUpdate(Some(col("src.o_orderkey") % 10 === 4),
          Map("o_orderpriority" -> lit("0-MERGED"))),
        MatchedDelete(Some(col("src.o_orderkey") % 10 === 7)),
        NotMatchedInsert(None, df.columns.toSeq
          .map(c => c -> col(s"src.$c")).toMap)))
    val snap = DlvTable.log(path).snapshot()
    require(before.subsetOf(snap.files.map(_.path).toSet),
      "deletion-vector MERGE must not rewrite or drop the originals")
    val dead = snap.files.flatMap(_.dv).map(_.cardinality).sum
    val expectDead = df.filter(
      col("o_orderkey") % 10 === 4 || col("o_orderkey") % 10 === 7)
      .count()
    require(dead == expectDead,
      s"vector cardinalities $dead != deleted+updated rows $expectDead")
    DlvTable.toDF(s, path)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")
  }

  private val renameGate = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 3 <> 1")) {
    (s, d) =>
      // beyond-reference (delta-parity): ALTER TABLE .. RENAME COLUMN
      // via column mapping (name mode) — a metadata-only commit; at
      // 100 TB a rename that rewrote data would be a non-feature. On
      // disk stays the column's BIRTH (physical) name; the plan
      // speaks the new logical name. Invariants the oracle can't see:
      // zero data bytes touched by the rename, files written AFTER it
      // still carry the physical name (one on-disk lexicon forever),
      // and DML predicates on the new name still prune and rewrite
      // correctly.
      val df = ordersM(s, d)
      val path = scratch("rename")
      DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH),
        Map(DlvColMap.MODE_PROP -> "name"))
      appendByMonth(s, path, df)
      val l = DlvTable.log(path)
      val bytesBefore = l.snapshot().files.map(f => (f.path, f.size))
      DlvColMap.rename(s, path, "o_totalprice", "total_price")
      require(l.snapshot().files.map(f => (f.path, f.size)) ==
        bytesBefore, "RENAME COLUMN must touch no data file")
      // a write after the rename: same physical lexicon on disk
      DlvDml.delete(s, path, col("o_orderkey") % 3 === 1)
      val snap = l.snapshot()
      val physCols = s.read
        .parquet(snap.files.map(f => l.resolveQualified(f.path)): _*)
        .columns.toSet
      require(physCols.contains("o_totalprice") &&
        !physCols.contains("total_price"),
        "on disk is physical: rewritten files must keep the birth name")
      DlvTable.toDF(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          exactSum(col("total_price")).as("total"))
        .orderBy("o_orderstatus")
  }

  private val genPruneGate = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderdate >= DATE '1997-06-01'")) { (s, d) =>
    // beyond-reference (delta-parity): partition pruning THROUGH a
    // generated partition column (delta's OptimizeGeneratedColumn) —
    // a filter on the RAW timestamp column implies a bound on the
    // month partition derived from it, so the scan opens one month's
    // files, not the table's. At 100 TB this is the layout lever
    // generated partition columns exist for. Invariant the oracle
    // can't see: the FileIndex observed partition pruning for a
    // query that NEVER mentions the partition column.
    val df = Tables.orders(s, d) // no month column — generation fills
    val path = scratch("genprune")
    DlvTable.create(s, path,
      df.schema.toDDL + ", order_month STRING GENERATED ALWAYS AS " +
        "(date_format(o_orderdate, 'yyyy-MM'))",
      Seq(MONTH))
    DlvTable.append(s, path, df.repartition(col("o_orderdate")))
    val total = DlvTable.log(path).snapshot().files.size
    val out = statusAgg(DlvTable.toDF(s, path)
      .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf(
        "1997-06-01"))))
    val rows = out.collect()
    val (_, afterPart, _) = DlvFileIndex.lastSkippingStats.get()
    require(afterPart < total,
      s"a raw-date filter must prune generated month partitions " +
        s"($afterPart of $total files kept)")
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
      out.schema)
  }

  private val identityGate = QuerySpec.withOracle(
    """SELECT CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(count(*) AS BIGINT) AS unique_ids,
      |  true AS on_lattice
      |FROM orders""".stripMargin) { (s, d) =>
    // beyond-reference (delta-parity): GENERATED ALWAYS AS IDENTITY —
    // unique, watermark-monotonic, GAP-TOLERANT allocation that never
    // serializes 1000 executors through a counter; the watermark
    // advances in the data commit itself (from the staged files' own
    // footer stats — zero extra reads), so concurrent identity
    // writers conflict instead of double-allocating. Invariants the
    // oracle can't see: allocation across TWO commits stays unique
    // and strictly advancing, and every value sits on the start/step
    // lattice.
    val df = ordersM(s, d)
    val path = scratch("identity")
    DlvTable.create(s, path,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 1 INCREMENT BY 1), " + df.schema.toDDL,
      Seq(MONTH))
    val (half1, half2) = (df.filter(col("o_orderkey") % 2 === 0),
      df.filter(col("o_orderkey") % 2 === 1))
    appendByMonth(s, path, half1)
    val max1 = DlvTable.toDF(s, path).agg(max("row_id")).head().getLong(0)
    appendByMonth(s, path, half2)
    val decl = DlvIdentity.of(DlvTable.log(path).snapshot().metadata)
      .head._2
    val agg = DlvTable.toDF(s, path).agg(
      count(lit(1)).as("cnt"),
      countDistinct(col("row_id")).as("unique_ids"),
      (min(col("row_id")) >= 1).as("on_lattice"),
      sum(when(col("row_id") > max1, 1L).otherwise(0L)).as("beyond"))
      .head()
    require(decl.watermark.isDefined &&
      decl.watermark.get >= agg.getLong(1),
      "watermark must cover every allocated value")
    require(agg.getLong(3) == half2.count(),
      "second commit's values must all be beyond the first's watermark")
    DlvTable.toDF(s, path).agg(
      count(lit(1)).as("cnt"),
      countDistinct(col("row_id")).as("unique_ids"),
      (min(col("row_id")) >= 1).as("on_lattice"))
  }

  private val cloneGate = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 7 <> 3")) { (s, d) =>
    // beyond-reference (delta-parity): CREATE TABLE .. SHALLOW CLONE —
    // a writable ZERO-COPY copy: the clone's version 0 REFERENCES the
    // source's data files in place, so at 100 TB a dev/experiment
    // copy costs one commit JSON, not a copy job. Invariants the
    // oracle can't see: no data parquet lands under the clone root at
    // clone time, every reference is absolute into the source, stats
    // carry (metadata COUNT answers on the clone), and DML on the
    // clone leaves the source's file set byte-identical.
    val (src, df) = mkPartitioned(s, d, "clonesrc")
    appendByMonth(s, src, df)
    val dst = scratch("clonedst")
    val st = DlvClone.shallowClone(s, src, dst)
    require(st.filesReferenced > 0 && st.bytesReferenced > 0,
      "clone must reference the source's files")
    val dstLog = DlvTable.log(dst)
    val copied = dstLog.io.walkFiles(dst)
      .filter(e => e.name.endsWith(".parquet") &&
        !e.name.startsWith(DlvTable.LOG_DIR))
    require(copied.isEmpty,
      s"shallow clone must copy no data parquet, found ${copied.size}")
    require(dstLog.snapshot().files.forall(f =>
      DlvLog.isAbsolutePath(f.path)),
      "every clone reference must be absolute into the source")
    val srcBefore = DlvTable.log(src).snapshot()
      .files.map(f => (f.path, f.size)).toSet
    DlvDml.delete(s, dst, col("o_orderkey") % 7 === 3)
    require(DlvTable.log(src).snapshot()
      .files.map(f => (f.path, f.size)).toSet == srcBefore,
      "DML on the clone must leave the source byte-identical")
    statusAgg(DlvTable.toDF(s, dst))
  }

  private val deepCloneGate = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 7 <> 3")) { (s, d) =>
    // beyond-reference (delta-parity): CREATE TABLE .. CLONE (deep,
    // delta's default): a fully INDEPENDENT byte copy — every live
    // file copies under the destination root via a distributed copy
    // job (no driver bytes), references all table-relative, stats
    // carried. Invariants the oracle can't see: zero absolute
    // references, and the copy survives deleting the SOURCE's data
    // outright (no shared fate — the shallow-clone caveat gone).
    val (src, df) = mkPartitioned(s, d, "dclonesrc")
    appendByMonth(s, src, df)
    val dst = scratch("dclonedst")
    val st = DlvClone.deepClone(s, src, dst)
    require(st.filesReferenced > 0 && st.bytesReferenced > 0)
    val dstLog = DlvTable.log(dst)
    require(dstLog.snapshot().files.forall(f =>
      !DlvLog.isAbsolutePath(f.path)),
      "every deep-clone file must be owned (table-relative)")
    // DML on the copy; the source never notices
    val srcBefore = DlvTable.log(src).snapshot()
      .files.map(f => (f.path, f.size)).toSet
    DlvDml.delete(s, dst, col("o_orderkey") % 7 === 3)
    require(DlvTable.log(src).snapshot()
      .files.map(f => (f.path, f.size)).toSet == srcBefore)
    statusAgg(DlvTable.toDF(s, dst))
  }

  private val reorgGate = QuerySpec.withOracle(
    statusAggSql(
      "WHERE NOT (o_orderkey % 7 = 3 AND " +
        "strftime(o_orderdate, '%Y-%m') <= '1997-12')")) { (s, d) =>
    // beyond-reference (delta-parity): REORG TABLE .. APPLY (PURGE) —
    // the DV-lifecycle closer: rewrite ONLY the vector-bearing files
    // (reading through the vectors) so soft-deletes materialize and
    // the sidecar dependency drops; vector-free files never touched
    // (a full OPTIMIZE would bin-pack everything). Invariants the
    // oracle can't see: no live vector remains, clean files survive
    // byte-identical, and the commit is dataChange=false (streams and
    // change feeds skip it).
    val df = ordersM(s, d)
    val path = scratch("reorg")
    DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH),
      Map(DlvDv.PROP -> "true"))
    appendByMonth(s, path, df)
    // vectors land only on the early months' files
    DlvDml.delete(s, path,
      col("o_orderkey") % 7 === 3 && col(MONTH) <= "1997-12")
    val before = DlvTable.log(path).snapshot().files
    val cleanBefore = before.filter(_.dv.isEmpty).map(_.path).toSet
    val dvBefore = before.filter(_.dv.nonEmpty).map(_.path).toSet
    require(cleanBefore.nonEmpty && dvBefore.nonEmpty,
      "fixture must split into touched and untouched files")
    s.sql(s"REORG TABLE '$path' APPLY (PURGE)")
    val snap = DlvTable.log(path).snapshot()
    require(snap.files.flatMap(_.dv).isEmpty,
      "REORG PURGE must leave no live vector")
    val after = snap.files.map(_.path).toSet
    require(cleanBefore.subsetOf(after),
      "REORG PURGE must never touch vector-free files")
    require(dvBefore.intersect(after).isEmpty,
      "REORG PURGE must replace every vector-bearing file")
    statusAgg(DlvTable.toDF(s, path))
  }

  private val generatedGate = QuerySpec.withOracle(
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, d) =>
    // beyond-reference (delta-parity): GENERATED COLUMNS — the table
    // derives `o_year` from `o_orderdate` at write time (ingest never
    // supplies it) and PARTITIONS by it: the classic layout lever.
    // Invariants the oracle can't see: the incoming frame lacks the
    // column yet every staged file carries its partition value, and
    // an explicit INCONSISTENT value refuses the write.
    val df = Tables.orders(s, d)
    val path = scratch("gen")
    DlvTable.create(s, path,
      df.schema.toDDL +
        ", o_year INT GENERATED ALWAYS AS (year(o_orderdate))",
      Seq("o_year"))
    DlvTable.append(s, path, df.repartition(year(col("o_orderdate"))))
    val snap = DlvTable.log(path).snapshot()
    require(snap.files.nonEmpty &&
      snap.files.forall(_.partitionValues.contains("o_year")),
      "the generated column must drive the partition layout")
    val refused = try {
      DlvTable.append(s, path,
        df.limit(5).withColumn("o_year", lit(1800)))
      false
    } catch { case _: Throwable => true }
    require(refused, "an inconsistent explicit value must refuse")
    DlvTable.toDF(s, path)
      .groupBy("o_year").agg(count(lit(1)).as("cnt"))
      .orderBy("o_year")
  }

  private val constraintsGate = QuerySpec.withOracle(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
       |  ${exactSumSql("o_totalprice")} AS total
       |FROM (
       |  SELECT o_orderstatus, o_totalprice FROM orders
       |  UNION ALL
       |  SELECT o_orderstatus, o_totalprice + 1000 FROM orders
       |  WHERE o_orderkey % 100 = 1
       |) AS u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, d) =>
      // beyond-reference (delta-parity): CHECK CONSTRAINTS — writer
      // invariants enforced row-level on every data-changing write
      // (piggybacked on the write's own scan, no extra pass), existing
      // rows validated at ADD time, writer-version gated. The oracle
      // sees the surviving content; the invariants it can't see: a
      // violating ADD refuses naming the count, a violating append
      // commits NOTHING, and the protocol records the gate.
      val df = ordersM(s, d)
      val path = scratch("ckgate")
      DlvTable.create(s, path, df.schema.toDDL, Seq(MONTH))
      appendByMonth(s, path, df)
      // a constraint existing rows violate must refuse at ADD
      val bad = try {
        DlvConstraints.add(s, path, "impossible", "o_totalprice < 0")
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("existing row(s)")
      }
      require(bad, "violating ADD CONSTRAINT must refuse with the count")
      s.sql(s"ALTER TABLE '$path' ADD CONSTRAINT price_pos " +
        "CHECK (o_totalprice > 0)")
      val vBefore = DlvTable.log(path).latestVersion
      val violated = try {
        DlvTable.append(s, path,
          df.limit(10).withColumn("o_totalprice", lit(-1.0)))
        false
      } catch { case _: Throwable => true }
      require(violated, "a violating append must fail")
      require(DlvTable.log(path).latestVersion == vBefore,
        "a violating append must commit nothing")
      require(DlvTable.log(path).snapshot().protocol.minWriterVersion ==
        DlvLog.CONSTRAINTS_WRITER_VERSION,
        "constraints must bump the writer gate")
      // a valid append passes the same enforcement
      appendByMonth(s, path, df.filter(col("o_orderkey") % 100 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1000))
      statusAgg(DlvTable.toDF(s, path))
  }

  private val updateGate = QuerySpec.withOracle(
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '0-RESET'
      |  ELSE o_orderpriority END AS o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
      // test_8_update_data (:745): UPDATE SET .. WHERE MOD(key, 2) = 0
      val (path, df) = mkPartitioned(s, d, "upd")
      appendByMonth(s, path, df)
      DlvDml.update(s, path, col("o_orderkey") % 2 === 0,
        Map("o_orderpriority" -> lit("0-RESET")))
      DlvTable.toDF(s, path)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
  }

  private val vacuumGate = QuerySpec.withOracle(statusAggSql(
    s"WHERE $MONTH_SQL <> (SELECT min($MONTH_SQL) FROM orders)")) {
    (s, d) =>
      // test_9_vacuum_table (:770): delete a partition, VACUUM RETAIN 0,
      // then the partition's data files — and its now-empty hive dir —
      // must be physically gone while live data still reads fine
      val (path, df) = mkPartitioned(s, d, "vac")
      appendByMonth(s, path, df)
      val minMonth = df.agg(min(col(MONTH))).head().getString(0)
      DlvDml.delete(s, path, col(MONTH) === lit(minMonth))
      Thread.sleep(5) // retention 0: ensure mtimes are strictly past
      val (deleted, kept) = DlvMaintenance.vacuum(s, path, 0L)
      require(deleted > 0, "the deleted partition's files must be vacuumed")
      require(kept > 0, "live files must survive vacuum")
      require(!Files.exists(Paths.get(path, s"$MONTH=$minMonth")),
        "vacuum must sweep the emptied partition dir")
      statusAgg(DlvTable.toDF(s, path))
  }

  private val optimizeGate = QuerySpec.withOracle(
    s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
       |  ${exactSumSql("o_totalprice")} AS total
       |FROM orders""".stripMargin) { (s, d) =>
    // test_10_optimize_table (:835): many small appends, OPTIMIZE
    // bin-packs them into fewer files; old files stay on disk until a
    // vacuum (the reference's NOTE), content is unchanged
    val df = Tables.orders(s, d)
    val path = scratch("opt")
    DlvTable.create(s, path, df.schema.toDDL, Nil)
    (0 until 5).foreach { i =>
      DlvTable.append(s, path,
        df.filter(col("o_orderkey") % 5 === i).coalesce(1))
    }
    val before = DlvTable.log(path).snapshot().files
    require(before.size >= 5, s"setup should create >=5 files: $before")
    DlvMaintenance.optimize(s, path)
    val after = DlvTable.log(path).snapshot().files
    require(after.size < before.size,
      s"optimize must reduce file count: ${before.size} -> ${after.size}")
    require(Files.exists(Paths.get(path, before.head.path)),
      "pre-optimize files remain on disk until VACUUM")
    DlvTable.toDF(s, path)
      .agg(count(lit(1)).as("cnt"), exactSum(col("o_totalprice")).as("total"))
  }

  private val zorderGate = QuerySpec.withOracle(
    """SELECT CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(o_custkey) AS BIGINT) AS custsum
      |FROM orders""".stripMargin) { (s, d) =>
    // OPTIMIZE ZORDER BY (optimize_table's zorder form, :466-479):
    // rewritten files' min/max ranges on the z columns must tighten vs
    // the unclustered layout — that range-shrink is exactly what makes
    // stats skipping effective on the z columns at scale
    val df = Tables.orders(s, d)
    val path = scratch("zo")
    DlvTable.create(s, path, df.schema.toDDL, Nil)
    DlvTable.append(s, path, df.repartition(8))
    // target sized to yield ~6 z-ordered output files at ANY fixture
    // scale (a fixed byte target collapses to one file at tiny sf)
    val totalBytes = DlvTable.log(path).snapshot().sizeInBytes
    DlvMaintenance.optimize(s, path,
      zorderBy = Seq("o_custkey", "o_totalprice"),
      targetFileBytes = math.max(1L << 10, totalBytes / 6))
    val files = DlvTable.log(path).snapshot().files
    require(files.size > 1, "zorder fixture must produce multiple files")
    def num(j: org.json4s.JValue): Double = j match {
      case org.json4s.JLong(v) => v.toDouble
      case org.json4s.JInt(v) => v.toDouble
      case org.json4s.JDouble(v) => v
      case other => sys.error(s"non-numeric stat: $other")
    }
    val spans = files.flatMap { f =>
      val st = f.parsedStats.get
      for {
        mn <- st.minValues.get("o_custkey")
        mx <- st.maxValues.get("o_custkey")
      } yield num(mx) - num(mn)
    }
    val full = df.agg(max("o_custkey") - min("o_custkey")).head()
      .getLong(0).toDouble
    require(spans.sum / spans.size < full * 0.8,
      "zorder must tighten per-file o_custkey ranges")
    DlvTable.toDF(s, path)
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_custkey")).cast("long").as("custsum"))
  }

  private val concurrent = QuerySpec.withOracle(
    s"""SELECT $MONTH_SQL AS $MONTH, CAST(count(*) AS BIGINT) AS cnt
       |FROM orders
       |WHERE $MONTH_SQL = (SELECT DISTINCT $MONTH_SQL AS m FROM orders
       |                    ORDER BY m LIMIT 1 OFFSET 1)
       |GROUP BY 1""".stripMargin) { (s, d) =>
    // test_11/12_concurrent_writes (:883, :908): two writers append
    // DISJOINT partitions concurrently — blind appends never conflict,
    // both must land. Then the conflict side: a transaction that read
    // files a faster committer deleted must be REJECTED at commit
    // (the reference's expected ConcurrentException family).
    val (path, df) = mkPartitioned(s, d, "conc")
    val months = df.select(col(MONTH)).distinct().orderBy(col(MONTH))
      .limit(2).collect().map(_.getString(0))
    require(months.length == 2, "fixture must span at least two months")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = months.map { m =>
      new Thread(() => {
        try DlvTable.append(s, path,
          df.filter(col(MONTH) === m).coalesce(4))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    require(errs.isEmpty,
      s"disjoint-partition concurrent appends must both succeed: ${errs.peek()}")
    require(DlvTable.log(path).latestVersion == 2L,
      s"both append commits must be in the log " +
        s"(latest=${DlvTable.log(path).latestVersion}, " +
        s"history=${DlvTable.log(path).history.map(_.operation)})")
    // conflicting writer: stage a delete over the current files, let a
    // rival delete commit first, then our commit must throw
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "DELETE")
    val snap = tx.readSnapshot.get
    tx.readFilePaths = snap.files.map(_.path).toSet
    tx.readPartitions = Some(snap.files.map(_.partitionValues).toSet)
    DlvDml.delete(s, path, col(MONTH) === months(0)) // rival wins
    val rejected =
      try {
        tx.commit(snap.files.map(_.remove(0L, dataChange = true)),
          isBlindAppend = false)
        false
      } catch { case _: DlvConcurrentException => true }
    require(rejected,
      "a commit whose read files were concurrently deleted must fail")
    DlvTable.toDF(s, path)
      .groupBy(col(MONTH)).agg(count(lit(1)).as("cnt"))
  }

  private val history = QuerySpec.withOracle(
    """SELECT * FROM (VALUES
      |  (CAST(0 AS BIGINT), 'CREATE TABLE'),
      |  (CAST(1 AS BIGINT), 'WRITE'),
      |  (CAST(2 AS BIGINT), 'WRITE'),
      |  (CAST(3 AS BIGINT), 'DELETE'),
      |  (CAST(4 AS BIGINT), 'OPTIMIZE')) AS t(version, operation)
      |ORDER BY version""".stripMargin) { (s, d) =>
    // DESCRIBE HISTORY (show_history/get_history, :248-261): the commit
    // log IS the history; operations appear in commit order
    val (path, df) = mkPartitioned(s, d, "hist")
    appendByMonth(s, path, df)
    appendByMonth(s, path, df) // second file per partition → OPTIMIZE acts
    val minMonth = df.agg(min(col(MONTH))).head().getString(0)
    DlvDml.delete(s, path, col(MONTH) === lit(minMonth))
    DlvMaintenance.optimize(s, path)
    import s.implicits._
    val hist = DlvTable.log(path).history
    // delta-parity operationMetrics ride every transactional commit:
    // a WRITE counts its adds, DELETE its removes, OPTIMIZE both
    def metric(v: Long, key: String): Long =
      hist.find(_.version == v).flatMap(_.operationMetrics)
        .flatMap(_.get(key)).map(_.toLong).getOrElse(
          throw new IllegalStateException(
            s"missing operationMetrics[$key] on version $v"))
    require(metric(1, "numAddedFiles") > 0 &&
      metric(1, "numRemovedFiles") == 0,
      "WRITE metrics must count added files only")
    require(metric(1, "numOutputRows") > 0,
      "WRITE metrics must carry numOutputRows from the adds' stats")
    require(metric(3, "numRemovedFiles") > 0,
      "DELETE metrics must count removed files")
    require(metric(3, "numDeletedRows") > 0,
      "DELETE metrics must carry the deleted-row count")
    require(metric(4, "numAddedFiles") > 0 &&
      metric(4, "numRemovedFiles") > metric(4, "numAddedFiles"),
      "OPTIMIZE metrics must show the bin-pack (more removed than added)")
    hist
      .map(c => (c.version, c.operation))
      .toDF("version", "operation")
      .orderBy("version")
  }

  private val readPruned = QuerySpec.withOracle(statusAggSql(
    s"WHERE $MONTH_SQL = (SELECT max($MONTH_SQL) FROM orders)")) {
    (s, d) =>
      // partition-pruned read: a month-equality filter must reach the
      // log-metadata seam and drop every other partition's files BEFORE
      // the scan — at 100 TB this is the difference between reading one
      // partition and listing-and-reading thousands
      val (path, df) = mkPartitioned(s, d, "prune")
      appendByMonth(s, path, df)
      val m = df.agg(max(col(MONTH))).head().getString(0)
      val pruned = DlvTable.toDF(s, path).filter(col(MONTH) === lit(m))
      pruned.count() // force a planned scan through listFiles
      val (total, afterPart, _) = DlvFileIndex.lastSkippingStats.get()
      require(afterPart < total,
        s"partition pruning must drop files: $total -> $afterPart")
      statusAgg(pruned)
  }

  private val statsSkip = QuerySpec.withOracle(
    """SELECT CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS keysum
      |FROM orders
      |WHERE o_orderkey <= (SELECT min(o_orderkey) +
      |  (max(o_orderkey) - min(o_orderkey)) // 16 FROM orders)"""
      .stripMargin) { (s, d) =>
    // file skipping on DATA-column stats: over a range-clustered layout
    // a narrow key filter must prune files from log min/max alone —
    // no footer reads, no data reads for the pruned 15/16ths
    val df = Tables.orders(s, d)
    val path = scratch("skip")
    DlvTable.create(s, path, df.schema.toDDL, Nil)
    DlvTable.append(s, path,
      df.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    val b = df.agg(min("o_orderkey").cast("long"),
      max("o_orderkey").cast("long")).head()
    val lo = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 16
    val q = DlvTable.toDF(s, path).filter(col("o_orderkey") <= lo)
    q.count() // force a planned scan through listFiles
    val (total, _, afterStats) = DlvFileIndex.lastSkippingStats.get()
    require(afterStats < total,
      s"stats skipping must drop files: $total -> $afterStats")
    q.agg(count(lit(1)).as("cnt"),
      sum(col("o_orderkey")).cast("long").as("keysum"))
  }

  private val sqlRead = QuerySpec.withOracle(statusAggSql("")) { (s, d) =>
    // the read path driven ENTIRELY through SQL: the dlv_table() TVF
    // (DlvSparkSessionExtension) plans through the same pruning file
    // index as the API scan
    val (path, df) = mkPartitioned(s, d, "sqlrd")
    appendByMonth(s, path, df)
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
         |    AS DOUBLE), 6) AS total
         |FROM dlv_table('$path')
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val sqlTimeTravel = QuerySpec.withOracle(
    statusAggSql("WHERE o_orderkey % 2 = 0")) { (s, d) =>
    // VERSION AS OF through SQL (dlv_table_at_version TVF)
    val (path, df) = mkPartitioned(s, d, "sqltt")
    appendByMonth(s, path, df.filter(col("o_orderkey") % 2 === 0))
    appendByMonth(s, path, df.filter(col("o_orderkey") % 2 === 1))
    s.sql(
      s"""SELECT o_orderstatus, count(*) AS cnt,
         |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
         |    AS DOUBLE), 6) AS total
         |FROM dlv_table_at_version('$path', 1)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val sqlChanges = QuerySpec.withOracle(
    """SELECT * FROM (
      |  SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n
      |    FROM orders WHERE o_orderkey % 10 = 7
      |  UNION ALL SELECT 'insert', CAST(count(*) AS BIGINT) FROM orders
      |) AS t ORDER BY _change_type""".stripMargin) { (s, d) =>
    // the reference's CDF read form: SELECT * FROM table_changes(t, v)
    val (path, df) = mkPartitioned(s, d, "sqlcdf", cdf = true)
    appendByMonth(s, path, df)
    DlvDml.delete(s, path, col("o_orderkey") % 10 === 7)
    s.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM table_changes('$path', 1)
         |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
  }

  /** Native atomic CTAS (round 17): `CREATE TABLE .. USING dlv AS
    * <query>` lands metadata AND the query's rows in ONE version-0
    * commit — no reader can observe the table empty, a crash
    * mid-populate leaves nothing registered. The gate asserts the
    * single-commit shape, then reads the table back by name. */
  private val ctasGate = QuerySpec.withOracle(
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 4 <> 1
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
    (s, d) => withTempMetastore(s) {
    val name = "ctas_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val path = scratch("ctas")
    ordersM(s, d).createOrReplaceTempView("fixture_orders_ctas")
    s.sql(s"""CREATE TABLE $name USING dlv PARTITIONED BY ($MONTH)
              |LOCATION '$path' AS
              |SELECT /*+ REPARTITION($MONTH) */ *
              |FROM fixture_orders_ctas
              |WHERE o_orderkey % 4 <> 1""".stripMargin)
    val l = DlvTable.log(path)
    require(l.latestVersion == 0L,
      "CTAS must be ONE version-0 commit (create + populate)")
    require(l.snapshot().files.nonEmpty,
      "the CTAS version-0 commit must carry the data files")
    s.sql(s"""SELECT o_orderpriority, count(*) AS cnt,
              |  sum(o_orderkey) AS key_sum
              |FROM $name GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }
  }

  /** Sharded (v2 sidecar) checkpoints end-to-end (round 18): at a
    * forced-small interval, shard target and at-scale threshold (the
    * distributed-snapshot threshold, which also picks the checkpoint
    * writer), a table's lifecycle crosses three checkpoint boundaries
    * — classic parquet from the driver writer at the first (no hint
    * yet), CONVERSION to the sharded manifest + sidecar layout at the
    * second, and an INCREMENTAL sharded write at the third (only the
    * shards the tail touched rewrite; the manifest carries the rest
    * forward). At 10^7 files that write is O(changed shards), the last
    * O(file-list) object write in the lifecycle gone. The gate pins
    * the layout (manifest holds NO adds, refs sum to the live count)
    * and the oracle pins that every read still resolves exactly
    * through the sharded state. */
  private val shardedCkptGate = QuerySpec.withOracle(
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders WHERE o_orderkey % 9 < 8 AND o_orderkey % 4 <> 1
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, d) =>
    val props = Seq(
      "graft.dlv.checkpointInterval" -> "3",
      "graft.dlv.distributedSnapshotThreshold" -> "1",
      "graft.dlv.checkpointShardTarget" -> "8",
      "graft.dlv.parquetCheckpointThreshold" -> "1")
    val prior = props.map { case (k, _) => k -> sys.props.get(k) }
    props.foreach { case (k, v) => sys.props(k) = v }
    try {
      // status-partitioned (3 values → ~3 files per commit): the gate
      // exercises the checkpoint LIFECYCLE, not write volume
      val df = Tables.orders(s, d)
      val path = scratch("shardckpt")
      DlvTable.create(s, path, df.schema.toDDL, Seq("o_orderstatus"))
      val l = DlvTable.log(path)
      // v1..v8: disjoint slices; checkpoints land at v3 (classic) and
      // v6 (sharded conversion)
      (0 until 8).foreach(k => DlvTable.append(s, path,
        df.filter(col("o_orderkey") % 9 === k)
          .repartition(col("o_orderstatus"))))
      val refs6 = DlvCheckpoint.sidecarRefs(
        s, l.io.qualified(l.checkpointParquetDir(6)))
      require(refs6.nonEmpty, "the v6 checkpoint must be SHARDED")
      // v9: a delete crosses the next boundary → incremental sharded
      DlvDml.delete(s, path, col("o_orderkey") % 4 === 1)
      require(l.latestVersion == 9L)
      val refs9 = DlvCheckpoint.sidecarRefs(
        s, l.io.qualified(l.checkpointParquetDir(9)))
      require(refs9.nonEmpty, "the v9 checkpoint must stay sharded")
      val manifestAdds = s.read.schema(DlvCheckpoint.schema)
        .parquet(l.io.qualified(l.checkpointParquetDir(9)))
        .filter(col("add").isNotNull).count()
      require(manifestAdds == 0,
        "a sharded manifest must carry NO AddFile rows")
      require(l.lastCheckpointHint.exists(h => h.version == 9 &&
        h.numFiles.contains(l.snapshot().files.size.toLong)),
        "the hint must sum the sidecar shard counts")
      DlvTable.toDF(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_orderkey").as("key_sum"))
        .orderBy("o_orderstatus")
    } finally prior.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }

  /** `FSCK REPAIR TABLE` (round 18, delta parity): after files vanish
    * OUTSIDE the log's control (accidental deletion, bucket lifecycle)
    * the repair drops their references — DRY RUN reports the damage,
    * the real run commits the removes, and reads come back exact over
    * what survived. The oracle recomputes the surviving partitions
    * from the raw fixture. */
  private val fsckGate = QuerySpec.withOracle(
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM orders
      |WHERE o_orderstatus <> (SELECT min(o_orderstatus) FROM orders)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, d) =>
    val df = Tables.orders(s, d)
    val path = scratch("fsck")
    DlvTable.create(s, path, df.schema.toDDL, Seq("o_orderstatus"))
    DlvTable.append(s, path, df.repartition(col("o_orderstatus")))
    val lostStatus = df.agg(min("o_orderstatus")).head().getString(0)
    // simulate external loss: physically delete one partition's files
    val lostDir = java.nio.file.Paths.get(
      path, s"o_orderstatus=$lostStatus")
    val walk = java.nio.file.Files.walk(lostDir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toList
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .foreach(p => { java.nio.file.Files.delete(p); () })
    } finally walk.close()
    val dry = s.sql(s"FSCK REPAIR TABLE '$path' DRY RUN").head()
    require(dry.getLong(0) > 0, "DRY RUN must report the lost files")
    require(DlvTable.log(path).latestVersion == 1L,
      "DRY RUN must not commit")
    val fixed = s.sql(s"FSCK REPAIR TABLE '$path'").head()
    require(fixed.getLong(0) == dry.getLong(0) &&
      fixed.getLong(1) == dry.getLong(1),
      s"repair must remove exactly the reported references: " +
        s"$dry vs $fixed")
    require(DlvTable.log(path).latestVersion == 2L,
      "the repair must be ONE commit")
    // idempotent: nothing left to repair
    require(s.sql(s"FSCK REPAIR TABLE '$path'").head().getLong(0) == 0)
    DlvTable.toDF(s, path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
      .orderBy("o_orderstatus")
  }

  /** `[CREATE OR] REPLACE TABLE .. USING dlv AS <query>` (round 17):
    * the new state builds at a FRESH location and the registry name
    * flips atomically — the prior table's files are untouched
    * (external-table model), so a reader mid-replace sees either the
    * old state or the new, never a torn mix. */
  private val replaceTableGate = QuerySpec.withOracle(
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt
      |FROM orders WHERE o_orderkey % 3 = 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
    (s, d) => withTempMetastore(s) {
    val name = "rt_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val pathA = scratch("rt-a")
    val pathB = scratch("rt-b")
    ordersM(s, d).createOrReplaceTempView("fixture_orders_rt")
    s.sql(s"""CREATE TABLE $name USING dlv LOCATION '$pathA' AS
              |SELECT o_orderkey, o_orderstatus FROM fixture_orders_rt
              |WHERE o_orderkey % 3 = 1""".stripMargin)
    val beforeRows = s.table(name).count()
    s.sql(s"""CREATE OR REPLACE TABLE $name USING dlv
              |LOCATION '$pathB' AS
              |SELECT o_orderkey, o_orderstatus FROM fixture_orders_rt
              |WHERE o_orderkey % 3 = 0""".stripMargin)
    require(graft.sources.dlv.sql.DlvRegistry.lookup(s, name)
      .exists(_.contains("rt-b")),
      "REPLACE must flip the name to the new location")
    // the prior state is untouched and still fully readable by path
    require(DlvTable.isDlvTable(pathA) &&
      DlvTable.toDF(s, pathA).count() == beforeRows,
      "the replaced table's files must be untouched")
    s.sql(s"""SELECT o_orderstatus, count(*) AS cnt
              |FROM $name GROUP BY o_orderstatus
              |ORDER BY o_orderstatus""".stripMargin)
    }
  }

  /** The Spark V2 session-catalog delegate (round 17) — the exact
    * wiring shape the reference session uses for delta
    * (`spark.sql.catalog.spark_catalog`, validation_suite.py:230-231):
    * a catalog-wired session answers the reference's `list_tables`
    * (plain `SHOW TABLES`, validation_suite.py:240-241) and
    * `spark.catalog` probes for registry tables, and resolves
    * fully-qualified reads through the catalog onto the same pruning
    * scan. */
  private val catalogV2Gate = QuerySpec.withOracle(
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
      |FROM orders WHERE o_orderkey % 5 <> 2
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
    (s, d) =>
    val sess = s.newSession()
    sess.conf.set("spark.sql.catalog.spark_catalog",
      "graft.sources.dlv.catalog.DlvCatalog")
    val metastore = Files.createTempDirectory("dlv-meta-")
      .resolve("metastore.json")
    sess.conf.set(graft.sources.dlv.sql.DlvRegistry.METASTORE_CONF,
      metastore.toString)
    val name = "catv2_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val path = scratch("catv2")
    ordersM(sess, d).createOrReplaceTempView("fixture_orders_catv2")
    sess.sql(s"""CREATE TABLE $name USING dlv LOCATION '$path' AS
                 |SELECT o_orderkey, o_orderpriority
                 |FROM fixture_orders_catv2
                 |WHERE o_orderkey % 5 <> 2""".stripMargin)
    // the reference's list_tables, verbatim through the stock parser
    require(sess.sql("SHOW TABLES").collect()
      .exists(r => r.getString(1) == name),
      "plain SHOW TABLES must list the registry table")
    require(sess.catalog.tableExists(name) &&
      sess.catalog.listTables().collect().exists(_.name == name),
      "spark.catalog must see the registry table")
    // DESCRIBE TABLE resolves the V2 table's metadata face
    require(sess.sql(s"DESCRIBE TABLE spark_catalog.default.$name")
      .collect().exists(_.getString(0) == "o_orderpriority"),
      "stock DESCRIBE TABLE must show the table's columns")
    // the fully-qualified read resolves through catalog resolution
    // and lands on the pruning V1 scan
    sess.sql(s"""SELECT o_orderpriority, count(*) AS cnt
                 |FROM spark_catalog.default.$name
                 |GROUP BY o_orderpriority
                 |ORDER BY o_orderpriority""".stripMargin)
  }

  private val sqlCatalog = QuerySpec.withOracle(
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '0-RESET'
      |  ELSE o_orderpriority END AS o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM orders WHERE o_orderkey % 10 <> 7
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    // the NAMED-table SQL surface end-to-end, pure spark.sql: CREATE
    // TABLE .. USING dlv, INSERT INTO <select>, UPDATE, DELETE, read by
    // name (the reference's catalog_enabled mode; DlvCatalogSpec covers
    // the remaining statement shapes incl. MERGE/time travel by name)
    withTempMetastore(s) {
    val name = "orders_" +
      java.util.UUID.randomUUID().toString.take(8).replace("-", "")
    val path = scratch("sqlcat")
    val df = ordersM(s, d)
    df.createOrReplaceTempView("fixture_orders")
    s.sql(s"""CREATE TABLE $name (${df.schema.toDDL})
              |USING dlv PARTITIONED BY ($MONTH)
              |LOCATION '$path'""".stripMargin)
    s.sql(s"""INSERT INTO $name
              |SELECT /*+ REPARTITION($MONTH) */ * FROM fixture_orders"""
      .stripMargin)
    s.sql(s"UPDATE $name SET o_orderpriority = '0-RESET' " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"DELETE FROM $name WHERE o_orderkey % 10 = 7")
    s.sql(s"""SELECT o_orderpriority, count(*) AS cnt
              |FROM $name GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    }
  }

  private val schemaEvolution = QuerySpec.withOracle(
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '__pre'
      |  ELSE o_orderstatus END AS status,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin) { (s, d) =>
    // schema evolution: rows written BEFORE the column existed read as
    // null; rows after carry it; one table serves both file schemas
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val path = scratch("evo")
    DlvTable.create(s, path, base.schema.toDDL, Nil)
    DlvTable.append(s, path, base.filter(col("o_orderkey") % 2 === 0))
    DlvTable.addColumns(s, path, "o_orderstatus STRING")
    DlvTable.append(s, path, Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .filter(col("o_orderkey") % 2 === 1))
    DlvTable.toDF(s, path)
      .groupBy(coalesce(col("o_orderstatus"), lit("__pre")).as("status"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("status")
  }

  private val replaceWhere = QuerySpec.withOracle(
    s"""SELECT order_month, CAST(count(*) AS BIGINT) AS cnt,
       |  ${exactSumSql("tp")} AS total
       |FROM (
       |  SELECT $MONTH_SQL AS order_month,
       |    CASE WHEN $MONTH_SQL =
       |        (SELECT DISTINCT $MONTH_SQL AS m FROM orders
       |         ORDER BY m LIMIT 1 OFFSET 1)
       |      THEN o_totalprice + 1 ELSE o_totalprice END AS tp
       |  FROM orders) t
       |GROUP BY order_month ORDER BY order_month""".stripMargin) { (s, d) =>
    // delta's replaceWhere: ONE atomic commit restates exactly the
    // predicate's region (here: one month's partition — metadata-only
    // removes, zero old-partition bytes read outside CDC) while every
    // other partition's files stay untouched. Incoming rows are
    // containment-checked against the predicate on the write scan.
    val (path, df) = mkPartitioned(s, d, "rpw")
    appendByMonth(s, path, df)
    val m = df.select(col(MONTH)).distinct().orderBy(col(MONTH))
      .limit(2).collect().map(_.getString(0)).last
    val l = DlvTable.log(path)
    val before = l.snapshot().files
      .filterNot(_.partitionValues.get(MONTH).contains(m)).toSet
    val restated = df.filter(col(MONTH) === m)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
    val v = DlvDml.overwriteWhere(s, path, restated.repartition(2),
      col(MONTH) === m)
    val after = l.snapshot()
    require(after.version == v, "replaceWhere must be one commit")
    require(after.files
      .filterNot(_.partitionValues.get(MONTH).contains(m))
      .toSet == before,
      "files outside the replaced partition must be untouched")
    DlvTable.toDF(s, path)
      .groupBy(col(MONTH)).agg(count(lit(1)).as("cnt"),
        exactSum(col("o_totalprice")).as("total"))
      .orderBy(col(MONTH))
  }

  private val mergeEvolve = QuerySpec.withOracle(
    s"""SELECT status, CAST(count(*) AS BIGINT) AS cnt,
       |  ${exactSumSql("tp")} AS total
       |FROM (
       |  SELECT CASE WHEN o_orderkey % 4 = 2 THEN '__pre'
       |           ELSE o_orderstatus END AS status,
       |    CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1
       |      ELSE o_totalprice END AS tp
       |  FROM orders WHERE o_orderkey % 4 <= 2
       |) t GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
    // MERGE WITH SCHEMA EVOLUTION (delta's withSchemaEvolution /
    // autoMerge): the source carries a column the target lacks; the
    // merge widens the table schema in ITS OWN commit. Pre-evolution
    // rows (o_orderkey % 4 = 2 — present but untouched) read the new
    // column as null; matched updates and not-matched inserts carry
    // it. One table serves both file schemas.
    val path = scratch("mev")
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    DlvTable.create(s, path, base.schema.toDDL, Nil)
    DlvTable.append(s, path, base.filter(col("o_orderkey") % 2 === 0))
    val src = Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .filter(col("o_orderkey") % 4 <= 1)
    DlvDml.merge(s, path, src,
      on = col("tgt.o_orderkey") === col("src.o_orderkey"),
      clauses = Seq(
        DlvDml.MatchedUpdate(None, Map(
          "o_totalprice" -> (col("src.o_totalprice") + 1),
          "o_orderstatus" -> col("src.o_orderstatus"))),
        DlvDml.NotMatchedInsert(None, Map(
          "o_orderkey" -> col("src.o_orderkey"),
          "o_totalprice" -> col("src.o_totalprice"),
          "o_orderstatus" -> col("src.o_orderstatus")))),
      withSchemaEvolution = true)
    val evolvedSchema = DlvTable.log(path).snapshot().metadata.schema
    require(evolvedSchema.fieldNames.exists(
      _.equalsIgnoreCase("o_orderstatus")),
      "merge must have widened the table schema in its own commit")
    DlvTable.toDF(s, path)
      .groupBy(coalesce(col("o_orderstatus"), lit("__pre"))
        .as("status"))
      .agg(count(lit(1)).as("cnt"),
        exactSum(col("o_totalprice")).as("total"))
      .orderBy("status")
  }

  private val alterProperties = QuerySpec.withOracle(
    """SELECT * FROM (
      |  SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n
      |    FROM orders WHERE o_orderkey % 10 = 7
      |  UNION ALL SELECT 'insert', CAST(count(*) AS BIGINT) FROM orders
      |  UNION ALL SELECT 'update_postimage', CAST(count(*) AS BIGINT)
      |    FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL SELECT 'update_preimage', CAST(count(*) AS BIGINT)
      |    FROM orders WHERE o_orderkey % 10 = 3
      |) AS t ORDER BY _change_type""".stripMargin) { (s, d) =>
    // reference enable_change_data_feed (validation_suite.py:302-303):
    // CDF retrofitted onto an EXISTING table via ALTER TABLE .. SET
    // TBLPROPERTIES, then changes read ACROSS the flip boundary —
    // pre-flip commits replay from data files, post-flip DML carries
    // eager CDC blobs; provenance is per-commit so no special casing
    val (path, df) = mkPartitioned(s, d, "altp") // created WITHOUT cdf
    appendByMonth(s, path, df) // v1: pre-flip append
    val l = DlvTable.log(path)
    require(!l.snapshot().metadata.properties.contains(DlvDml.CDF_PROP),
      "scenario needs a table that starts without the CDF property")
    s.sql(s"ALTER TABLE '$path' SET TBLPROPERTIES " +
      s"('${DlvDml.CDF_PROP}' = 'true')") // v2: metadata-only commit
    require(l.snapshot().metadata.properties
      .get(DlvDml.CDF_PROP).contains("true"),
      "SET TBLPROPERTIES must land in the committed metadata")
    require(l.snapshot().files.nonEmpty &&
      l.latestVersion == 2, "property flip must be its own commit")
    DlvDml.update(s, path, col("o_orderkey") % 10 === 3,
      Map("o_orderpriority" -> lit("0-TOUCHED"))) // v3: eager CDC
    DlvDml.delete(s, path, col("o_orderkey") % 10 === 7) // v4: eager CDC
    DlvChangeFeed.changes(s, path, 1)
      .groupBy("_change_type").agg(count(lit(1)).as("n"))
      .orderBy("_change_type")
  }

  // ─────────────────── bench contrast pairs (A/B) ───────────────────

  /** Shared, idempotent dlv fixture tables for the bench pairs, built
    * once per fixture dir under the repo's gitignored `testdata/`.
    * Marker-gated exactly like [[graft.Replicate]]: a directory that
    * cannot positively prove it is this fixture is never deleted
    * (INCIDENT.md). */
  private object BenchFixture {
    private val VERSION = 4
    private val lock = new Object

    def ensure(s: SparkSession, dir: String): String = lock.synchronized {
      import scala.jdk.CollectionConverters._
      val abs = new java.io.File(dir).getAbsolutePath
      val key = s"${new java.io.File(abs).getName}-" +
        Integer.toHexString(abs.hashCode & 0x7fffffff)
      val root = new java.io.File(s"testdata/dlvbench-$key").getAbsolutePath
      val marker = Paths.get(root, "_DLVBENCH_MARKER.json")
      val want = s"""{"dir":"$abs","version":$VERSION}"""
      if (Files.exists(marker) && Files.readString(marker).trim == want)
        return root
      val p = Paths.get(root)
      if (Files.exists(p)) {
        val entries = Files.list(p).iterator().asScala.toSeq
        require(entries.isEmpty || Files.exists(marker),
          s"refusing to rebuild $root: non-empty and no fixture marker " +
            "(INCIDENT.md: absence of proof is refusal)")
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
      }
      Files.createDirectories(p)
      // lineitem_ranged: 128 files range-clustered by l_orderkey, so
      // per-file min/max are narrow disjoint key ranges
      val li = Tables.lineitem(s, dir)
      val liPath = s"$root/lineitem_ranged"
      DlvTable.create(s, liPath, li.schema.toDDL, Nil)
      DlvTable.append(s, liPath,
        li.repartitionByRange(128, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"))
      // lineitem_bymonth: hive-partitioned by ship month for the DPP
      // pair — the FACT side must dwarf the pair's fixed join/agg
      // overhead or the measured separation understates the pruning
      val lm = li.withColumn(SHIP_MONTH,
        date_format(col("l_shipdate"), "yyyy-MM"))
      val lmPath = s"$root/lineitem_bymonth"
      DlvTable.create(s, lmPath, lm.schema.toDDL, Seq(SHIP_MONTH))
      DlvTable.append(s, lmPath, lm.repartition(col(SHIP_MONTH)))
      // months dim: one tiny parquet (~84 rows). Two requirements make
      // DPP actually measurable: the dim must be a real SCAN (the rule
      // won't plant its filtering subquery against a LocalRelation),
      // and the dim's filter must sit on a NON-join attribute
      // (month_num) — a filter on the join column itself gets inferred
      // through the equi-join as a STATIC partition filter, pruning the
      // fact scan with DPP off too and erasing the contrast.
      lm.select(col(SHIP_MONTH)).distinct()
        .withColumn("month_num",
          substring(col(SHIP_MONTH), 6, 2).cast("int"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/months.parquet")
      Files.writeString(marker, want + "\n")
      root
    }
  }

  private val statsPairSql =
    """SELECT CAST(count(*) AS BIGINT) AS cnt,
      |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |FROM lineitem
      |WHERE l_orderkey >= (SELECT min(l_orderkey) FROM lineitem)
      |  AND l_orderkey <= (SELECT min(l_orderkey) +
      |    (max(l_orderkey) - min(l_orderkey)) // 64 FROM lineitem)"""
      .stripMargin

  private def jNum(j: org.json4s.JValue): Long = j match {
    case org.json4s.JLong(v) => v
    case org.json4s.JInt(v) => v.toLong
    case org.json4s.JDouble(v) => v.toLong
    case other => sys.error(s"non-numeric stat: $other")
  }

  /** The same narrow-range revenue query, with log-stats file skipping
    * ON (meta) or OFF (scan). Identical results; the time difference IS
    * the value of answering "which files can match?" from commit-log
    * metadata instead of opening all 128 files. The key bounds come
    * from the log's per-file stats (pure metadata) — an earlier version
    * computed them with a full raw-parquet scan per timed run, which
    * dominated BOTH sides and diluted the measured separation toward
    * 1×. */
  private def statsQuery(
      s: SparkSession, dir: String, skipping: Boolean): DataFrame = {
    val root = BenchFixture.ensure(s, dir)
    val stats = DlvTable.log(s"$root/lineitem_ranged").snapshot()
      .files.flatMap(_.parsedStats)
    val lo = stats.flatMap(_.minValues.get("l_orderkey")).map(jNum).min
    val hiAll = stats.flatMap(_.maxValues.get("l_orderkey")).map(jNum).max
    val hi = lo + (hiAll - lo) / 64
    DlvTable.toDF(s, s"$root/lineitem_ranged", statsSkipping = skipping)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") <= hi)
      .agg(count(lit(1)).as("cnt"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
  }

  private val SHIP_MONTH = "ship_month"

  private val dppPairSql =
    s"""SELECT CAST(count(*) AS BIGINT) AS cnt,
       |  ${exactSumSql("l_extendedprice")} AS total
       |FROM lineitem
       |WHERE CAST(strftime(l_shipdate, '%m') AS INT) <= 2""".stripMargin

  /** Fact (dlv, month-partitioned) ⋈ broadcast dim (months Jan/Feb):
    * with dynamic partition pruning ON the dim's month list reaches the
    * fact scan as a runtime partition filter and 10/12ths of the files
    * are never read; OFF scans everything and filters at the join.
    * Runs eagerly under the toggled conf (restored after), returning
    * the collected one-row result — the conf must never leak into
    * whatever plans next on this shared session. */
  private def dppQuery(
      s: SparkSession, dir: String, dpp: Boolean): DataFrame = {
    val root = BenchFixture.ensure(s, dir)
    val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val prev = s.conf.get(key)
    try {
      s.conf.set(key, dpp.toString)
      val dim = s.read.parquet(s"$root/months.parquet")
        .filter(col("month_num") <= 2).select(SHIP_MONTH)
      val rows = DlvTable.toDF(s, s"$root/lineitem_bymonth")
        .join(broadcast(dim), SHIP_MONTH)
        .agg(count(lit(1)).as("cnt"),
          exactSum(col("l_extendedprice")).as("total"))
      val out = rows.collect()
      s.createDataFrame(s.sparkContext.parallelize(out.toSeq, 1),
        rows.schema)
    } finally s.conf.set(key, prev)
  }

  def specs: Map[String, QuerySpec] = Map(
    "dlv_write_read" -> writeRead,
    "dlv_restore" -> restoreGate,
    "dlv_convert" -> convertGate,
    "dlv_count_meta" -> countMetaGate,
    "dlv_time_travel" -> timeTravel,
    "dlv_version_read" -> versionRead,
    "dlv_cdf" -> cdf,
    "dlv_merge" -> mergeGate,
    "dlv_overwrite" -> overwrite,
    "dlv_delete" -> deleteGate,
    "dlv_dv_delete" -> dvDeleteGate,
    "dlv_dv_update" -> dvUpdateGate,
    "dlv_dv_merge" -> dvMergeGate,
    "dlv_constraints" -> constraintsGate,
    "dlv_reorg" -> reorgGate,
    "dlv_clone" -> cloneGate,
    "dlv_deep_clone" -> deepCloneGate,
    "dlv_rename_column" -> renameGate,
    "dlv_identity" -> identityGate,
    "dlv_genpart_prune" -> genPruneGate,
    "dlv_generated" -> generatedGate,
    "dlv_update" -> updateGate,
    "dlv_vacuum" -> vacuumGate,
    "dlv_optimize" -> optimizeGate,
    "dlv_zorder" -> zorderGate,
    "dlv_concurrent" -> concurrent,
    "dlv_history" -> history,
    "dlv_read_pruned" -> readPruned,
    "dlv_stats_skip" -> statsSkip,
    "dlv_sql_read" -> sqlRead,
    "dlv_sql_timetravel" -> sqlTimeTravel,
    "dlv_sql_changes" -> sqlChanges,
    "dlv_sql_catalog" -> sqlCatalog,
    "dlv_ctas" -> ctasGate,
    "dlv_replace_table" -> replaceTableGate,
    "dlv_catalog_v2" -> catalogV2Gate,
    "dlv_sharded_ckpt" -> shardedCkptGate,
    "dlv_fsck" -> fsckGate,
    "dlv_schema_evolution" -> schemaEvolution,
    "dlv_merge_evolve" -> mergeEvolve,
    "dlv_replace_where" -> replaceWhere,
    "dlv_alter_properties" -> alterProperties,
    "dlv_bench_stats_scan" -> QuerySpec.withOracle(statsPairSql)(
      statsQuery(_, _, skipping = false)),
    "dlv_bench_stats_meta" -> QuerySpec.withOracle(statsPairSql)(
      statsQuery(_, _, skipping = true)),
    "dlv_bench_dpp_off" -> QuerySpec.withOracle(dppPairSql)(
      dppQuery(_, _, dpp = false)),
    "dlv_bench_dpp_on" -> QuerySpec.withOracle(dppPairSql)(
      dppQuery(_, _, dpp = true)))
}
