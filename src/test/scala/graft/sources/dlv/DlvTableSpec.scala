package graft.sources.dlv

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DlvTableSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"dlv-$name-")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def orders = Tables.orders(spark, sf)
    .withColumn("order_date", to_date(col("o_orderdate")))

  test("create + append + read roundtrip, partitioned") {
    val path = freshDir("roundtrip")
    DlvTable.create(spark, path,
      orders.schema.toDDL, Seq("order_date"))
    DlvTable.append(spark, path, orders.limit(0).unionByName(orders))
    val back = DlvTable.toDF(spark, path)
    assert(back.count() == orders.count())
    assert(back.schema.fieldNames.toSeq == orders.schema.fieldNames.toSeq)
    // values identical
    assert(back.exceptAll(orders).count() == 0)
    assert(orders.exceptAll(back).count() == 0)
  }

  test("spark.read.format(\"dlv\").load reads the table, with " +
    "versionAsOf / timestampAsOf time travel") {
    val path = freshDir("fmtread")
    DlvTable.create(spark, path, orders.schema.toDDL, Seq("order_date"))
    DlvTable.append(spark, path,
      orders.filter(col("o_orderkey") % 2 === 0)) // v1
    val ts1 = DlvTable.log(path).commitTimestamp(1)
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    DlvTable.append(spark, path,
      orders.filter(col("o_orderkey") % 2 === 1)) // v2
    val half = orders.filter(col("o_orderkey") % 2 === 0).count()
    val full = orders.count()
    assert(spark.read.format("dlv").load(path).count() == full)
    assert(spark.read.format("dlv")
      .option("versionAsOf", "1").load(path).count() == half)
    assert(spark.read.format("dlv")
      .option("timestampAsOf", ts1.toString).load(path).count() == half)
    // batch read plans through the same pruning file index: a filter
    // on the partition column must still prune files
    val pruned = spark.read.format("dlv").load(path)
      .filter(col("order_date") ===
        orders.select(to_date(col("o_orderdate"))).head().getDate(0))
    assert(pruned.count() > 0 && pruned.count() < full)
    intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("versionAsOf", "1")
        .option("timestampAsOf", ts1.toString).load(path).count()
    }
    ()
  }

  test("df.write.format(\"dlv\") creates, appends, overwrites, and " +
    "honors partitionBy and SaveMode semantics") {
    val path = freshDir("fmtwrite")
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    // first write creates the table with the declared partitioning
    half.write.format("dlv").partitionBy("order_date").save(path)
    val meta = DlvTable.log(path).snapshot().metadata
    assert(meta.partitionColumns == Seq("order_date"))
    assert(spark.read.format("dlv").load(path).count() == half.count())
    // append accumulates; history records a second commit
    orders.filter(col("o_orderkey") % 2 === 1)
      .write.format("dlv").mode("append").save(path)
    assert(spark.read.format("dlv").load(path).count() == orders.count())
    // ErrorIfExists (the default) refuses an existing table
    intercept[IllegalArgumentException] {
      half.write.format("dlv").save(path)
    }
    // Ignore is a no-op on an existing table
    half.limit(1).write.format("dlv").mode("ignore").save(path)
    assert(spark.read.format("dlv").load(path).count() == orders.count())
    // mismatched partitionBy on a later write is an error
    intercept[IllegalArgumentException] {
      half.write.format("dlv").partitionBy("o_orderstatus")
        .mode("append").save(path)
    }
    // overwrite replaces content but keeps history readable
    half.write.format("dlv").mode("overwrite").save(path)
    assert(spark.read.format("dlv").load(path).count() == half.count())
    assert(spark.read.format("dlv").option("versionAsOf", "2")
      .load(path).count() == orders.count())
  }

  test("protocol gate: a future reader/writer version is refused " +
    "loudly instead of misread") {
    val path = freshDir("proto")
    DlvTable.create(spark, path, "id BIGINT", Nil)
    import spark.implicits._
    DlvTable.append(spark, path, Seq(1L, 2L).toDF("id"))
    val l = DlvTable.log(path)
    // a future WRITER version still reads fine, but refuses writes
    val v = l.latestVersion + 1
    assert(l.commit(v, Seq(Protocol(minReaderVersion = 1,
      minWriterVersion = 99),
      CommitInfo(v, System.currentTimeMillis(), "UPGRADE",
        Map.empty, isBlindAppend = false))))
    assert(DlvTable.toDF(spark, path).count() == 2)
    intercept[IllegalArgumentException] {
      DlvTable.append(spark, path, Seq(3L).toDF("id"))
    }
    // a future READER version refuses the read itself
    val v2 = l.latestVersion + 1
    assert(l.commit(v2, Seq(Protocol(minReaderVersion = 99,
      minWriterVersion = 99),
      CommitInfo(v2, System.currentTimeMillis(), "UPGRADE",
        Map.empty, isBlindAppend = false))))
    intercept[IllegalArgumentException] {
      DlvTable.toDF(spark, path).count()
    }
    // time travel to BEFORE the upgrade still works (the gate is the
    // protocol in force AT the read version)
    assert(DlvTable.toDF(spark, path, version = Some(v - 1)).count() == 2)
  }

  test("version + timestamp time travel see the old snapshot") {
    val path = freshDir("tt")
    val first = orders.filter(col("o_orderkey") % 2 === 0)
    val second = orders.filter(col("o_orderkey") % 2 === 1)
    DlvTable.create(spark, path, orders.schema.toDDL, Seq("order_date"))
    DlvTable.append(spark, path, first)
    val l = DlvTable.log(path)
    val v1 = l.latestVersion
    val ts1 = l.commitTimestamp(v1)
    Thread.sleep(5)
    DlvTable.append(spark, path, second)
    assert(DlvTable.toDF(spark, path).count() == orders.count())
    assert(DlvTable.toDF(spark, path, version = Some(v1)).count() ==
      first.count())
    assert(DlvTable.toDF(spark, path,
      timestampMs = Some(ts1)).count() == first.count())
  }

  test("overwrite replaces content; old version still readable") {
    val path = freshDir("ow")
    DlvTable.append(spark, path, orders.limit(100))
    DlvTable.overwrite(spark, path, orders.limit(10))
    assert(DlvTable.toDF(spark, path).count() == 10)
    val l = DlvTable.log(path)
    assert(DlvTable.toDF(spark, path,
      version = Some(l.latestVersion - 1)).count() == 100)
  }

  test("partition pruning and stats skipping prune at the file index") {
    val path = freshDir("prune")
    DlvTable.create(spark, path, orders.schema.toDDL, Seq("order_date"))
    DlvTable.append(spark, path, orders)
    val df = DlvTable.toDF(spark, path)
    val parts = df.select("order_date").distinct().count()
    // partition pruning: one partition selected
    val one = df.filter(col("order_date") === "1995-01-15")
    val expected = orders.filter(to_date(col("o_orderdate")) === "1995-01-15")
      .count()
    assert(one.count() == expected)
    val (total, afterPart, afterStats) = DlvFileIndex.lastSkippingStats.get
    assert(total > 1 && afterPart < total,
      s"partition pruning did not prune: $total -> $afterPart")
    // stats skipping: an impossible range prunes every file
    val none = df.filter(col("o_orderkey") === -42L)
    assert(none.count() == 0)
    val (t2, p2, s2) = DlvFileIndex.lastSkippingStats.get
    assert(s2 == 0, s"stats skipping kept files for impossible range: " +
      s"($t2, $p2, $s2)")
    assert(parts > 1)
  }

  test("filters push down to the parquet scan in the plan") {
    val path = freshDir("push")
    DlvTable.append(spark, path, Tables.lineitem(spark, sf))
    val df = DlvTable.toDF(spark, path)
      .filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]"), s"plan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double>"), s"column pruning missing:\n$plan")
  }

  test("concurrent blind appends both land; conflicting overwrites " +
    "raise typed exceptions") {
    val path = freshDir("conc")
    DlvTable.create(spark, path, orders.schema.toDDL, Nil)
    val a = orders.limit(5)
    // two interleaved appends: stage both, commit both — no conflict
    val l = DlvTable.log(path)
    val tx1 = new OptimisticTransaction(l, "WRITE")
    val tx2 = new OptimisticTransaction(l, "WRITE")
    val meta = tx1.readSnapshot.get.metadata
    val adds1 = DlvTable.stageFiles(spark, l, a, meta, dataChange = true)
    val adds2 = DlvTable.stageFiles(spark, l, a, meta, dataChange = true)
    val v1 = tx1.commit(adds1, isBlindAppend = true)
    val v2 = tx2.commit(adds2, isBlindAppend = true) // retries internally
    assert(v2 == v1 + 1)
    assert(DlvTable.toDF(spark, path).count() == 10)
    // read-based tx loses to a concurrent remove of what it read
    val tx3 = new OptimisticTransaction(l, "DELETE")
    tx3.setReadWholeTable()
    tx3.readFilePaths = tx3.readSnapshot.get.files.map(_.path).toSet
    DlvTable.overwrite(spark, path, a) // removes everything tx3 read
    val removes = tx3.readSnapshot.get.files.map(f =>
      RemoveFile(f.path, 1L, f.partitionValues, dataChange = true))
    intercept[DlvConcurrentException] {
      tx3.commit(removes, isBlindAppend = false)
    }
  }

  /** Every regular file under the table root outside the log. */
  private def dataDirFiles(l: DlvLog): Seq[String] =
    l.io.walkFiles(l.tablePath).map(_.name)
      .filterNot(_.startsWith(DlvTable.LOG_DIR))

  test("write tasks return the stats, sizes and path order a driver " +
    "footer read gives: append, OPTIMIZE and copy-on-write UPDATE") {
    val big = "x" * 5000 // past parquet's 4 KB footer-stats limit
    val df = spark.range(0, 60).select(
      (col("id") % 3).cast("int").as("p"),
      col("id").cast("int").as("i"),
      col("id").as("l"),
      (col("id") - 30).cast("short").as("s"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int"))
        .as("d"),
      (col("id") / 7).cast("decimal(9,2)").as("d9"),
      (col("id") * 1234.5678 - 9000).cast("decimal(18,4)").as("d18"),
      (lit(BigDecimal("12345678901234567890123456.123456")) - col("id"))
        .cast("decimal(38,6)").as("d38"),
      when(col("id") === 5, lit(Double.NaN))
        .when(col("id") === 6, lit(-0.0))
        .otherwise(col("id") * 0.5 - 3).as("dbl"),
      (col("id") * 0.25).cast("float").as("f"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") === 7, lit(big))
        .when(col("id") % 5 === 0, lit("ünïcødé-日本語"))
        .otherwise(concat(lit("s"), col("id").cast("string"))).as("str"),
      timestamp_seconds(col("id") * 3600 + 1700000000L).as("ts"),
      col("id").cast("string").cast("binary").as("bin"),
      lit(null).cast("string").as("nul"),
      struct(col("id").as("a"), lit("z").as("b")).as("st"))
    val conf = spark.sparkContext.hadoopConfiguration
    for (props <- Seq(Map(DlvTable.DATA_SKIP_COLS_PROP -> "4"),
        Map.empty[String, String])) {
      val path = freshDir("statsparity")
      DlvTable.create(spark, path, df.schema.toDDL, Seq("p"), props)
      // two tasks, each writing a file into every partition: the
      // multi-file task commit is exercised
      DlvTable.append(spark, path, df.repartition(2))
      DlvTable.append(spark, path, df.repartition(2))
      DlvMaintenance.optimize(spark, path)
      DlvDml.update(spark, path, col("i") % 4 === 0,
        Map("l" -> (col("l") + 1000)))
      val l = DlvTable.log(path)
      val indexed = DlvTable.indexedStatsCols(l.snapshot().metadata)
      assert(indexed.isDefined == props.nonEmpty)
      for (v <- 1L to l.latestVersion) {
        val adds = l.commitActionsOf(v).collect { case a: AddFile => a }
        assert(adds.nonEmpty, s"v$v wrote no file")
        assert(adds.map(_.path) == adds.map(_.path).sorted,
          s"v$v lists its files out of path order")
        adds.foreach { a =>
          val file = new org.apache.hadoop.fs.Path(l.resolveQualified(a.path))
          assert(a.stats.contains(ParquetStats.statsJson(conf, file, indexed)),
            s"v$v ${a.path}")
          assert(a.size == java.nio.file.Files.size(
            java.nio.file.Paths.get(l.resolve(a.path))))
        }
        assert(l.snapshotAt(Some(v)).files
          .map(_.parsedStats.get.numRecords).sum ==
          DlvTable.toDF(spark, path, version = Some(v)).count())
      }
      // the stats are real, not empty on both sides
      val st = l.snapshot().files.head.parsedStats.get
      assert(st.minValues.keySet.contains("d"))
      assert(st.minValues.keySet.contains("d9") == props.isEmpty)
      // only data files beside the log: no checksum or marker files
      val stray = dataDirFiles(l).filterNot(_.endsWith(".parquet"))
      assert(stray.isEmpty, s"non-data files in the table dir: $stray")
    }
  }

  test("a write that fails in one task leaves nothing visible, and " +
    "VACUUM leaves only files the log references") {
    val path = freshDir("failwrite")
    DlvTable.create(spark, path, "id BIGINT, p INT", Seq("p"))
    DlvTable.append(spark, path,
      spark.range(0, 40).select(col("id"), (col("id") % 4).cast("int").as("p")))
    spark.sql(s"ALTER TABLE '$path' ADD CONSTRAINT small CHECK (id < 1000)")
    val l = DlvTable.log(path)
    val v0 = l.latestVersion
    val n0 = DlvTable.toDF(spark, path).count()
    // four tasks; only the last one holds the violating row
    val bad = spark.range(100, 140, 1, 4).select(
      when(col("id") === 139, lit(5000L)).otherwise(col("id")).as("id"),
      (col("id") % 4).cast("int").as("p"))
    intercept[Exception] { DlvTable.append(spark, path, bad) }
    assert(l.latestVersion == v0)
    assert(DlvTable.toDF(spark, path).count() == n0)
    DlvMaintenance.vacuum(spark, path, 0L)
    val live = l.snapshot().files.map(_.path).toSet
    assert(dataDirFiles(l).filter(_.endsWith(".parquet")).toSet == live)
  }
}
