package graft.sources.dlv.sql

import graft.SparkSpec
import graft.sources.dlv.DlvTable

/** The named-table SQL surface end-to-end, in the reference's own
  * statement shapes (validation_suite.py): CREATE TABLE .. USING dlv,
  * INSERT INTO .. PARTITION .. VALUES, SELECT by name, VERSION AS OF /
  * TIMESTAMP AS OF on names, UPDATE / DELETE / MERGE INTO, DESCRIBE
  * HISTORY / OPTIMIZE / VACUUM by name, SHOW DLV TABLES, DROP TABLE. */
class DlvCatalogSpec extends SparkSpec {

  // the reference's orders schema (validation_suite.py:150-158)
  private val ORDERS_DDL =
    "order_id STRING, item_count INT, cost DOUBLE, " +
      "order_time TIMESTAMP, order_date DATE"

  private def freshName(prefix: String): (String, String) = {
    val n = prefix + java.util.UUID.randomUUID().toString.take(8)
      .replace("-", "")
    val dir = java.nio.file.Files.createTempDirectory(s"dlvcat-$n-")
    dir.toFile.deleteOnExit()
    (n, dir.resolve("t").toString)
  }

  private def useTempMetastore(): Unit = {
    val f = java.nio.file.Files.createTempDirectory("dlv-meta-")
      .resolve("metastore.json")
    spark.conf.set(DlvRegistry.METASTORE_CONF, f.toString)
  }

  private def createOrders(name: String, path: String): Unit =
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name ($ORDERS_DDL)
         |USING dlv PARTITIONED BY (order_date) LOCATION '$path'"""
        .stripMargin)

  private def insertBatch(name: String, day: String, ids: Seq[String],
      itemCount: Int = 1): Unit =
    spark.sql(
      s"""INSERT INTO $name PARTITION (order_date = date'$day')
         |  (order_id, item_count, cost, order_time) VALUES
         |  ${ids.map(id => s"('$id', $itemCount, cast('10.0' as double), " +
          s"timestamp'$day 16:16:16')").mkString(", ")}"""
        .stripMargin)

  test("create, insert into partition, read by name (test 1 shape)") {
    useTempMetastore()
    val (name, path) = freshName("t1")
    createOrders(name, path)
    insertBatch(name, "2024-01-10", Seq("order_0", "order_1"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $name")
      .head().getLong(0) == 2)
    assert(spark.table(name).count() == 2)
    assert(spark.sql(
      s"SELECT order_id FROM $name WHERE order_date = date'2024-01-10'")
      .count() == 2)
    assert(DlvTable.toDF(spark, path).count() == 2)
  }

  test("VERSION AS OF and TIMESTAMP AS OF on a name (tests 2+3 shape)") {
    useTempMetastore()
    val (name, path) = freshName("tt")
    createOrders(name, path)
    insertBatch(name, "2024-01-10", Seq("order_0_before", "order_1_before"))
    val ts1 = DlvTable.log(path).commitTimestamp(1)
    while (System.currentTimeMillis() <= ts1) Thread.sleep(1)
    insertBatch(name, "2024-01-10", Seq("order_0_after", "order_1_after"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $name")
      .head().getLong(0) == 4)
    assert(spark.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 1")
      .head().getLong(0) == 2)
    val lit = new java.sql.Timestamp(ts1).toString
    assert(spark.sql(
      s"""SELECT count(*) AS n FROM $name TIMESTAMP AS OF '$lit'""")
      .head().getLong(0) == 2)
  }

  test("UPDATE .. WHERE MOD(..) (test 8 shape)") {
    useTempMetastore()
    val (name, _) = freshName("upd")
    createOrders(name, freshName("updp")._2)
    (1 to 9).foreach(i =>
      insertBatch(name, "2024-01-10", Seq(s"order_$i"), itemCount = i))
    spark.sql(
      s"UPDATE $name SET item_count = 0 WHERE MOD(item_count, 2) = 0")
    val counts = spark.sql(
      s"SELECT item_count, count(*) AS n FROM $name GROUP BY 1")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) == 4) // 2,4,6,8 reset
    assert(Seq(1, 3, 5, 7, 9).forall(counts(_) == 1))
  }

  test("DELETE FROM .. WHERE order_date (test 7 shape)") {
    useTempMetastore()
    val (name, _) = freshName("del")
    createOrders(name, freshName("delp")._2)
    insertBatch(name, "2024-01-10", (1 to 5).map(i => s"doomed_$i"))
    insertBatch(name, "2024-01-16", (1 to 5).map(i => s"kept_$i"))
    spark.sql(s"""DELETE FROM $name WHERE order_date = "2024-01-10"""")
    val left = spark.sql(s"SELECT order_id FROM $name").collect()
      .map(_.getString(0))
    assert(left.length == 5 && left.forall(_.startsWith("kept")))
  }

  test("MERGE INTO with updates-win policy (test 5 shape)") {
    useTempMetastore()
    val (main, _) = freshName("mrgm")
    val (updates, _) = freshName("mrgu")
    createOrders(main, freshName("mrgmp")._2)
    createOrders(updates, freshName("mrgup")._2)
    insertBatch(main, "2024-01-10", Seq("order_0"), itemCount = 10)
    insertBatch(main, "2024-01-10", Seq("order_1"), itemCount = 20)
    insertBatch(updates, "2024-01-10", Seq("order_0"), itemCount = 111)
    insertBatch(updates, "2024-01-10", Seq("order_1"), itemCount = 222)
    insertBatch(updates, "2024-01-11", Seq("order_9"), itemCount = 999)
    spark.sql(
      s"""MERGE INTO $main
         |USING $updates
         |ON $updates.order_id = $main.order_id
         |WHEN MATCHED THEN UPDATE SET
         |  order_id = $updates.order_id,
         |  order_time = $updates.order_time,
         |  item_count = $updates.item_count,
         |  cost = $updates.cost,
         |  order_date = $updates.order_date
         |WHEN NOT MATCHED THEN INSERT (
         |  order_id, order_time, item_count, cost, order_date)
         |VALUES ($updates.order_id, $updates.order_time,
         |  $updates.item_count, $updates.cost, $updates.order_date)"""
        .stripMargin)
    val byId = spark.sql(s"SELECT order_id, item_count FROM $main")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(byId == Map(
      "order_0" -> 111, "order_1" -> 222, "order_9" -> 999))
  }

  test("DESCRIBE HISTORY / OPTIMIZE / VACUUM / SHOW / DROP by name") {
    useTempMetastore()
    val (name, path) = freshName("mnt")
    createOrders(name, path)
    insertBatch(name, "2024-01-10", (1 to 5).map(i => s"a_$i"))
    insertBatch(name, "2024-01-10", (1 to 5).map(i => s"b_$i"))
    val ops = spark.sql(s"DESCRIBE HISTORY $name")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("WRITE", "WRITE", "CREATE TABLE"))
    // LIMIT keeps the newest n entries (reverse-chronological head)
    assert(spark.sql(s"DESCRIBE HISTORY $name LIMIT 2")
      .select("operation").collect().map(_.getString(0)).toSeq ==
      Seq("WRITE", "WRITE"))
    val opt = spark.sql(s"OPTIMIZE $name").head()
    assert(opt.getLong(2) < opt.getLong(1))
    Thread.sleep(5)
    assert(spark.sql(s"VACUUM $name RETAIN 0 HOURS").head().getLong(0) > 0)
    assert(spark.table(name).count() == 10)
    val listed = spark.sql("SHOW DLV TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(listed(name.toLowerCase) == new java.io.File(path)
      .getAbsolutePath)
    spark.sql(s"DROP TABLE $name")
    assert(spark.sql("SHOW DLV TABLES").count() == 0)
    // the data survives a DROP (external-table semantics)
    assert(DlvTable.toDF(spark, path).count() == 10)
  }

  test("DESCRIBE DETAIL / DESCRIBE TABLE EXTENDED by name (desc_table shape)") {
    useTempMetastore()
    val (name, path) = freshName("dsc")
    createOrders(name, path)
    insertBatch(name, "2024-01-10", (1 to 5).map(i => s"a_$i"))

    val d = spark.sql(s"DESCRIBE DETAIL $name").head()
    assert(d.getAs[String]("format") == "dlv")
    assert(d.getAs[String]("name") == name.toLowerCase)
    assert(d.getAs[scala.collection.Seq[String]]("partitionColumns")
      .toSeq == Seq("order_date"))
    assert(d.getAs[Long]("numFiles") >= 1L)
    assert(d.getAs[Long]("sizeInBytes") > 0L)
    // detail also answers for a quoted path (no registration needed)
    val dp = spark.sql(s"DESCRIBE DETAIL '$path'").head()
    assert(dp.getAs[String]("id") == d.getAs[String]("id"))

    val plain = spark.sql(s"DESCRIBE TABLE $name").collect()
    val cols = plain.map(_.getString(0)).toSeq
    assert(cols.take(5) ==
      Seq("order_id", "item_count", "cost", "order_time", "order_date"))
    assert(cols.contains("# Partition Information"))
    val ext = spark.sql(s"DESCRIBE EXTENDED $name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ext("Provider") == "dlv")
    assert(ext("Type") == "EXTERNAL")
    assert(ext("Num Files").toLong >= 1L)
    // a NON-dlv name still goes to Spark's own DESCRIBE
    spark.range(3).createOrReplaceTempView("plain_view")
    assert(spark.sql("DESCRIBE plain_view").collect()
      .map(_.getString(0)).toSeq == Seq("id"))
  }

  test("two-part db.table names resolve through the registry") {
    useTempMetastore()
    val (bare, path) = freshName("mp")
    val name = s"sales.$bare"
    createOrders(name, path)
    insertBatch(name, "2024-01-10", (1 to 4).map(i => s"m_$i"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 4)
    assert(spark.table(name).count() == 4)
    spark.sql(s"UPDATE $name SET item_count = 9 WHERE order_id = 'm_1'")
    assert(spark.sql(
      s"SELECT item_count FROM $name WHERE order_id = 'm_1'")
      .head().getInt(0) == 9)
    val ops = spark.sql(s"DESCRIBE HISTORY $name")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.head == "UPDATE")
    spark.sql(s"DROP TABLE $name")
    assert(spark.sql("SHOW DLV TABLES").count() == 0)
  }

  test("SHOW DLV TABLES IN db lists only that namespace") {
    useTempMetastore()
    val (bareA, pathA) = freshName("nsa")
    val (bareB, pathB) = freshName("nsb")
    val (bareC, pathC) = freshName("nsc")
    createOrders(s"sales.$bareA", pathA)
    createOrders(s"sales.$bareB", pathB)
    createOrders(s"ops.$bareC", pathC)
    assert(spark.sql("SHOW DLV TABLES").count() == 3)
    val inSales = spark.sql("SHOW DLV TABLES IN sales")
      .select("name").collect().map(_.getString(0)).toSet
    assert(inSales == Set(s"sales.$bareA", s"sales.$bareB").map(_.toLowerCase))
    assert(spark.sql("SHOW DLV TABLES IN ops").count() == 1)
    // no prefix-collision: db "sale" must not match "sales.*"
    assert(spark.sql("SHOW DLV TABLES IN sale").count() == 0)
    assert(spark.sql("SHOW DLV TABLES IN nowhere").count() == 0)
  }

  test("ALTER TABLE .. SET TBLPROPERTIES by name retrofits CDF") {
    useTempMetastore()
    val (bare, path) = freshName("prop")
    createOrders(bare, path)
    insertBatch(bare, "2024-01-10", Seq("p_1", "p_2"))
    spark.sql(s"ALTER TABLE $bare SET TBLPROPERTIES " +
      "('dlv.enableChangeDataFeed' = 'true')")
    assert(DlvTable.log(path).snapshot().metadata.properties
      .get("dlv.enableChangeDataFeed").contains("true"))
    spark.sql(s"DELETE FROM $bare WHERE order_id = 'p_1'")
    // post-flip DML carries eager CDC; pre-flip insert replays as insert
    val byType = spark.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM table_changes('$path', 1)
         |GROUP BY _change_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L, "delete" -> 1L))
  }

  test("ALTER SET/UNSET TBLPROPERTIES reject a malformed pair loudly " +
    "instead of silently dropping it beside a parseable sibling") {
    useTempMetastore()
    val (bare, path) = freshName("propbad")
    createOrders(bare, path)
    // one good pair + one malformed (unquoted value with '/') — the
    // propMap form parsed the good pair and silently dropped the bad
    val eSet = intercept[Exception] {
      spark.sql(s"ALTER TABLE $bare SET TBLPROPERTIES " +
        "('dlv.comment' = 'ok', dlv.owner = team/data)")
    }
    assert(eSet.getMessage.contains("TBLPROPERTIES"), eSet.getMessage)
    assert(!DlvTable.log(path).snapshot().metadata.properties
      .contains("dlv.comment"), "no partial property set may land")
    val eUnset = intercept[Exception] {
      spark.sql(s"ALTER TABLE $bare UNSET TBLPROPERTIES IF EXISTS " +
        "('dlv.comment', bad/key)")
    }
    assert(eUnset.getMessage.contains("TBLPROPERTIES"), eUnset.getMessage)
  }

  test("OPTIMIZE .. WHERE compacts only the selected partition") {
    useTempMetastore()
    val (name, path) = freshName("ow2")
    createOrders(name, path)
    insertBatch(name, "2024-01-10", (1 to 3).map(i => s"a_$i"))
    insertBatch(name, "2024-01-10", (4 to 6).map(i => s"a_$i"))
    insertBatch(name, "2024-01-11", (1 to 3).map(i => s"b_$i"))
    insertBatch(name, "2024-01-11", (4 to 6).map(i => s"b_$i"))
    def filesByDate: Map[String, Int] =
      DlvTable.log(path).snapshot().files
        .groupBy(_.partitionValues("order_date")).view.mapValues(_.size).toMap
    val before = filesByDate
    assert(before("2024-01-10") > 1 && before("2024-01-11") > 1)
    val r = spark.sql(
      s"OPTIMIZE $name WHERE order_date = '2024-01-10'").head()
    assert(r.getLong(2) < r.getLong(1), "file count must drop")
    val after = filesByDate
    assert(after("2024-01-10") == 1, "selected partition compacted")
    assert(after("2024-01-11") == before("2024-01-11"),
      "other partition untouched")
    assert(spark.table(name).count() == 12)
    // a non-partition predicate is refused
    intercept[Exception] {
      spark.sql(s"OPTIMIZE $name WHERE item_count = 1").collect()
    }
  }

  test("reference CREATE shape: LOCATION before PARTITIONED BY, " +
    "TBLPROPERTIES at create, delta-spelled CDF key honored") {
    useTempMetastore()
    val (name, path) = freshName("tprops")
    // validation_suite.py:268-286's exact clause ORDER (LOCATION before
    // PARTITIONED BY, TBLPROPERTIES last, unquoted delta.-spelled key)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name ($ORDERS_DDL)
         |USING dlv
         |LOCATION '$path'
         |PARTITIONED BY (order_date)
         |TBLPROPERTIES(delta.enableChangeDataFeed = true)"""
        .stripMargin)
    insertBatch(name, "2024-01-10", Seq("o0", "o1"))
    spark.sql(s"UPDATE $name SET item_count = 9 WHERE order_id = 'o0'")
    // the delta-spelled property must have armed eager CDC: the UPDATE
    // (version 2) carries pre/post images
    val ch = spark.sql(
        s"SELECT _change_type FROM table_changes('$path', 2)")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ch == Seq("update_postimage", "update_preimage"),
      s"delta.enableChangeDataFeed at CREATE must enable CDF, got $ch")
    // PARTITIONED BY after LOCATION must still partition
    assert(graft.sources.dlv.DlvTable.log(path).snapshot()
      .metadata.partitionColumns == Seq("order_date"))
  }

  test("CREATE on an EXISTING table location applies TBLPROPERTIES " +
    "as a commit instead of dropping them") {
    useTempMetastore()
    val (name, path) = freshName("treg")
    createOrders(name, path)
    insertBatch(name, "2024-01-10", Seq("o0"))
    spark.sql(s"DROP TABLE $name")
    // re-register with a property: schema-less form over existing data
    spark.sql(
      s"""CREATE TABLE $name USING dlv LOCATION '$path'
         |TBLPROPERTIES('dlv.owner' = 'pipeline')""".stripMargin)
    assert(graft.sources.dlv.DlvTable.log(path).snapshot()
      .metadata.properties.get("dlv.owner").contains("pipeline"))
    assert(spark.sql(s"SELECT count(*) AS n FROM $name")
      .head().getLong(0) == 1)
  }

  test("CREATE tail parsing edges: quoted parens, malformed pairs " +
    "loud, OPTIONS/CTAS delegated, idempotent re-register") {
    useTempMetastore()
    val (name, path) = freshName("tedge")
    // a ')' inside a quoted property value must not end the clause
    spark.sql(
      s"""CREATE TABLE $name ($ORDERS_DDL) USING dlv
         |LOCATION '$path'
         |TBLPROPERTIES('dlv.comment' = 'orders (daily)')""".stripMargin)
    val l = graft.sources.dlv.DlvTable.log(path)
    assert(l.snapshot().metadata.properties
      .get("dlv.comment").contains("orders (daily)"))
    // a silently-droppable pair must fail loudly instead
    val e = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE ${name}2 ($ORDERS_DDL) USING dlv
           |LOCATION '${path}2'
           |TBLPROPERTIES(dlv.owner = team/data)""".stripMargin)
    }
    assert(e.getMessage.contains("TBLPROPERTIES"), e.getMessage)
    // OPTIONS is not ours — the parser steps aside; CTAS is (round
    // 17: native atomic create+populate)
    assert(DlvSqlParser.parse(
      "CREATE TABLE x USING dlv OPTIONS (path '/p')").isEmpty)
    assert(DlvSqlParser.parse(
      "CREATE TABLE x USING dlv LOCATION '/p' AS SELECT 1")
      .exists(_.isInstanceOf[CreateDlvTableAsSelectCommand]))
    // idempotent startup CREATE: same properties → no metadata churn
    spark.sql(s"DROP TABLE $name")
    val vBefore = l.latestVersion
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $name USING dlv
         |LOCATION '$path'
         |TBLPROPERTIES('dlv.comment' = 'orders (daily)')""".stripMargin)
    assert(l.latestVersion == vBefore,
      "re-registering with identical properties must not commit")
  }

  test("SHOW TBLPROPERTIES lists, filters, and reads over a path") {
    useTempMetastore()
    val (name, path) = freshName("tshow")
    spark.sql(
      s"""CREATE TABLE $name ($ORDERS_DDL) USING dlv
         |LOCATION '$path'
         |TBLPROPERTIES('dlv.a' = '1', 'dlv.b' = '2')""".stripMargin)
    val all = spark.sql(s"SHOW TBLPROPERTIES $name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(all == Map("dlv.a" -> "1", "dlv.b" -> "2"))
    assert(spark.sql(s"SHOW TBLPROPERTIES $name ('dlv.a')")
      .collect().map(_.getString(1)).toSeq == Seq("1"))
    assert(spark.sql(s"SHOW TBLPROPERTIES $name ('nope')").isEmpty)
    assert(spark.sql(s"SHOW TBLPROPERTIES '$path' ('dlv.b')")
      .head().getString(1) == "2")
  }

  test("INSERT OVERWRITE replaces content (test 6 shape)") {
    useTempMetastore()
    val (name, _) = freshName("ow")
    createOrders(name, freshName("owp")._2)
    insertBatch(name, "2024-01-10", Seq("order_0", "order_1"))
    spark.sql(
      s"""INSERT OVERWRITE $name PARTITION (order_date = date'2024-01-12')
         |  (order_id, item_count, cost, order_time) VALUES
         |  ('order_999', 10, cast('1.0' as double),
         |   timestamp'2024-01-12 00:00:00'),
         |  ('order_888', 20, cast('1.0' as double),
         |   timestamp'2024-01-12 00:00:00')""".stripMargin)
    val ids = spark.sql(s"SELECT order_id FROM $name").collect()
      .map(_.getString(0)).toSet
    assert(ids == Set("order_999", "order_888"))
  }

  test("dropArtifacts: removes the table's own data files and log, " +
    "leaves unrelated files at the location") {
    import spark.implicits._
    val (_, path) = freshName("sweep")
    DlvTable.create(spark, path, "id BIGINT, part INT", Seq("part"))
    DlvTable.append(spark, path,
      (0 until 20).map(i => (i.toLong, i % 2)).toDF("id", "part"))
    // an unrelated user file at the same location must survive
    val stray = java.nio.file.Paths.get(path, "README.txt")
    java.nio.file.Files.createDirectories(stray.getParent)
    java.nio.file.Files.writeString(stray, "not table data")
    assert(DlvTable.isDlvTable(path))
    DlvTable.dropArtifacts(path)
    assert(!DlvTable.isDlvTable(path), "the log dir must be gone")
    assert(java.nio.file.Files.exists(stray),
      "unrelated files must survive the sweep")
    val survivors = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(_.getFileName.toString).toList
      } finally s.close()
    }
    assert(survivors.forall(!_.endsWith(".parquet")),
      s"data files must be gone: $survivors")
    // idempotent / safe on a non-table location
    DlvTable.dropArtifacts(path)
  }

  test("registry-using gates restore the session metastore conf " +
    "(no leak into later gates on the shared bench session)") {
    val sentinel = freshName("sentinel")._2 + "/meta.json"
    val prev = spark.conf.getOption(DlvRegistry.METASTORE_CONF)
    spark.conf.set(DlvRegistry.METASTORE_CONF, sentinel)
    try {
      val out = graft.SparkEntry.queries("dlv_ctas")(spark, sf)
      assert(out.count() > 0)
      assert(spark.conf.get(DlvRegistry.METASTORE_CONF) == sentinel,
        "dlv_ctas leaked its temp metastore into the session")
    } finally prev match {
      case Some(v) => spark.conf.set(DlvRegistry.METASTORE_CONF, v)
      case None => spark.conf.unset(DlvRegistry.METASTORE_CONF)
    }
  }
}
