package graft.sources.dlv.sql

import graft.SparkSpec
import graft.sources.dlv.DlvTable
import org.apache.spark.sql.SparkSession

/** The Spark V2 session-catalog delegate
  * ([[graft.sources.dlv.catalog.DlvCatalog]]): with
  * `spark.sql.catalog.spark_catalog` pointing at it — the exact
  * wiring shape the reference session uses for delta
  * (validation_suite.py:230-231) — the STOCK statement surface sees
  * registry tables: plain `SHOW TABLES` (the reference's
  * `list_tables`, validation_suite.py:240-241),
  * `spark.catalog.listTables`, `DESCRIBE TABLE`, fully-qualified
  * SELECT, stock DROP/RENAME/ALTER, and managed-location CREATE. */
class DlvV2CatalogSpec extends SparkSpec {

  /** A session wired like the reference's: session-catalog delegate
    * installed, scratch metastore + warehouse. The SQL extension
    * carries over from the shared context. */
  private lazy val cat: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.spark_catalog",
      "graft.sources.dlv.catalog.DlvCatalog")
    val meta = java.nio.file.Files
      .createTempDirectory("v2cat-meta-").resolve("metastore.json")
    s.conf.set(DlvRegistry.METASTORE_CONF, meta.toString)
    s
  }

  private def freshPath(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"v2cat-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def createOrders(name: String, path: String): Unit = {
    cat.sql(s"""CREATE TABLE $name (
      order_id STRING, item_count INT, order_date DATE)
      USING dlv PARTITIONED BY (order_date) LOCATION '$path'""")
    cat.sql(s"""INSERT INTO $name PARTITION (order_date = date'2024-01-10')
      (order_id, item_count) VALUES ('o1', 1), ('o2', 2)""")
  }

  test("plain SHOW TABLES (the reference's list_tables) and " +
    "spark.catalog.listTables see registry tables") {
    val name = "v2cat_orders"
    createOrders(name, freshPath("show"))
    // validation_suite.py:240-241, verbatim through the stock parser
    val shown = cat.sql("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(shown.contains(("default", name)), s"SHOW TABLES: $shown")
    // the Catalog API route (EventStreams-style discovery)
    val listed = cat.catalog.listTables().collect().map(_.name).toSet
    assert(listed.contains(name), s"listTables: $listed")
    assert(cat.catalog.tableExists(name))
  }

  test("stock DESCRIBE TABLE and fully-qualified SELECT resolve " +
    "through the catalog") {
    val name = "v2cat_desc"
    createOrders(name, freshPath("desc"))
    // 3-part form bypasses the dialect parser entirely — catalog
    // resolution hands out the V2 table, the injected rule swaps the
    // scan back onto the pruning V1 relation
    val n = cat.sql(
      s"SELECT count(*) AS n FROM spark_catalog.default.$name")
      .head().getLong(0)
    assert(n == 2L)
    val desc = cat.sql(s"DESCRIBE TABLE spark_catalog.default.$name")
      .collect().map(_.getString(0))
    assert(desc.contains("order_id") && desc.contains("order_date"),
      s"DESCRIBE: ${desc.mkString(",")}")
    // partitioning surfaces in the describe output
    assert(desc.exists(_.contains("Partition")) ||
      desc.count(_ == "order_date") >= 2,
      s"partitioning missing from DESCRIBE: ${desc.mkString(",")}")
    // the reference's desc_table (DESCRIBE DETAIL, dialect statement)
    // keeps working in the same session
    val detail = cat.sql(s"DESCRIBE DETAIL $name")
    assert(detail.select("format").head().getString(0) == "dlv")
  }

  test("managed-location CREATE (no LOCATION), stock DROP TABLE by " +
    "qualified name, and ALTER .. RENAME TO through the catalog") {
    val wh = cat.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    // unique per run: the managed location is a stable path under the
    // warehouse, and a prior run's table would otherwise be adopted
    val name = "v2cat_managed_" +
      java.util.UUID.randomUUID().toString.take(8)
    cat.sql(s"CREATE TABLE $name (id BIGINT) USING dlv")
    cat.sql(s"INSERT INTO $name VALUES (1), (2), (3)")
    val path = DlvRegistry.lookup(cat, name).get
      .stripPrefix("file:")
    assert(path.startsWith(wh),
      s"managed table must land under the warehouse ($wh): $path")
    assert(cat.table(name).count() == 3L)
    // stock RENAME: registry-only move, data untouched
    cat.sql(s"ALTER TABLE $name RENAME TO ${name}_renamed")
    assert(DlvRegistry.lookup(cat, name).isEmpty)
    assert(DlvRegistry.lookup(cat, s"${name}_renamed").contains(path))
    assert(cat.table(s"${name}_renamed").count() == 3L)
    // stock DROP by qualified name reaches catalog.dropTable —
    // external semantics: registration goes, the log stays
    cat.sql(s"DROP TABLE spark_catalog.default.${name}_renamed")
    assert(DlvRegistry.lookup(cat, s"${name}_renamed").isEmpty)
    assert(DlvTable.isDlvTable(path), "DROP must not delete table data")
  }

  test("stock ALTER TABLE SET/UNSET TBLPROPERTIES by qualified name " +
    "commit through the table's own log") {
    val name = "v2cat_props"
    createOrders(name, freshPath("props"))
    cat.sql(s"ALTER TABLE spark_catalog.default.$name " +
      "SET TBLPROPERTIES ('graft.note' = 'hello')")
    val path = DlvRegistry.lookup(cat, name).get
    val meta = DlvTable.log(path).snapshot().metadata
    assert(meta.properties.get("graft.note").contains("hello"))
    cat.sql(s"ALTER TABLE spark_catalog.default.$name " +
      "UNSET TBLPROPERTIES ('graft.note')")
    val meta2 = DlvTable.log(path).snapshot().metadata
    assert(!meta2.properties.contains("graft.note"))
  }

  test("native CTAS: CREATE TABLE .. USING dlv AS SELECT lands " +
    "create + data in ONE version-0 commit; a failing query " +
    "registers nothing") {
    val name = "v2cat_ctas"
    val path = freshPath("ctas")
    cat.sql(s"""CREATE TABLE $name USING dlv PARTITIONED BY (part)
      LOCATION '$path' AS
      SELECT id, CAST(id % 3 AS INT) AS part FROM range(30)""")
    assert(cat.table(name).count() == 30L)
    val log = DlvTable.log(path)
    assert(log.latestVersion == 0L,
      "CTAS must be ONE commit (metadata + adds in version 0)")
    assert(log.snapshot().files.nonEmpty)
    // a query that fails mid-write must leave no registration and no
    // committed table behind
    val badName = "v2cat_ctas_bad"
    val badPath = freshPath("ctas-bad")
    intercept[Exception] {
      cat.sql(s"""CREATE TABLE $badName USING dlv LOCATION '$badPath'
        AS SELECT assert_true(id < 5, 'boom') AS a, id FROM range(50)""")
    }
    assert(DlvRegistry.lookup(cat, badName).isEmpty,
      "failed CTAS must not register the name")
    assert(!DlvTable.isDlvTable(badPath),
      "failed CTAS must not leave a committed table")
  }

  test("REPLACE TABLE AS SELECT on a dlv name: atomic registry flip " +
    "to the new state; the prior table's files are untouched") {
    val name = "v2cat_rtas"
    createOrders(name, freshPath("rtas"))
    val oldPath = DlvRegistry.lookup(cat, name).get
    cat.sql(s"""CREATE OR REPLACE TABLE $name USING dlv AS
      SELECT id AS new_id FROM range(7)""")
    val newPath = DlvRegistry.lookup(cat, name).get
    assert(newPath != oldPath, "replace must flip to a fresh location")
    assert(cat.table(name).count() == 7L)
    assert(cat.table(name).columns.toSeq == Seq("new_id"))
    // prior state still fully readable at its path (external model)
    assert(DlvTable.toDF(cat, oldPath).count() == 2L)
  }

  test("V2 createTable (direct TableCatalog API): managed location " +
    "is file:-URI-normalized under the dialect convention, and a " +
    "concurrent name claim fails loudly") {
    import org.apache.spark.sql.connector.catalog.{Column => VCol, Identifier, TableCatalog}
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(cat)
    try {
      // resolved AFTER setActiveSession: CatalogManager reads the
      // THREAD-ACTIVE session's conf when loading spark_catalog
      val plugin = org.apache.spark.sql.graft.GraftInternal
        .sessionCatalogPlugin(cat).asInstanceOf[TableCatalog]
      val name = "v2cat_api_" +
        java.util.UUID.randomUUID().toString.take(8)
      val ident = Identifier.of(Array("default"), name)
      val props = new java.util.HashMap[String, String]()
      props.put(TableCatalog.PROP_PROVIDER, "dlv")
      assert(plugin.getClass.getName
        == "graft.sources.dlv.catalog.DlvCatalog")
      plugin.createTable(ident,
        Array(VCol.create("id", org.apache.spark.sql.types.LongType)),
        Array.empty, props)
      val path = DlvRegistry.lookup(cat, name).get
      assert(!path.contains("file:"),
        s"registered path must be a plain filesystem path: $path")
      cat.sql(s"INSERT INTO $name VALUES (7)")
      assert(cat.table(name).count() == 1L)
      // the name is claimed — a second create must fail loudly
      intercept[Exception] {
        plugin.createTable(ident,
          Array(VCol.create("id", org.apache.spark.sql.types.LongType)),
          Array.empty, props)
      }
      cat.sql(s"DROP TABLE $name")
    } finally {
      prev match {
        case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
  }

  test("a registry entry does not shadow a REAL session-catalog " +
    "table addressed by its qualified name") {
    import cat.implicits._
    val base = "v2cat_shadow_" +
      java.util.UUID.randomUUID().toString.take(8)
    // a genuine parquet table in the session catalog...
    Seq(("parquet", 1)).toDF("src", "n").write.saveAsTable(base)
    // ...and a dlv registry entry under the SAME bare name
    val path = freshPath("shadow")
    cat.sql(s"""CREATE TABLE dlv_tmp_$base (src STRING, n INT)
                |USING dlv LOCATION '$path'""".stripMargin)
    cat.sql(s"INSERT INTO dlv_tmp_$base VALUES ('dlv', 2), ('dlv', 3)")
    DlvRegistry.register(cat, base, path)
    // the qualified forms are the unambiguous metastore address —
    // they must return the PARQUET table's rows
    assert(cat.sql(s"SELECT src FROM default.$base")
      .head().getString(0) == "parquet")
    assert(cat.sql(s"SELECT src FROM spark_catalog.default.$base")
      .head().getString(0) == "parquet")
    // the bare name keeps registry-first precedence (the reference's
    // single-part model)
    assert(cat.sql(s"SELECT count(*) AS n FROM $base")
      .head().getLong(0) == 2L)
    DlvRegistry.drop(cat, base)
    cat.sql(s"DROP TABLE dlv_tmp_$base")
    cat.sql(s"DROP TABLE default.$base")
  }

  test("VERSION/TIMESTAMP AS OF on a fully-qualified name time-travel " +
    "through the catalog's loadTable variants") {
    val name = "v2cat_tt"
    createOrders(name, freshPath("tt")) // v0 create, v1 insert (2 rows)
    cat.sql(s"""INSERT INTO $name PARTITION (order_date = date'2024-01-11')
      (order_id, item_count) VALUES ('o3', 3)""") // v2 (3 rows)
    val q = s"spark_catalog.default.$name"
    assert(cat.sql(s"SELECT count(*) AS n FROM $q VERSION AS OF 1")
      .head().getLong(0) == 2L)
    assert(cat.sql(s"SELECT count(*) AS n FROM $q VERSION AS OF 2")
      .head().getLong(0) == 3L)
    // timestamp travel: v1's commit time reads v1's content
    val path = DlvRegistry.lookup(cat, name).get
    val ts1 = DlvTable.log(path).commitTimestamp(1)
    val t = new java.sql.Timestamp(ts1).toString
    assert(cat.sql(
      s"SELECT count(*) AS n FROM $q TIMESTAMP AS OF '$t'")
      .head().getLong(0) == 2L)
  }

  test("V2 staging API (atomic CTAS exec path): stageCreate writes " +
    "one version-0 commit, commit registers, abort on a fresh stage " +
    "leaves nothing; stageReplace flips the name") {
    import org.apache.spark.sql.connector.catalog.{Column => VCol, Identifier, StagingTableCatalog, SupportsWrite, TableCatalog}
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(cat)
    try {
      val plugin = org.apache.spark.sql.graft.GraftInternal
        .sessionCatalogPlugin(cat).asInstanceOf[StagingTableCatalog]
      val name = "v2cat_stage_" +
        java.util.UUID.randomUUID().toString.take(8)
      val ident = Identifier.of(Array("default"), name)
      def props = {
        val m = new java.util.HashMap[String, String]()
        m.put(TableCatalog.PROP_PROVIDER, "dlv")
        m
      }
      val cols = Array(
        VCol.create("id", org.apache.spark.sql.types.LongType))
      val writeInfo = new LogicalWriteInfo {
        override def options = CaseInsensitiveStringMap.empty()
        override def queryId = "q1"
        override def schema = cat.range(1).schema
      }
      import cat.implicits._
      def writeThrough(staged: Any, rows: Seq[Long]): Unit =
        staged.asInstanceOf[SupportsWrite]
          .newWriteBuilder(writeInfo).build().asInstanceOf[V1Write]
          .toInsertableRelation
          .insert(rows.toDF("id"), overwrite = false)
      // CREATE: write lands as ONE v0 commit; name visible only after
      // commitStagedChanges
      val s1 = plugin.stageCreate(ident, cols, Array.empty, props)
      writeThrough(s1, 0L until 10L)
      assert(DlvRegistry.lookup(cat, name).isEmpty,
        "the name must not register before commitStagedChanges")
      s1.commitStagedChanges()
      val path1 = DlvRegistry.lookup(cat, name).get
      assert(DlvTable.log(path1).latestVersion == 0L)
      assert(cat.table(name).count() == 10L)
      // REPLACE: fresh location, atomic flip, old state untouched
      val s2 = plugin.stageReplace(ident, cols, Array.empty, props)
      writeThrough(s2, 0L until 3L)
      assert(cat.table(name).count() == 10L,
        "the old state must serve until the commit flips the name")
      s2.commitStagedChanges()
      val path2 = DlvRegistry.lookup(cat, name).get
      assert(path2 != path1 && cat.table(name).count() == 3L)
      assert(DlvTable.toDF(cat, path1).count() == 10L)
      // ABORT on a committed-but-unregistered stage: the staged
      // table's artifacts go, nothing registers
      val ident3 = Identifier.of(Array("default"), name + "_ab")
      val s3 = plugin.stageCreate(ident3, cols, Array.empty, props)
      writeThrough(s3, 0L until 5L)
      s3.abortStagedChanges()
      assert(DlvRegistry.lookup(cat, name + "_ab").isEmpty)
      val abandoned = DlvRegistry.managedLocation(cat, name + "_ab")
      assert(!DlvTable.isDlvTable(abandoned),
        "abort must remove the staged table's log")
      cat.sql(s"DROP TABLE $name")
    } finally {
      prev match {
        case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
  }

  test("df.writeTo(name): the V2 write path lands on the " +
    "transactional append/overwrite; reads stay on the pruning scan") {
    import cat.implicits._
    val name = "v2cat_writeto"
    createOrders(name, freshPath("writeto")) // 2 rows
    val extra = Seq(("o9", 9, java.sql.Date.valueOf("2024-01-12")))
      .toDF("order_id", "item_count", "order_date")
    // append through the stock V2 writer API — one blind-append commit
    extra.writeTo(name).append()
    assert(cat.table(name).count() == 3L)
    val path = DlvRegistry.lookup(cat, name).get
    val vAfterAppend = DlvTable.log(path).latestVersion
    // truncate-overwrite through the stock API — one overwrite commit
    extra.writeTo(name).overwrite(org.apache.spark.sql.functions.lit(true))
    assert(cat.table(name).count() == 1L)
    assert(DlvTable.log(path).latestVersion == vAfterAppend + 1,
      "overwrite must be ONE commit")
    // history still serves the pre-overwrite state (real commits, not
    // a side-channel write)
    assert(DlvTable.toDF(cat, path, version = Some(vAfterAppend))
      .count() == 3L)
  }

  test("saveAsTable lifecycle on a SESSION-CATALOG dlv table: create " +
    "(V1 CTAS conversion), append, and in-place atomic overwrite") {
    import cat.implicits._
    val name = "v2cat_sat_sess"
    // self-clean: a failed prior run leaves the managed location behind
    cat.sql(s"DROP TABLE IF EXISTS $name")
    try graft.sources.dlv.DlvIo
      .forPath(s"spark-warehouse/$name")
      .deleteRecursive(s"spark-warehouse/$name")
    catch { case scala.util.control.NonFatal(_) => () }
    def rows(xs: Int*) = xs.map(x => (x, s"r$x")).toDF("x", "s")
    // create: plain saveAsTable rides the V1 CTAS conversion into the
    // session catalog (Spark keeps it available for catalog extensions)
    rows(1, 2).write.format("dlv").saveAsTable(name)
    assert(cat.table(name).count() == 2L)
    // append-mode saveAsTable: one blind-append commit
    rows(3).write.format("dlv").mode("append").saveAsTable(name)
    assert(cat.table(name).count() == 3L)
    // OVERWRITE on an existing V1 session-catalog table takes Spark's
    // V1 drop-and-recreate path (same as stock parquet saveAsTable —
    // history does NOT survive; keep the table in the REGISTRY when
    // replace-with-history matters). The result is still a consistent
    // dlv table with the new rows.
    rows(7, 8, 9).write.format("dlv").mode("overwrite").saveAsTable(name)
    assert(cat.table(name).count() == 3L)
    assert(cat.table(name).select("x").as[Int].collect().sorted
      .sameElements(Array(7, 8, 9)))
    val loc = cat.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      .location.getPath
    assert(DlvTable.isDlvTable(loc),
      "the overwritten table must still be a dlv table")
  }

  test("saveAsTable OVERWRITE on a REGISTRY table = RTAS: the " +
    "Hints-batch rewrite routes around the upstream V1-provider " +
    "refusal — atomic version-0 commit + registry flip; insertInto " +
    "appends transactionally") {
    import cat.implicits._
    val name = "v2cat_sat_reg"
    createOrders(name, freshPath("satreg")) // registry table, 2 rows
    val origPath = DlvRegistry.lookup(cat, name).get
    def rows(xs: Int*) = xs.map(x =>
      (s"o$x", x, java.sql.Date.valueOf("2024-01-15")))
      .toDF("order_id", "item_count", "order_date")
    // RTAS: stock Spark refuses V1 providers for ReplaceTableAsSelect;
    // the rewrite lands it as ONE version-0 commit at a fresh managed
    // location, then flips the registry name
    rows(7, 8, 9).write.format("dlv").mode("overwrite").saveAsTable(name)
    assert(cat.table(name).count() == 3L)
    val newPath = DlvRegistry.lookup(cat, name).get
    assert(newPath != origPath, "the name must flip to a fresh location")
    assert(DlvTable.log(newPath).latestVersion == 0L,
      "RTAS must be ONE version-0 commit (create + populate)")
    // the replaced table's files are untouched (external-table model)
    assert(DlvTable.isDlvTable(origPath) &&
      DlvTable.toDF(cat, origPath).count() == 2L)
    // insertInto: resolves through the catalog onto the transactional
    // append — one commit
    rows(10).write.format("dlv").insertInto(name)
    assert(cat.table(name).count() == 4L)
    assert(DlvTable.log(newPath).latestVersion == 1L,
      "insertInto must land as one append commit")
    // DataFrameWriterV2 createOrReplace takes the same rewrite
    rows(5).writeTo(name).using("dlv").createOrReplace()
    assert(cat.table(name).count() == 1L)
    assert(DlvTable.toDF(cat, newPath).count() == 4L,
      "the replaced table's files must be untouched")
  }

  test("catalog misses fall through: a parquet session-catalog table " +
    "and a dlv registry table coexist under one SHOW TABLES") {
    val name = "v2cat_coexist"
    createOrders(name, freshPath("coexist"))
    import cat.implicits._
    // plain saveAsTable rides the V1 CTAS conversion, which
    // ResolveSessionCatalog keeps available for catalog EXTENSIONS
    // (supportsV1Command). mode("overwrite") would be RTAS, which
    // stock Spark refuses for V1 file providers under ANY session-
    // catalog extension (delta's DeltaCatalog hits the same wall) —
    // that's an upstream gap, not this catalog's.
    cat.sql("DROP TABLE IF EXISTS v2cat_plain_parquet")
    Seq(1, 2).toDF("x").write.saveAsTable("v2cat_plain_parquet")
    val shown = cat.sql("SHOW TABLES").collect()
      .map(r => r.getString(1)).toSet
    assert(shown.contains(name) && shown.contains("v2cat_plain_parquet"),
      s"SHOW TABLES must union both catalogs: $shown")
    assert(cat.table("v2cat_plain_parquet").count() == 2L)
    cat.sql("DROP TABLE v2cat_plain_parquet")
  }

  test("staging catalog: REPLACE TABLE on a missing stock table " +
    "throws NoSuchTableException instead of creating it") {
    import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
    // drive the staging API directly: Spark's SQL dispatch refuses
    // V1-provider REPLACE before reaching the catalog, but other
    // entry points (DataFrameWriterV2 createOrReplace plumbing,
    // programmatic catalogs) land here
    // the catalog manager (and DlvCatalog itself) resolve through
    // the ACTIVE session — make `cat` active on this thread
    SparkSession.setActiveSession(cat)
    try {
      val c = cat.sessionState.catalogManager.catalog("spark_catalog")
        .asInstanceOf[graft.sources.dlv.catalog.DlvCatalog]
      import org.apache.spark.sql.connector.catalog.{Column, Identifier, TableCatalog, TableInfo}
      import org.apache.spark.sql.connector.expressions.Transform
      import org.apache.spark.sql.types.IntegerType
      val ident = Identifier.of(Array("default"), "r18_missing_stock")
      val props = new java.util.HashMap[String, String]()
      props.put(TableCatalog.PROP_PROVIDER, "parquet")
      val info = new TableInfo.Builder()
        .withColumns(Array(Column.create("id", IntegerType)))
        .withPartitions(Array.empty[Transform])
        .withProperties(props)
        .build()
      intercept[NoSuchTableException] { c.stageReplace(ident, info) }
      assert(!cat.catalog.tableExists("r18_missing_stock"),
        "REPLACE of a missing table must not silently CREATE it")
    } finally SparkSession.setActiveSession(spark)
  }
}
