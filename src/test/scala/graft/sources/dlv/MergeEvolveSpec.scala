package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MERGE schema auto-evolution — delta's `withSchemaEvolution` /
  * autoMerge: top-level source columns the target lacks are added to
  * the table schema in the merge's own commit; files written before
  * the evolution read the new columns as typed nulls. Composes with
  * the deletion-vector merge route, CDF, and column mapping. */
class MergeEvolveSpec extends SparkSpec with DlvTestProps {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"mev-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def mk(name: String,
      props: Map[String, String] = Map.empty): String = {
    val path = freshDir(name)
    DlvTable.create(spark, path, "k BIGINT, v DOUBLE", Nil, props)
    DlvTable.append(spark, path,
      (0L until 6L).map(k => (k, k.toDouble)).toDF("k", "v"))
    path
  }

  private def srcWithTag = (3L until 9L)
    .map(k => (k, k * 10.0, s"tag$k")).toDF("k", "v", "tag")

  private def runMerge(path: String): Long =
    DlvDml.merge(spark, path, srcWithTag,
      on = col("tgt.k") === col("src.k"),
      clauses = Seq(
        DlvDml.MatchedUpdate(None,
          Map("v" -> col("src.v"), "tag" -> col("src.tag"))),
        DlvDml.NotMatchedInsert(None, Map(
          "k" -> col("src.k"), "v" -> col("src.v"),
          "tag" -> col("src.tag")))),
      withSchemaEvolution = true)

  private def assertEvolved(path: String): Unit = {
    val rows = DlvTable.toDF(spark, path).select("k", "v", "tag")
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    val expect =
      (0L until 3L).map(k => (k, k.toDouble, None)).toSet ++
      (3L until 9L).map(k => (k, k * 10.0, Some(s"tag$k"))).toSet
    assert(rows == expect, s"got $rows")
    val schema = DlvTable.log(path).snapshot().metadata.schema
    assert(schema.fieldNames.toSeq == Seq("k", "v", "tag"))
  }

  test("rewrite route: merge widens the schema in its own commit; " +
    "untouched pre-evolution rows read null") {
    val path = mk("rw")
    val before = DlvTable.log(path).latestVersion
    runMerge(path)
    assert(DlvTable.log(path).latestVersion == before + 1,
      "evolution + merge must be ONE commit")
    assertEvolved(path)
  }

  test("without withSchemaEvolution the same merge leaves the " +
    "schema unchanged (extra source columns ignored)") {
    val path = mk("noevo")
    DlvDml.merge(spark, path, srcWithTag,
      on = col("tgt.k") === col("src.k"),
      clauses = Seq(
        DlvDml.MatchedUpdate(None, Map("v" -> col("src.v"))),
        DlvDml.NotMatchedInsert(None,
          Map("k" -> col("src.k"), "v" -> col("src.v")))))
    val schema = DlvTable.log(path).snapshot().metadata.schema
    assert(schema.fieldNames.toSeq == Seq("k", "v"))
  }

  // the deletion-vector route takes its images from the marked rows,
  // the copy-on-write route from the pinned discovery join — which
  // must null-fill the added column like every file read
  for (dv <- Seq(true, false)) {
    val (route, how) =
      if (dv) ("deletion-vector", "DV merge")
      else ("copy-on-write", "the rewrite")
    test(s"$route route: evolution composes with $how and " +
      "CDF carries the new column") {
      val path = mk(route, Map(
        DlvDv.PROP -> dv.toString, DlvDml.CDF_PROP -> "true"))
      val ver = runMerge(path)
      assertEvolved(path)
      // the route was actually taken: a DV merge keeps the pre-merge
      // file live with a vector, a rewrite replaces it
      val snap = DlvTable.log(path).snapshot()
      assert(snap.files.exists(_.dv.nonEmpty) == dv,
        s"expected the $route route")
      val feed = DlvChangeFeed.changes(spark, path, ver, Some(ver))
      def images(kind: String): Set[(Long, Option[String])] =
        feed.filter(col("_change_type") === kind)
          .select("k", "tag").collect()
          .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(images("insert") ==
        (6L until 9L).map(k => (k, Some(s"tag$k"))).toSet)
      assert(images("update_postimage") ==
        (3L until 6L).map(k => (k, Some(s"tag$k"))).toSet)
      assert(images("update_preimage") ==
        (3L until 6L).map(k => (k, None)).toSet)
      assert(images("delete").isEmpty)
    }
  }

  test("a merge condition over a column the merge adds still refuses") {
    val path = mk("oncol")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      DlvDml.merge(spark, path, srcWithTag,
        on = col("tgt.k") === col("src.k") &&
          col("tgt.tag") === col("src.tag"),
        clauses = Seq(DlvDml.NotMatchedInsert(None, Map(
          "k" -> col("src.k"), "v" -> col("src.v"),
          "tag" -> col("src.tag")))),
        withSchemaEvolution = true)
    }
    assert(e.getMessage.contains("tag"), e.getMessage)
    assert(DlvTable.log(path).snapshot().metadata.schema.fieldNames
      .toSeq == Seq("k", "v"), "a refused merge commits nothing")
  }

  test("column mapping: evolution lands the new column with physical " +
    "= logical name while renamed columns keep their birth names") {
    val path = mk("cm", Map(DlvColMap.MODE_PROP -> "name"))
    DlvColMap.rename(spark, path, "v", "price")
    val src = (3L until 9L)
      .map(k => (k, k * 10.0, s"tag$k")).toDF("k", "price", "tag")
    DlvDml.merge(spark, path, src,
      on = col("tgt.k") === col("src.k"),
      clauses = Seq(
        DlvDml.MatchedUpdate(None,
          Map("price" -> col("src.price"), "tag" -> col("src.tag"))),
        DlvDml.NotMatchedInsert(None, Map(
          "k" -> col("src.k"), "price" -> col("src.price"),
          "tag" -> col("src.tag")))),
      withSchemaEvolution = true)
    val df = DlvTable.toDF(spark, path)
    assert(df.columns.toSeq == Seq("k", "price", "tag"))
    val got = df.filter(col("k") === 7L).select("price", "tag")
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(got == Seq((70.0, "tag7")))
    // and the pre-rename physical name still backs `price` on disk
    assert(DlvColMap.renames(
      DlvTable.log(path).snapshot().metadata) == Map("price" -> "v"))
  }

  test("SQL surface: MERGE WITH SCHEMA EVOLUTION INTO with star " +
    "actions expands over the union of target and source columns") {
    val path = mk("sql")
    srcWithTag.createOrReplaceTempView("mev_src")
    try {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO dlv.`$path` AS t
           |USING mev_src AS s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assertEvolved(path)
    } finally spark.catalog.dropTempView("mev_src")
  }
}
