package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IDENTITY columns: unique, watermark-monotonic, gap-tolerant
  * allocation that never serializes writers through a counter; the
  * watermark advances in the same commit as the data (concurrent
  * identity writers conflict instead of double-allocating). */
class IdentitySpec extends SparkSpec with DlvTestProps {

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"id-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  import spark.implicits._

  private def idsOf(path: String): Seq[Long] =
    DlvTable.toDF(spark, path).select("row_id").collect()
      .map(_.getLong(0)).toSeq

  test("ALWAYS identity: generated on append, unique, on the " +
    "start/step lattice, strictly advancing across commits, " +
    "watermark rides the same commit as the data") {
    val path = freshDir("basic")
    DlvTable.create(spark, path,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 10 INCREMENT BY 2), part INT, v DOUBLE",
      Seq("part"))
    DlvTable.append(spark, path,
      (0 until 20).map(i => (i % 3, i.toDouble)).toDF("part", "v")
        .repartition(col("part")))
    val first = idsOf(path)
    assert(first.size == 20 && first.distinct.size == 20)
    assert(first.forall(v => v >= 10 && (v - 10) % 2 == 0),
      s"values must sit on the start/step lattice, got ${first.take(5)}")
    DlvTable.append(spark, path,
      (0 until 10).map(i => (i % 3, -i.toDouble)).toDF("part", "v")
        .repartition(col("part")))
    val all = idsOf(path)
    assert(all.size == 30 && all.distinct.size == 30)
    val second = all.filterNot(first.toSet)
    assert(second.forall(_ > first.max),
      "second commit's values must be beyond the first's watermark")
    // the advancement is IN the data commit (conflict-carrying)
    val l = DlvTable.log(path)
    val actions = l.commitActionsOf(l.latestVersion)
    assert(actions.exists(_.isInstanceOf[Metadata]),
      "an identity-allocating commit must carry the watermark Metadata")
    val decl = DlvIdentity.of(l.snapshot().metadata).head._2
    assert(decl.watermark.contains(all.max))
  }

  test("ALWAYS refuses supplied values; BY DEFAULT accepts them, " +
    "fills nulls, and explicit values past the watermark advance it") {
    val always = freshDir("always")
    DlvTable.create(spark, always,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE", Nil)
    intercept[IllegalArgumentException] {
      DlvTable.append(spark, always,
        Seq((1L, 1.0)).toDF("row_id", "v"))
    }
    val byDefault = freshDir("bydefault")
    DlvTable.create(spark, byDefault,
      "row_id BIGINT GENERATED BY DEFAULT AS IDENTITY, v DOUBLE", Nil)
    DlvTable.append(spark, byDefault,
      Seq((Some(500L), 1.0), (None, 2.0), (Some(700L), 3.0))
        .toDF("row_id", "v"))
    val ids = idsOf(byDefault)
    assert(ids.size == 3 && ids.distinct.size == 3)
    assert(ids.contains(500L) && ids.contains(700L))
    // next append allocates beyond the explicit 700
    DlvTable.append(spark, byDefault, Seq(9.0).toDF("v"))
    val next = idsOf(byDefault).filterNot(ids.toSet)
    assert(next.forall(_ > 700L),
      s"explicit values must advance the watermark, got $next")
  }

  test("MERGE inserts allocate identity values; UPDATE refuses to " +
    "set one and rewrites preserve existing values") {
    import DlvDml._
    val path = freshDir("dml")
    DlvTable.create(spark, path,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v DOUBLE",
      Nil)
    DlvTable.append(spark, path,
      (0L until 10L).map(k => (k, k.toDouble)).toDF("k", "v"))
    val before = DlvTable.toDF(spark, path)
      .select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    intercept[IllegalArgumentException] {
      DlvDml.update(spark, path, col("k") === 1L,
        Map("row_id" -> lit(0L)))
    }
    DlvDml.update(spark, path, col("k") < 3L, Map("v" -> lit(-1.0)))
    val afterUpd = DlvTable.toDF(spark, path)
      .select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterUpd == before,
      "a rewrite UPDATE must preserve identity values")
    // merge: updates keep ids, inserts allocate fresh ones
    val src = (5L until 15L).map(k => (k, 100.0 + k)).toDF("k", "v")
      .withColumn("row_id", lit(null).cast("bigint"))
    DlvDml.merge(spark, path, src,
      on = col("tgt.k") === col("src.k"),
      clauses = Seq(
        MatchedUpdate(None, Map("v" -> col("src.v"))),
        NotMatchedInsert(None, Map(
          "k" -> col("src.k"), "v" -> col("src.v")))))
    val after = DlvTable.toDF(spark, path)
      .select("k", "row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size == 15)
    assert((0L until 10L).forall(k => after(k) == before(k)),
      "merge updates must preserve identity values")
    val fresh = (10L until 15L).map(after)
    assert(fresh.toSet.size == 5 &&
      fresh.forall(_ > before.values.max),
      "merge inserts must allocate beyond the watermark")
    assert(after.values.toSeq.distinct.size == 15)
  }

  test("MERGE cannot bypass the identity guards: SET on an identity " +
    "column and ALWAYS-insert values refuse") {
    import DlvDml._
    val path = freshDir("mergeguard")
    DlvTable.create(spark, path,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v DOUBLE",
      Nil)
    DlvTable.append(spark, path,
      (0L until 5L).map(k => (k, k.toDouble)).toDF("k", "v"))
    val src = Seq((1L, 9.0)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      DlvDml.merge(spark, path, src,
        on = col("tgt.k") === col("src.k"),
        clauses = Seq(MatchedUpdate(None,
          Map("row_id" -> lit(0L), "v" -> col("src.v")))))
    }
    intercept[IllegalArgumentException] {
      DlvDml.merge(spark, path, src,
        on = col("tgt.k") === col("src.k"),
        clauses = Seq(NotMatchedInsert(None, Map(
          "row_id" -> lit(0L), "k" -> col("src.k"),
          "v" -> col("src.v")))))
    }
  }

  test("guards: watermark properties locked, rename refused, DROP " +
    "COLUMN sweeps the declaration, declaration validation") {
    val path = freshDir("guards")
    DlvTable.create(spark, path,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE",
      Nil, Map(DlvColMap.MODE_PROP -> "name"))
    intercept[IllegalArgumentException] {
      DlvTable.setProperties(spark, path,
        Map(DlvIdentity.PREFIX + "row_id" -> "start=1;step=1;always=true"))
    }
    intercept[IllegalArgumentException] {
      DlvTable.unsetProperties(spark, path,
        Seq(DlvIdentity.PREFIX + "row_id"))
    }
    intercept[IllegalArgumentException] {
      DlvColMap.rename(spark, path, "row_id", "rid")
    }
    DlvTable.dropColumn(spark, path, "row_id")
    assert(DlvIdentity.of(DlvTable.log(path).snapshot().metadata).isEmpty)
    // declaration validation: non-integral type refused
    intercept[IllegalArgumentException] {
      DlvTable.create(spark, freshDir("badtype"),
        "row_id DOUBLE GENERATED ALWAYS AS IDENTITY, v DOUBLE", Nil)
    }
    // partition column refused
    intercept[IllegalArgumentException] {
      DlvTable.create(spark, freshDir("badpart"),
        "row_id BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE",
        Seq("row_id"))
    }
  }

  test("SQL surface: CREATE TABLE with an IDENTITY clause through " +
    "the dlv parser, INSERT INTO allocates") {
    val path = freshDir("sql")
    spark.sql(
      s"""CREATE TABLE id_sql_t (
         |  row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100),
         |  v DOUBLE) USING dlv LOCATION '$path'""".stripMargin)
    try {
      spark.sql("INSERT INTO id_sql_t (v) VALUES (1.0), (2.0), (3.0)")
      val ids = spark.sql("SELECT row_id FROM id_sql_t")
        .collect().map(_.getLong(0))
      assert(ids.length == 3 && ids.distinct.length == 3 &&
        ids.forall(_ >= 100L))
    } finally spark.sql("DROP TABLE IF EXISTS id_sql_t")
  }

  private def mergeInsertCdcIds(dv: Boolean): Unit = {
    val path = freshDir(if (dv) "idcdcdv" else "idcdc")
    val props = Map(DlvDml.CDF_PROP -> "true") ++
      (if (dv) Map(DlvDv.PROP -> "true") else Map.empty)
    DlvTable.create(spark, path,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, v DOUBLE",
      Nil, props)
    DlvTable.append(spark, path,
      (0L until 5L).map(k => (k, k.toDouble)).toDF("k", "v"))
    val src = (3L until 9L).map(k => (k, k * 10.0)).toDF("k", "v")
      .alias("src")
    val ver = DlvDml.merge(spark, path, src,
      on = col("tgt.k") === col("src.k"),
      clauses = Seq(
        DlvDml.MatchedUpdate(None, Map("v" -> col("src.v"))),
        DlvDml.NotMatchedInsert(None,
          Map("k" -> col("src.k"), "v" -> col("src.v")))))
    val feed = DlvChangeFeed.changes(spark, path, ver, Some(ver))
      .filter(col("_change_type") === "insert")
      .select("row_id", "k").collect()
      .map(r => (Option(r.get(0)), r.getLong(1))).toSeq
    assert(feed.map(_._2).toSet == (5L until 9L).toSet)
    assert(feed.forall(_._1.nonEmpty),
      s"CDF insert images must carry allocated identity values, got $feed")
    // and they are THE values the table wrote, not a reallocation
    val tbl = DlvTable.toDF(spark, path).filter(col("k") >= 5L)
      .select("row_id", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(feed.map(p => (p._1.get.asInstanceOf[Long], p._2)).toSet == tbl)
  }

  test("MERGE-insert CDC carries the allocated identity values " +
    "(rewrite route)") { mergeInsertCdcIds(dv = false) }

  test("MERGE-insert CDC carries the allocated identity values " +
    "(deletion-vector route)") { mergeInsertCdcIds(dv = true) }

  test("MERGE insert CDC images carry the exact committed rows on an " +
    "IDENTITY-FREE table with a nondeterministic insert value") {
    val path = freshDir("mergepin")
    DlvTable.create(spark, path, "id BIGINT, stamp DOUBLE", Nil,
      Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, path,
      (0L until 5L).map(i => (i, 0.0)).toDF("id", "stamp"))
    val src = Seq(10L, 11L, 12L).toDF("sid")
    // rand() re-evaluates per scan: without the full pin the staged
    // files and the CDC blob would each roll their own values
    val v = DlvDml.merge(spark, path, src,
      col("id") === col("sid"),
      Seq(DlvDml.NotMatchedInsert(None, Map(
        "id" -> col("sid"), "stamp" -> rand()))))
    val table = DlvTable.toDF(spark, path)
      .filter(col("id") >= 10L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val feed = DlvChangeFeed.changes(spark, path, v, Some(v))
      .filter(col("_change_type") === "insert").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("stamp")).toMap
    assert(table.keySet == Set(10L, 11L, 12L))
    assert(feed == table,
      s"the change feed must carry the committed values: " +
        s"feed=$feed table=$table")
  }
}
