package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** delta's `replaceWhere`: one atomic commit replaces exactly the
  * predicate's region — metadata-only removes for partition
  * predicates, survivor rewrites for arbitrary ones, containment
  * enforced on the incoming rows, CDC carrying delete+insert images. */
class ReplaceWhereSpec extends SparkSpec with DlvTestProps {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"rpw-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def mk(name: String,
      props: Map[String, String] = Map.empty): String = {
    val path = freshDir(name)
    DlvTable.create(spark, path, "k BIGINT, part INT, v DOUBLE",
      Seq("part"), props)
    DlvTable.append(spark, path,
      (0L until 12L).map(k => (k, (k % 3).toInt, k.toDouble))
        .toDF("k", "part", "v").repartition(col("part")))
    path
  }

  test("partition predicate: metadata-only removes, other partitions' " +
    "files untouched, one commit") {
    val path = mk("part")
    val l = DlvTable.log(path)
    val others = l.snapshot().files
      .filterNot(_.partitionValues.get("part").contains("1")).toSet
    val v = DlvDml.overwriteWhere(spark, path,
      Seq((100L, 1, -1.0)).toDF("k", "part", "v"),
      col("part") === 1)
    assert(l.latestVersion == v)
    assert(l.snapshot().files
      .filterNot(_.partitionValues.get("part").contains("1"))
      .toSet == others)
    val rows = DlvTable.toDF(spark, path).select("k", "part").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows == (0L until 12L).filterNot(_ % 3 == 1)
      .map(k => (k, (k % 3).toInt)).toSet + ((100L, 1)))
  }

  test("arbitrary predicate: only touched files' survivors rewrite; " +
    "non-matching rows of touched files survive") {
    val path = mk("arb")
    DlvDml.overwriteWhere(spark, path,
      Seq((200L, 0, 5.5)).toDF("k", "part", "v"),
      col("v") >= 5.0 && col("v") < 9.0) // rows 5..8 replaced
    val ks = DlvTable.toDF(spark, path).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(ks == ((0L until 12L).toSet -- (5L until 9L)) + 200L, s"$ks")
  }

  test("containment: an incoming row outside the predicate fails the " +
    "write before any commit") {
    val path = mk("contain")
    val before = DlvTable.log(path).latestVersion
    intercept[Exception] {
      DlvDml.overwriteWhere(spark, path,
        Seq((300L, 2, -1.0)).toDF("k", "part", "v"), // part=2 ∉ {1}
        col("part") === 1)
    }
    assert(DlvTable.log(path).latestVersion == before,
      "a containment violation must not commit")
    assert(DlvTable.toDF(spark, path).count() == 12)
  }

  test("CDF carries delete images for the replaced region and insert " +
    "images for the new rows, in one commit") {
    val path = mk("cdf", Map(DlvDml.CDF_PROP -> "true"))
    val v = DlvDml.overwriteWhere(spark, path,
      Seq((100L, 1, -1.0)).toDF("k", "part", "v"),
      col("part") === 1)
    val feed = DlvChangeFeed.changes(spark, path, v, Some(v))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 4L, "insert" -> 1L), s"$byType")
    val deleted = feed.filter(col("_change_type") === "delete")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(deleted == Set(1L, 4L, 7L, 10L))
  }

  test("writer surface: .mode(overwrite).option(replaceWhere, ..) " +
    "routes the scoped overwrite") {
    val path = mk("writer")
    Seq((100L, 1, -1.0)).toDF("k", "part", "v")
      .write.format("dlv").mode("overwrite")
      .option("replaceWhere", "part = 1").save(path)
    val rows = DlvTable.toDF(spark, path)
      .filter(col("part") === 1).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(rows == Set(100L))
    assert(DlvTable.toDF(spark, path).count() == 9)
  }

  test("NULL predicate rows are KEPT (SQL semantics): only " +
    "predicate-TRUE rows replace, and CDC matches the table") {
    val path = freshDir("null")
    DlvTable.create(spark, path, "k BIGINT, part INT, v DOUBLE",
      Seq("part"), Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, path,
      Seq((1L, 0, Some(1.0)), (2L, 0, Some(7.0)),
        (3L, 0, Option.empty[Double]))
        .toDF("k", "part", "v"))
    val ver = DlvDml.overwriteWhere(spark, path,
      Seq((100L, 0, 6.0)).toDF("k", "part", "v"),
      col("v") >= 5.0) // row 2 replaced; row 3 (v NULL) must survive
    val ks = DlvTable.toDF(spark, path).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(ks == Set(1L, 3L, 100L), s"NULL-predicate row lost: $ks")
    val feed = DlvChangeFeed.changes(spark, path, ver, Some(ver))
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("delete" -> 1L, "insert" -> 1L), s"$feed")
  }

  test("read dependency covers the restated REGION: a concurrent " +
    "add into an in-scope (even empty) partition conflicts; " +
    "out-of-scope adds do not") {
    val path = mk("scope")
    val l = DlvTable.log(path)
    val meta = l.snapshot().metadata
    val aCond = graft.sources.dlv.DlvDml.analyzedCond(
      DlvTable.toDF(spark, path), col("part") === 9) // EMPTY region
    val scope = DlvDml.partitionScopeFilter(aCond, meta)
    assert(scope.nonEmpty)
    // pinned tx mirrors what overwriteWhere sets
    val tx = new OptimisticTransaction(l, "WRITE")
    tx.setReadWholeTable()
    tx.addConflictFilter = scope
    DlvTable.append(spark, path,
      Seq((500L, 9, 1.0)).toDF("k", "part", "v")) // rival INTO region
    intercept[ConcurrentAppendException] {
      tx.commit(Nil, isBlindAppend = false)
    }
    val tx2 = new OptimisticTransaction(l, "WRITE")
    tx2.setReadWholeTable()
    tx2.addConflictFilter = scope
    DlvTable.append(spark, path,
      Seq((501L, 2, 1.0)).toDF("k", "part", "v")) // outside region
    tx2.commit(Nil, isBlindAppend = false) // must pass
  }

  test("overwriteWhere CDC: insert images carry the computed " +
    "generated-column values when the incoming frame omits them") {
    val path = freshDir("owgen")
    DlvTable.create(spark, path,
      "id BIGINT, bucket BIGINT GENERATED ALWAYS AS (id % 10)",
      Nil, Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, path, (0L until 20L).toDF("id"))
    // restate id < 5 with a frame that OMITS the generated column —
    // stageFiles computes it; the feed must carry the same values
    val v = DlvDml.overwriteWhere(spark, path,
      Seq(101L, 102L, 103L).toDF("id"), lit(true))
    val feed = DlvChangeFeed.changes(spark, path, v, Some(v))
    val inserts = feed.filter(col("_change_type") === "insert")
      .select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inserts == Set((101L, 1L), (102L, 2L), (103L, 3L)),
      s"insert images diverge from the committed rows: $inserts")
    // and the table itself agrees with the feed
    val tbl = DlvTable.toDF(spark, path)
      .select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tbl == Set((101L, 1L), (102L, 2L), (103L, 3L)))
  }
}
