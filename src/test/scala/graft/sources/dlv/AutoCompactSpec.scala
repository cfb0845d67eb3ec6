package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** AUTO COMPACT (delta's autoOptimize.autoCompact): appends that
  * fragment a partition past minNumFiles small files trigger a
  * partition-scoped bin-pack right after the append commit —
  * best-effort, content-preserving, scoped to the partitions the
  * append touched. */
class AutoCompactSpec extends SparkSpec with DlvTestProps {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"ac-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def liveByPart(path: String): Map[String, Int] =
    DlvTable.log(path).snapshot().files
      .groupBy(_.partitionValues.getOrElse("part", ""))
      .view.mapValues(_.size).toMap

  test("a fragmenting append triggers a partition-scoped compaction; " +
    "untouched partitions keep their files; content preserved") {
    val path = freshDir("basic")
    DlvTable.create(spark, path, "k BIGINT, part INT", Seq("part"),
      Map(DlvTable.AUTO_COMPACT_PROP -> "true",
        DlvTable.AUTO_COMPACT_MIN_FILES_PROP -> "4"))
    // fragment partition 0 below the threshold — no compaction yet
    (0 until 3).foreach(i => DlvTable.append(spark, path,
      Seq((i.toLong, 0)).toDF("k", "part").coalesce(1)))
    assert(liveByPart(path)("0") == 3)
    val historyBefore = DlvTable.log(path).history.map(_.operation)
    assert(!historyBefore.contains("OPTIMIZE"))
    // also park some files in partition 1 (below threshold)
    (0 until 2).foreach(i => DlvTable.append(spark, path,
      Seq((100L + i, 1)).toDF("k", "part").coalesce(1)))
    // the 4th small file in partition 0 crosses the threshold
    DlvTable.append(spark, path,
      Seq((3L, 0)).toDF("k", "part").coalesce(1))
    val after = liveByPart(path)
    assert(after("0") == 1,
      s"partition 0 must have auto-compacted to one file: $after")
    assert(after("1") == 2,
      s"partition 1 (under threshold, untouched by the trigger " +
        s"append) must keep its files: $after")
    assert(DlvTable.log(path).history.map(_.operation)
      .contains("OPTIMIZE"))
    // content survives exactly
    val rows = DlvTable.toDF(spark, path).select("k", "part").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows == ((0L to 3L).map((_, 0)) ++
      Seq((100L, 1), (101L, 1))).toSet)
  }

  test("unpartitioned table compacts whole when it qualifies") {
    val path = freshDir("flat")
    DlvTable.create(spark, path, "k BIGINT", Nil,
      Map(DlvTable.AUTO_COMPACT_PROP -> "true",
        DlvTable.AUTO_COMPACT_MIN_FILES_PROP -> "3"))
    (0 until 3).foreach(i => DlvTable.append(spark, path,
      Seq(i.toLong).toDF("k").coalesce(1)))
    assert(DlvTable.log(path).snapshot().files.size == 1)
    assert(DlvTable.toDF(spark, path).count() == 3)
  }

  test("without the property nothing fires") {
    val path = freshDir("off")
    DlvTable.create(spark, path, "k BIGINT", Nil)
    (0 until 5).foreach(i => DlvTable.append(spark, path,
      Seq(i.toLong).toDF("k").coalesce(1)))
    assert(DlvTable.log(path).snapshot().files.size == 5)
    assert(!DlvTable.log(path).history.map(_.operation)
      .contains("OPTIMIZE"))
  }

  test("malformed dlv.autoOptimize.minNumFiles fails at SET " +
    "TBLPROPERTIES and CREATE; a hand-edited value degrades to a " +
    "loud skip, never a failed append") {
    val path = freshDir("acval")
    DlvTable.create(spark, path, "id BIGINT", Nil)
    val e = intercept[IllegalArgumentException] {
      DlvTable.setProperties(spark, path,
        Map(DlvTable.AUTO_COMPACT_MIN_FILES_PROP -> "fifty"))
    }
    assert(e.getMessage.contains("must be an integer"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DlvTable.create(spark, freshDir("acval2"), "id BIGINT", Nil,
        Map(DlvTable.AUTO_COMPACT_MIN_FILES_PROP -> "NaN"))
    }
    assert(e2.getMessage.contains("must be an integer"), e2.getMessage)
    // integer values pass both chokepoints
    DlvTable.setProperties(spark, path,
      Map(DlvTable.AUTO_COMPACT_MIN_FILES_PROP -> " 7 "))
  }
}
