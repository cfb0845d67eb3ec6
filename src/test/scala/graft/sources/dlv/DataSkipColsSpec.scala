package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `dlv.dataSkippingNumIndexedCols` (delta parity, default 32): only
  * the first N schema columns carry per-file min/max/nullCount — the
  * checkpoint/commit-weight lever for wide tables. numRecords always
  * collects; identity columns are always indexed (the watermark
  * derives from stats); consumers degrade conservatively (no pruning,
  * scan fallback) for unindexed columns. */
class DataSkipColsSpec extends SparkSpec with DlvTestProps {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"dsc-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  test("cap=2: stats carry only the first two columns; filters on " +
    "unindexed columns still answer correctly (no pruning, no lies); " +
    "metadata COUNT(*) still answers") {
    val path = freshDir("cap")
    DlvTable.create(spark, path,
      "a BIGINT, b BIGINT, c BIGINT, d BIGINT", Nil,
      Map(DlvTable.DATA_SKIP_COLS_PROP -> "2"))
    DlvTable.append(spark, path,
      (0L until 40L).map(i => (i, i * 2, i * 3, i * 4))
        .toDF("a", "b", "c", "d").repartition(4))
    val snap = DlvTable.log(path).snapshot()
    snap.files.foreach { f =>
      val st = f.parsedStats.get
      assert(st.numRecords > 0)
      assert(st.minValues.keySet == Set("a", "b"),
        s"only the first 2 columns may be indexed: ${st.minValues.keySet}")
      assert(st.nullCount.keySet == Set("a", "b"))
    }
    // unindexed-column filter: correct answer, conservatively unpruned
    assert(DlvTable.toDF(spark, path)
      .filter(col("c") === 30L).count() == 1)
    // indexed-column pruning still alive
    assert(DlvTable.toDF(spark, path)
      .filter(col("a") < 0L).count() == 0)
    assert(DlvTable.toDF(spark, path).count() == 40)
  }

  test("identity columns are ALWAYS indexed, beyond the cap — the " +
    "watermark keeps advancing") {
    val path = freshDir("ident")
    DlvTable.create(spark, path,
      "a BIGINT, b BIGINT, row_id BIGINT GENERATED ALWAYS AS IDENTITY",
      Nil, Map(DlvTable.DATA_SKIP_COLS_PROP -> "1"))
    DlvTable.append(spark, path,
      (0L until 10L).map(i => (i, i)).toDF("a", "b"))
    DlvTable.append(spark, path,
      (0L until 10L).map(i => (i, i)).toDF("a", "b"))
    val ids = DlvTable.toDF(spark, path).select("row_id").collect()
      .map(_.getLong(0))
    assert(ids.length == 20 && ids.distinct.length == 20,
      s"identity must stay unique across commits under a stats cap: " +
        s"${ids.sorted.toSeq}")
    val st = DlvTable.log(path).snapshot().files.head.parsedStats.get
    assert(st.minValues.keySet == Set("a", "row_id"))
  }

  test("default (no property): tables under 32 columns index " +
    "everything — behavior unchanged") {
    val path = freshDir("dflt")
    DlvTable.create(spark, path, "a BIGINT, b BIGINT, c BIGINT", Nil)
    DlvTable.append(spark, path,
      Seq((1L, 2L, 3L)).toDF("a", "b", "c"))
    val st = DlvTable.log(path).snapshot().files.head.parsedStats.get
    assert(st.minValues.keySet == Set("a", "b", "c"))
  }

  test("dataSkippingNumIndexedCols counts over the DATA schema: " +
    "a leading partition column does not consume an indexed slot") {
    val path = freshDir("skipcols")
    DlvTable.create(spark, path, "part INT, a BIGINT, b BIGINT",
      Seq("part"),
      Map(DlvTable.DATA_SKIP_COLS_PROP -> "1"))
    val meta = DlvTable.log(path).snapshot().metadata
    val indexed = DlvTable.indexedStatsCols(meta)
    assert(indexed == Some(Set("a")),
      s"first DATA column must hold the single indexed slot: $indexed")
    // n covering every data column = no cap, partition cols ignored
    DlvTable.setProperties(spark, path,
      Map(DlvTable.DATA_SKIP_COLS_PROP -> "2"))
    val meta2 = DlvTable.log(path).snapshot().metadata
    assert(DlvTable.indexedStatsCols(meta2).isEmpty)
    // and the skip path actually carries stats for 'a' on data files
    DlvTable.append(spark, path,
      (0 until 8).map(i => (i % 2, i.toLong, i.toLong * 2))
        .toDF("part", "a", "b").repartition(col("part")))
    val withStats = DlvTable.log(path).snapshot().files
      .filter(f => f.stats.exists(_.contains("\"a\"")))
    assert(withStats.nonEmpty,
      "data files must carry min/max for the first data column")
  }
}
