package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Column mapping (name mode): RENAME COLUMN is metadata-only — no
  * data file is ever touched, every file keeps its birth (physical)
  * column names on disk, and every surface (scan, DML, CDF, OPTIMIZE,
  * stats skipping, metadata aggregates, time travel, clone) speaks
  * the current LOGICAL names. */
class ColumnMappingSpec extends SparkSpec with DlvTestProps {

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"cm-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private val MODE = Map(DlvColMap.MODE_PROP -> "name")

  private def mk(
      name: String, props: Map[String, String] = MODE,
      n: Int = 30): (String, Seq[(Long, Int, Double)]) = {
    import spark.implicits._
    val path = freshDir(name)
    DlvTable.create(spark, path, "id BIGINT, part INT, v DOUBLE",
      Seq("part"), props)
    val rows = (0 until n).map(i => (i.toLong, i % 3, i.toDouble))
    DlvTable.append(spark, path,
      rows.toDF("id", "part", "v").repartition(col("part")))
    (path, rows)
  }

  private def fileBytes(root: String): Map[String, Long] = {
    val r = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(r)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains(DlvTable.LOG_DIR))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    } finally s.close()
  }

  test("rename is metadata-only: new logical name everywhere, zero " +
    "data bytes touched, on-disk (physical) names unchanged, " +
    "protocol bumped, time travel shows the old name") {
    val (path, rows) = mk("basic")
    val before = fileBytes(path)
    DlvColMap.rename(spark, path, "v", "price")
    assert(fileBytes(path) == before, "rename must touch no data file")
    val df = DlvTable.toDF(spark, path)
    assert(df.columns.toSeq == Seq("id", "price", "part") ||
      df.columns.contains("price"))
    assert(!df.columns.contains("v"))
    val got = df.select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == rows.map(r => (r._1, r._3)).toSet)
    val snap = DlvTable.log(path).snapshot()
    assert(snap.protocol.minReaderVersion >= DlvLog.CM_READER_VERSION)
    assert(snap.protocol.minWriterVersion >= DlvLog.CM_WRITER_VERSION)
    // time travel to the pre-rename version speaks THAT version's names
    val v1 = DlvTable.toDF(spark, path, version = Some(1))
    assert(v1.columns.contains("v") && !v1.columns.contains("price"))
  }

  test("writes after a rename keep the physical lexicon on disk: a " +
    "mixed old/new file table reads one consistent logical schema, " +
    "and a second rename chains back to the birth name") {
    import spark.implicits._
    val (path, rows) = mk("mixed")
    DlvColMap.rename(spark, path, "v", "price")
    val extra = (100 until 110).map(i => (i.toLong, i % 3, i * 1.5))
    DlvTable.append(spark, path,
      extra.toDF("id", "part", "price").repartition(col("part")))
    // every file on disk — pre- AND post-rename — carries the BIRTH name
    val phys = spark.read.parquet(
      DlvTable.log(path).snapshot().files
        .map(f => DlvTable.log(path).resolveQualified(f.path)): _*)
    assert(phys.columns.contains("v") && !phys.columns.contains("price"),
      "on disk is physical: post-rename files must also write 'v'")
    val all = (rows ++ extra.map(e => (e._1, e._2, e._3))).toSet
    val got = DlvTable.toDF(spark, path).select("id", "part", "price")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    assert(got == all)
    // rename again: price -> amount still maps to physical 'v'
    DlvColMap.rename(spark, path, "price", "amount")
    val meta = DlvTable.log(path).snapshot().metadata
    assert(DlvColMap.physicalOf(meta, "amount") == "v")
    assert(DlvColMap.renames(meta).size == 1, "one mapping entry only")
    // and renaming BACK to the birth name drops the entry entirely
    DlvColMap.rename(spark, path, "amount", "v")
    assert(DlvColMap.renames(
      DlvTable.log(path).snapshot().metadata).isEmpty)
  }

  test("DML and maintenance on a renamed column: DELETE/UPDATE " +
    "predicates, OPTIMIZE ZORDER, all in the logical lexicon") {
    val (path, rows) = mk("dml")
    DlvColMap.rename(spark, path, "v", "price")
    DlvDml.delete(spark, path, col("price") < 5.0)
    DlvDml.update(spark, path, col("id") === 20L,
      Map("price" -> lit(-1.0)))
    val expected = rows.filterNot(_._3 < 5.0)
      .map { case (id, p, v) => (id, p, if (id == 20L) -1.0 else v) }
      .toSet
    def content() = DlvTable.toDF(spark, path)
      .select("id", "part", "price").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(content() == expected)
    DlvMaintenance.optimize(spark, path, zorderBy = Seq("price"))
    assert(content() == expected)
  }

  test("stats skipping and metadata aggregates survive a rename: " +
    "filters on the new name still prune files, COUNT/MIN/MAX still " +
    "answer from the log") {
    val (path, rows) = mk("stats")
    DlvColMap.rename(spark, path, "id", "doc_id")
    // files were written clustered by part; id ranges overlap across
    // parts, so prune via partition + stats on the renamed column
    val l = DlvTable.log(path)
    DlvTable.toDF(spark, path).filter(col("doc_id") === 9999L).collect()
    val (_, _, afterStats) = DlvFileIndex.lastSkippingStats.get()
    assert(afterStats == 0,
      s"doc_id=9999 matches no file's id range; stats skipping must " +
        s"prune every file, kept $afterStats")
    val idx = new DlvFileIndex(spark, l, l.snapshot(),
      statsSkipping = true)
    assert(idx.metadataRowCount.contains(rows.size.toLong))
    // MIN/MAX via the optimizer rule, on the RENAMED column
    val agg = DlvTable.toDF(spark, path)
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx")).head()
    assert(agg.getLong(0) == 0L && agg.getLong(1) == rows.size - 1L)
  }

  test("CDF across a rename boundary: blobs written before the " +
    "rename replay under the CURRENT logical names") {
    val (path, rows) = mk("cdf",
      MODE + (DlvDml.CDF_PROP -> "true"))
    DlvDml.delete(spark, path, col("v") < 3.0) // blob pre-rename
    DlvColMap.rename(spark, path, "v", "price")
    DlvDml.delete(spark, path, col("price") >= 25.0) // blob post-rename
    val ch = DlvChangeFeed.changes(spark, path, 0L)
    assert(ch.columns.contains("price") && !ch.columns.contains("v"))
    val deletes = ch.filter(col("_change_type") === "delete")
      .select("id", "price").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val expected = rows.filter(r => r._3 < 3.0 || r._3 >= 25.0)
      .map(r => (r._1, r._3)).toSet
    assert(deletes == expected)
  }

  test("deletion vectors and renames compose: soft-deletes before " +
    "and after a rename both apply, zero rewrites throughout") {
    val (path, rows) = mk("dv", MODE + (DlvDv.PROP -> "true"))
    val before = fileBytes(path)
    DlvDml.delete(spark, path, col("v") < 4.0)
    DlvColMap.rename(spark, path, "v", "price")
    DlvDml.delete(spark, path, col("price") >= 26.0)
    assert(fileBytes(path) == before,
      "DV deletes + rename must rewrite nothing")
    val got = DlvTable.toDF(spark, path).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(got == rows.filter(r => r._3 >= 4.0 && r._3 < 26.0)
      .map(_._1).toSet)
  }

  test("guards: mapping required, partition column refused, " +
    "duplicate name refused, constraint/generated references " +
    "refused, physical keys locked, physical-name reuse refused") {
    val (noMap, _) = mk("guard-nomap", Map.empty)
    intercept[IllegalArgumentException] {
      DlvColMap.rename(spark, noMap, "v", "price")
    }
    val (path, _) = mk("guard")
    intercept[IllegalArgumentException] {
      DlvColMap.rename(spark, path, "part", "p2")
    }
    intercept[IllegalArgumentException] {
      DlvColMap.rename(spark, path, "v", "ID")
    }
    DlvConstraints.add(spark, path, "pos", "v >= 0")
    intercept[IllegalArgumentException] {
      DlvColMap.rename(spark, path, "v", "price")
    }
    DlvConstraints.drop(spark, path, "pos", ifExists = false)
    DlvColMap.rename(spark, path, "v", "price")
    intercept[IllegalArgumentException] {
      DlvTable.setProperties(spark, path,
        Map(DlvColMap.PREFIX + "x" -> "y"))
    }
    intercept[IllegalArgumentException] {
      DlvTable.unsetProperties(spark, path,
        Seq(DlvColMap.PREFIX + "price"))
    }
    // a new column may not squat on a renamed column's PHYSICAL name:
    // old files' 'v' bytes belong to 'price'
    intercept[IllegalArgumentException] {
      DlvTable.addColumns(spark, path, "v DOUBLE")
    }
    // dropping the renamed column sweeps its mapping entry
    DlvTable.addColumns(spark, path, "extra DOUBLE")
    DlvColMap.rename(spark, path, "extra", "extra2")
    DlvTable.dropColumn(spark, path, "extra2")
    assert(!DlvColMap.renames(DlvTable.log(path).snapshot().metadata)
      .contains("extra2"))
  }

  test("SQL surface: SET TBLPROPERTIES mode, ALTER TABLE RENAME " +
    "COLUMN, reads by TVF under the new name; format(\"dlv\") raw " +
    "batch read refuses a renamed table") {
    val (path, rows) = mk("sql", Map.empty)
    spark.sql(s"ALTER TABLE '$path' SET TBLPROPERTIES " +
      s"('delta.columnMapping.mode' = 'name')")
    spark.sql(s"ALTER TABLE '$path' RENAME COLUMN v TO price")
    val got = spark.sql(
      s"SELECT id, price FROM dlv_table('$path') ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == rows.map(r => (r._1, r._3)).toSet)
    val e = intercept[Exception] {
      spark.read.format("dlv").load(path).collect()
    }
    assert(e.getMessage.contains("renamed"),
      s"raw V1 read must refuse with a pointer, got: ${e.getMessage}")
  }

  test("shallow clone of a renamed table carries the mapping and " +
    "reads external physical files under logical names") {
    val (src, rows) = mk("clone")
    DlvColMap.rename(spark, src, "v", "price")
    val dst = freshDir("clone-dst")
    DlvClone.shallowClone(spark, src, dst)
    val got = DlvTable.toDF(spark, dst).select("id", "price")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == rows.map(r => (r._1, r._3)).toSet)
    // and DML on the clone through the renamed column
    DlvDml.delete(spark, dst, col("price") < 10.0)
    assert(DlvTable.toDF(spark, dst).count() ==
      rows.count(_._3 >= 10.0))
  }

  test("column mapping: cross-rename a→c then d→a (a's physical " +
    "name now belongs to another live column) stays writable, " +
    "readable, and DML-rewritable") {
    import spark.implicits._
    val path = freshDir("cross")
    DlvTable.create(spark, path, "a BIGINT, d BIGINT, part INT",
      Seq("part"), Map(DlvColMap.MODE_PROP -> "name"))
    DlvTable.append(spark, path,
      (0 until 10).map(i => (i.toLong, i * 100L, i % 2))
        .toDF("a", "d", "part").repartition(col("part")))
    DlvColMap.rename(spark, path, "a", "c") // c's physical = a
    DlvColMap.rename(spark, path, "d", "a") // a's physical = d
    // write-side (toPhysical must alias both at once)
    DlvTable.append(spark, path,
      Seq((100L, 10000L, 0)).toDF("c", "a", "part"))
    val got = DlvTable.toDF(spark, path).select("c", "a").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 10000L)) && got.contains((3L, 300L)))
    // DML rewrite path (toLogical over a raw file read)
    DlvDml.update(spark, path, col("c") === 100L, Map("a" -> lit(-1L)))
    val after = DlvTable.toDF(spark, path)
      .filter(col("c") === 100L).select("a").collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(-1L))
  }

  test("column mapping: x↔y swap via a temp name round-trips values " +
    "through append and scan") {
    import spark.implicits._
    val path = freshDir("swap")
    DlvTable.create(spark, path, "x BIGINT, y BIGINT, part INT",
      Seq("part"), Map(DlvColMap.MODE_PROP -> "name"))
    DlvTable.append(spark, path,
      (0 until 6).map(i => (i.toLong, -i.toLong, 0))
        .toDF("x", "y", "part"))
    DlvColMap.rename(spark, path, "x", "tmp")
    DlvColMap.rename(spark, path, "y", "x") // x's physical = y
    DlvColMap.rename(spark, path, "tmp", "y") // y's physical = x
    DlvTable.append(spark, path,
      Seq((777L, 888L, 0)).toDF("x", "y", "part"))
    val rows = DlvTable.toDF(spark, path).select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // old rows appear swapped (x now reads the old y values)…
    assert(rows.contains((-3L, 3L)))
    // …new rows read back exactly as written
    assert(rows.contains((777L, 888L)))
    // DML rewrite drives scanFiles' toLogical over the swap map too
    DlvDml.update(spark, path, col("x") === 777L,
      Map("y" -> lit(-888L)))
    val after = DlvTable.toDF(spark, path).filter(col("x") === 777L)
      .select("y").collect().map(_.getLong(0)).toSeq
    assert(after == Seq(-888L))
  }
}
