package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Shallow clone: version 0 of the clone REFERENCES the source's data
  * files (zero bytes copied), reads and DML behave exactly as on an
  * owned table, and no operation on the clone can ever touch source
  * bytes. Deletion vectors live at clone time are carried as
  * clone-OWNED sidecars, so the source's later DV lifecycle (REORG,
  * VACUUM) cannot break the clone. Clones also compose with identity
  * watermarks, RESTORE, column mapping, the change feed and
  * generated-column pruning. */
class DlvCloneSpec extends SparkSpec with DlvTestProps with JobProbe {

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"clone-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def mkSource(
      name: String, dv: Boolean = false,
      n: Int = 40): (String, Set[(Long, Int, Double)]) = {
    import spark.implicits._
    val path = freshDir(name)
    val props =
      if (dv) Map(DlvDv.PROP -> "true") else Map.empty[String, String]
    DlvTable.create(spark, path, "id BIGINT, part INT, v DOUBLE",
      Seq("part"), props)
    val rows = (0 until n).map(i => (i.toLong, i % 3, i.toDouble))
    DlvTable.append(spark, path,
      rows.toDF("id", "part", "v").repartition(col("part")))
    (path, rows.toSet)
  }

  private def content(path: String): Set[(Long, Int, Double)] =
    DlvTable.toDF(spark, path).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet

  private def dataParquetUnder(root: String): Seq[java.nio.file.Path] = {
    val r = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(r)) return Nil
    val s = java.nio.file.Files.walk(r)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains(DlvTable.LOG_DIR))
        .toSeq
    } finally s.close()
  }

  private def fileBytes(paths: Seq[java.nio.file.Path]): Map[String, Long] =
    paths.map(p => p.toString -> java.nio.file.Files.size(p)).toMap

  test("clone references source files in place: same content, zero " +
    "data parquet under the clone root, stats carried (metadata " +
    "COUNT answers), history records CLONE") {
    val (src, rows) = mkSource("basic")
    val dst = freshDir("basic-dst")
    val s = DlvClone.shallowClone(spark, src, dst)
    assert(s.filesReferenced > 0 && s.dvRowsCarried == 0)
    assert(content(dst) == rows)
    assert(dataParquetUnder(dst).isEmpty,
      "a shallow clone must not copy any data parquet")
    // every clone AddFile is absolute and points into the source
    val adds = DlvTable.log(dst).snapshot().files
    assert(adds.forall(f => DlvLog.isAbsolutePath(f.path)))
    assert(adds.forall(f => f.path.startsWith(src)))
    // carried stats answer metadata COUNT(*) without a scan
    val idx = new DlvFileIndex(spark, DlvTable.log(dst),
      DlvTable.log(dst).snapshot(), statsSkipping = true)
    assert(idx.metadataRowCount.contains(rows.size.toLong))
    val hist = DlvTable.log(dst).history
    assert(hist.exists(_.operation == "CLONE"))
  }

  test("clone pins the source VERSION it was asked for") {
    val (src, rows) = mkSource("ver")
    DlvDml.delete(spark, src, col("id") % 2 === 0) // src v2
    val dst = freshDir("ver-dst")
    DlvClone.shallowClone(spark, src, dst, version = Some(1))
    assert(content(dst) == rows, "VERSION AS OF 1 = pre-delete state")
    val dst2 = freshDir("ver-dst2")
    DlvClone.shallowClone(spark, src, dst2)
    assert(content(dst2) == rows.filterNot(_._1 % 2 == 0))
  }

  test("DML on the clone never touches the source: rewrite DELETE " +
    "drops external references, stages replacements under the CLONE " +
    "root, source bytes and content unchanged") {
    val (src, rows) = mkSource("dml")
    val srcBytesBefore = fileBytes(dataParquetUnder(src))
    val dst = freshDir("dml-dst")
    DlvClone.shallowClone(spark, src, dst)
    DlvDml.delete(spark, dst, col("id") % 5 === 0)
    assert(content(dst) == rows.filterNot(_._1 % 5 == 0))
    assert(content(src) == rows, "source content must not change")
    assert(fileBytes(dataParquetUnder(src)) == srcBytesBefore,
      "source data files must stay byte-identical")
    // replacements landed under the clone root
    assert(dataParquetUnder(dst).nonEmpty)
    // partition pruning still works on the mixed external/local state
    val pruned = DlvTable.toDF(spark, dst).filter(col("part") === 1)
      .collect().map(_.getLong(0)).toSet
    assert(pruned == rows.filter(r => r._2 == 1 && r._1 % 5 != 0)
      .map(_._1))
  }

  test("UPDATE on the clone (rewrite route) recovers partition " +
    "columns of external files from their hive paths") {
    val (src, rows) = mkSource("upd")
    val dst = freshDir("upd-dst")
    DlvClone.shallowClone(spark, src, dst)
    DlvDml.update(spark, dst, col("id") === 7L, Map("v" -> lit(-1.0)))
    val expected = rows.map { case (id, p, v) =>
      (id, p, if (id == 7L) -1.0 else v)
    }
    assert(content(dst) == expected)
    assert(content(src) == rows)
  }

  test("DELETE on a 40-file clone rewrites every external file from " +
    "its AddFile: source rows minus the deleted ones, no listing job") {
    import spark.implicits._
    val src = freshDir("wide-src")
    DlvTable.create(spark, src, "id BIGINT, v DOUBLE", Nil)
    DlvTable.append(spark, src, spark.range(0, 400, 1, 40)
      .select(col("id"), (col("id") * 0.5).as("v")))
    assert(DlvTable.log(src).snapshot().files.size == 40)
    val dst = freshDir("wide-dst")
    DlvClone.shallowClone(spark, src, dst)
    // each file holds ten consecutive ids, so the predicate touches
    // every external file and the rewrite reads all 40 of them
    val listings = listingJobs {
      DlvDml.delete(spark, dst, col("id") % 10 === 0)
    }
    assert(listings.isEmpty, s"file-listing jobs ran: $listings")
    val files = DlvTable.log(dst).snapshot().files
    assert(files.nonEmpty && files.forall(f => !DlvLog.isAbsolutePath(f.path)),
      "every external file must have been rewritten")
    val got = DlvTable.toDF(spark, dst).as[(Long, Double)].collect().toSet
    assert(got == (0L until 400L).filter(_ % 10 != 0)
      .map(i => (i, i * 0.5)).toSet)
  }

  test("clone's VACUUM cannot reclaim source bytes (external files " +
    "are never candidates), and reclaims the clone's own orphans") {
    val (src, rows) = mkSource("vac")
    val dst = freshDir("vac-dst")
    DlvClone.shallowClone(spark, src, dst)
    DlvDml.delete(spark, dst, col("id") % 2 === 0) // drops external refs
    val (deleted, _) = DlvMaintenance.vacuum(spark, dst, 0L)
    // tombstoned EXTERNAL paths must not be chased; only clone-local
    // orphans (none yet beyond the rewrite's own staging) count
    assert(content(src) == rows,
      "vacuum on the clone must never delete source files")
    assert(dataParquetUnder(src).nonEmpty)
    assert(deleted >= 0) // and the clone still reads
    assert(content(dst) == rows.filterNot(_._1 % 2 == 0))
  }

  test("deletion vectors live at clone time are carried as clone-" +
    "owned sidecars: clone reads exclude the dead rows and survive " +
    "the source purging its own vectors") {
    val (src, rows) = mkSource("dvcarry", dv = true)
    DlvDml.delete(spark, src, col("id") % 4 === 1)
    val expected = rows.filterNot(_._1 % 4 == 1)
    val dst = freshDir("dvcarry-dst")
    val s = DlvClone.shallowClone(spark, src, dst)
    assert(s.dvRowsCarried == rows.count(_._1 % 4 == 1))
    assert(content(dst) == expected)
    // the clone's vectors reference CLONE-local sidecars only
    val dvPaths = DlvTable.log(dst).snapshot()
      .files.flatMap(_.dv).flatMap(_.paths)
    assert(dvPaths.nonEmpty)
    assert(dvPaths.forall(!DlvLog.isAbsolutePath(_)),
      "carried sidecars must live under the clone")
    // the source's own DV lifecycle supersedes the sidecars the clone
    // saw at clone time (growth compaction re-keys every touched
    // file's vector to a fresh sidecar; vacuum then sweeps the
    // unreferenced originals) WITHOUT touching any data file — the
    // clone carried its own copies and must not notice
    withProps("graft.dlv.dvCompactThreshold" -> "1") {
      DlvDml.delete(spark, src, col("id") % 4 === 2)
    }
    DlvMaintenance.vacuum(spark, src, 0L)
    assert(content(dst) == expected,
      "clone must be independent of the source's DV lifecycle")
  }

  test("DV DML on a DV-enabled clone soft-deletes rows of EXTERNAL " +
    "files via clone-local sidecars, source untouched") {
    val (src, rows) = mkSource("dvdml", dv = true)
    val dst = freshDir("dvdml-dst")
    DlvClone.shallowClone(spark, src, dst)
    val externalBefore = DlvTable.log(dst).snapshot()
      .files.map(_.path).toSet
    DlvDml.delete(spark, dst, col("id") % 3 === 2)
    val snap = DlvTable.log(dst).snapshot()
    assert(snap.files.map(_.path).toSet == externalBefore,
      "DV delete on a clone must keep the external references")
    val dead = snap.files.flatMap(_.dv).map(_.cardinality).sum
    assert(dead == rows.count(_._1 % 3 == 2))
    assert(content(dst) == rows.filterNot(_._1 % 3 == 2))
    assert(content(src) == rows)
    // and a subsequent DV UPDATE over the same external files
    DlvDml.update(spark, dst, col("id") === 0L, Map("v" -> lit(9.9)))
    assert(content(dst) == rows.filterNot(_._1 % 3 == 2)
      .map { case (id, p, v) => (id, p, if (id == 0L) 9.9 else v) })
    assert(content(src) == rows)
  }

  test("CDF on the clone replays the clone commit as inserts with " +
    "partition columns recovered from external hive paths") {
    val (src, rows) = mkSource("cdf")
    val dst = freshDir("cdf-dst")
    // CDF armed at creation: clone carries properties, so arm the
    // SOURCE and let them flow
    DlvTable.setProperties(spark, src, Map(DlvDml.CDF_PROP -> "true"))
    DlvClone.shallowClone(spark, src, dst)
    val ch = DlvChangeFeed.changes(spark, dst, 0L).collect()
    assert(ch.length == rows.size)
    assert(ch.forall(_.getAs[String]("_change_type") == "insert"))
    val got = ch.map(r =>
      (r.getAs[Long]("id"), r.getAs[Int]("part"), r.getAs[Double]("v")))
      .toSet
    assert(got == rows)
  }

  test("SQL surface: CREATE TABLE .. SHALLOW CLONE '<src>' VERSION " +
    "AS OF n LOCATION, registered name reads end-to-end") {
    val (src, rows) = mkSource("sql")
    DlvDml.delete(spark, src, col("id") % 2 === 0)
    val dst = freshDir("sql-dst")
    val out = spark.sql(
      s"CREATE TABLE clone_sql_t SHALLOW CLONE '$src' " +
        s"VERSION AS OF 1 LOCATION '$dst'").collect()
    try {
      assert(out.head.getAs[Long]("files_referenced") > 0)
      val got = spark.sql("SELECT id, part, v FROM clone_sql_t")
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      assert(got == rows, "VERSION AS OF 1 = pre-delete state")
      // path-target form, latest version
      val dst2 = freshDir("sql-dst2")
      spark.sql(s"CREATE TABLE '$dst2' SHALLOW CLONE '$src'")
      assert(content(dst2) == rows.filterNot(_._1 % 2 == 0))
    } finally spark.sql("DROP TABLE IF EXISTS clone_sql_t")
  }

  test("clone of a clone chains: absolute references pass through " +
    "unchanged") {
    val (src, rows) = mkSource("chain")
    val mid = freshDir("chain-mid")
    DlvClone.shallowClone(spark, src, mid)
    val leaf = freshDir("chain-leaf")
    DlvClone.shallowClone(spark, mid, leaf)
    assert(content(leaf) == rows)
    val leafAdds = DlvTable.log(leaf).snapshot().files
    assert(leafAdds.forall(f => f.path.startsWith(src)),
      "a chained clone must reference the ORIGINAL files")
  }

  test("clone refuses an existing destination; OPTIMIZE on the clone " +
    "rewrites external references into owned files where it bin-packs " +
    "(localization), never touching the source") {
    val (src, rows) = mkSource("opt")
    // a second append fragments every partition so OPTIMIZE has
    // something to bin-pack (single-file partitions are skipped)
    import spark.implicits._
    val extra = (100 until 110).map(i => (i.toLong, i % 3, i.toDouble))
    DlvTable.append(spark, src,
      extra.toDF("id", "part", "v").repartition(col("part")))
    val all = rows ++ extra
    val dst = freshDir("opt-dst")
    DlvClone.shallowClone(spark, src, dst)
    intercept[IllegalArgumentException] {
      DlvClone.shallowClone(spark, src, dst)
    }
    DlvMaintenance.optimize(spark, dst)
    val adds = DlvTable.log(dst).snapshot().files
    assert(adds.forall(f => !DlvLog.isAbsolutePath(f.path)),
      "bin-packed replacements must land under the clone root")
    assert(content(dst) == all)
    assert(content(src) == all)
  }

  test("source VACUUM refuses while a REGISTERED clone still " +
    "references doomed files; DRY RUN reports the exposure; " +
    "dropping the clone (or opting out) restores reclaim") {
    import org.apache.spark.sql.functions.col
    val tmpMeta = java.nio.file.Files
      .createTempDirectory("clone-vac-meta-").resolve("metastore.json")
    val prevMeta = spark.conf.getOption(sql.DlvRegistry.METASTORE_CONF)
    spark.conf.set(sql.DlvRegistry.METASTORE_CONF, tmpMeta.toString)
    try {
      val (src, _) = mkSource("vacguard")
      val dst = freshDir("vacguard-dst")
      DlvClone.shallowClone(spark, src, dst)
      sql.DlvRegistry.register(spark, "vacguard_clone", dst)
      // source DML: every original file becomes unreferenced by the
      // SOURCE while the clone still points at it
      DlvDml.delete(spark, src, col("id") >= 0L)
      // non-dry vacuum refuses, naming the clone, BEFORE any delete
      val before = dataParquetUnder(src).size
      val e = intercept[IllegalStateException] {
        DlvMaintenance.vacuum(spark, src, retentionMs = 0L)
      }
      assert(e.getMessage.contains("vacguard_clone"), e.getMessage)
      assert(dataParquetUnder(src).size == before,
        "the guard must fire before any file is reclaimed")
      // DRY RUN reports the stranded population without refusing
      val stats = DlvMaintenance.vacuumStats(
        spark, src, retentionMs = 0L, dryRun = true)
      assert(stats.strandedCloneFiles > 0L &&
        stats.strandedCloneFiles <= stats.deletedDataFiles)
      // clone still reads its pinned content
      assert(content(dst).size == 40)
      // dropping the clone registration restores reclaim
      sql.DlvRegistry.drop(spark, "vacguard_clone")
      val (deleted, _) =
        DlvMaintenance.vacuum(spark, src, retentionMs = 0L)
      assert(deleted > 0L)
    } finally {
      prevMeta match {
        case Some(v) => spark.conf.set(sql.DlvRegistry.METASTORE_CONF, v)
        case None => spark.conf.unset(sql.DlvRegistry.METASTORE_CONF)
      }
    }
  }

  test("identity + clone interop: the cloned table's watermark " +
    "carries and advances independently — no collision within " +
    "either table") {
    import spark.implicits._
    val src = freshDir("id-src")
    DlvTable.create(spark, src,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE", Nil)
    DlvTable.append(spark, src,
      (0 until 10).map(i => Tuple1(i.toDouble)).toDF("v"))
    def ids0(p: String): Seq[Long] =
      DlvTable.toDF(spark, p).select("row_id").collect()
        .map(_.getLong(0)).toSeq
    val preClone = ids0(src)
    val dst = freshDir("id-dst")
    DlvClone.shallowClone(spark, src, dst)
    // both sides insert after the clone point
    DlvTable.append(spark, src,
      (0 until 10).map(i => Tuple1(100.0 + i)).toDF("v"))
    DlvTable.append(spark, dst,
      (0 until 10).map(i => Tuple1(200.0 + i)).toDF("v"))
    val srcIds = ids0(src)
    val dstIds = ids0(dst)
    assert(srcIds.size == 20 && srcIds.distinct.size == 20,
      s"source identity values must stay unique, got $srcIds")
    assert(dstIds.size == 20 && dstIds.distinct.size == 20,
      s"clone identity values must stay unique, got $dstIds")
    // the clone inherited the watermark: its post-clone allocations
    // sit beyond every value allocated before the clone point
    val newOnClone = dstIds.toSet -- preClone.toSet
    assert(newOnClone.size == 10 &&
      newOnClone.forall(_ > preClone.max),
      s"clone allocations must start beyond the carried watermark: " +
        s"pre=$preClone new=$newOnClone")
  }

  test("DEEP clone: full byte copy, all references table-relative, " +
    "fully independent of source deletion") {
    val (src, rows) = mkSource("deep")
    val dst = freshDir("deep-dst")
    val stats = DlvClone.deepClone(spark, src, dst)
    assert(stats.filesReferenced > 0)
    val snap = DlvTable.log(dst).snapshot()
    assert(snap.files.forall(f => !DlvLog.isAbsolutePath(f.path)),
      "deep clone must own every file")
    assert(content(dst) == rows)
    assert(dataParquetUnder(dst).nonEmpty)
    // independence: physically destroy the source's data files
    dataParquetUnder(src).foreach(java.nio.file.Files.delete)
    assert(content(dst) == rows,
      "a deep clone must survive source data loss")
  }

  test("DEEP clone of a SHALLOW clone materializes the external " +
    "references at local hive paths (partition recovery intact)") {
    import org.apache.spark.sql.functions.col
    val (src, rows) = mkSource("deep-of-shallow")
    val mid = freshDir("mid")
    DlvClone.shallowClone(spark, src, mid)
    val dst = freshDir("deep2-dst")
    DlvClone.deepClone(spark, mid, dst)
    val snap = DlvTable.log(dst).snapshot()
    assert(snap.files.forall(f => !DlvLog.isAbsolutePath(f.path)))
    assert(content(dst) == rows)
    // partition pruning still works on the materialized copy
    val one = DlvTable.toDF(spark, dst).filter(col("part") === 1)
    assert(one.collect().map(_.getLong(0)).toSet ==
      rows.filter(_._2 == 1).map(_._1))
  }

  test("DEEP clone carries live deletion vectors: dead rows stay " +
    "dead in the independent copy") {
    import org.apache.spark.sql.functions.col
    val (src, rows) = mkSource("deep-dv", dv = true)
    DlvDml.delete(spark, src, col("id") < 10L) // DV soft-delete
    val dst = freshDir("deep-dv-dst")
    val stats = DlvClone.deepClone(spark, src, dst)
    assert(stats.dvRowsCarried == 10L)
    assert(content(dst) == rows.filter(_._1 >= 10L))
  }

  test("SQL: bare CLONE (no SHALLOW) routes the deep copy") {
    val (src, rows) = mkSource("deep-sql")
    val dst = freshDir("deep-sql-dst")
    spark.sql(s"CREATE TABLE '$dst' CLONE '$src'")
    val snap = DlvTable.log(dst).snapshot()
    assert(snap.files.forall(f => !DlvLog.isAbsolutePath(f.path)))
    assert(content(dst) == rows)
  }

  test("clone of an identity table carries the watermark: appends to " +
    "the clone allocate beyond the source's issued values, and the " +
    "source's own sequence is untouched") {
    import spark.implicits._
    val src = freshDir("id-src")
    DlvTable.create(spark, src,
      "row_id BIGINT GENERATED ALWAYS AS IDENTITY, v DOUBLE", Nil)
    DlvTable.append(spark, src, (0 until 10).map(_.toDouble).toDF("v"))
    val srcIds = DlvTable.toDF(spark, src).select("row_id")
      .collect().map(_.getLong(0)).toSet
    val dst = freshDir("id-dst")
    DlvClone.shallowClone(spark, src, dst)
    DlvTable.append(spark, dst, Seq(99.0, 98.0).toDF("v"))
    val dstIds = DlvTable.toDF(spark, dst).select("row_id")
      .collect().map(_.getLong(0))
    assert(dstIds.length == 12 && dstIds.distinct.length == 12)
    assert(dstIds.filterNot(srcIds).forall(_ > srcIds.max),
      "clone allocations must start beyond the carried watermark")
    // source sequence independent of the clone's
    DlvTable.append(spark, src, Seq(1.0).toDF("v"))
    assert(DlvTable.toDF(spark, src).count() == 11)
    assert(DlvTable.toDF(spark, src).select("row_id").collect()
      .map(_.getLong(0)).distinct.length == 11)
  }

  test("RESTORE on a clone reinstates dropped EXTERNAL references " +
    "(absolute paths survive the (path, dv) diff and the existence " +
    "guard)") {
    import spark.implicits._
    val src = freshDir("rst-src")
    DlvTable.create(spark, src, "id BIGINT, part INT", Seq("part"))
    val rows = (0 until 30).map(i => (i.toLong, i % 3))
    DlvTable.append(spark, src,
      rows.toDF("id", "part").repartition(col("part")))
    val dst = freshDir("rst-dst")
    DlvClone.shallowClone(spark, src, dst) // clone v0
    DlvDml.delete(spark, dst, col("id") % 2 === 0) // clone v1
    assert(DlvTable.toDF(spark, dst).count() == 15)
    DlvTable.restore(spark, dst, 0)
    val got = DlvTable.toDF(spark, dst).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == rows.toSet, "restore must reinstate the clone state")
    assert(DlvTable.log(dst).snapshot().files
      .forall(f => DlvLog.isAbsolutePath(f.path)))
  }

  test("CDF over a renamed clone: blobs and replays of external " +
    "files come back in the CURRENT logical lexicon") {
    import spark.implicits._
    val src = freshDir("cdf-src")
    DlvTable.create(spark, src, "id BIGINT, v DOUBLE", Nil,
      Map(DlvColMap.MODE_PROP -> "name",
        DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, src,
      (0 until 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    DlvColMap.rename(spark, src, "v", "price")
    val dst = freshDir("cdf-dst")
    DlvClone.shallowClone(spark, src, dst)
    DlvDml.delete(spark, dst, col("price") < 3.0)
    val ch = DlvChangeFeed.changes(spark, dst, 0L)
    assert(ch.columns.contains("price") && !ch.columns.contains("v"))
    val inserts = ch.filter(col("_change_type") === "insert").count()
    val deletes = ch.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(inserts == 10, "clone commit replays external files as inserts")
    assert(deletes == Set(0L, 1L, 2L))
  }

  test("generated-column pruning engages on a CLONE's external files " +
    "and after OPTIMIZE mixes in local ones") {
    import spark.implicits._
    val src = freshDir("gp-src")
    DlvTable.create(spark, src,
      "id BIGINT, d DATE, month STRING GENERATED ALWAYS AS " +
        "(date_format(d, 'yyyy-MM'))",
      Seq("month"))
    val rows = (0 until 90).map { i =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i)))
    }
    DlvTable.append(spark, src, rows.toDF("id", "d")
      .repartition(col("d")))
    val dst = freshDir("gp-dst")
    DlvClone.shallowClone(spark, src, dst)
    val total = DlvTable.log(dst).snapshot().files.size
    val got = DlvTable.toDF(spark, dst)
      .filter(col("d") >= lit(java.sql.Date.valueOf("2024-03-01")))
      .collect()
    val (_, afterPart, _) = DlvFileIndex.lastSkippingStats.get()
    assert(afterPart < total,
      "raw-date filter must prune the clone's generated partitions")
    assert(got.length == rows.count(_._2.toLocalDate.getMonthValue == 3))
  }

  test("shallow clone of a source whose ancestor path contains a " +
    "'col=value' segment colliding with a DATA column: DML on the " +
    "clone never overwrites the data column from the path") {
    import spark.implicits._
    // the source table lives under …/v=2/… and carries a DATA column v
    val root = java.nio.file.Paths.get(freshDir("pathcol"))
    val srcPath = root.resolve("v=2").resolve("src").toString
    DlvTable.create(spark, srcPath, "id BIGINT, part INT, v DOUBLE",
      Seq("part"), Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, srcPath,
      (0 until 12).map(i => (i.toLong, i % 2, i * 1.5))
        .toDF("id", "part", "v").repartition(col("part")))
    val dstPath = root.resolve("dst").toString
    DlvClone.shallowClone(spark, srcPath, dstPath)
    // DELETE triggers the external-file scan (readFiles over absolute
    // source paths) — survivors must keep their real v, not 2.0
    DlvDml.delete(spark, dstPath, col("id") < 4L)
    val rows = DlvTable.toDF(spark, dstPath).select("id", "part", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .toSet
    assert(rows == (4 until 12)
      .map(i => (i.toLong, i % 2, i * 1.5)).toSet,
      s"clone DML must not clobber data column v from the path, got $rows")
  }

  test("VACUUM guard: a clone-of-a-clone (v0 source = the " +
    "intermediate clone) still blocks reclaim of BASE files it " +
    "references") {
    import spark.implicits._
    val tmpMeta = java.nio.file.Files
      .createTempDirectory("r17-vac-meta-").resolve("metastore.json")
    val prevMeta = spark.conf.getOption(sql.DlvRegistry.METASTORE_CONF)
    spark.conf.set(sql.DlvRegistry.METASTORE_CONF, tmpMeta.toString)
    try {
      val base = freshDir("vac-base")
      DlvTable.create(spark, base, "id BIGINT, part INT", Seq("part"))
      DlvTable.append(spark, base,
        (0 until 40).map(i => (i.toLong, i % 3)).toDF("id", "part")
          .repartition(col("part")))
      val c1 = freshDir("vac-c1")
      DlvClone.shallowClone(spark, base, c1)
      val c2 = freshDir("vac-c2")
      // c1's AddFiles are absolute paths into BASE; cloning c1 carries
      // them verbatim, but c2's v0 CommitInfo names c1 as its source
      DlvClone.shallowClone(spark, c1, c2)
      // register ONLY the transitive clone — the direct clone must not
      // be what saves the files
      sql.DlvRegistry.register(spark, "r17_transitive_clone", c2)
      // the census must attribute BASE-rooted refs to c2
      val refs = DlvMaintenance.cloneExternalRefs(
        spark, DlvTable.log(base))
      assert(refs.exists(_._1 == "r17_transitive_clone"),
        s"transitive clone missing from the census: $refs")
      // base DML dooms every original file while c2 still points at it
      DlvDml.delete(spark, base, col("id") >= 0L)
      val e = intercept[IllegalStateException] {
        DlvMaintenance.vacuum(spark, base, retentionMs = 0L)
      }
      assert(e.getMessage.contains("r17_transitive_clone"), e.getMessage)
      // the transitive clone still reads its pinned content
      assert(DlvTable.toDF(spark, c2).count() == 40L)
      sql.DlvRegistry.drop(spark, "r17_transitive_clone")
      val (deleted, _) =
        DlvMaintenance.vacuum(spark, base, retentionMs = 0L)
      assert(deleted > 0L)
    } finally {
      prevMeta match {
        case Some(v) => spark.conf.set(sql.DlvRegistry.METASTORE_CONF, v)
        case None => spark.conf.unset(sql.DlvRegistry.METASTORE_CONF)
      }
    }
  }
}
