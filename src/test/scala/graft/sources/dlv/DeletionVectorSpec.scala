package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deletion vectors: soft-delete semantics equal rewrite semantics at
  * every observation point — content, counts, time travel, RESTORE,
  * CDF, OPTIMIZE — while the data files provably never rewrite. */
class DeletionVectorSpec extends SparkSpec with DlvTestProps
    with JobProbe {

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"dlv-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def mk(
      name: String, cdf: Boolean = false,
      n: Int = 40): (String, Set[(Long, Int, Double)]) = {
    import spark.implicits._
    val path = freshDir(name)
    val props = Map(DlvDv.PROP -> "true") ++
      (if (cdf) Map(DlvDml.CDF_PROP -> "true") else Map.empty)
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

  private def dataFiles(path: String): Map[String, Option[DeletionVector]] =
    DlvTable.log(path).snapshot().files.map(f => f.path -> f.dv).toMap

  test("DV delete: content matches delete semantics, zero data files " +
    "rewritten, vector cardinality accounts for every dead row, " +
    "protocol gates pre-DV readers") {
    val (path, rows) = mk("dv-basic")
    val before = dataFiles(path)
    DlvDml.delete(spark, path, col("id") % 5 === 0)
    val expected = rows.filterNot(_._1 % 5 == 0)
    assert(content(path) == expected)
    val after = dataFiles(path)
    assert(after.keySet == before.keySet,
      "a DV delete must not add or drop data files")
    val dead = rows.size - expected.size
    assert(after.values.flatten.map(_.cardinality).sum == dead,
      s"vector cardinalities must sum to $dead")
    assert(DlvTable.log(path).snapshot().protocol.minReaderVersion ==
      DlvLog.DV_READER_VERSION,
      "first vector must bump the reader gate")
    // count() through the SQL surface agrees AND is METADATA-ANSWERED
    // (round 15): each split-plan branch's index subtracts its own
    // vector cardinality, so the optimized plan holds a LocalRelation
    // and no scan at all
    val q = spark.sql(s"SELECT count(*) AS n FROM dlv_table('$path')")
    assert(q.head().getLong(0) == expected.size.toLong)
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.isEmpty,
      s"count(*) on a DV table must be metadata-answered " +
        s"(exact cardinality subtraction), found ${scans.size} scans")
    // a FILTERED count must fall through to the (correct) scan
    val qf = spark.sql(
      s"SELECT count(*) AS n FROM dlv_table('$path') WHERE id > 20")
    assert(qf.head().getLong(0) ==
      expected.count(r => r._1 > 20).toLong)
    assert(qf.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.nonEmpty, "a filtered count must scan, not metadata-answer")
  }

  test("second DV delete grows the vector; dead rows never re-match; " +
    "cardinalities stay disjoint sums") {
    val (path, rows) = mk("dv-twice")
    DlvDml.delete(spark, path, col("v") < 10)
    DlvDml.delete(spark, path, col("v") < 20) // overlaps the first range
    val expected = rows.filter(_._3 >= 20)
    assert(content(path) == expected)
    val card = dataFiles(path).values.flatten.map(_.cardinality).sum
    assert(card == (rows.size - expected.size).toLong,
      s"disjoint sidecars must sum to exactly the dead rows, got $card")
  }

  test("UPDATE via deletion vector: old row soft-deleted, updated " +
    "copy appended, no touched file rewritten, dead rows stay dead") {
    val (path, rows) = mk("dv-upd")
    val before = dataFiles(path).keySet
    DlvDml.delete(spark, path, col("id") < 6)
    DlvDml.update(spark, path, col("id") === 10L,
      Map("v" -> lit(999.0)))
    val expected = rows.filterNot(_._1 < 6)
      .map(r => if (r._1 == 10L) (r._1, r._2, 999.0) else r)
    assert(content(path) == expected)
    val after = dataFiles(path)
    // the original files all survive (soft-delete, not rewrite) and
    // the updated copy landed in a NEW staged file
    assert(before.subsetOf(after.keySet),
      "DV update must not rewrite or drop the original files")
    assert(after.keySet.size > before.size,
      "the updated copy must land in a new file")
    // vector accounting: 6 deleted + 1 updated original = 7 dead rows
    assert(after.values.flatten.map(_.cardinality).sum == 7L)
    // and a second update of the SAME logical row hits the staged
    // copy, never resurrects the original
    DlvDml.update(spark, path, col("id") === 10L,
      Map("v" -> lit(111.0)))
    assert(content(path) == rows.filterNot(_._1 < 6)
      .map(r => if (r._1 == 10L) (r._1, r._2, 111.0) else r))
  }

  test("UPDATE moving a row across partitions via DV lands the copy " +
    "in the new partition and the old partition loses the live row") {
    // id=10 lives in part 1 (10 % 3); the set moves it to part 0
    val (path, rows) = mk("dv-updpart")
    DlvDml.update(spark, path, col("id") === 10L,
      Map("part" -> lit(0)))
    val expected = rows.map(r =>
      if (r._1 == 10L) (r._1, 0, r._3) else r)
    assert(content(path) == expected)
    val f = DlvTable.log(path).snapshot().files
    assert(f.exists(x => x.partitionValues.get("part").contains("0") &&
      x.dv.isEmpty && x.modificationTime > 1L),
      "moved copy must live in a partition-0 staged file")
    // the source partition's live content no longer holds id=10
    assert(!DlvTable.toDF(spark, path).filter(col("part") === 1)
      .select("id").collect().map(_.getLong(0)).contains(10L),
      "old partition must lose the moved row")
  }

  test("OPTIMIZE purges vectors: content preserved, no live vector " +
    "remains, sidecar dependency gone") {
    val (path, rows) = mk("dv-opt")
    DlvDml.delete(spark, path, col("id") % 4 === 1)
    val expected = rows.filterNot(_._1 % 4 == 1)
    DlvMaintenance.optimize(spark, path)
    assert(content(path) == expected)
    assert(dataFiles(path).values.forall(_.isEmpty),
      "OPTIMIZE must leave no live vector")
  }

  test("time travel reads pre-delete state; RESTORE to it removes the " +
    "vector and resurrects the rows") {
    val (path, rows) = mk("dv-tt")
    val preVersion = DlvTable.log(path).latestVersion
    DlvDml.delete(spark, path, col("id") >= 30)
    assert(content(path) == rows.filter(_._1 < 30))
    val tt = DlvTable.toDF(spark, path, version = Some(preVersion))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(tt == rows, "time travel must predate the vector")
    DlvTable.restore(spark, path, preVersion)
    assert(content(path) == rows, "RESTORE must undo the soft-delete")
    assert(dataFiles(path).values.forall(_.isEmpty),
      "restored state must carry the pre-delete (vector-free) entries")
  }

  test("CDF on: a DV delete's change feed carries exactly the deleted " +
    "rows; full feed replays to the final state") {
    val (path, rows) = mk("dv-cdf", cdf = true)
    val v = DlvDml.delete(spark, path, col("id") % 7 === 3)
    val ch = DlvChangeFeed.changes(spark, path, v, Some(v)).collect()
    assert(ch.forall(_.getAs[String]("_change_type") == "delete"))
    val reported = ch.map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(reported == rows.filter(_._1 % 7 == 3),
      "the CDC blob must carry exactly the soft-deleted rows")
  }

  test("CDF off: table_changes across a DV commit fails loudly") {
    val (path, _) = mk("dv-nocdf")
    DlvDml.delete(spark, path, col("id") === 0L)
    val e = intercept[Exception] {
      DlvChangeFeed.changes(spark, path, 0).collect()
    }
    assert(e.getMessage.contains("deletion-vector"),
      s"wrong error ${e.getMessage}")
  }

  test("format(\"dlv\") batch read refuses while vectors live, and " +
    "reads again after OPTIMIZE purges them") {
    val (path, rows) = mk("dv-fmt")
    DlvDml.delete(spark, path, col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("dlv").load(path).collect()
    }
    assert(e.getMessage.contains("deletion vectors"))
    DlvMaintenance.optimize(spark, path)
    assert(spark.read.format("dlv").load(path).count() ==
      (rows.size - 1).toLong)
  }

  test("VACUUM never touches live sidecars: dead rows stay dead after " +
    "a zero-retention vacuum") {
    val (path, rows) = mk("dv-vac")
    DlvDml.delete(spark, path, col("id") < 4)
    DlvMaintenance.vacuum(spark, path, retentionMs = 0L)
    assert(content(path) == rows.filterNot(_._1 < 4),
      "vacuum must not delete referenced sidecars")
  }

  test("UNSET of the DV property never resurrects rows: the protocol " +
    "witness keeps the anti-join on; new deletes take the rewrite path") {
    val (path, rows) = mk("dv-unset")
    DlvDml.delete(spark, path, col("id") < 8)
    DlvTable.unsetProperties(spark, path, Seq(DlvDv.PROP))
    // reads still subtract the live vector
    assert(content(path) == rows.filterNot(_._1 < 8),
      "disabling the property must not skip live vectors")
    // a further delete (property off) rewrites — through the vector
    DlvDml.delete(spark, path, col("id") >= 35)
    assert(content(path) == rows.filter(r => r._1 >= 8 && r._1 < 35))
  }

  test("DV delete after ADD COLUMNS: old files read the new column " +
    "as nulls, predicate on it resolves, CDC image aligns") {
    val (path, rows) = mk("dv-evolve", cdf = true)
    DlvTable.addColumns(spark, path, "tag STRING")
    val v = DlvDml.delete(spark, path,
      col("tag").isNull && col("id") < 5)
    assert(content(path).map(r => (r._1, r._2, r._3)) ==
      rows.filterNot(_._1 < 5))
    val ch = DlvChangeFeed.changes(spark, path, v, Some(v)).collect()
    assert(ch.length == 5 &&
      ch.forall(_.getAs[String]("_change_type") == "delete"))
  }

  test("a user column named dv_file never makes the sidecar " +
    "anti-join ambiguous") {
    import spark.implicits._
    val dir = freshDir("dv-collide")
    DlvTable.create(spark, dir,
      "id BIGINT, dv_file STRING, dv_row BIGINT", Nil,
      Map(DlvDv.PROP -> "true"))
    DlvTable.append(spark, dir,
      (0L until 20L).map(i => (i, s"f$i", i)).toDF("id", "dv_file", "dv_row"))
    DlvDml.delete(spark, dir, col("id") % 2 === 0)
    val out = DlvTable.toDF(spark, dir).select("id").as[Long]
      .collect().toSet
    assert(out == (1L until 20L by 2).toSet)
    // and a second delete (sidecars live on both sides now)
    DlvDml.delete(spark, dir, col("id") === 5L)
    assert(DlvTable.toDF(spark, dir).count() == 9)
  }

  test("VACUUM reclaims sidecars no live file references, keeps the " +
    "referenced ones") {
    val (path, rows) = mk("dv-sweep")
    DlvDml.delete(spark, path, col("id") < 10) // sidecar A, live
    val l = DlvTable.log(path)
    def sidecarDirs: Set[String] =
      l.io.listEntries(l.io.child(l.logDir, "_dv")).map(_.name).toSet
    val live = sidecarDirs
    assert(live.size == 1)
    DlvMaintenance.optimize(spark, path) // purges the vector reference
    assert(sidecarDirs == live, "optimize drops the reference, not bytes")
    DlvMaintenance.vacuum(spark, path, retentionMs = 0L)
    assert(sidecarDirs.isEmpty, "unreferenced sidecar must be reclaimed")
    assert(content(path) == rows.filterNot(_._1 < 10))
    // a LIVE sidecar survives a zero-retention vacuum
    DlvDml.delete(spark, path, col("id") === 15L)
    DlvMaintenance.vacuum(spark, path, retentionMs = 0L)
    assert(sidecarDirs.size == 1, "referenced sidecar must survive")
    assert(content(path) == rows.filterNot(r => r._1 < 10 || r._1 == 15L))
  }

  test("DV scan plan audit: broadcast ANTI-join on the sidecar, data " +
    "predicate still pushed to the parquet scan below the join") {
    val (path, rows) = mk("dv-plan")
    DlvDml.delete(spark, path, col("id") === 0L)
    val q = DlvTable.toDF(spark, path).filter(col("v") >= 10.0)
    assert(q.count() == rows.count(r => r._1 != 0L && r._3 >= 10.0))
    val plan = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("LeftAnti"),
      s"DV read must plan an anti-join, got:\n$plan")
    assert(plan.contains("Broadcast"),
      "a small dead-set must broadcast, not shuffle")
    assert(plan.contains("GreaterThanOrEqual(v,10.0)"),
      s"the data predicate must push past the DV join to the scan:\n$plan")
  }

  test("RESTORE refuses a version whose DV sidecars were vacuumed — " +
    "data files present, sidecar swept") {
    val (path, rows) = mk("dv-rvac")
    val l = DlvTable.log(path)
    val preDelete = l.latestVersion
    DlvDml.delete(spark, path, col("id") < 10) // vector + sidecar S
    val dvVersion = l.latestVersion
    // back to the vector-free state: S becomes unreferenced while the
    // data files stay referenced (so only the SIDECAR goes missing)
    DlvTable.restore(spark, path, preDelete)
    Thread.sleep(5)
    DlvMaintenance.vacuum(spark, path, retentionMs = 0L)
    val e = intercept[Exception] {
      DlvTable.restore(spark, path, dvVersion)
    }
    assert(e.getMessage.contains("vacuumed"),
      s"restore onto a swept sidecar must name the contract: " +
        s"${e.getMessage}")
    // the refusal must leave the table readable at its current state
    assert(content(path) == rows)
  }

  test("split read plan above the broadcast limit (forced to 0): NO " +
    "join and NO shuffle anywhere — the DV branch applies vectors " +
    "per-file at the reader, vector-free files scan plain") {
    withProps("graft.dlv.dvBroadcastLimit" -> "0") {
      val (path, rows) = mk("dv-split")
      // only partition 1's files get vectors
      DlvDml.delete(spark, path, col("part") === 1 && col("id") < 20)
      val expected = rows.filterNot(r => r._2 == 1 && r._1 < 20)
      val q = DlvTable.toDF(spark, path)
      assert(q.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet == expected)
      // logical audit: zero joins; the per-file reader filter
      // (DvAliveExpr) guards ONLY the vector-bearing subset; the
      // vector-free subset scans with no DV machinery at all
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val lp = q.queryExecution.optimizedPlan
      def dvStates(p: LogicalPlan): Seq[Seq[Boolean]] = p.collect {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location match {
            case d: DlvFileIndex => d.snapshot.files.map(_.dv.nonEmpty)
            case _ => Nil
          }
      }.filter(_.nonEmpty)
      assert(lp.collect { case j: Join => j }.isEmpty,
        s"above-limit DV read must plan NO join:\n$lp")
      val guarded = lp.collect {
        case f @ Filter(cond, _)
            if cond.exists(_.isInstanceOf[DvAliveExpr]) => f
      }
      assert(guarded.size == 1,
        s"exactly one per-file DV filter expected:\n$lp")
      val under = dvStates(guarded.head).flatten
      assert(under.nonEmpty && under.forall(identity),
        "every file under the DV filter must bear a vector")
      val outside = dvStates(lp).flatten.filterNot(identity)
      assert(outside.nonEmpty,
        s"the vector-free subset must scan outside the filter:\n$lp")
      assert(dvStates(lp).flatten.size == 3,
        "split must cover all three partition files exactly once")
      // physical audit: the whole read is shuffle-free
      val phys = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!phys.contains("Exchange"),
        s"above-limit DV read must not shuffle:\n$phys")
      // and COUNT(*) through the reader-filter shape is still
      // metadata-answered
      val qc = spark.sql(s"SELECT count(*) AS n FROM dlv_table('$path')")
      assert(qc.head().getLong(0) == expected.size.toLong)
      assert(qc.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty, "count(*) must metadata-answer above the limit too")
    }
  }

  test("split plan parity: randomized DML sequence reads identically " +
    "through the DV route (broadcast limit 0) and the rewrite route") {
    withProps("graft.dlv.dvBroadcastLimit" -> "0") {
      import spark.implicits._
      val rnd = new scala.util.Random(20260815L)
      val dvPath = freshDir("dv-par-a")
      val rwPath = freshDir("dv-par-b")
      DlvTable.create(spark, dvPath, "id BIGINT, part INT, v DOUBLE",
        Seq("part"), Map(DlvDv.PROP -> "true"))
      DlvTable.create(spark, rwPath, "id BIGINT, part INT, v DOUBLE",
        Seq("part"), Map.empty)
      def cont(p: String): Set[(Long, Int, Double)] =
        DlvTable.toDF(spark, p).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      var nextId = 0L
      (0 until 12).foreach { step =>
        rnd.nextInt(4) match {
          case 0 | 1 => // append a small batch to both
            val batch = (0 until 10).map { _ =>
              val i = nextId; nextId += 1
              (i, rnd.nextInt(3), rnd.nextDouble() * 100)
            }
            Seq(dvPath, rwPath).foreach(p => DlvTable.append(spark, p,
              batch.toDF("id", "part", "v")))
          case 2 => // predicate delete
            val cut = rnd.nextInt(math.max(1, nextId.toInt)).toLong
            val m = rnd.nextInt(5) + 2
            Seq(dvPath, rwPath).foreach(p => DlvDml.delete(spark, p,
              col("id") % m === 0 && col("id") >= cut))
          case 3 => // predicate update
            val m = rnd.nextInt(4) + 2
            Seq(dvPath, rwPath).foreach(p => DlvDml.update(spark, p,
              col("id") % m === 1, Map("v" -> (col("v") + 1000.0))))
        }
        assert(cont(dvPath) == cont(rwPath),
          s"DV and rewrite routes diverged at step $step")
      }
      // the DV table must actually have exercised vectors
      assert(DlvTable.log(dvPath).snapshot().files.exists(_.dv.nonEmpty)
        || DlvTable.log(dvPath).snapshot().protocol.minReaderVersion ==
             DlvLog.DV_READER_VERSION,
        "the randomized run never produced a vector — wrong fixture")
    }
  }

  test("vector growth compacts: K+ sequential deletes against one " +
    "file leave a bounded sidecar set, reads stay identical, VACUUM " +
    "reclaims the superseded sidecars") {
    import spark.implicits._
    val path = freshDir("dv-compact")
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil,
      Map(DlvDv.PROP -> "true"))
    DlvTable.append(spark, path,
      (0L until 40L).map(i => (i, i.toDouble)).toDF("id", "v")
        .coalesce(1))
    val k = DlvDv.compactThreshold
    (0 until 10).foreach { i =>
      DlvDml.delete(spark, path, col("id") === i.toLong)
      val f = DlvTable.log(path).snapshot().files
      assert(f.size == 1, "single-file fixture must stay single-file")
      val dv = f.head.dv.get
      assert(dv.paths.size <= k,
        s"after ${i + 1} deletes a file references ${dv.paths.size} " +
          s"sidecars — growth must compact at $k")
      assert(dv.cardinality == (i + 1).toLong)
      assert(DlvTable.toDF(spark, path).select("id").collect()
        .map(_.getLong(0)).toSet == (i + 1 until 40).map(_.toLong).toSet,
        s"content wrong after delete ${i + 1}")
    }
    val referenced = DlvTable.log(path).snapshot().files
      .flatMap(_.dv).flatMap(_.paths).distinct
    assert(referenced.size <= math.ceil(10.0 / k).toInt,
      s"10 deletes must leave <= ceil(10/$k) referenced sidecars, " +
        s"got ${referenced.size}")
    // superseded sidecars are unreferenced -> reclaimable
    val l = DlvTable.log(path)
    val before = l.io.listEntries(l.io.child(l.logDir, "_dv"))
      .map(_.name).toSet
    Thread.sleep(5) // retention 0: mtimes strictly past
    val stats = DlvMaintenance.vacuumStats(spark, path, retentionMs = 0L)
    assert(stats.sweptDvSidecars ==
      (before.size - referenced.size).toLong,
      "sidecar sweep count must be reported in its own population")
    assert(stats.deletedDataFiles == 0L,
      "nothing but sidecars was reclaimable here")
    val onDisk = l.io.listEntries(l.io.child(l.logDir, "_dv"))
      .map(_.name).toSet
    assert(onDisk == referenced.map(_.stripPrefix("_dlv_log/_dv/")).toSet,
      s"vacuum must keep exactly the referenced sidecars: " +
        s"$onDisk vs $referenced")
    assert(DlvTable.toDF(spark, path).count() == 30L)
  }

  test("reader-filter path (limit 0) survives partition values with " +
    "spaces, plus and unicode — the encoded sidecar key matches the " +
    "scan's _metadata form byte-for-byte") {
    withProps("graft.dlv.dvBroadcastLimit" -> "0") {
      import spark.implicits._
      val path = freshDir("dv-weird")
      // partition dirs like tag=a b+c: the rel paths the sidecar
      // stores are percent-encoded; the task-side loader must key its
      // dv_file filter identically. (Non-ASCII names are excluded
      // only because this container's JVM locale can't create them —
      // sun.jnu.encoding — not a path-handling limitation.)
      val tags = Seq("a b+c", "eq=sign", "pct%40sign")
      DlvTable.create(spark, path, "id BIGINT, tag STRING, v DOUBLE",
        Seq("tag"), Map(DlvDv.PROP -> "true"))
      val rows = (0 until 30).map(i =>
        (i.toLong, tags(i % 3), i.toDouble))
      DlvTable.append(spark, path,
        rows.toDF("id", "tag", "v").repartition(col("tag")))
      DlvDml.delete(spark, path, col("id") % 4 === 1)
      val expected = rows.filterNot(_._1 % 4 == 1).toSet
      val got = DlvTable.toDF(spark, path).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"weird-path DV read diverged: missing=${expected -- got} " +
          s"extra=${got -- expected}")
      // a second delete reads THROUGH the first vector on the same path
      DlvDml.delete(spark, path, col("id") % 4 === 2)
      assert(DlvTable.toDF(spark, path).count() ==
        rows.count(r => r._1 % 4 != 1 && r._1 % 4 != 2).toLong)
    }
  }

  test("distributed route: DV state survives the parquet checkpoint " +
    "and the Dataset-backed index applies it") {
    withProps(DIST -> "1", CKPT -> "1") {
      import spark.implicits._
      val (path, rows0) = mk("dv-dist")
      DlvDml.delete(spark, path, col("id") % 5 === 2)
      val l = DlvTable.log(path)
      // drive the history across the auto-checkpoint boundary
      // (commits checkpoint at v % 10 == 0) so the index resolves
      var extraId = 1000L
      val extras = scala.collection.mutable.Set.empty[(Long, Int, Double)]
      while (l.latestVersion % 10 != 0 || l.latestVersion < 10) {
        val r = (extraId, (extraId % 3).toInt, extraId.toDouble)
        extras += r
        DlvTable.append(spark, path,
          Seq(r).toDF("id", "part", "v"))
        extraId += 1
      }
      // extras appended AFTER the delete stay live regardless of id
      val live1 = rows0.filterNot(_._1 % 5 == 2) ++ extras
      val idx = DlvDistributedFileIndex.forVersion(
        spark, l, None, statsSkipping = true)
      assert(idx.isDefined, "index must resolve past forced thresholds")
      val (sidecars, card, _) = idx.get.dvSplitSummary
      assert(sidecars.nonEmpty && card == rows0.count(_._1 % 5 == 2),
        s"checkpointed vector summary wrong: $sidecars / $card")
      assert(content(path) == live1)
      // a second DV delete through the DISTRIBUTED DML state
      DlvDml.delete(spark, path, col("id") % 5 === 4)
      val live2 = live1.filterNot(_._1 % 5 == 4)
      assert(content(path) == live2)
      // and the same state through the ABOVE-LIMIT path: the
      // distributed index's split plan with per-file reader-side
      // vector application must read identically
      withProps("graft.dlv.dvBroadcastLimit" -> "0") {
        assert(content(path) == live2,
          "distributed + reader-filter route diverged")
      }
    }
  }

  test("reader-filter route (broadcast limit forced to 0) reads two " +
    "deletes' vectors identically to the broadcast route") {
    val (path, rows) = mk("dv-alldirs")
    DlvDml.delete(spark, path, col("id") % 7 === 3)
    DlvDml.delete(spark, path, col("id") % 7 === 5)
    val expected = rows.filterNot(r => r._1 % 7 == 3 || r._1 % 7 == 5)
    assert(content(path) == expected, "broadcast route")
    withProps("graft.dlv.dvBroadcastLimit" -> "0") {
      assert(content(path) == expected, "reader-filter route")
    }
  }

  /** One data file (ids 0..39) whose vector spans three sidecar dirs:
    * three single-row deletes, below the compaction threshold of 4.
    * Callers set interval-4 parquet checkpoints: the third delete (v4)
    * then writes one, so the distributed index can plan the table. */
  private def threeSidecarFile(name: String): String = {
    import spark.implicits._
    val path = freshDir(name)
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil,
      Map(DlvDv.PROP -> "true"))
    DlvTable.append(spark, path,
      (0L until 40L).map(i => (i, i.toDouble)).toDF("id", "v").coalesce(1))
    (0L until 3L).foreach(i => DlvDml.delete(spark, path, col("id") === i))
    val dvs = DlvTable.log(path).snapshot().files.map(_.dv)
    assert(dvs.size == 1 && dvs.head.exists(_.paths.size == 3),
      s"fixture: one file with a vector over 3 sidecars, got $dvs")
    path
  }

  private def ids(path: String): Set[Long] =
    DlvTable.toDF(spark, path).select("id").collect().map(_.getLong(0)).toSet

  /** The index kind and the reader-filter count of a table read. */
  private def readShape(path: String): (Set[String], Int) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val lp = DlvTable.toDF(spark, path).queryExecution.optimizedPlan
    (lp.collect { case r: LogicalRelation =>
      r.relation.asInstanceOf[HadoopFsRelation].location.getClass.getSimpleName
    }.toSet,
      lp.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(_.isInstanceOf[DvAliveExpr]) => f }.size)
  }

  test("the reader filter (broadcast limit 0) reads a file's 3-sidecar " +
    "vector through every index kind: driver snapshot, distributed " +
    "index, and KnownFilesIndex under a DV UPDATE and REORG PURGE") {
    withProps(CKPT -> "1", "graft.dlv.checkpointInterval" -> "4",
        "graft.dlv.dvBroadcastLimit" -> "0") {
      val path = threeSidecarFile("dv-dirs-kinds")
      val live = (3L until 40L).toSet
      assert(readShape(path) == (Set("DlvFileIndex"), 1))
      assert(ids(path) == live, "driver snapshot")
      withProps(DIST -> "1") {
        assert(readShape(path) == (Set("DlvDistributedFileIndex"), 1))
        assert(ids(path) == live, "distributed index")
      }
      // the UPDATE's mark scan reads the file through its 3-dir vector
      // and grows it to 4 dirs; PURGE's rewrite reads through all 4
      DlvDml.update(spark, path, col("id") === 5L, Map("v" -> lit(-1.0)))
      assert(DlvTable.log(path).snapshot().files
        .flatMap(_.dv).map(_.paths.size) == Seq(4))
      DlvMaintenance.reorgPurge(spark, path)
      assert(DlvTable.log(path).snapshot().files.forall(_.dv.isEmpty))
      val got = DlvTable.toDF(spark, path).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSet
      assert(got == live.map(i => i -> (if (i == 5L) -1.0 else i.toDouble)),
        "KnownFilesIndex reads (UPDATE mark scan, PURGE rewrite)")
    }
  }

  test("a reader-filter read over the distributed index collects only " +
    "its survivors from the index: no per-file sidecar-dir collect") {
    withProps(CKPT -> "1", "graft.dlv.checkpointInterval" -> "4",
        "graft.dlv.dvBroadcastLimit" -> "0", DIST -> "1") {
      val path = threeSidecarFile("dv-dirs-jobs")
      assert(ids(path) == (3L until 40L).toSet) // warms the light state
      // the summary aggregation's jobs run on AQE stage threads and
      // carry no index call site; every driver collect the index
      // itself launches does
      val collects = jobCallSites {
        assert(ids(path) == (3L until 40L).toSet)
      }.filter(_.contains("DlvDistributedFileIndex.scala"))
      assert(collects.size == 1 && collects.head.startsWith("collect at"),
        s"index collects of one read: $collects")
    }
  }

  test("'__dv_' is a RESERVED column-name prefix: no surface can " +
    "commit a schema using it (DV DML's probe columns would replace " +
    "the user's column and corrupt its data)") {
    val path = freshDir("dv-reserved")
    val e = intercept[Exception] {
      DlvTable.create(spark, path, "id BIGINT, __dv_x STRING", Nil,
        Map(DlvDv.PROP -> "true"))
    }
    assert(e.getMessage.contains("reserved"),
      s"must name the reservation: ${e.getMessage}")
    // and not via schema evolution either
    val (path2, _) = mk("dv-reserved2")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE dlv.`$path2` ADD COLUMNS (__dv_y INT)")
    }
    assert(e2.getMessage.contains("reserved"),
      s"evolution must refuse too: ${e2.getMessage}")
  }

  test("REORG APPLY (PURGE) rewrites ONLY the vector-bearing files: " +
    "content identical, vectors gone, clean files untouched, " +
    "dataChange=false, idempotent, VACUUM then reclaims sidecars") {
    val (path, rows) = mk("dv-reorg")
    // vectors land only on partition 1's files
    DlvDml.delete(spark, path, col("part") === 1 && col("id") < 20)
    val expected = rows.filterNot(r => r._2 == 1 && r._1 < 20)
    val before = dataFiles(path)
    val cleanBefore = before.filter(_._2.isEmpty).keySet
    val dvBefore = before.filter(_._2.nonEmpty).keySet
    assert(cleanBefore.nonEmpty && dvBefore.nonEmpty, "split fixture")
    val v = spark.sql(s"REORG TABLE '$path' APPLY (PURGE)")
      .head().getLong(0)
    val snap = DlvTable.log(path).snapshot()
    assert(snap.files.flatMap(_.dv).isEmpty, "no live vector after purge")
    assert(content(path) == expected, "purge must not change content")
    val after = snap.files.map(_.path).toSet
    assert(cleanBefore.subsetOf(after),
      "vector-free files must never be touched")
    assert(dvBefore.intersect(after).isEmpty,
      "every vector-bearing file must be replaced")
    // maintenance semantics: no logical change
    val acts = DlvTable.log(path).commitActionsOf(v)
    assert(acts.collect { case a: AddFile => a.dataChange }
      .forall(_ == false))
    assert(acts.collect { case r: RemoveFile => r.dataChange }
      .forall(_ == false))
    // nothing bears a vector now: a second purge is a no-op
    assert(DlvMaintenance.reorgPurge(spark, path) == v)
    // the sidecars are unreferenced — vacuum reclaims, reads survive
    Thread.sleep(5)
    DlvMaintenance.vacuum(spark, path, retentionMs = 0L)
    assert(content(path) == expected)
  }

  test("MERGE via deletion vectors: clause-for-clause parity with the " +
    "rewrite route, originals survive byte-identical, vectors account " +
    "for exactly the deleted+updated rows, CDF images match") {
    import DlvDml._
    import spark.implicits._
    def runMerge(path: String): Long = {
      val src = ((0 until 10) ++ (100 until 105))
        .map(i => (i.toLong, i * 1.0)).toDF("id", "sv")
      merge(spark, path, src,
        on = col("tgt.id") === col("src.id"),
        clauses = Seq(
          MatchedDelete(Some(col("src.id") >= 6)),
          MatchedUpdate(Some(col("src.id") < 6),
            Map("v" -> (col("tgt.v") + col("src.sv") + 100))),
          NotMatchedInsert(None, Map(
            "id" -> col("src.id"), "part" -> lit(9),
            "v" -> col("src.sv"))),
          NotMatchedBySourceDelete(Some(col("tgt.id") === 39))))
    }
    val (dvPath, rows) = mk("dv-merge", cdf = true)
    val before = dataFiles(dvPath).keySet
    val vDv = runMerge(dvPath)
    // rewrite-route twin: identical content and clauses, DV off
    val rwPath = freshDir("dv-merge-rw")
    DlvTable.create(spark, rwPath, "id BIGINT, part INT, v DOUBLE",
      Seq("part"), Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, rwPath,
      rows.toSeq.toDF("id", "part", "v").repartition(col("part")))
    val vRw = runMerge(rwPath)
    assert(content(dvPath) == content(rwPath),
      "DV merge must read identically to the rewrite merge")
    // structural invariants the parity check can't see
    val snap = DlvTable.log(dvPath).snapshot()
    assert(before.subsetOf(snap.files.map(_.path).toSet),
      "DV merge must not rewrite or drop the original data files")
    assert(snap.files.map(_.path).toSet.size > before.size,
      "updated copies and inserts must land in new staged files")
    // dead = matched deletes (6..9) + by-source delete (39) +
    // updated originals (0..5)
    val dead = snap.files.flatMap(_.dv).map(_.cardinality).sum
    assert(dead == 4 + 1 + 6, s"vector cardinalities: $dead")
    // CDF parity: same change images at the merge version
    def changes(path: String, v: Long): Set[(Long, Int, Double, String)] =
      spark.read.format("dlv")
        .option("readChangeFeed", "true")
        .option("startingVersion", v).option("endingVersion", v)
        .load(path)
        .select(col("id"), col("part"), col("v"), col("_change_type"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getString(3))).toSet
    assert(changes(dvPath, vDv) == changes(rwPath, vRw),
      "DV merge must emit the same CDF images as the rewrite merge")
  }

  test("DV MERGE that changes nothing still appends its inserts — no " +
    "vector grows, no file rewrites, the multi-match guard still fires") {
    import DlvDml._
    import spark.implicits._
    val (path, rows) = mk("dv-merge-ins")
    val before = dataFiles(path)
    // matched update to the IDENTICAL value: out == keepAsIs, so no
    // row is marked; inserts still land
    val src = ((0 until 5) ++ (200 until 203))
      .map(i => (i.toLong, i.toDouble)).toDF("id", "sv")
    merge(spark, path, src,
      on = col("tgt.id") === col("src.id"),
      clauses = Seq(
        MatchedUpdate(None, Map("v" -> col("src.sv"))),
        NotMatchedInsert(None, Map(
          "id" -> col("src.id"), "part" -> lit(9),
          "v" -> col("src.sv")))))
    val snap = DlvTable.log(path).snapshot()
    assert(snap.files.flatMap(_.dv).isEmpty,
      "an all-identical update must not grow any vector")
    assert(before.keySet.subsetOf(snap.files.map(_.path).toSet))
    assert(content(path) == rows ++
      (200 until 203).map(i => (i.toLong, 9, i.toDouble)))
    // multi-match: duplicate source keys must still error loudly
    val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("id", "sv")
    val e = intercept[IllegalArgumentException] {
      merge(spark, path, dup,
        on = col("tgt.id") === col("src.id"),
        clauses = Seq(
          MatchedUpdate(None, Map("v" -> col("src.sv")))))
    }
    assert(e.getMessage.contains("matched multiple"))
  }

  test("metadata COUNT(*) soundness: user predicates that only LOOK " +
    "like DV probes — a '__dv_'-named nullable alias, an anti-join " +
    "against a raw sidecar read — must scan, not metadata-answer") {
    val (path, rows) = mk("dv-probe-sound")
    DlvDml.delete(spark, path, col("id") < 8)
    val live = rows.filterNot(_._1 < 8)
    def isMetadataAnswered(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty
    // baseline: the module's own count IS metadata-answered
    val base = DlvTable.toDF(spark, path).groupBy().count()
    assert(isMetadataAnswered(base) &&
      base.head().getLong(0) == live.size.toLong)
    // a user alias NAMED like a probe but nullable-by-construction:
    // IsNotNull over it removes rows, so the count must SCAN — a
    // name-keyed admission would answer the unfiltered total
    val tricked = DlvTable.toDF(spark, path)
      .withColumn("__dv_x", when(col("id") % 2 === 0, lit(1)))
      .filter(col("__dv_x").isNotNull)
      .groupBy().count()
    assert(!isMetadataAnswered(tricked),
      "a user '__dv_x' IsNotNull must not be metadata-answered")
    assert(tricked.head().getLong(0) ==
      live.count(_._1 % 2 == 0).toLong)
    // a user LEFT ANTI join against a direct read of the sidecar
    // parquet on a PARTIAL condition (row index only) removes a
    // different row set than the vector cardinality — must scan
    val l = DlvTable.log(path)
    val sidecarAbs = DlvDv.sidecarsOf(l.snapshot().files)
      .map(l.resolveQualified)
    val dead = spark.read.schema(DlvDv.SIDECAR_SCHEMA)
      .parquet(sidecarAbs: _*)
    val userAnti = DlvTable.toDF(spark, path)
      .join(dead, col("id") === dead(DlvDv.ROW_COL), "left_anti")
      .groupBy().count()
    assert(!isMetadataAnswered(userAnti),
      "a user anti-join on a partial condition must not be " +
        "metadata-answered")
    // dv_row is a PARQUET ROW INDEX, not an id — the true answer is
    // whatever the anti-join semantics say, never total - cardinality
    val deadRowIdx = dead.select(DlvDv.ROW_COL).collect()
      .map(_.getLong(0)).toSet
    assert(userAnti.head().getLong(0) ==
      live.count(r => !deadRowIdx.contains(r._1)).toLong)
  }
}
