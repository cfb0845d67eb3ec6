package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal}
import org.apache.spark.sql.types._

/** Scale evidence for the Dataset-backed snapshot: a SYNTHESIZED
  * 200k-AddFile checkpoint (planning never opens data files, so none
  * need exist) must plan through DlvDistributedFileIndex with exact
  * pruning counts and metadata-answered aggregates — the shape of a
  * small-file-heavy 100 TB table's metadata, exercised for real
  * rather than extrapolated. */
class DistributedScaleSpec extends SparkSpec with DlvTestProps {

  private val N = 200000
  private val PARTS = 100

  /** Hand-build a table whose state is ONLY reachable through a
    * synthesized parquet checkpoint at v10: commits 0..10 are
    * metadata-only, the checkpoint holds `files`, the hint routes to
    * the distributed index. Data files never exist — everything under
    * test must run on log metadata alone. */
  private def synthesize(
      name: String, files: Seq[AddFile],
      meta: graft.sources.dlv.Metadata,
      proto: Protocol = Protocol()): (String, DlvLog) = {
    val dir = java.nio.file.Files.createTempDirectory(s"dlv-$name-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    val l = DlvTable.log(path)
    (0L to 10L).foreach { v =>
      val actions: Seq[Action] =
        (if (v == 0) Seq(proto, meta) else Nil) :+
          CommitInfo(v, v, if (v == 0) "CREATE TABLE" else "WRITE",
            Map.empty, isBlindAppend = v != 0)
      l.commit(v, actions)
    }
    val ckptActions: Seq[Action] =
      Seq(proto, meta) ++
        (0L to 10L).map(v => CommitInfo(v, v, "WRITE", Map.empty,
          isBlindAppend = true)) ++ files
    DlvCheckpoint.writeParquet(spark, ckptActions,
      l.checkpointParquetDir(10))
    l.io.writeReplace(l.io.child(l.logDir, "_last_checkpoint"),
      s"""{"version":10,"numFiles":${files.size}""" +
        s""","sizeBytes":${files.size * 1024L}}""")
    // the commit loop auto-checkpointed v10 (interval boundary) from
    // the EMPTY hand-built log — sweep that JSON checkpoint or the
    // driver replay prefers it over the synthesized parquet state
    l.io.delete(l.io.child(l.logDir, f"${10L}%020d.checkpoint.json"))
    (path, l)
  }

  test(s"a synthesized $N-file checkpoint plans distributed: exact " +
    "partition pruning, stats skipping, and metadata aggregates") {
   withProps(DIST -> "1") { // pin: the test is about the index, not the default constant
    val dir = java.nio.file.Files.createTempDirectory("dlv-scale-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    val schemaDdl = "id BIGINT, payload STRING, p INT"
    val meta = graft.sources.dlv.Metadata(
      "scale-test-id", schemaDdl, Seq("p"), Map.empty, 1L)
    val files = (0 until N).map { i =>
      val p = i % PARTS
      // per-file id range [i*100, i*100+99], one null payload per
      // third file — stats in the exact lexicon ParquetStats writes
      val stats =
        s"""{"numRecords":100,"minValues":{"id":${i * 100L}},""" +
          s""""maxValues":{"id":${i * 100L + 99}},""" +
          s""""nullCount":{"id":0,"payload":${if (i % 3 == 0) 1 else 0}}}"""
      AddFile(s"p=$p/part-$i.parquet", Map("p" -> p.toString),
        1024L, 1L, dataChange = true, Some(stats))
    }
    val l = DlvTable.log(path)
    // minimal hand-built log: commits 0..10 (metadata-only), a parquet
    // checkpoint at v10 holding the synthetic file population, and the
    // hint that routes to the distributed path
    (0L to 10L).foreach { v =>
      val actions: Seq[Action] =
        (if (v == 0) Seq(Protocol(), meta) else Nil) :+
          CommitInfo(v, v, if (v == 0) "CREATE TABLE" else "WRITE",
            Map.empty, isBlindAppend = v != 0)
      l.commit(v, actions)
    }
    val ckptActions: Seq[Action] =
      Seq(Protocol(), meta) ++
        (0L to 10L).map(v => CommitInfo(v, v, "WRITE", Map.empty,
          isBlindAppend = true)) ++ files
    DlvCheckpoint.writeParquet(spark, ckptActions,
      l.checkpointParquetDir(10))
    l.io.writeReplace(l.io.child(l.logDir, "_last_checkpoint"),
      s"""{"version":10,"numFiles":$N,"sizeBytes":${N * 1024L}}""")

    val t0 = System.nanoTime()
    val idx = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true)
      .getOrElse(fail("the hint must route to the distributed index"))
    // partition pruning: p = 7 keeps exactly N / PARTS files
    val partAttr = AttributeReference("p", IntegerType)()
    val onePart = idx.listFiles(
      Seq(EqualTo(partAttr, Literal(7))), Nil)
    assert(onePart.map(_.files.length).sum == N / PARTS,
      "partition pruning must keep exactly one partition's files")
    // stats skipping: id > (N-10)*100 keeps the 10 top-range files
    val idAttr = AttributeReference("id", LongType)()
    val ranged = idx.listFiles(Nil,
      Seq(GreaterThan(idAttr, Literal((N - 10) * 100L + 50))))
    val rangedCount = ranged.map(_.files.length).sum
    assert(rangedCount == 10, s"stats skipping kept $rangedCount of " +
      s"$N files for a 10-file range predicate")
    // metadata aggregates: exact, from the distributed folds
    assert(idx.metadataRowCount.contains(N * 100L))
    assert(idx.metadataNonNullCount("payload")
      .contains(N * 100L - (N / 3 + (if (N % 3 > 0) 1 else 0))))
    val (mn, mx) = idx.metadataMinMax("id")
      .getOrElse(fail("id min/max must be metadata-answerable"))
    def num(j: org.json4s.JValue): Long = j match {
      case org.json4s.JInt(v) => v.toLong
      case org.json4s.JLong(v) => v
      case other => fail(s"unexpected stats lexicon value $other")
    }
    assert(num(mn.get) == 0L)
    assert(num(mx.get) == (N - 1) * 100L + 99)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"$N%,d-file distributed plan+prune+aggregates: $secs%.1f s")
    assert(secs < 120.0,
      "metadata operations over the synthetic population must stay " +
        "interactive")
   }
  }

  test("distributed-routed DML refuses a too-new-writer table BEFORE " +
    "any discovery or staging work (gate at state resolution, not " +
    "commit)") {
   withProps(DIST -> "1") {
    val meta = graft.sources.dlv.Metadata(
      "scale-gate-id", "id BIGINT, p INT", Seq("p"), Map.empty, 1L)
    val files = (0 until 100).map { i =>
      AddFile(s"p=${i % 4}/part-$i.parquet", Map("p" -> (i % 4).toString),
        1024L, 1L, dataChange = true,
        Some(s"""{"numRecords":1,"minValues":{"id":$i},""" +
          s""""maxValues":{"id":$i},"nullCount":{"id":0}}"""))
    }
    val (path, l) = synthesize("scale-gate", files, meta,
      proto = Protocol(minReaderVersion = 1, minWriterVersion = 99))
    import org.apache.spark.sql.functions.col
    intercept[IllegalArgumentException] {
      DlvDml.delete(spark, path, col("p") === 1)
    }
    // refused BEFORE work: no data file the log does not reference
    // under the table root, and no commit landed
    assert(l.latestVersion == 10L, "no commit may land")
    val referenced = l.snapshot().files.map(_.path).toSet
    val stray = l.io.walkFiles(l.tablePath).map(_.name).filter(n =>
      n.endsWith(".parquet") && !n.startsWith(DlvTable.LOG_DIR) &&
        !referenced(n))
    assert(stray.isEmpty, s"refusal must precede any write: $stray")
   }
  }

  test("time travel BELOW the hinted checkpoint still routes " +
    "distributed: the older parquet checkpoint reports its own " +
    "add-count, path-for-path equal to the driver replay") {
   withProps(DIST -> "1") {
    val schemaDdl = "id BIGINT, payload STRING, p INT"
    val meta = graft.sources.dlv.Metadata(
      "scale-tt-id", schemaDdl, Seq("p"), Map.empty, 1L)
    def statsOf(i: Long) =
      s"""{"numRecords":100,"minValues":{"id":${i * 100}},""" +
        s""""maxValues":{"id":${i * 100 + 99}},""" +
        s""""nullCount":{"id":0,"payload":0}}"""
    val files = (0 until N).map { i =>
      AddFile(s"p=${i % PARTS}/part-$i.parquet",
        Map("p" -> (i % PARTS).toString), 1024L, 1L, dataChange = true,
        Some(statsOf(i.toLong)))
    }
    val (path, l) = synthesize("scale-tt", files, meta) // ckpt+hint v10
    // tail past the first checkpoint: v11 adds one file; v20 (interval
    // boundary) auto-writes the NEW (sharded) checkpoint + hint, leaving
    // checkpoint v10 as the below-hint one time travel must plan from
    val extra = AddFile("p=0/part-extra.parquet", Map("p" -> "0"),
      1024L, 1L, dataChange = true, Some(statsOf(N.toLong)))
    l.commit(11, Seq(extra,
      CommitInfo(11, 11, "WRITE", Map.empty, isBlindAppend = true)))
    (12L to 20L).foreach(v => l.commit(v,
      Seq(CommitInfo(v, v, "WRITE", Map.empty, isBlindAppend = true))))
    assert(l.lastCheckpointHint.exists(_.version == 20),
      "the interval commit must have re-hinted to v20")

    val idx = DlvDistributedFileIndex
      .forVersion(spark, l, Some(15), statsSkipping = true)
      .getOrElse(fail("below-hint time travel must route distributed " +
        "once the older checkpoint's own count clears the threshold"))
    assert(idx.version == 15)
    val distPaths = idx.livePathsDS.collect().toSet
    val driverPaths = l.snapshotAt(Some(15)).files.map(_.path).toSet
    assert(distPaths == driverPaths,
      s"path sets differ: dist=${distPaths.size} driver=${driverPaths.size}")
    assert(distPaths.size == N + 1)
   }
  }

  test(s"DML discovery and OPTIMIZE selection over $N synthesized " +
    "files route distributed: ZERO driver snapshot materializations") {
   withProps(DIST -> "1") {
    import org.apache.spark.sql.functions.{col, lit}
    val schemaDdl = "id BIGINT, payload STRING, p INT"
    val meta = graft.sources.dlv.Metadata(
      "scale-dml-id", schemaDdl, Seq("p"), Map.empty, 1L)
    def statsOf(lo: Long, hi: Long) =
      s"""{"numRecords":100,"minValues":{"id":$lo},""" +
        s""""maxValues":{"id":$hi},""" +
        s""""nullCount":{"id":0,"payload":0}}"""
    val bulk = (0 until N).map { i =>
      AddFile(s"p=${i % PARTS}/part-$i.parquet",
        Map("p" -> (i % PARTS).toString), 1024L, 1L, dataChange = true,
        Some(statsOf(i * 100L, i * 100L + 99)))
    }
    // one single-file partition for the OPTIMIZE selection probe (a
    // 1-file bin never rewrites, so no data read follows selection)
    val lone = AddFile(s"p=$PARTS/part-lone.parquet",
      Map("p" -> PARTS.toString), 1024L, 1L, dataChange = true,
      Some(statsOf(0L, 99L)))
    val (path, l) = synthesize("scale-dml", bulk :+ lone, meta)

    val mat0 = DlvLog.snapshotMaterializations.get()
    // partition-equality DELETE: metadata-only, selection distributed
    val dv = DlvDml.delete(spark, path, col("p") === 7)
    assert(dv == 11L)
    // stats-pruned UPDATE: the discovery scan's data filter prunes
    // every file via min/max, so no (nonexistent) data file is opened
    val beyond = N * 100L + 1000L
    val uv = DlvDml.update(spark, path, col("id") > lit(beyond),
      Map("payload" -> lit("x")))
    assert(uv == 12L)
    // OPTIMIZE WHERE over the single-file partition: selection runs
    // distributed, the 1-file bin is a no-op, nothing commits
    val ov = DlvMaintenance.optimize(spark, path,
      where = Some(col("p") === PARTS))
    assert(ov == 12L, "1-file partition must not commit a rewrite")
    assert(DlvLog.snapshotMaterializations.get() == mat0,
      "distributed-routed DML must not materialize the driver snapshot")

    // the DELETE removed exactly partition 7's files, nothing else
    val dActions = l.commitActionsOf(11)
    val removes = dActions.collect { case r: RemoveFile => r }
    assert(removes.size == N / PARTS)
    assert(removes.forall(_.partitionValues("p") == "7"))
    assert(dActions.collect { case a: AddFile => a }.isEmpty)
    // the UPDATE committed no file changes
    val uActions = l.commitActionsOf(12)
    assert(uActions.forall(_.isInstanceOf[CommitInfo]),
      s"stats-pruned UPDATE must commit no file actions: $uActions")
    // live state reflects the delete, still through the Dataset path
    val idx = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true)
      .getOrElse(fail("post-DML state must still route distributed"))
    assert(idx.livePathsDS.count() == (N - N / PARTS + 1).toLong)

    // metadata-only ALTERs and a blind APPEND stay light too — they
    // need schema + properties + the writer gate, never the file list
    val mat1 = DlvLog.snapshotMaterializations.get()
    DlvTable.setProperties(spark, path, Map("dlv.owner" -> "scale"))
    DlvTable.addColumns(spark, path, "extra INT")
    import spark.implicits._
    DlvTable.append(spark, path,
      Seq((1L, "x", 999, 1)).toDF("id", "payload", "p", "extra"))
    assert(DlvLog.snapshotMaterializations.get() == mat1,
      "metadata ops and appends past the threshold must not " +
        "materialize the driver snapshot")
    // the append picked up the evolved schema from the light state
    val postMeta = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true).get.metadata
    assert(postMeta.schema.fieldNames.contains("extra"))
    assert(postMeta.properties.get("dlv.owner").contains("scale"))

    // RESTORE diffs the two versions where the state lives: only the
    // changed files (here: the one appended file) land on the driver,
    // the metadata reverts, and nothing materializes a snapshot
    val mat2 = DlvLog.snapshotMaterializations.get()
    val rv = DlvTable.restore(spark, path, 11)
    assert(DlvLog.snapshotMaterializations.get() == mat2,
      "distributed RESTORE must not materialize the driver snapshot")
    val rActions = l.commitActionsOf(rv)
    assert(rActions.collect { case r: RemoveFile => r }.size == 1,
      "only the post-v11 appended file is removed")
    assert(rActions.collect { case a: AddFile => a }.isEmpty,
      "nothing re-adds: every v11 file is still live")
    assert(rActions.collect { case m: graft.sources.dlv.Metadata => m }
      .exists(m => !m.schema.fieldNames.contains("extra")),
      "the restore reinstates the pre-evolution metadata")
    val restored = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true).get
    assert(restored.livePathsDS.count() == (N - N / PARTS + 1).toLong)

    // the interval checkpoint itself writes DISTRIBUTED: the file list
    // flows previous-checkpoint → Dataset → new parquet checkpoint
    // without a driver replay
    val mat3 = DlvLog.snapshotMaterializations.get()
    ((l.latestVersion + 1) to 20L).foreach(v => l.commit(v,
      Seq(CommitInfo(v, v, "WRITE", Map.empty, isBlindAppend = true))))
    assert(DlvLog.snapshotMaterializations.get() == mat3,
      "the interval checkpoint must not materialize the driver snapshot")
    assert(l.io.exists(l.checkpointParquetDir(20)),
      "v20 must have auto-written a parquet checkpoint")
    val hint20 = l.lastCheckpointHint.get
    assert(hint20.version == 20)
    assert(hint20.numFiles.contains((N - N / PARTS + 1).toLong))
    val fromCkpt20 = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true).get
    assert(fromCkpt20.livePathsDS.count() == (N - N / PARTS + 1).toLong)
    // state through the NEW checkpoint matches the pre-checkpoint one
    assert(fromCkpt20.metadataRowCount == restored.metadataRowCount)
   }
  }

  test("df.inputFiles on the distributed index is CAPPED: past the " +
    "limit it throws with the livePathsDS pointer instead of " +
    "re-materializing the full path list on the driver") {
   withProps(DIST -> "1",
       DlvDistributedFileIndex.INPUT_FILES_CAP_PROP -> "10") {
    val schemaDdl = "id BIGINT, payload STRING, p INT"
    val meta = graft.sources.dlv.Metadata(
      "scale-inputfiles-id", schemaDdl, Seq("p"), Map.empty, 1L)
    val files = (0 until 100).map { i =>
      AddFile(s"p=${i % PARTS}/part-$i.parquet",
        Map("p" -> (i % PARTS).toString), 1024L, 1L,
        dataChange = true, None)
    }
    val (path, l) = synthesize("inputfiles", files, meta)
    val idx = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true)
      .getOrElse(fail("must route distributed"))
    val e = intercept[IllegalStateException](idx.inputFiles)
    assert(e.getMessage.contains("livePathsDS"),
      s"cap refusal must point at the distributed alternative: ${e.getMessage}")
    // under the cap: the diagnostic still works
    sys.props(DlvDistributedFileIndex.INPUT_FILES_CAP_PROP) = "1000"
    assert(idx.inputFiles.length == 100)
    // the distributed surface never caps
    assert(idx.livePathsDS.count() == 100L)
   }
  }

  test(s"a $N-file table's interval checkpoint writes SHARDED " +
    "(v2 sidecars) with ZERO driver snapshot materializations, and " +
    "reads/history/time-travel resolve through it") {
   withProps(DIST -> "1") {
    val schemaDdl = "id BIGINT, payload STRING, p INT"
    val meta = graft.sources.dlv.Metadata(
      "scale-shard-id", schemaDdl, Seq("p"), Map.empty, 1L)
    def statsOf(i: Long) =
      s"""{"numRecords":100,"minValues":{"id":${i * 100}},""" +
        s""""maxValues":{"id":${i * 100 + 99}},""" +
        s""""nullCount":{"id":0,"payload":0}}"""
    val files = (0 until N).map { i =>
      AddFile(s"p=${i % PARTS}/part-$i.parquet",
        Map("p" -> (i % PARTS).toString), 1024L, 1L, dataChange = true,
        Some(statsOf(i.toLong)))
    }
    val (path, l) = synthesize("scale-shard", files, meta)
    // tail: v11 removes two files of p=7 and adds one to p=3; 12..19
    // metadata-only; v20 is the interval boundary
    l.commit(11, Seq(
      RemoveFile("p=7/part-7.parquet", 11L, Map("p" -> "7"),
        dataChange = true),
      RemoveFile("p=7/part-107.parquet", 11L, Map("p" -> "7"),
        dataChange = true),
      AddFile("p=3/part-new.parquet", Map("p" -> "3"), 1024L, 11L,
        dataChange = true, Some(statsOf(N.toLong))),
      CommitInfo(11, 11, "DML", Map.empty, isBlindAppend = false)))
    (12L to 19L).foreach(v => l.commit(v,
      Seq(CommitInfo(v, v, "WRITE", Map.empty, isBlindAppend = true))))
    val matBefore = DlvLog.snapshotMaterializations.get()
    val t0 = System.nanoTime()
    l.commit(20, Seq(
      CommitInfo(20, 20, "WRITE", Map.empty, isBlindAppend = true)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(DlvLog.snapshotMaterializations.get() == matBefore,
      "the sharded checkpoint write must never materialize the file " +
        "list on the driver")
    val refs = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(20)))
    assert(refs.nonEmpty, "v20 must be a sharded checkpoint " +
      s"(hint=${l.lastCheckpointHint})")
    assert(refs.map(_.numFiles).sum == N - 2 + 1,
      s"shard hint counts must sum to the live population: $refs")
    assert(l.lastCheckpointHint.exists(h =>
      h.version == 20 && h.numFiles.contains((N - 1).toLong)))
    info(f"$N%,d-file sharded checkpoint write: $secs%.1f s " +
      f"(${refs.size} shards)")
    // the distributed index replays THROUGH the sharded checkpoint:
    // exact partition pruning over the sidecar state
    val idx = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true)
      .getOrElse(fail("the hint must still route distributed"))
    assert(idx.version == 20)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.IntegerType
    val partAttr = AttributeReference("p", IntegerType)()
    val p7 = idx.listFiles(Seq(EqualTo(partAttr, Literal(7))), Nil)
    assert(p7.map(_.files.length).sum == N / PARTS - 2,
      "pruning through sidecars must see the tail's removes")
    val p3 = idx.listFiles(Seq(EqualTo(partAttr, Literal(3))), Nil)
    assert(p3.map(_.files.length).sum == N / PARTS + 1,
      "pruning through sidecars must see the tail's add")
    // history + TIMESTAMP AS OF resolve through the sharded manifest
    assert(l.history.size == 21 && l.history.head.version == 20L)
    assert(l.versionAtTimestamp(15L) == 15L)
    // a FURTHER interval rewrites only dirty shards: v21 touches one
    // path; v30 carries every untouched shard reference forward
    l.commit(21, Seq(
      RemoveFile("p=3/part-new.parquet", 21L, Map("p" -> "3"),
        dataChange = true),
      CommitInfo(21, 21, "DML", Map.empty, isBlindAppend = false)))
    (22L to 29L).foreach(v => l.commit(v,
      Seq(CommitInfo(v, v, "WRITE", Map.empty, isBlindAppend = true))))
    val mat2 = DlvLog.snapshotMaterializations.get()
    l.commit(30, Seq(
      CommitInfo(30, 30, "WRITE", Map.empty, isBlindAppend = true)))
    assert(DlvLog.snapshotMaterializations.get() == mat2)
    val refs30 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(30)))
    assert(refs30.nonEmpty)
    val prevByShard = refs.map(r => r.shardId -> r.path).toMap
    val rewritten = refs30.filterNot(r =>
      prevByShard.get(r.shardId).contains(r.path))
    assert(rewritten.size == 1,
      s"one touched path must dirty exactly one shard, got " +
        s"${rewritten.map(_.shardId)}")
    assert(refs30.size - rewritten.size == refs.size - 1,
      "every untouched shard must carry forward verbatim")
    assert(refs30.map(_.numFiles).sum == N - 2)
   }
  }

  test("FSCK REPAIR probes existence on EXECUTORS for a " +
    "distributed-routed table: only the missing files land on the " +
    "driver, zero snapshot materializations") {
   withProps(DIST -> "1", CKPT -> "1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scale-fsck-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    DlvTable.create(spark, path, "id BIGINT, p INT", Seq("p"))
    (0 until 10).foreach(k => DlvTable.append(spark, path,
      (k * 10 until k * 10 + 10).map(i => (i.toLong, i % 4))
        .toDF("id", "p")
        .repartition(org.apache.spark.sql.functions.col("p"))))
    val l = DlvTable.log(path)
    // physically delete two referenced files
    val victims = l.snapshot().files.take(2)
    victims.foreach(f => java.nio.file.Files.delete(
      java.nio.file.Paths.get(l.resolve(f.path))))
    val matBefore = DlvLog.snapshotMaterializations.get()
    val (dryN, scanned) = DlvMaintenance.fsck(spark, path, dryRun = true)
    assert(dryN == 2L && scanned == l.lastCheckpointHint
      .flatMap(_.numFiles).getOrElse(-1L))
    val (fixedN, _) = DlvMaintenance.fsck(spark, path)
    assert(fixedN == 2L)
    assert(DlvLog.snapshotMaterializations.get() == matBefore,
      "the distributed-routed repair must never materialize the " +
        "file list on the driver")
    // reads come back exact over the survivors
    val lostRows = victims.flatMap(f =>
      CommitInfo.rowCount(Seq(f))).sum
    assert(DlvTable.toDF(spark, path).count() == 100L - lostRows)
    assert(DlvMaintenance.fsck(spark, path)._1 == 0L, "idempotent")
   }
  }

  test("VACUUM's clone guard scans a past-threshold registered " +
    "clone's references DISTRIBUTED: zero driver snapshot " +
    "materializations, and the shared-fate refusal still fires") {
   withProps(DIST -> "1") {
    val tmpMeta = java.nio.file.Files
      .createTempDirectory("scale-vac-meta-").resolve("metastore.json")
    val prevMeta = spark.conf.getOption(sql.DlvRegistry.METASTORE_CONF)
    spark.conf.set(sql.DlvRegistry.METASTORE_CONF, tmpMeta.toString)
    try {
      // BASE: synthesized distributed-routed table; two STRAY real
      // parquet files on disk (unreferenced, old) are the doomed set
      val meta = graft.sources.dlv.Metadata(
        "scale-vac-id", "id BIGINT, p INT", Seq("p"), Map.empty, 1L)
      val files = (0 until 100).map { i =>
        AddFile(s"p=${i % 4}/part-$i.parquet",
          Map("p" -> (i % 4).toString), 1024L, 1L, dataChange = true,
          None)
      }
      val (base, l) = synthesize("scale-vac-base", files, meta)
      val strays = Seq("p=0/stray-a.parquet", "p=1/stray-b.parquet")
      strays.foreach { rel =>
        val f = java.nio.file.Paths.get(base, rel)
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
        f.toFile.setLastModified(
          System.currentTimeMillis() - 10L * 60 * 1000)
        ()
      }
      // CLONE: synthesized, distributed-routed, born-as-CLONE v0,
      // referencing the strays ABSOLUTELY under the base root
      val cmeta = graft.sources.dlv.Metadata(
        "scale-vac-clone-id", "id BIGINT, p INT", Seq("p"), Map.empty, 1L)
      val cfiles = (0 until 100).map { i =>
        val path =
          if (i < strays.size) s"$base/${strays(i)}"
          else s"p=${i % 4}/own-$i.parquet"
        AddFile(path, Map("p" -> (i % 4).toString), 1024L, 1L,
          dataChange = true, None)
      }
      val cdir = java.nio.file.Files
        .createTempDirectory("scale-vac-clone-")
      cdir.toFile.deleteOnExit()
      val cpath = cdir.resolve("t").toString
      val cl = DlvTable.log(cpath)
      (0L to 10L).foreach { v =>
        val actions: Seq[Action] =
          (if (v == 0) Seq(Protocol(), cmeta) else Nil) :+
            CommitInfo(v, v, if (v == 0) "CLONE" else "WRITE",
              if (v == 0) Map("source" -> base) else Map.empty,
              isBlindAppend = v != 0)
        cl.commit(v, actions)
      }
      DlvCheckpoint.writeParquet(spark,
        Seq(Protocol(), cmeta) ++
          (0L to 10L).map(v => CommitInfo(v, v, "WRITE", Map.empty,
            isBlindAppend = true)) ++ cfiles,
        cl.checkpointParquetDir(10))
      cl.io.writeReplace(cl.io.child(cl.logDir, "_last_checkpoint"),
        s"""{"version":10,"numFiles":100,"sizeBytes":102400}""")
      cl.io.delete(cl.io.child(cl.logDir,
        f"${10L}%020d.checkpoint.json"))
      sql.DlvRegistry.register(spark, "scale_vac_clone", cpath)

      val matBefore = DlvLog.snapshotMaterializations.get()
      // DRY RUN reports the exposure without materializing anything
      val stats = DlvMaintenance.vacuumStats(
        spark, base, retentionMs = 60 * 1000, dryRun = true)
      assert(stats.strandedCloneFiles == strays.size.toLong,
        s"the guard must count both strays: $stats")
      // a REAL vacuum refuses before any delete
      val e = intercept[IllegalStateException] {
        DlvMaintenance.vacuum(spark, base, retentionMs = 60 * 1000)
      }
      assert(e.getMessage.contains("scale_vac_clone"), e.getMessage)
      strays.foreach(rel => assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(base, rel)),
        s"refusal must precede any delete: $rel"))
      assert(DlvLog.snapshotMaterializations.get() == matBefore,
        "the clone-reference scan must never materialize a snapshot " +
          "on the driver (base OR clone)")
    } finally {
      prevMeta match {
        case Some(v) =>
          spark.conf.set(sql.DlvRegistry.METASTORE_CONF, v)
        case None =>
          spark.conf.unset(sql.DlvRegistry.METASTORE_CONF)
      }
    }
   }
  }

  test("REORG PURGE rewrites in ONE distributed " +
    "job: zero driver snapshot materializations, vectors purged, " +
    "rows exact") {
   withProps(DIST -> "1", CKPT -> "1",
       // v2 (the DV delete) lands on the interval boundary, so the
       // `_last_checkpoint` hint exists (parquet-format via CKPT=1)
       // and routing goes distributed
       "graft.dlv.checkpointInterval" -> "2") {
    import org.apache.spark.sql.functions.{col, concat, lit, sum}
    val dir = java.nio.file.Files.createTempDirectory("dlv-reorg-dist-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    val df = spark.range(0, 800).select(col("id"),
      (col("id") % 8).cast("int").as("p"),
      concat(lit("v"), col("id")).as("payload"))
    DlvTable.create(spark, path, "id BIGINT, p INT, payload STRING",
      Seq("p"), Map(DlvDv.PROP -> "true", DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, path, df.repartition(col("p")))
    // soft-delete a slice of EVERY partition: 8 vector-bearing
    // partitions, rewritten by the one job
    DlvDml.delete(spark, path, col("id") % 5 === 0)
    val l = DlvTable.log(path)
    val idx0 = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true)
      .getOrElse(fail("the table must route distributed under DIST=1"))
    val before = idx0.allFilesCollected
    val dvBefore = before.filter(_.dv.nonEmpty)
    assert(dvBefore.map(_.partitionValues).distinct.size == 8,
      "fixture must put a vector on every partition")
    val cleanBefore = before.filter(_.dv.isEmpty).map(_.path).toSet

    val mat0 = DlvLog.snapshotMaterializations.get()
    val v = DlvMaintenance.reorgPurge(spark, path)
    assert(DlvLog.snapshotMaterializations.get() == mat0,
      "distributed REORG must not materialize the driver snapshot")

    val actions = l.commitActionsOf(v)
    val adds = actions.collect { case a: AddFile => a }
    val removes = actions.collect { case r: RemoveFile => r }
    assert(adds.nonEmpty && adds.forall(!_.dataChange),
      "REORG adds must be dataChange=false")
    assert(removes.map(_.path).toSet == dvBefore.map(_.path).toSet,
      "exactly the vector-bearing files are replaced")
    val after = DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true).get
      .allFilesCollected
    assert(after.flatMap(_.dv).isEmpty,
      "no live vector may remain after PURGE")
    assert(cleanBefore.subsetOf(after.map(_.path).toSet),
      "vector-free files must survive untouched")
    // rows exact: the purge materialized the soft-deletes and nothing
    // else — id%5==0 gone, all other rows intact with their payloads
    val got = DlvTable.toDF(spark, path)
      .agg(org.apache.spark.sql.functions.count(lit(1)),
        sum("id").cast("long")).head()
    val expIds = (0L until 800L).filterNot(_ % 5 == 0)
    assert(got.getLong(0) == expIds.size.toLong)
    assert(got.getLong(1) == expIds.sum)
   }
  }
}
