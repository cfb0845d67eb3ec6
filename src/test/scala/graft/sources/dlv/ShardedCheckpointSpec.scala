package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The delta-v2-shaped SHARDED checkpoint
  * ([[DlvLog.writeShardedCheckpoint]]): AddFiles live in immutable
  * per-shard sidecar parquet dirs under `_dlv_log/_sidecars/`, the
  * version's manifest references them, and an interval checkpoint
  * rewrites ONLY the shards the tail commits touched. These tests
  * drive the REAL lifecycle at small thresholds (the at-scale
  * threshold at 1 file, so every table past its first parquet
  * checkpoint is sharded): conversion from a classic checkpoint,
  * dirty-only rewrite with reference carry-forward, correct reads
  * (snapshot, time travel, history, CDF-era DML) through the sharded
  * state, sidecar GC, and a failed write that leaves the interval
  * without a checkpoint. */
class ShardedCheckpointSpec extends SparkSpec with DlvTestProps {

  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"shard-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def batch(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, i % 4)).toDF("id", "part")
      .repartition(col("part"))

  /** Shared-state fixture: 3 checkpoint intervals of real appends and
    * a delete, all sharded (threshold 1, target 8 adds/shard). */
  test("sharded lifecycle: conversion, dirty-only rewrite with " +
    "carry-forward, and every read surface stays correct") {
   withProps(DIST -> "1", SHARD_TARGET -> "8", CKPT -> "1") {
    val path = freshDir("life")
    val l = DlvTable.log(path)
    DlvTable.create(spark, path, "id BIGINT, part INT", Seq("part"))
    // interval 1: commits 1..10 → checkpoint at v10. The FIRST
    // parquet checkpoint has no hint to build on, so v10 lands
    // through the driver writer; v20 converts it to sharded.
    (0 until 10).foreach(k => DlvTable.append(spark, path,
      batch(k * 8, k * 8 + 8)))
    assert(l.latestVersion == 10L)
    val refs10 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(10)))
    // interval 2: appends + a delete → v20 checkpoint is SHARDED
    (0 until 9).foreach(k => DlvTable.append(spark, path,
      batch(80 + k * 8, 80 + k * 8 + 8)))
    DlvDml.delete(spark, path, col("id") < 8L)
    assert(l.latestVersion == 20L)
    val refs20 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(20)))
    assert(refs20.nonEmpty, "v20 checkpoint must be sharded")
    val n20 = refs20.head.numShards
    assert(refs20.forall(_.numShards == n20))
    // the manifest itself must hold NO AddFile rows
    val manifestAdds = spark.read.schema(DlvCheckpoint.schema)
      .parquet(l.io.qualified(l.checkpointParquetDir(20)))
      .filter(col("add").isNotNull).count()
    assert(manifestAdds == 0, "sharded manifest must not carry adds")
    // snapshot correctness through the sharded checkpoint
    assert(DlvTable.toDF(spark, path).count() == 144) // 19 appends × 8 rows − 8 deleted
    assert(DlvTable.toDF(spark, path)
      .agg(sum("id")).head.getLong(0) ==
      (8L until 152L).sum)
    // interval 3: touch a FEW files → v30 rewrites only dirty shards
    (0 until 9).foreach(_ => DlvTable.append(spark, path,
      Seq((1000L, 0)).toDF("id", "part")))
    DlvDml.delete(spark, path, col("id") === 1000L)
    assert(l.latestVersion == 30L)
    val refs30 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(30)))
    assert(refs30.nonEmpty)
    assert(refs30.head.numShards == n20,
      "stable population must keep the shard count")
    val paths20 = refs20.map(r => r.shardId -> r.path).toMap
    val carried = refs30.filter(r => paths20.get(r.shardId)
      .contains(r.path))
    assert(carried.nonEmpty,
      s"v30 must carry untouched v20 shards forward verbatim " +
        s"(refs20=${refs20.map(_.path)}, refs30=${refs30.map(_.path)})")
    assert(refs30.exists(r => !paths20.get(r.shardId).contains(r.path)),
      "v30 must have rewritten the dirty shard(s)")
    // reads at HEAD and through history/time travel
    assert(DlvTable.toDF(spark, path).count() == 144)
    assert(DlvTable.toDF(spark, path, version = Some(20)).count() == 144)
    assert(DlvTable.toDF(spark, path, version = Some(10)).count() == 80)
    val hist = l.history
    assert(hist.size == 31 && hist.head.version == 30L)
    // TIMESTAMP AS OF resolves through the checkpoint-embedded history
    val tsAt20 = l.commitTimestamp(20)
    assert(l.versionAtTimestamp(tsAt20) == 20L)
    // _last_checkpoint hint counts match the live population
    val hint = l.lastCheckpointHint.get
    assert(hint.version == 30L)
    assert(hint.numFiles.contains(
      DlvTable.log(path).snapshot().files.size.toLong))
    assert(refs10.isEmpty,
      "the FIRST parquet checkpoint has no hint to build on and must" +
        " land through the driver writer")
   }
  }

  test("a dirty shard emptied by the tail drops its reference " +
    "(no ref to a nonexistent dir) and reads stay exact") {
   withProps(DIST -> "1", SHARD_TARGET -> "4", CKPT -> "1") {
    val path = freshDir("empty")
    val l = DlvTable.log(path)
    DlvTable.create(spark, path, "id BIGINT, part INT", Seq("part"))
    (0 until 10).foreach(k => DlvTable.append(spark, path,
      batch(k * 6, k * 6 + 6)))
    (0 until 9).foreach(k => DlvTable.append(spark, path,
      batch(60 + k * 6, 60 + k * 6 + 6)))
    // v20: delete EVERYTHING — every shard goes dirty and empties
    DlvDml.delete(spark, path, lit(true))
    assert(l.latestVersion == 20L)
    val refs20 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(20)))
    refs20.foreach(r => assert(
      l.io.exists(l.io.child(l.logDir, r.path)),
      s"manifest references a missing shard dir: ${r.path}"))
    assert(refs20.map(_.numFiles).sum == 0 || refs20.isEmpty ||
      DlvTable.toDF(spark, path).count() == 0)
    assert(DlvTable.toDF(spark, path).count() == 0)
    assert(DlvTable.toDF(spark, path, version = Some(19)).count() == 114)
   }
  }

  test("chunked history: full chunks become immutable carried-forward " +
    "sidecars, only the partial tail stays inline, and every history " +
    "read resolves exactly") {
   withProps(DIST -> "1", SHARD_TARGET -> "8", CKPT -> "1",
       "graft.dlv.checkpointInterval" -> "3",
       "graft.dlv.checkpointHistoryChunk" -> "4") {
    val path = freshDir("hist")
    val l = DlvTable.log(path)
    DlvTable.create(spark, path, "id BIGINT, part INT", Seq("part"))
    (0 until 9).foreach(k => DlvTable.append(spark, path,
      batch(k * 8, k * 8 + 8))) // v1..v9; checkpoints at v3, v6, v9
    assert(l.latestVersion == 9L)
    def refsAt(v: Long) = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(v)))
    // v6 (first SHARDED checkpoint): wantFull = 6/4 = 1 → chunk 0
    // (v0..v3) is a sidecar, v4..v6 inline
    val hist6 = refsAt(6).filter(_.isHistory)
    assert(hist6.map(_.shardId) == Seq(0), s"v6 history refs: $hist6")
    val inline6 = DlvCheckpoint.readManifestCommitInfos(
      spark, l.io.qualified(l.checkpointParquetDir(6)))
    assert(inline6.map(_.version).sorted == Seq(4L, 5L, 6L),
      s"v6 inline must be the partial tail: ${inline6.map(_.version)}")
    // v9: wantFull = 2 → chunk 1 (v4..v7) NEW, chunk 0 CARRIED
    // forward verbatim from v6's job
    val hist9 = refsAt(9).filter(_.isHistory)
    assert(hist9.map(_.shardId).sorted == Seq(0, 1),
      s"v9 history refs: $hist9")
    assert(hist9.find(_.shardId == 0).map(_.path) ==
      hist6.headOption.map(_.path),
      "chunk 0 must carry forward verbatim (immutable sidecar)")
    val inline9 = DlvCheckpoint.readManifestCommitInfos(
      spark, l.io.qualified(l.checkpointParquetDir(9)))
    assert(inline9.map(_.version).sorted == Seq(8L, 9L))
    // full history resolves exactly through chunks + inline
    val hist = l.history
    assert(hist.map(_.version) == (9L to 0L by -1L),
      s"history versions: ${hist.map(_.version)}")
    assert(hist.last.operation == "CREATE TABLE")
    // TIMESTAMP AS OF through a CHUNKED version (v2 lives in chunk 0)
    assert(l.versionAtTimestamp(l.commitTimestamp(2)) == 2L)
    // reads stay exact
    assert(DlvTable.toDF(spark, path).count() == 72)
   }
  }

  test("log retention cleanup GCs sidecar job dirs no surviving " +
    "manifest references, keeps referenced ones") {
   withProps(DIST -> "1", SHARD_TARGET -> "8", CKPT -> "1") {
    val path = freshDir("gc")
    val l = DlvTable.log(path)
    DlvTable.create(spark, path, "id BIGINT, part INT", Seq("part"))
    (0 until 30).foreach(k => DlvTable.append(spark, path,
      batch(k * 8, k * 8 + 8)))
    assert(l.latestVersion == 30L)
    val jobsBefore = l.io.listNames(l.sidecarsDir)
    assert(jobsBefore.size >= 2,
      s"expected sidecar jobs from v20 and v30: $jobsBefore")
    // an orphan from a 'crashed writer'
    val orphan = l.io.child(l.sidecarsDir, "00000000000000000099-dead")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(orphan))
    // age everything, then clean with retention 0: checkpoints v10/v20
    // are superseded by v30 → reclaimed → their exclusive sidecars GC;
    // v30's survive because its manifest still references them
    val old = System.currentTimeMillis() - 10 * 60 * 1000
    java.nio.file.Files.walk(java.nio.file.Paths.get(l.logDir))
      .forEach(p => { p.toFile.setLastModified(old); () })
    DlvMaintenance.cleanupLog(spark, path, retentionMs = 60 * 1000)
    java.nio.file.Files.walk(java.nio.file.Paths.get(l.logDir))
      .forEach(p => { p.toFile.setLastModified(old); () })
    DlvMaintenance.cleanupLog(spark, path, retentionMs = 60 * 1000)
    val refs30 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(30)))
    assert(refs30.nonEmpty)
    val jobsAfter = l.io.listNames(l.sidecarsDir).toSet
    assert(!jobsAfter.contains("00000000000000000099-dead"),
      "unreferenced orphan job dir must be GC'd")
    refs30.foreach(r => assert(
      l.io.exists(l.io.child(l.logDir, r.path)),
      s"GC deleted a shard the live manifest references: ${r.path}"))
    // the table still reads exactly after GC
    assert(DlvTable.toDF(spark, path).count() == 240)
   }
  }

  test("a failed sharded checkpoint write leaves that interval " +
    "without a checkpoint (no fall-through to another writer), the " +
    "commit still wins, and the next interval writes sharded") {
   withProps(DIST -> "1", SHARD_TARGET -> "8", CKPT -> "1") {
    val path = freshDir("fault")
    DlvTable.create(spark, path, "id BIGINT, part INT", Seq("part"))
    // v1..v10: the v10 checkpoint is the driver writer's parquet
    (0 until 10).foreach(k => DlvTable.append(spark, path,
      batch(k * 8, k * 8 + 8)))
    val hint10 = DlvTable.log(path).lastCheckpointHint
    assert(hint10.exists(_.version == 10L))
    (0 until 9).foreach(k => DlvTable.append(spark, path,
      batch(80 + k * 8, 80 + k * 8 + 8)))
    // the interval commits go through a log whose store fails the
    // first publish of a checkpoint staging dir
    val io = new FailFirstCheckpointPublish
    val l = new DlvLog(path, io)
    def marker(v: Long) = Seq(CommitInfo(v, System.currentTimeMillis(),
      "WRITE", Map.empty, isBlindAppend = true))
    val mat0 = DlvLog.snapshotMaterializations.get()
    val failures0 = DlvLog.checkpointFailures.get()
    assert(l.commit(20, marker(20)), "a won commit must return true")
    assert(io.failed, "the sharded writer must have reached its publish")
    assert(DlvLog.checkpointFailures.get() == failures0 + 1,
      "the absorbed checkpoint failure must be counted")
    assert(DlvLog.snapshotMaterializations.get() == mat0,
      "a failed sharded write must not fall through to a driver replay")
    assert(!l.io.exists(l.checkpointParquetDir(20)) &&
      !l.io.exists(l.io.child(l.logDir, f"${20L}%020d.checkpoint.json")),
      "no checkpoint may be published at v20")
    assert(l.lastCheckpointHint == hint10, "the hint must not move")
    val all = (0L until 152L)
    assert(DlvTable.toDF(spark, path).count() == all.size)
    assert(DlvTable.toDF(spark, path).agg(sum("id")).head.getLong(0) ==
      all.sum)
    assert(DlvTable.toDF(spark, path, version = Some(15)).count() == 120)
    // fault cleared: the next interval builds on the v10 hint
    (0 until 9).foreach(k => DlvTable.append(spark, path,
      batch(152 + k * 8, 152 + k * 8 + 8)))
    assert(l.commit(30, marker(30)))
    assert(DlvLog.checkpointFailures.get() == failures0 + 1,
      "a checkpoint that succeeds must not be counted as failed")
    val refs30 = DlvCheckpoint.sidecarRefs(
      spark, l.io.qualified(l.checkpointParquetDir(30)))
    assert(refs30.exists(_.isAdd), "the v30 checkpoint must be sharded")
    val manifestAdds = spark.read.schema(DlvCheckpoint.schema)
      .parquet(l.io.qualified(l.checkpointParquetDir(30)))
      .filter(col("add").isNotNull).count()
    assert(manifestAdds == 0, "sharded manifest must not carry adds")
    assert(l.lastCheckpointHint.exists(h => h.version == 30L &&
      h.numFiles.contains(l.snapshot().files.size.toLong)))
    assert(DlvTable.toDF(spark, path).count() == 224)
    assert(DlvTable.toDF(spark, path).agg(sum("id")).head.getLong(0) ==
      (0L until 224L).sum)
    assert(l.history.map(_.version) == (30L to 0L by -1L))
   }
  }
}

/** A local store whose FIRST move of a `.ckpt-tmp-*` checkpoint
  * staging dir throws: a checkpoint write that fails at its publish. */
private class FailFirstCheckpointPublish extends DlvIo {
  private val nio = new NioIo()
  @volatile var failed = false
  override def move(src: String, dst: String): Unit = {
    if (!failed &&
        java.nio.file.Paths.get(src).getFileName.toString
          .startsWith(".ckpt-tmp-")) {
      failed = true
      throw new java.io.IOException(s"injected publish failure: $src")
    }
    nio.move(src, dst)
  }
  override def hadoopConf = nio.hadoopConf
  override def child(dir: String, name: String) = nio.child(dir, name)
  override def relativize(root: String, path: String) =
    nio.relativize(root, path)
  override def relativizeUri(root: String, uri: String) =
    nio.relativizeUri(root, uri)
  override def rawPathOfUri(uri: String) = nio.rawPathOfUri(uri)
  override def qualified(path: String) = nio.qualified(path)
  override def exists(path: String) = nio.exists(path)
  override def isDirectory(path: String) = nio.isDirectory(path)
  override def readString(path: String) = nio.readString(path)
  override def readHead(path: String, maxBytes: Int) =
    nio.readHead(path, maxBytes)
  override def readLines(path: String) = nio.readLines(path)
  override def writeReplace(path: String, content: String) =
    nio.writeReplace(path, content)
  override def putIfAbsent(dir: String, name: String, content: String) =
    nio.putIfAbsent(dir, name, content)
  override def listNames(dir: String) = nio.listNames(dir)
  override def listEntries(dir: String) = nio.listEntries(dir)
  override def walkFiles(dir: String) = nio.walkFiles(dir)
  override def mkdirs(dir: String) = nio.mkdirs(dir)
  override def copy(src: String, dst: String) = nio.copy(src, dst)
  override def delete(path: String) = nio.delete(path)
  override def deleteRecursive(path: String) = nio.deleteRecursive(path)
  override def mtimeMs(path: String) = nio.mtimeMs(path)
  override def size(path: String) = nio.size(path)
}
