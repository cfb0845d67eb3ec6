package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The validated snapshot cache: repeat plans of the same (table,
  * version) reuse the materialized state instead of replaying the
  * checkpoint + tail. Validation is two-stage — the version commit's
  * (size, mtime) stat pair, then a content hash over the HEAD of the
  * creation commit (whose Metadata action carries the table's fresh
  * UUID) — so a table deleted and re-created at the same path is
  * detected even when schema and commit byte-length coincide and the
  * store's modification-time granularity is coarse. */
class SnapshotCacheSpec extends SparkSpec {

  test("repeat snapshotAt of an immutable version is a cache hit " +
    "(same instance), and later commits never alias earlier versions") {
    val dir = java.nio.file.Files.createTempDirectory("dlv-snapcache-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    import spark.implicits._
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil)
    DlvTable.append(spark, path, Seq((1L, 1.0)).toDF("id", "v"))
    val l = DlvTable.log(path)
    val s1 = l.snapshotAt(Some(1))
    // a second read of the same immutable version reuses the instance
    assert(l.snapshotAt(Some(1)) eq s1)
    // a new commit produces a DIFFERENT version: never served from v1
    DlvTable.append(spark, path, Seq((2L, 2.0)).toDF("id", "v"))
    val s2 = l.snapshot()
    assert(s2.version == 2 && s2.files.size == 2)
    assert(l.snapshotAt(Some(1)).files.size == 1) // time travel intact
  }

  test("a table deleted and re-created at the same path invalidates " +
    "the fingerprint — stale state is never served") {
    val dir = java.nio.file.Files.createTempDirectory("dlv-snapstale-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    import spark.implicits._
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil)
    DlvTable.append(spark, path, Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    assert(DlvTable.log(path).snapshotAt(Some(1)).files.nonEmpty)
    // wipe and rebuild a DIFFERENT table at the identical path, up to
    // the identical version number
    DlvTable.deleteTableDir(path)
    DlvTable.create(spark, path,
      "name STRING, score BIGINT, extra STRING", Nil)
    DlvTable.append(spark, path,
      Seq(("a", 10L, "x")).toDF("name", "score", "extra"))
    val fresh = DlvTable.log(path).snapshotAt(Some(1))
    assert(fresh.metadata.schema.fieldNames.toSeq ==
      Seq("name", "score", "extra"),
      "cache served the deleted table's schema")
    val got = DlvTable.toDF(spark, path, version = Some(1))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 10L)))
  }

  test("the HARD recreate: identical schema and commit byte-length — " +
    "the creation-commit hash still invalidates") {
    val dir = java.nio.file.Files.createTempDirectory("dlv-snaphard-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    import spark.implicits._
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil)
    DlvTable.append(spark, path, Seq((1L, 1.0)).toDF("id", "v"))
    assert(DlvTable.toDF(spark, path, version = Some(1))
      .collect().map(_.getLong(0)).toSet == Set(1L))
    val stale = DlvTable.log(path).snapshotAt(Some(1))
    // recreate with the SAME schema: version-1 commit JSON has the same
    // shape (fixed-width UUID paths and timestamps), so a (size, mtime)
    // stat pair alone could collide on coarse-granularity stores —
    // commit 0's fresh table UUID is what must tell them apart
    DlvTable.deleteTableDir(path)
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil)
    DlvTable.append(spark, path, Seq((7L, 7.0)).toDF("id", "v"))
    val l = DlvTable.log(path)
    // FORCE the stat collision the filesystem rarely produces: poison
    // the cache under (path, 1) with the RECREATED commit's exact stat
    // pair but the OLD table's snapshot — only the creation-commit
    // hash can now tell the entries apart. Reverting the createKey
    // validation makes the next read serve the deleted table's rows.
    val cf = l.io.child(l.logDir, CommitStore.fileName(1L))
    DlvLog.snapshotCache.put((path, 1L), ValidatedLru.Fingerprint(
      l.io.size(cf), l.io.mtimeMs(cf), "old-creation-hash"), stale)
    val got = DlvTable.toDF(spark, path, version = Some(1))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(7L), "cache served the deleted table's rows")
  }
}
