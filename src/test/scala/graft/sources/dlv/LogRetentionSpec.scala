package graft.sources.dlv

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Log retention cleanup (`DlvMaintenance.cleanupLog`): commit JSONs
  * below the newest checkpoint, their CDC blobs, and superseded
  * checkpoints are reclaimed past retention; everything the current
  * state and post-horizon time travel need survives, and pre-horizon
  * time travel dies LOUDLY with the retention contract named. */
class LogRetentionSpec extends SparkSpec {

  private def mkChurned(): (String, DlvLog, Long) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dlv-logret-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil,
      Map(DlvDml.CDF_PROP -> "true"))
    (1 to 6).foreach(i => DlvTable.append(spark, path,
      Seq((i.toLong, i.toDouble)).toDF("id", "v")))
    // CDC-blob-writing commits in the pre-horizon range
    DlvDml.delete(spark, path, col("id") === 1L) // v7
    DlvDml.update(spark, path, col("id") === 2L,
      Map("v" -> lit(99.0))) // v8
    (7 to 10).foreach(i => DlvTable.append(spark, path,
      Seq((100L + i, i.toDouble)).toDF("id", "v")))
    val l = DlvTable.log(path)
    val latest = l.latestVersion
    require(latest >= 10, s"need the v10 auto-checkpoint, at $latest")
    (path, l, latest)
  }

  private def commitExists(l: DlvLog, v: Long): Boolean =
    l.io.exists(l.io.child(l.logDir, CommitStore.fileName(v)))

  test("cleanupLog reclaims pre-horizon commits and their CDC blobs, " +
    "keeps version 0, the newest checkpoint, and everything after") {
    val (path, l, latest) = mkChurned()
    val contentBefore = DlvTable.toDF(spark, path).collect().toSet
    val blobsBefore = {
      val d = l.io.child(l.logDir, "_cdc")
      if (l.io.exists(d)) l.io.listNames(d).size else 0
    }
    assert(blobsBefore >= 2, "churn must have written CDC blobs")

    val (commits, blobs) =
      DlvMaintenance.cleanupLog(spark, path, retentionMs = 0L)
    assert(commits == 9L, s"expected commits 1..9 reclaimed, got $commits")
    assert(blobs == 2L, s"expected 2 CDC blobs reclaimed, got $blobs")
    assert(commitExists(l, 0L), "creation commit must survive")
    assert(!commitExists(l, 5L) && !commitExists(l, 9L))
    (10L to latest).foreach(v => assert(commitExists(l, v),
      s"post-horizon commit $v must survive"))

    // current reads, history, and post-horizon time travel all work
    assert(DlvTable.toDF(spark, path).collect().toSet == contentBefore)
    assert(DlvTable.toDF(spark, path, version = Some(10L)).count() > 0)
    assert(l.history.nonEmpty)

    // pre-horizon time travel names the retention contract
    val e = intercept[IllegalStateException] {
      DlvTable.toDF(spark, path, version = Some(5L)).collect()
    }
    assert(e.getMessage.contains("retention"),
      s"wrong error: ${e.getMessage}")
    // ... and so does a pre-horizon change feed
    val e2 = intercept[IllegalStateException] {
      DlvChangeFeed.changes(spark, path, 2, Some(5)).collect()
    }
    assert(e2.getMessage.contains("retention"),
      s"wrong feed error: ${e2.getMessage}")
  }

  test("a superseded checkpoint goes only when the NEXT checkpoint is " +
    "itself past retention; post-horizon time travel keeps working") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dlv-logret2-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    DlvTable.create(spark, path, "id BIGINT", Nil)
    (1 to 20).foreach(i => DlvTable.append(spark, path,
      Seq(i.toLong).toDF("id"))) // checkpoints at v10 and v20
    val l = DlvTable.log(path)
    def ckptExists(v: Long): Boolean =
      l.io.exists(l.io.child(l.logDir, f"$v%020d.checkpoint.json")) ||
        l.io.exists(l.io.child(l.logDir, f"$v%020d.checkpoint.parquet"))
    assert(ckptExists(10L) && ckptExists(20L))
    // huge retention: nothing is old enough — both checkpoints stay
    DlvMaintenance.cleanupLog(spark, path, retentionMs = 24L * 3600 * 1000)
    assert(ckptExists(10L) && ckptExists(20L))
    // zero retention: ckpt 20 is "past retention", so ckpt 10 goes
    // along with commits 1..19
    val (commits, _) = DlvMaintenance.cleanupLog(spark, path, 0L)
    assert(commits == 19L, s"expected commits 1..19 reclaimed, got $commits")
    assert(!ckptExists(10L) && ckptExists(20L))
    assert(DlvTable.toDF(spark, path, version = Some(20L)).count() == 20)
    assert(DlvTable.toDF(spark, path).count() == 20)
  }

  test("cleanupLog respects retention age: nothing younger goes") {
    val (path, l, latest) = mkChurned()
    val (commits, blobs) = DlvMaintenance.cleanupLog(
      spark, path, retentionMs = 24L * 3600 * 1000)
    assert(commits == 0L && blobs == 0L)
    (0L to latest).foreach(v => assert(commitExists(l, v)))
    assert(DlvTable.toDF(spark, path, version = Some(3L)).count() >= 0)
  }

  test("cleanupLog on a checkpoint-free table is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dlv-logret0-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    DlvTable.create(spark, path, "id BIGINT", Nil)
    DlvTable.append(spark, path, Seq(1L).toDF("id"))
    assert(DlvMaintenance.cleanupLog(spark, path, 0L) == ((0L, 0L)))
    assert(DlvTable.toDF(spark, path).count() == 1)
  }
}
