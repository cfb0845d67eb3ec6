package graft.sources.dlv

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Log checkpointing: checkpoints land every CHECKPOINT_INTERVAL
  * commits, and replay THROUGH a checkpoint must equal a full replay —
  * state equality is the contract; a checkpoint bug silently loses or
  * resurrects files. */
class CheckpointSpec extends SparkSpec {

  private def mkLongLog(): (String, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("dlv-ckpt-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    val orders = Tables.orders(spark, sf)
    DlvTable.create(spark, path, orders.schema.toDDL, Nil)
    // 24 commits: appends with an occasional delete and metadata change
    (0 until 20).foreach { i =>
      DlvTable.append(spark, path,
        orders.filter(col("o_orderkey") % 20 === i).coalesce(1))
    }
    DlvDml.delete(spark, path, col("o_orderkey") % 7 === 0)
    DlvTable.addColumns(spark, path, "ck_extra STRING")
    DlvTable.append(spark, path, orders.limit(50).coalesce(1)
      .withColumn("ck_extra", lit("tail")))
    (path, DlvTable.log(path).latestVersion)
  }

  test("checkpointed replay == full replay at every version") {
    val (path, latest) = mkLongLog()
    val l = DlvTable.log(path)
    assert(latest >= 2 * DlvLog.CHECKPOINT_INTERVAL,
      s"fixture must cross two checkpoints, got $latest commits")
    import scala.jdk.CollectionConverters._
    val ckpts = l.io.listNames(l.logDir)
      .filter(_.endsWith(".checkpoint.json"))
    assert(ckpts.nonEmpty, "no checkpoint files were written")
    (0L to latest).foreach { v =>
      val fast = l.snapshotAt(Some(v))
      val slow = l.snapshotAt(Some(v), useCheckpoint = false)
      assert(fast.metadata == slow.metadata, s"metadata differs at v$v")
      assert(fast.files.map(f => f.path -> f).toMap ==
        slow.files.map(f => f.path -> f).toMap,
        s"file state differs at v$v")
    }
  }

  test("reads and counts are identical through the checkpoint path") {
    val (path, _) = mkLongLog()
    val orders = Tables.orders(spark, sf)
    val expect = orders.filter(col("o_orderkey") % 7 =!= 0).count() + 50
    assert(DlvTable.toDF(spark, path).count() == expect)
    // version BELOW the first checkpoint still readable
    assert(DlvTable.toDF(spark, path, version = Some(3L)).count() ==
      orders.filter(col("o_orderkey") % 20 < 3).count())
  }

  test("checkpoint sweep removes only STALE tmp dirs — a concurrent " +
    "writer's fresh staging dir survives") {
    val thKey = "graft.dlv.parquetCheckpointThreshold"
    val grKey = "graft.dlv.ckptTmpSweepGraceMs"
    val oldTh = sys.props.get(thKey)
    val oldGr = sys.props.get(grKey)
    sys.props(thKey) = "1" // force the parquet checkpoint path
    try {
      val dir = java.nio.file.Files.createTempDirectory("dlv-sweep-")
      dir.toFile.deleteOnExit()
      val path = dir.resolve("t").toString
      val batch = Tables.orders(spark, sf).limit(20)
      DlvTable.create(spark, path, batch.schema.toDDL, Nil)
      val l = DlvTable.log(path)
      // another writer's in-flight staging dir, freshly touched
      val fresh = l.io.child(l.logDir, ".ckpt-tmp-other-writer")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(fresh))
      sys.props(grKey) = (60L * 60 * 1000).toString
      (1 to DlvLog.CHECKPOINT_INTERVAL).foreach { _ =>
        DlvTable.append(spark, path, batch.coalesce(1))
      }
      assert(l.io.exists(l.logDir + "/" + f"${10L}%020d.checkpoint.parquet")
        || l.io.listNames(l.logDir).exists(_.contains("checkpoint")),
        "fixture must have crossed a checkpoint")
      assert(l.io.exists(fresh),
        "a tmp dir younger than the grace period must survive the sweep")
      // once stale (grace forced below any age), the next checkpoint
      // sweeps it
      sys.props(grKey) = "-1"
      (1 to DlvLog.CHECKPOINT_INTERVAL).foreach { _ =>
        DlvTable.append(spark, path, batch.coalesce(1))
      }
      assert(!l.io.exists(fresh),
        "a stale tmp dir (crashed writer) must be swept")
    } finally {
      oldTh.fold[Unit] { sys.props -= thKey; () }(v => sys.props(thKey) = v)
      oldGr.fold[Unit] { sys.props -= grKey; () }(v => sys.props(grKey) = v)
    }
  }

  test("parquet checkpoints: same replay, same history, delta shape") {
    val key = "graft.dlv.parquetCheckpointThreshold"
    sys.props(key) = "0" // force columnar checkpoints
    try {
      val (path, latest) = mkLongLog()
      val l = DlvTable.log(path)
      val names = l.io.listNames(l.logDir)
      assert(names.exists(_.endsWith(".checkpoint.parquet")),
        s"no parquet checkpoint written: $names")
      assert(!names.exists(_.endsWith(".checkpoint.json")),
        "threshold 0 must force the parquet format")
      (0L to latest).foreach { v =>
        val fast = l.snapshotAt(Some(v))
        val slow = l.snapshotAt(Some(v), useCheckpoint = false)
        assert(fast.metadata == slow.metadata, s"metadata differs at v$v")
        assert(fast.files.map(f => f.path -> f).toMap ==
          slow.files.map(f => f.path -> f).toMap,
          s"file state differs at v$v")
      }
      // history + timestamp travel resolve from the parquet checkpoint
      val hist = l.history
      assert(hist.size == latest + 1)
      assert(hist.last.operation == "CREATE TABLE")
      assert(l.versionAtTimestamp(l.commitTimestamp(latest)) == latest)
      // the checkpoint parquet really has the delta column shape
      val ckptDir = names.find(_.endsWith(".checkpoint.parquet")).get
      val df = spark.read.parquet(l.io.child(l.logDir, ckptDir))
      assert(df.columns.sorted.toSeq ==
        Seq("add", "commitInfo", "metaData", "protocol", "remove",
          "sidecar"))
      assert(df.filter(col("add").isNotNull).count() > 0)
      // tombstones keep their size through the columnar codec; one
      // written before sizes were recorded reads back as None
      val tombstones = Seq(
        RemoveFile("p=1/a.parquet", 5L, Map("p" -> "1"),
          dataChange = true, hadDv = true, size = Some(1234L)),
        RemoveFile("p=2/b.parquet", 6L, Map("p" -> "2"),
          dataChange = false))
      val tdir = l.io.child(path, "tombstones.parquet")
      DlvCheckpoint.writeParquet(spark, tombstones, tdir)
      assert(DlvCheckpoint.readParquet(spark, tdir, identity) == tombstones)
    } finally sys.props.remove(key)
  }
}
