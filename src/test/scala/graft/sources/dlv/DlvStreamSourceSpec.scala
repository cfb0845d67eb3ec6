package graft.sources.dlv

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The dlv table as a streaming source: version-range micro-batches,
  * incremental tailing of new commits, rewrite-commit guarding, CDF
  * mode. */
class DlvStreamSourceSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"dlvsrc-$name-")
    dir.toFile.deleteOnExit()
    dir.resolve("t").toString
  }

  private def mkTable(name: String, cdf: Boolean = false): (String, DataFrame) = {
    val path = freshDir(name)
    val df = Tables.orders(spark, sf)
    DlvTable.create(spark, path, df.schema.toDDL, Nil,
      if (cdf) Map(DlvDml.CDF_PROP -> "true") else Map.empty)
    (path, df)
  }

  private def startToMemory(
      reader: org.apache.spark.sql.streaming.DataStreamReader,
      name: String) = {
    reader.load().writeStream.format("memory").queryName(name).start()
  }

  test("tails existing commits, then new appends, incrementally") {
    val (path, df) = mkTable("tail")
    DlvTable.append(spark, path, df.filter(col("o_orderkey") % 2 === 0))
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path), "dlv_tail")
    try {
      q.processAllAvailable()
      val evens = df.filter(col("o_orderkey") % 2 === 0).count()
      assert(spark.table("dlv_tail").count() == evens)
      DlvTable.append(spark, path, df.filter(col("o_orderkey") % 2 === 1))
      q.processAllAvailable()
      assert(spark.table("dlv_tail").count() == df.count(),
        "the second commit must arrive as an incremental batch")
      // schema carried through, content matches exactly
      assert(spark.table("dlv_tail").columns.toSeq == df.columns.toSeq)
      assert(spark.table("dlv_tail")
        .agg(sum("o_orderkey")).head().getLong(0) ==
        df.agg(sum("o_orderkey")).head().getLong(0))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger drains a backfill in bounded batches") {
    val (path, df) = mkTable("rate")
    (0 until 4).foreach { i =>
      DlvTable.append(spark, path, df.filter(col("o_orderkey") % 4 === i))
    }
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("maxVersionsPerTrigger", "1"), "dlv_rate")
    try {
      q.processAllAvailable()
      assert(spark.table("dlv_rate").count() == df.count(),
        "every commit's rows must eventually arrive")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 4,
        s"4 append commits at cap 1 must take >= 4 non-empty batches, " +
          s"got ${batches.length}")
    } finally q.stop()
  }

  test("maxFilesPerTrigger drains a backfill in bounded batches; a " +
    "single over-cap commit still ships whole") {
    val (path, df) = mkTable("frate")
    // 4 commits × 2 files each; cap 2 files/trigger → ≥4 batches
    (0 until 4).foreach { i =>
      DlvTable.append(spark, path,
        df.filter(col("o_orderkey") % 4 === i).repartition(2))
    }
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("maxFilesPerTrigger", "2"), "dlv_frate")
    try {
      q.processAllAvailable()
      assert(spark.table("dlv_frate").count() == df.count())
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 4,
        s"4×2-file commits at 2 files/trigger must take >= 4 " +
          s"non-empty batches, got ${batches.length}")
    } finally q.stop()
    // over-cap single commit: 4 files in one version, cap 1 → the
    // version still ships (whole), in its own batch
    val (p2, d2) = mkTable("fbig")
    DlvTable.append(spark, p2, d2.limit(40).repartition(4))
    val q2 = startToMemory(
      spark.readStream.format("dlv").option("path", p2)
        .option("maxFilesPerTrigger", "1"), "dlv_fbig")
    try {
      q2.processAllAvailable()
      assert(spark.table("dlv_fbig").count() == 40)
    } finally q2.stop()
  }

  test("maxBytesPerTrigger bounds batches by added bytes and parses " +
    "suffixed sizes") {
    assert(DlvStreamSourceProvider.parseBytes("1024") == 1024L)
    assert(DlvStreamSourceProvider.parseBytes("2k") == 2048L)
    assert(DlvStreamSourceProvider.parseBytes("10m") == 10L << 20)
    assert(DlvStreamSourceProvider.parseBytes("1G") == 1L << 30)
    assert(DlvStreamSourceProvider.parseBytes("1gb") == 1L << 30)
    intercept[Exception](DlvStreamSourceProvider.parseBytes("0"))
    val (path, df) = mkTable("brate")
    (0 until 3).foreach { i =>
      DlvTable.append(spark, path,
        df.filter(col("o_orderkey") % 3 === i).coalesce(1))
    }
    // cap of 1 byte < any parquet file → one version per batch
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("maxBytesPerTrigger", "1"), "dlv_brate")
    try {
      q.processAllAvailable()
      assert(spark.table("dlv_brate").count() == df.count())
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"3 commits at 1 byte/trigger must take >= 3 non-empty " +
          s"batches, got ${batches.length}")
    } finally q.stop()
  }

  test("restart safety: with an invisible committed offset (restart, " +
    "no batch replayed yet) file/byte caps do NOT cap the first " +
    "offer — capping below the checkpoint would re-deliver versions") {
    val (path, df) = mkTable("frestart")
    (0 until 3).foreach { i =>
      DlvTable.append(spark, path,
        df.filter(col("o_orderkey") % 3 === i).coalesce(1))
    }
    val latest = DlvTable.log(path).latestVersion
    val restarted = new DlvStreamingSource(
      spark.sqlContext, path, startingVersion = 0L,
      ignoreChanges = false, readChangeFeed = false,
      maxFilesPerTrigger = Some(1L), maxBytesPerTrigger = Some(1L),
      freshStream = false) // restart: committed offset unknown
    assert(restarted.getOffset.map(DlvStreamingSource.version)
      .contains(latest), "first post-restart offer must be uncapped")
    val freshSrc = new DlvStreamingSource(
      spark.sqlContext, path, startingVersion = 0L,
      ignoreChanges = false, readChangeFeed = false,
      maxFilesPerTrigger = Some(1L),
      freshStream = true) // fresh: floor known from startingVersion
    assert(freshSrc.getOffset.map(DlvStreamingSource.version)
      .contains(1L), "a fresh stream caps from startingVersion-1")
  }

  test("ignoreDeletes tolerates PURE delete commits (partition " +
    "delete, no retraction) but a rewrite commit still throws") {
    val (path, df) = mkTable("igdel")
    DlvTable.append(spark, path, df.limit(100).coalesce(1))
    // pure delete: WHERE-less partition-style remove of some files —
    // use a predicate delete that removes whole files (all rows match)
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("ignoreDeletes", "true"), "dlv_igdel")
    try {
      q.processAllAvailable()
      assert(spark.table("dlv_igdel").count() == 100)
      DlvDml.delete(spark, path, col("o_orderkey") >= 0L) // remove-all
      DlvTable.append(spark, path, df.limit(10).coalesce(1))
      q.processAllAvailable()
      // deletes are NOT retracted; the new append flows
      assert(spark.table("dlv_igdel").count() == 110)
    } finally q.stop()
    // a REWRITE commit (remove+add) still requires ignoreChanges
    val (p2, d2) = mkTable("igdel2")
    DlvTable.append(spark, p2, d2.limit(100).coalesce(1))
    val q2 = startToMemory(
      spark.readStream.format("dlv").option("path", p2)
        .option("ignoreDeletes", "true"), "dlv_igdel2")
    try {
      q2.processAllAvailable()
      DlvDml.update(spark, p2, col("o_orderkey") % 2 === 0,
        Map("o_orderpriority" -> lit("X")))
      val e = intercept[StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("ignoreChanges") ||
        Option(e.getCause).exists(_.getMessage.contains("ignoreChanges")))
    } finally q2.stop()
  }

  test("a rewrite commit kills the stream unless ignoreChanges") {
    val (path, df) = mkTable("guard")
    DlvTable.append(spark, path, df)
    DlvDml.delete(spark, path, col("o_orderkey") % 3 === 0)
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path), "dlv_guard")
    try {
      intercept[StreamingQueryException] { q.processAllAvailable() }
    } finally q.stop()
    val q2 = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("ignoreChanges", "true"), "dlv_guard2")
    try {
      q2.processAllAvailable()
      // append replays in full; the delete's rewritten files replay too
      assert(spark.table("dlv_guard2").count() >= df.count())
    } finally q2.stop()
  }

  test("deletion-vector commits mid-stream: loud without ignoreChanges " +
    "(naming both outs); WITH it, vector re-adds are skipped — deletes " +
    "not retracted, a DV UPDATE's staged copies still flow") {
    val dir = java.nio.file.Files.createTempDirectory("dlvsrc-dv-")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("t").toString
    val df = Tables.orders(spark, sf)
    DlvTable.create(spark, path, df.schema.toDDL, Nil,
      Map(DlvDv.PROP -> "true"))
    DlvTable.append(spark, path, df)
    DlvDml.delete(spark, path, col("o_orderkey") % 3 === 0) // DV commit
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path), "dlv_dvguard")
    try {
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(m => m.contains("deletion-vector") &&
        m.contains("ignoreChanges") && m.contains("readChangeFeed")),
        s"guard must name both outs: ${e.getMessage}")
    } finally q.stop()
    // ignoreChanges: append replays, the DV delete contributes NOTHING
    // (no retraction, no resurrection)
    val q2 = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("ignoreChanges", "true"), "dlv_dvskip")
    try {
      q2.processAllAvailable()
      assert(spark.table("dlv_dvskip").count() == df.count(),
        "DV delete must neither retract nor resurrect rows")
      // a DV UPDATE mid-stream: the vector re-add is skipped but the
      // staged updated copies are genuinely new files and must flow
      DlvDml.update(spark, path, col("o_orderkey") % 7 === 1,
        Map("o_orderpriority" -> lit("9-STREAMED")))
      q2.processAllAvailable()
      // only LIVE rows can match the update (the %3 dead rows can't)
      val updated = df.filter(col("o_orderkey") % 7 === 1 &&
        col("o_orderkey") % 3 =!= 0).count()
      assert(spark.table("dlv_dvskip").count() == df.count() + updated,
        "the DV update's staged copies must arrive as rows")
      assert(spark.table("dlv_dvskip")
        .filter(col("o_orderpriority") === "9-STREAMED")
        .count() == updated)
    } finally q2.stop()
  }

  test("an OPTIMIZE mid-stream passes through silently: dataChange=false " +
    "commits add no rows and trip no rewrite guard") {
    val (path, df) = mkTable("opt")
    DlvTable.append(spark, path, df.filter(col("o_orderkey") % 2 === 0))
    DlvTable.append(spark, path, df.filter(col("o_orderkey") % 2 === 1))
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path), "dlv_optstream")
    try {
      q.processAllAvailable()
      assert(spark.table("dlv_optstream").count() == df.count())
      // compaction rewrites files but changes no data — the stream must
      // neither die (no ignoreChanges set) nor re-deliver rows
      DlvMaintenance.optimize(spark, path)
      DlvTable.append(spark, path, df.limit(10)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000))
      q.processAllAvailable()
      assert(spark.table("dlv_optstream").count() == df.count() + 10,
        "optimize must contribute zero rows; the next append must land")
    } finally q.stop()
  }

  test("readChangeFeed streams typed change rows") {
    val (path, df) = mkTable("cdf", cdf = true)
    DlvTable.append(spark, path, df)
    DlvDml.delete(spark, path, col("o_orderkey") % 10 === 7)
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("readChangeFeed", "true"), "dlv_cdfsrc")
    try {
      q.processAllAvailable()
      val byType = spark.table("dlv_cdfsrc")
        .groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType("insert") == df.count())
      assert(byType("delete") ==
        df.filter(col("o_orderkey") % 10 === 7).count())
    } finally q.stop()
  }

  test("startingVersion skips already-processed history") {
    val (path, df) = mkTable("skipv")
    DlvTable.append(spark, path, df.filter(col("o_orderkey") % 2 === 0))
    DlvTable.append(spark, path, df.filter(col("o_orderkey") % 2 === 1))
    val q = startToMemory(
      spark.readStream.format("dlv").option("path", path)
        .option("startingVersion", "2"), "dlv_skipv")
    try {
      q.processAllAvailable()
      assert(spark.table("dlv_skipv").count() ==
        df.filter(col("o_orderkey") % 2 === 1).count())
    } finally q.stop()
  }

  test("writeStream.format(\"dlv\") sinks micro-batches as commits, " +
    "end to end") {
    val (src, df) = mkTable("sinksrc")
    val evens = df.filter(col("o_orderkey") % 2 === 0)
    val odds = df.filter(col("o_orderkey") % 2 === 1)
    DlvTable.append(spark, src, evens)
    val dstDir = java.nio.file.Files.createTempDirectory("dlvsink-")
    dstDir.toFile.deleteOnExit()
    val dst = dstDir.resolve("t").toString
    val ckpt = dstDir.resolve("ckpt").toString
    val q = spark.readStream.format("dlv").option("path", src).load()
      .writeStream.format("dlv")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(DlvTable.toDF(spark, dst).count() == evens.count())
      DlvTable.append(spark, src, odds)
      q.processAllAvailable()
      assert(DlvTable.toDF(spark, dst).count() == df.count())
      // each commit carries the txn stamp the replay dedup keys on
      val stamps = DlvTable.log(dst).history
        .filter(_.operationParameters.contains("txnBatchId"))
      assert(stamps.nonEmpty)
    } finally q.stop()
  }

  test("dlv sink skips a replayed micro-batch (exactly-once)") {
    import spark.implicits._
    val dstDir = java.nio.file.Files.createTempDirectory("dlvsink2-")
    dstDir.toFile.deleteOnExit()
    val dst = dstDir.resolve("t").toString
    val sink = new DlvStreamSink(dst, appId = "app-1")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    sink.addBatch(0, batch)
    assert(DlvTable.toDF(spark, dst).count() == 2)
    // a crash between commit and checkpoint write replays the batch —
    // the sink must recognize its own (appId, batchId) stamp and skip
    sink.addBatch(0, batch)
    assert(DlvTable.toDF(spark, dst).count() == 2,
      "replayed batch must not double-append")
    sink.addBatch(1, Seq((3L, "c")).toDF("id", "s"))
    assert(DlvTable.toDF(spark, dst).count() == 3)
    // a DIFFERENT app's batch 0 is not confused with ours
    new DlvStreamSink(dst, appId = "app-2")
      .addBatch(0, Seq((4L, "d")).toDF("id", "s"))
    assert(DlvTable.toDF(spark, dst).count() == 4)
  }

  test("streaming source over a RENAMED table emits the logical " +
    "schema with correct values (physical files translate)") {
    import spark.implicits._
    val path = freshDir("stream-rn")
    DlvTable.create(spark, path,
      "id BIGINT, v DOUBLE", Nil, Map(DlvColMap.MODE_PROP -> "name"))
    DlvTable.append(spark, path,
      (0 until 5).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    DlvColMap.rename(spark, path, "v", "price")
    DlvTable.append(spark, path,
      (5 until 8).map(i => (i.toLong, i * 1.0)).toDF("id", "price"))
    val out = spark.readStream.format("dlv").option("path", path)
      .load()
    assert(out.columns.toSeq == Seq("id", "price"))
    val q = out.writeStream.format("memory")
      .queryName("dlv_stream_rn").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dlv_stream_rn").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == (0 until 8).map(i => (i.toLong, i * 1.0)).toSet,
      s"pre- and post-rename files must both translate, got $got")
  }
}
