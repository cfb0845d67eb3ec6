package graft.sources.dlv

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DlvDmlSpec extends SparkSpec with DlvTestProps {

  private def freshDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"dlv-$name-")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  /** Descriptions of the file-listing jobs `body` launched — the job
    * Spark's InMemoryFileIndex runs to discover leaf files. */
  private def listingJobs(body: => Unit): Seq[String] =
    jobDescriptions(body).filter(_.startsWith("Listing leaf files"))

  /** Descriptions of the jobs `body` launched. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def orders = Tables.orders(spark, sf)
    .withColumn("order_date", to_date(col("o_orderdate")))

  private def mkTable(name: String, cdf: Boolean = false): String = {
    val path = freshDir(name)
    DlvTable.create(spark, path, orders.schema.toDDL, Seq("order_date"),
      if (cdf) Map(DlvDml.CDF_PROP -> "true") else Map.empty)
    DlvTable.append(spark, path, orders)
    path
  }

  test("partition-equality delete is metadata-only (no new files)") {
    val path = mkTable("pdel")
    val before = DlvTable.log(path).snapshot()
    val day = orders.select(to_date(col("o_orderdate"))).head().getDate(0)
    DlvDml.delete(spark, path, col("order_date") === lit(day))
    val after = DlvTable.log(path).snapshot()
    // nothing staged, only removes
    assert(after.files.toSet.subsetOf(before.files.toSet))
    val expect = orders.filter(to_date(col("o_orderdate")) =!= lit(day))
      .count()
    assert(DlvTable.toDF(spark, path).count() == expect)
  }

  test("partition delete never opens data files (corrupted partition ok)") {
    // the regression this guards: deciding metadata-only off an
    // UNANALYZED Column (empty references in Spark 4) silently routed
    // every partition delete through the rewrite path, which READS the
    // doomed files — corrupting them makes that path crash while the
    // true metadata-only path never notices
    val path = mkTable("pdel2")
    val l = DlvTable.log(path)
    val day = orders.select(to_date(col("o_orderdate"))).head().getDate(0)
    l.snapshot().files
      .filter(_.partitionValues("order_date") == day.toString)
      .foreach { f =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(l.resolve(f.path)), "not parquet")
      }
    DlvDml.delete(spark, path, col("order_date") === lit(day))
    val expect = orders.filter(to_date(col("o_orderdate")) =!= lit(day))
      .count()
    assert(DlvTable.toDF(spark, path).count() == expect)
  }

  test("WHERE-less DELETE FROM is a metadata-only remove-all — " +
    "zero data reads (every file corrupted), zero rewrites") {
    val path = mkTable("fdel")
    val l = DlvTable.log(path)
    l.snapshot().files.foreach { f =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(l.resolve(f.path)), "not parquet")
    }
    val vBefore = l.latestVersion
    DlvDml.delete(spark, path, lit(true)) // the parser's no-WHERE form
    assert(l.latestVersion == vBefore + 1)
    assert(l.snapshot().files.isEmpty, "all files logically removed")
    assert(DlvTable.toDF(spark, path).count() == 0)
    // the commit is pure removes: nothing staged, nothing added
    val actions = l.commitActionsOf(vBefore + 1)
    assert(actions.collect { case a: AddFile => a }.isEmpty,
      "a full delete must not rewrite any file")
    assert(actions.collect { case r: RemoveFile => r }.nonEmpty)
  }

  test("predicate delete rewrites only touched files") {
    val path = mkTable("rdel")
    val before = DlvTable.log(path).snapshot().files.map(_.path).toSet
    DlvDml.delete(spark, path,
      col("o_totalprice") > 400000 && col("o_orderkey") % 3 === 0)
    val after = DlvTable.log(path).snapshot().files.map(_.path).toSet
    assert(before.intersect(after).nonEmpty, "untouched files must survive")
    val expect = orders.filter(
      !(col("o_totalprice") > 400000 && col("o_orderkey") % 3 === 0)).count()
    assert(DlvTable.toDF(spark, path).count() == expect)
  }

  test("update rewrites matching rows in place") {
    val path = mkTable("upd")
    DlvDml.update(spark, path, col("o_orderkey") % 2 === 0,
      Map("o_orderpriority" -> lit("0-UPDATED")))
    val df = DlvTable.toDF(spark, path)
    assert(df.filter(col("o_orderkey") % 2 === 0 &&
      col("o_orderpriority") =!= "0-UPDATED").count() == 0)
    assert(df.filter(col("o_orderkey") % 2 === 1 &&
      col("o_orderpriority") === "0-UPDATED").count() == 0)
    assert(df.count() == orders.count())
  }

  test("merge: conditional update, delete, insert, not-matched-by-source") {
    import DlvDml._
    val path = mkTable("mrg")
    val src = orders.limit(200)
      .withColumn("o_totalprice", col("o_totalprice") + 1000000)
      .unionByName(
        orders.limit(100) // new keys
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    val v = merge(spark, path, src,
      on = col("tgt.o_orderkey") === col("src.o_orderkey"),
      clauses = Seq(
        MatchedDelete(Some(col("src.o_totalprice") > 1400000)),
        MatchedUpdate(None,
          Map("o_totalprice" -> col("src.o_totalprice"))),
        NotMatchedInsert(None, Map(
          "o_orderkey" -> col("src.o_orderkey"),
          "o_custkey" -> col("src.o_custkey"),
          "o_orderstatus" -> col("src.o_orderstatus"),
          "o_totalprice" -> col("src.o_totalprice"),
          "o_orderdate" -> col("src.o_orderdate"),
          "o_orderpriority" -> col("src.o_orderpriority"),
          "order_date" -> col("src.order_date")))))
    assert(v > 0)
    val df = DlvTable.toDF(spark, path).cache()
    // inserted keys present
    assert(df.filter(col("o_orderkey") >= 10000000L).count() == 100)
    // matched deletes gone, matched updates applied
    val matchedSrc = orders.limit(200)
      .withColumn("o_totalprice", col("o_totalprice") + 1000000)
    val expectDeleted = matchedSrc.filter(col("o_totalprice") > 1400000)
      .count()
    val stillThere = df.join(matchedSrc.filter(col("o_totalprice") >
      1400000).select("o_orderkey"), "o_orderkey").count()
    assert(stillThere == 0, s"$expectDeleted rows should be deleted")
    assert(df.count() == orders.count() - expectDeleted + 100)
  }

  test("by-source MERGE on a range-clustered table rewrites only the " +
    "provably-affected files (stats prune the by-source rewrite set)") {
    import DlvDml._
    import spark.implicits._
    val path = freshDir("mrgbs")
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil,
      Map(DlvDml.CDF_PROP -> "true"))
    // four files with disjoint id ranges — the clustering stats
    // pruning exploits
    Seq(0, 100, 200, 300).foreach { lo =>
      DlvTable.append(spark, path,
        (lo until lo + 100).map(i => (i.toLong, i * 1.0))
          .toDF("id", "v").coalesce(1))
    }
    val before = DlvTable.log(path).snapshot().files.map(_.path).toSet
    assert(before.size == 4)
    val src = (0L until 50L).map(i => (i, -1.0)).toDF("id", "v")
    val v = merge(spark, path, src,
      on = col("tgt.id") === col("src.id"),
      clauses = Seq(
        MatchedUpdate(None, Map("v" -> col("src.v"))),
        // stats-evaluable: only the [300, 399] file can satisfy it
        NotMatchedBySourceDelete(Some(col("tgt.id") >= 300))))
    assert(v > 0)
    val after = DlvTable.log(path).snapshot().files.map(_.path).toSet
    val survivors = before.intersect(after)
    assert(survivors.size == 2,
      s"the [100,199] and [200,299] files must survive untouched — " +
        s"surviving: ${survivors.size} of ${before.size}")
    // semantics unchanged by the pruning
    val df = DlvTable.toDF(spark, path)
    assert(df.count() == 300) // 400 - the deleted [300,399]
    assert(df.filter(col("id") >= 300).count() == 0)
    assert(df.filter(col("id") < 50 && col("v") =!= -1.0).count() == 0)
    assert(df.filter(col("id").between(50, 299) && col("v") < 0)
      .count() == 0)
    // the feed: matched update images (taken from the pinned discovery
    // join) plus the by-source deletes (taken from the rewrite)
    val feed = DlvChangeFeed.changes(spark, path, v, Some(v))
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("update_preimage" -> 50L,
      "update_postimage" -> 50L, "delete" -> 100L), s"got $feed")
  }

  test("by-source MERGE with an UNCONDITIONAL clause still rewrites " +
    "every file (no stats can bound it)") {
    import DlvDml._
    import spark.implicits._
    val path = freshDir("mrgbsu")
    DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil)
    Seq(0, 100).foreach { lo =>
      DlvTable.append(spark, path,
        (lo until lo + 100).map(i => (i.toLong, i * 1.0))
          .toDF("id", "v").coalesce(1))
    }
    val src = Seq((0L, -1.0)).toDF("id", "v")
    merge(spark, path, src,
      on = col("tgt.id") === col("src.id"),
      clauses = Seq(NotMatchedBySourceDelete(None)))
    val df = DlvTable.toDF(spark, path)
    assert(df.count() == 1, "everything but the matched row is deleted")
    assert(df.head().getLong(0) == 0L)
  }

  test("merge rejects a target row matching two source rows") {
    import DlvDml._
    val path = mkTable("dup")
    val src = orders.limit(1).unionByName(orders.limit(1))
    intercept[IllegalArgumentException] {
      merge(spark, path, src,
        on = col("tgt.o_orderkey") === col("src.o_orderkey"),
        clauses = Seq(MatchedUpdate(None,
          Map("o_totalprice" -> col("src.o_totalprice")))))
    }
  }

  /** Rows the tasks `body` launches read from files — the per-task
    * `inputMetrics.recordsRead` summed. A persisted frame's reads add
    * one record per cached batch, a handful here. */
  private def recordsRead(body: => Unit): Long = {
    val sum = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          sum.addAndGet(m.inputMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    sum.get
  }

  test("MERGE reads the target at most twice: the insert set and the " +
    "matched change images come from the pinned discovery join") {
    import DlvDml._
    import spark.implicits._
    for (cdf <- Seq(false, true)) {
      val path = freshDir(s"mrg2x-$cdf")
      DlvTable.create(spark, path, "id BIGINT, p INT, v DOUBLE", Seq("p"),
        if (cdf) Map(CDF_PROP -> "true") else Map.empty)
      // N = 8000 rows in 8 partitions, one file per partition per
      // append; the source matches rows of the first append only, so
      // discovery reads N and the rewrite N/2
      val n = 8000
      for (half <- 0 until 2)
        DlvTable.append(spark, path, (0 until n / 2)
          .map(i => ((half * n / 2 + i).toLong, i % 8, i * 1.0))
          .toDF("id", "p", "v").repartition(1))
      val src = ((0L until 400L).map(i => (i * 5, -1.0)) ++
        (n.toLong until n + 100L).map(i => (i, -2.0))).toDF("id", "v")
      val read = recordsRead {
        merge(spark, path, src,
          on = col("tgt.id") === col("src.id"),
          clauses = Seq(
            MatchedUpdate(None, Map("v" -> col("src.v"))),
            NotMatchedInsert(None, Map("id" -> col("src.id"),
              "p" -> lit(0), "v" -> col("src.v")))))
      }
      info(s"cdf=$cdf: $read records read from an $n-row table")
      assert(read <= 2L * n,
        s"cdf=$cdf: the merge read $read records from an $n-row table")
      val df = DlvTable.toDF(spark, path)
      assert(df.count() == n + 100)
      assert(df.filter(col("v") === -1.0).count() == 400)
      assert(df.filter(col("v") === -2.0).count() == 100)
      if (cdf) {
        val v = DlvTable.log(path).latestVersion
        val feed = DlvChangeFeed.changes(spark, path, v, Some(v))
          .groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(feed == Map("update_preimage" -> 400L,
          "update_postimage" -> 400L, "insert" -> 100L), s"got $feed")
      }
    }
  }

  test("no cached plan outlives a MERGE: copy-on-write, deletion " +
    "vectors, and the multi-match refusal") {
    import DlvDml._
    import spark.implicits._
    def upsert(path: String, src: org.apache.spark.sql.DataFrame) =
      merge(spark, path, src,
        on = col("tgt.id") === col("src.id"),
        clauses = Seq(
          MatchedUpdate(None, Map("v" -> col("src.v"))),
          NotMatchedInsert(None,
            Map("id" -> col("src.id"), "v" -> col("src.v")))))
    for (dv <- Seq(false, true)) {
      val path = freshDir(s"mrgcache-$dv")
      DlvTable.create(spark, path, "id BIGINT, v DOUBLE", Nil,
        Map(CDF_PROP -> "true", DlvDv.PROP -> dv.toString))
      DlvTable.append(spark, path,
        (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v"))
      val before = org.apache.spark.sql.CachedPlanCount(spark)
      upsert(path, (90L until 110L).map(i => (i, -1.0)).toDF("id", "v"))
      assert(org.apache.spark.sql.CachedPlanCount(spark) == before,
        s"dv=$dv: the merge left a cached plan behind")
      assert(DlvTable.log(path).snapshot().files.exists(_.dv.nonEmpty)
        == dv)
      // the guard throws after the discovery join is pinned
      val dup = Seq((5L, 1.0), (5L, 2.0)).toDF("id", "v")
      intercept[IllegalArgumentException](upsert(path, dup))
      assert(org.apache.spark.sql.CachedPlanCount(spark) == before,
        s"dv=$dv: the refused merge left a cached plan behind")
      assert(DlvTable.toDF(spark, path).count() == 110)
    }
  }

  test("CDF: inserts from appends, deletes and update images from DML") {
    val path = mkTable("cdf", cdf = true)
    val v0 = DlvTable.log(path).latestVersion
    DlvDml.update(spark, path, col("o_orderkey") === 1L,
      Map("o_orderpriority" -> lit("X")))
    DlvDml.delete(spark, path, col("o_orderkey") % 100 === 7)
    val ch = DlvChangeFeed.changes(spark, path, 0).cache()
    val types = ch.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet
    assert(types == Set("insert", "delete", "update_preimage",
      "update_postimage"), s"got $types")
    // appends replay as inserts of every original row
    assert(ch.filter(col("_change_type") === "insert").count() ==
      orders.count())
    val del = orders.filter(col("o_orderkey") % 100 === 7).count()
    assert(ch.filter(col("_change_type") === "delete").count() == del)
    // post-append changes: 1 matched update row (pre+post) + deletes
    assert(ch.filter(col("_commit_version") > v0).count() == 2 + del)
  }

  test("vacuum deletes unreferenced files past retention, keeps live") {
    val path = mkTable("vac")
    val day = orders.select(to_date(col("o_orderdate"))).head().getDate(0)
    DlvDml.delete(spark, path, col("order_date") === lit(day))
    val (deleted, kept) = DlvMaintenance.vacuum(spark, path, 0L)
    assert(deleted > 0, "removed partition files must be vacuumed")
    assert(kept > 0)
    // table still reads correctly after vacuum
    val expect = orders.filter(to_date(col("o_orderdate")) =!= lit(day))
      .count()
    assert(DlvTable.toDF(spark, path).count() == expect)
    // the vacuumed partition dir is gone (reference test 9's check)
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .iterator()
    var found = false
    while (dirs.hasNext) {
      val d = dirs.next()
      if (d.getFileName.toString == s"order_date=$day") found = true
    }
    assert(!found, "deleted partition dir should be swept")
    // retention contract: the pre-CDF delete's change feed resolved by
    // reading the REMOVED files — vacuumed away, the read must fail
    // LOUDLY on the missing paths (not some unrelated early error),
    // never silently under-deliver changes
    val e = intercept[Exception] {
      DlvChangeFeed.changes(spark, path, 0).filter(
        col("_change_type") === "delete").count()
    }
    def mentionsMissingPath(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(m =>
        m.contains(path) || m.toLowerCase.contains("not exist") ||
          m.contains("PATH_NOT_FOUND") || m.contains("FileNotFound")) ||
        mentionsMissingPath(t.getCause))
    assert(mentionsMissingPath(e), s"expected a missing-path failure, got: $e")
  }

  test("optimize bin-packs small files without changing content; " +
    "zorder tightens ranges") {
    val path = freshDir("opt")
    DlvTable.create(spark, path, orders.schema.toDDL, Nil)
    // 5 small appends -> 5+ files (reference test 10 shape)
    (1 to 5).foreach { i =>
      DlvTable.append(spark, path,
        orders.filter(col("o_orderkey") % 5 === i % 5).coalesce(1))
    }
    val before = DlvTable.log(path).snapshot()
    assert(before.files.size >= 5)
    DlvMaintenance.optimize(spark, path)
    val after = DlvTable.log(path).snapshot()
    assert(after.files.size < before.files.size)
    assert(DlvTable.toDF(spark, path).count() == orders.count())
    // CDF sees NO changes from optimize (dataChange=false)
    // zorder: rewritten file ranges on the z column shrink vs a single
    // unsorted file
    DlvMaintenance.optimize(spark, path,
      zorderBy = Seq("o_custkey", "o_totalprice"),
      targetFileBytes = 2L << 10)
    val zfiles = DlvTable.log(path).snapshot().files
    assert(zfiles.size > 1)
    val spans = zfiles.flatMap { f =>
      val st = f.parsedStats.get
      for {
        mn <- st.minValues.get("o_custkey")
        mx <- st.maxValues.get("o_custkey")
      } yield (mn, mx)
    }
    val fullSpan = orders.agg(max("o_custkey") - min("o_custkey"))
      .head().getLong(0).toDouble
    def num(j: org.json4s.JValue): Double = j match {
      case org.json4s.JLong(v) => v.toDouble
      case org.json4s.JInt(v) => v.toDouble
      case org.json4s.JDouble(v) => v
      case other => fail(s"non-numeric stat: $other")
    }
    val avgSpan = spans.map { case (mn, mx) => num(mx) - num(mn) }
      .sum / spans.size
    assert(avgSpan < fullSpan * 0.8,
      s"zorder should tighten o_custkey ranges: avg $avgSpan vs full " +
        s"$fullSpan")
  }

  test("OPTIMIZE, ZORDER BY and REORG PURGE launch as many jobs on 16 " +
    "partitions as on 2, replacing exactly the selected files") {
    val sc = spark.sparkContext
    def jobsOf(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try {
        body
        org.apache.spark.ListenerBusDrain(sc)
      } finally sc.removeSparkListener(listener)
      n.get
    }
    // 3 single-task appends (one file per partition each), plus a DV
    // delete that puts a vector on every file for REORG
    def fixture(parts: Int, dv: Boolean): String = {
      val path = freshDir(s"rw$parts")
      DlvTable.create(spark, path, "id BIGINT, p INT", Seq("p"),
        if (dv) Map(DlvDv.PROP -> "true") else Map.empty)
      (1 to 3).foreach(_ => DlvTable.append(spark, path,
        spark.range(0, 3000).coalesce(1)
          .select(col("id"), (col("id") % parts).cast("int").as("p"))))
      if (dv) DlvDml.delete(spark, path, col("id") % 5 === 0)
      path
    }
    def run(parts: Int, op: String): Int = {
      val path = fixture(parts, dv = op == "reorg")
      val l = DlvTable.log(path)
      val before = l.snapshot().files
      assert(before.size == 3 * parts)
      var v = -1L
      val jobs = jobsOf {
        v = op match {
          case "optimize" => DlvMaintenance.optimize(spark, path)
          case "zorder" =>
            DlvMaintenance.optimize(spark, path, zorderBy = Seq("id"))
          case "reorg" => DlvMaintenance.reorgPurge(spark, path)
        }
      }
      val removed = l.commitActionsOf(v).collect { case r: RemoveFile => r }
      assert(removed.map(_.path).toSet == before.map(_.path).toSet, op)
      val after = l.snapshot().files
      assert(after.size == parts && after.forall(_.dv.isEmpty), op)
      val ids = (0L until 3000L)
        .filterNot(id => op == "reorg" && id % 5 == 0)
      val got = DlvTable.toDF(spark, path)
        .agg(count(lit(1)), sum("id").cast("long")).head()
      assert(got.getLong(0) == 3L * ids.size &&
        got.getLong(1) == 3 * ids.sum, op)
      jobs
    }
    Seq("optimize", "zorder", "reorg").foreach { op =>
      val (small, large) = (run(2, op), run(16, op))
      info(s"$op: $small jobs at 2 partitions, $large at 16")
      assert(small == large,
        s"$op launched $small jobs on 2 partitions, $large on 16")
    }
    // Z-ORDER past one bin: each partition splits into its own k files
    // holding disjoint key ranges
    val zp = fixture(2, dv = false)
    val zl = DlvTable.log(zp)
    val target = zl.snapshot().sizeInBytes / 8
    val ks = zl.snapshot().files.groupBy(_.partitionValues)
      .map { case (pv, fs) => pv -> fs.map(_.size).sum / target }
    DlvMaintenance.optimize(spark, zp, zorderBy = Seq("id"),
      targetFileBytes = target)
    def id(j: org.json4s.JValue): Long = j match {
      case org.json4s.JLong(v) => v
      case org.json4s.JInt(v) => v.toLong
      case other => fail(s"non-integral stat: $other")
    }
    zl.snapshot().files.groupBy(_.partitionValues).foreach { case (pv, fs) =>
      assert(ks(pv) > 1 && fs.size == ks(pv), pv)
      val ranges = fs.map(_.parsedStats.get)
        .map(st => (id(st.minValues("id")), id(st.maxValues("id"))))
        .sortBy(_._1)
      assert(ranges.zip(ranges.tail).forall { case (a, b) => a._2 < b._1 },
        s"$pv: $ranges")
    }
    // the one rewrite entry refuses a non-positive target size
    val path = fixture(2, dv = false)
    Seq(0L, -1L).foreach { t =>
      intercept[IllegalArgumentException](
        DlvMaintenance.optimize(spark, path, targetFileBytes = t))
      intercept[IllegalArgumentException](
        DlvMaintenance.reorgPurge(spark, path, targetFileBytes = t))
    }
  }

  test("batch readChangeFeed option: delta's reader shape returns the " +
    "change feed, never silently plain rows") {
    val path = mkTable("cdfbatch", cdf = true)
    DlvDml.update(spark, path, col("o_orderkey") % 50 === 0,
      Map("o_totalprice" -> lit(1.0)))
    val viaOption = spark.read.format("dlv")
      .option("readChangeFeed", "true")
      .option("startingVersion", 2)
      .load(path)
    val direct = DlvChangeFeed.changes(spark, path, 2)
    assert(viaOption.schema.fieldNames.contains("_change_type"))
    assert(viaOption.count() == direct.count() && viaOption.count() > 0)
    assert(viaOption.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaOption).isEmpty)
    // endingVersion bounds the range
    assert(spark.read.format("dlv")
      .option("readChangeFeed", "true")
      .option("startingVersion", 0).option("endingVersion", 1)
      .load(path)
      .select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet == Set("insert"))
    // without a starting point the read fails loudly
    val e = intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("readChangeFeed", "true")
        .load(path)
    }
    assert(e.getMessage.contains("startingVersion"), e.getMessage)
    // conflicting range options fail loudly (delta errors here too)
    intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .option("startingTimestamp", "2024-01-01").load(path)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("readChangeFeed", "true")
        .option("startingVersion", 0).option("versionAsOf", 1).load(path)
    }
    // unrecognized boolean: loud, never a silent plain-row read
    intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("readChangeFeed", "1").load(path)
    }
    // range options WITHOUT readChangeFeed: loud, never silently
    // ignored into a plain full-table read
    val noFlag = intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("startingVersion", 1).load(path)
    }
    assert(noFlag.getMessage.contains("readChangeFeed"), noFlag.getMessage)
    intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("readChangeFeed", "false")
        .option("endingVersion", 1).load(path)
    }
    // startingTimestamp is AT-OR-AFTER: an instant between commits
    // starts at the NEXT commit, never re-delivering earlier changes.
    // Expected set computed from the contract itself — commits can
    // share a millisecond on a fast machine, in which case the earliest
    // sharer is the correct start, not the latest version alone.
    val l = DlvTable.log(path)
    val lastTs = l.commitTimestamp(l.latestVersion)
    val expected = ((0L to l.latestVersion)
      .find(v => l.commitTimestamp(v) >= lastTs).get to l.latestVersion)
      .toSet
    assert(expected.contains(l.latestVersion))
    assert(spark.read.format("dlv").option("readChangeFeed", "true")
      .option("startingTimestamp", lastTs.toString).load(path)
      .select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == expected,
      "an instant at the last commit must deliver the commits at or " +
        "after it, nothing earlier")
    // an instant before the FIRST commit starts at version 0
    assert(spark.read.format("dlv").option("readChangeFeed", "true")
      .option("startingTimestamp", "0").load(path).count() ==
      DlvChangeFeed.changes(spark, path, 0).count())
    // past the latest commit: loud error (delta's contract)
    val late = intercept[IllegalArgumentException] {
      spark.read.format("dlv").option("readChangeFeed", "true")
        .option("startingTimestamp", (lastTs + 60000).toString)
        .load(path)
    }
    assert(late.getMessage.contains("after the latest"), late.getMessage)
  }

  test("CDF plan holds a bounded number of scan relations over 50+ " +
    "versions (batched multi-path reads, not one relation per commit)") {
    import spark.implicits._
    val path = freshDir("cdfplan")
    DlvTable.create(spark, path, "id BIGINT, v BIGINT", Nil,
      Map(DlvDml.CDF_PROP -> "true"))
    // 50 append commits (add replays) + 2 updates (CDC blobs)
    (1 to 50).foreach { i =>
      DlvTable.append(spark, path,
        Seq.tabulate(10)(j => (i * 100L + j, i.toLong)).toDF("id", "v"))
    }
    DlvDml.update(spark, path, col("id") === 100L, Map("v" -> lit(999L)))
    DlvDml.update(spark, path, col("id") === 200L, Map("v" -> lit(998L)))
    val latest = DlvTable.log(path).latestVersion
    assert(latest >= 52)
    // the 10⁴-commit hazard: one relation per version stalls the
    // optimizer before a byte is read — the plan must stay at one scan
    // per change KIND (cdc / add-replay / remove-replay), and every
    // replayed file is known from the log, so neither planning nor
    // execution runs a file-listing job
    def boundedFeed(p: String): org.apache.spark.sql.DataFrame = {
      val versions = DlvTable.log(p).latestVersion + 1
      var ch: org.apache.spark.sql.DataFrame = null
      var scanLeaves = -1
      val listings = listingJobs {
        ch = DlvChangeFeed.changes(spark, p, 0)
        // counted before caching: a cached frame's optimized plan is
        // one InMemoryRelation leaf
        scanLeaves = ch.queryExecution.optimizedPlan.collectLeaves()
          .count {
            case _: org.apache.spark.sql.execution.datasources.LogicalRelation
              => true
            case _ => false
          }
        ch.cache().count()
      }
      assert(scanLeaves <= 3,
        s"$scanLeaves scan relations for $versions versions — " +
          "the CDF read is planning per-version scans")
      assert(listings.isEmpty, s"file-listing jobs ran: $listings")
      ch
    }
    val ch = boundedFeed(path)
    // stamps are correct across the whole range: every append version
    // contributes exactly its 10 rows as inserts
    val perVersion = ch.filter(col("_change_type") === "insert")
      .groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perVersion.size == 50, s"got versions ${perVersion.keys.toSeq.sorted}")
    assert(perVersion.values.forall(_ == 10L))
    // the two updates carry pre+post images at their own versions
    val updVersions = ch.filter(
      col("_change_type").isin("update_preimage", "update_postimage"))
      .select("_commit_version").distinct().collect().map(_.getLong(0))
    assert(updVersions.length == 2)
    assert(ch.filter(col("_change_type") === "update_preimage").count() == 2)
    assert(ch.filter(col("_change_type") === "update_postimage").count() == 2)
    // timestamps are non-decreasing in version order
    val tsByV = ch.select("_commit_version", "_commit_timestamp").distinct()
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime)
      .sortBy(_._1).map(_._2)
    assert(tsByV.zip(tsByV.tail).forall { case (a, b) => a <= b })
    ch.unpersist()

    // partitioned, CDF off: every append writes part-NNNNN-<job uuid>
    // into each of its 4 partition dirs (one writer task), and the
    // DELETE's removes replay as whole-file deletes
    val ppath = freshDir("cdfplanpart")
    DlvTable.create(spark, ppath, "id BIGINT, p INT", Seq("p"))
    (1 to 10).foreach { i =>
      DlvTable.append(spark, ppath, Seq.tabulate(8)(j =>
        (i * 100L + j, j % 4)).toDF("id", "p").coalesce(1))
    }
    DlvDml.delete(spark, ppath, col("id") % 100 === 0L) // v11
    val pch = boundedFeed(ppath)
    val counts = pch.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(counts == (1L to 10L).map(v => (v, "insert") -> 8L).toMap ++
      Map((11L, "insert") -> 10L, (11L, "delete") -> 20L),
      s"per-version change counts: $counts")
    // partition values come from the log's remove actions
    assert(pch.filter(col("_change_type") === "delete")
      .filter(col("p") =!= 0).isEmpty)
    pch.unpersist()
    ()
  }

  test("a remove written before RemoveFile.size existed still replays " +
    "its deletes, on both routes") {
    import spark.implicits._
    val path = freshDir("cdflegacy")
    DlvTable.create(spark, path, "id BIGINT, p INT", Seq("p"))
    DlvTable.append(spark, path,
      Seq.tabulate(6)(i => (i.toLong, i % 2)).toDF("id", "p")) // v1
    val l = DlvTable.log(path)
    val doomed = l.snapshot().files.filter(_.partitionValues("p") == "1")
    // the format before sizes were recorded: no `size` on the remove
    val removes = doomed.map(_.remove(1L, dataChange = true)
      .copy(size = None))
    assert(l.commit(2, removes :+ CommitInfo(2, 2L, "DELETE", Map.empty,
      isBlindAppend = false)))
    assert(l.io.readLines(l.io.child(l.logDir, CommitStore.fileName(2)))
      .filter(_.contains("\"remove\"")).forall(!_.contains("\"size\"")))
    for (threshold <- Seq("1000", "1")) {
      withProps("graft.dlv.cdfDistributedRangeThreshold" -> threshold) {
        val deletes = DlvChangeFeed.changes(spark, path, 0)
          .filter(col("_change_type") === "delete")
          .select("id", "p", "_commit_version").as[(Long, Int, Long)]
          .collect().toSet
        assert(deletes == Set((1L, 1, 2L), (3L, 1, 2L), (5L, 1, 2L)),
          s"threshold $threshold: $deletes")
      }
    }
  }

  test("CDF over 10^3 versions: plan stays bounded (one scan per " +
    "change kind) and past the broadcast limit the stamp mapping " +
    "joins distributed, end-to-end correct") {
    import spark.implicits._
    val path = freshDir("cdf1k")
    // one REAL data file re-added by every commit: the log replay sees
    // 10^3 add entries while the scan reads one relation — the exact
    // many-versions/few-relations contract, executable end-to-end
    val l = DlvTable.log(path)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val stage = java.nio.file.Files.createTempDirectory("cdf1k-stage-")
    stage.toFile.deleteOnExit()
    Seq.tabulate(5)(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.parquet(stage.resolve("out").toString)
    val part = java.nio.file.Files.list(stage.resolve("out")).iterator()
    val src = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
      .find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(path, "part-shared.parquet"))
    val size = java.nio.file.Files.size(src)
    val meta = graft.sources.dlv.Metadata(
      "cdf1k-id", "id BIGINT, v DOUBLE", Nil, Map.empty, 1L)
    val nVersions = 1000
    (0L to nVersions.toLong).foreach { v =>
      val actions: Seq[Action] =
        (if (v == 0) Seq(Protocol(), meta)
         else Seq(AddFile("part-shared.parquet", Map.empty, size, v,
           dataChange = true, None))) :+
          CommitInfo(v, v, if (v == 0) "CREATE TABLE" else "WRITE",
            Map.empty, isBlindAppend = v != 0)
      assert(l.commit(v, actions))
    }
    val oldRange = sys.props.get("graft.dlv.cdfDistributedRangeThreshold")
    // the planner's broadcast threshold decides the stamp join: off,
    // the 10^3-row mapping must join shuffled
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // pin the DRIVER route first; the distributed route is checked
    // below against it
    sys.props("graft.dlv.cdfDistributedRangeThreshold") =
      (nVersions * 2).toString
    try {
      val ch = DlvChangeFeed.changes(spark, path, 0)
      val scanLeaves = ch.queryExecution.optimizedPlan.collectLeaves()
        .count {
          case _: org.apache.spark.sql.execution.datasources.LogicalRelation
            => true
          case _ => false
        }
      assert(scanLeaves <= 3,
        s"$scanLeaves scan relations over ${nVersions + 1} versions")
      // broadcast joins off: the 10^3-row stamp mapping must ship as a
      // shuffled join, not a broadcast
      val broadcasts = ch.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          => b
      }
      assert(broadcasts.isEmpty,
        "with broadcast joins off the stamp mapping must not broadcast")
      // end-to-end: every version replays the file's 5 rows as inserts
      assert(ch.count() == 5L * nVersions)
      val perV = ch.groupBy("_commit_version").count()
        .filter(col("count") =!= 5L).count()
      assert(perV == 0, "every version must contribute exactly 5 rows")

      // distributed route over the same 10^3-version range: commit
      // classification runs in executors, the plan still holds one
      // DATA scan relation, and the feed is value-identical
      sys.props("graft.dlv.cdfDistributedRangeThreshold") = "1"
      val chD = DlvChangeFeed.changes(spark, path, 0)
      val dataLeaves = chD.queryExecution.optimizedPlan.collectLeaves()
        .count {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            => !r.relation.schema.fieldNames.sameElements(Array("value"))
          case _ => false
        }
      assert(dataLeaves <= 3,
        s"$dataLeaves data scan relations in the distributed route")
      assert(chD.count() == 5L * nVersions)
      assert(chD.exceptAll(ch).isEmpty && ch.exceptAll(chD).isEmpty,
        "distributed and driver CDF routes must be row-identical")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      oldRange match {
        case Some(v) =>
          sys.props("graft.dlv.cdfDistributedRangeThreshold") = v
          ()
        case None =>
          sys.props.remove("graft.dlv.cdfDistributedRangeThreshold")
          ()
      }
    }
  }

  test("batched change feed is row-identical to a naive per-version " +
    "replay across a mixed history (retrofit, evolution, restore)") {
    import spark.implicits._
    val path = freshDir("cdfeq")
    DlvTable.create(spark, path, "id BIGINT, v BIGINT", Nil)
    DlvTable.append(spark, path,
      Seq.tabulate(20)(i => (i.toLong, 0L)).toDF("id", "v")) // v1
    DlvTable.append(spark, path,
      Seq.tabulate(10)(i => (100L + i, 1L)).toDF("id", "v")) // v2
    DlvTable.setProperties(spark, path,
      Map(DlvDml.CDF_PROP -> "true")) // v3: retrofit
    DlvDml.update(spark, path, col("id") < 5L,
      Map("v" -> lit(9L))) // v4: eager CDC
    DlvDml.delete(spark, path, col("id") >= 100L && col("id") < 103L) // v5
    DlvTable.addColumns(spark, path, "tag STRING") // v6: evolution
    DlvTable.append(spark, path,
      Seq((200L, 2L, "new")).toDF("id", "v", "tag")) // v7
    DlvTable.restore(spark, path, 2) // v8: re-adds v5's removed file
    val l = DlvTable.log(path)
    val latest = l.latestVersion
    val meta = l.snapshotAt(Some(latest)).metadata

    // naive reference: one read per version, the pre-batching shape
    val naive = (0L to latest).flatMap { v =>
      val actions = l.commitActionsOf(v)
      val info = actions.collectFirst { case c: CommitInfo => c }
      val ts = info.map(_.timestamp).getOrElse(l.commitTimestamp(v))
      def stamp(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", (lit(ts) / 1000).cast("timestamp"))
      info.flatMap(_.cdcPath) match {
        case Some(rel) =>
          val raw = spark.read.parquet(l.resolve(rel))
          val have = raw.columns.map(_.toLowerCase).toSet
          val filled = meta.schema.fields
            .filterNot(f => have.contains(f.name.toLowerCase))
            .foldLeft(raw)((d, f) =>
              d.withColumn(f.name, lit(null).cast(f.dataType)))
          Seq(stamp(filled.select(
            (meta.schema.fieldNames :+ "_change_type").map(col): _*)))
        case None =>
          val adds = actions.collect {
            case a: AddFile if a.dataChange => a.path
          }
          val removes = actions.collect {
            case r: RemoveFile if r.dataChange => r.path
          }
          (if (adds.isEmpty) Nil
           else Seq(stamp(DlvDml.readFiles(spark, l, adds, meta.schema)
             .withColumn("_change_type", lit("insert"))))) ++
            (if (removes.isEmpty) Nil
             else Seq(stamp(DlvDml.readFiles(spark, l, removes, meta.schema)
               .withColumn("_change_type", lit("delete")))))
      }
    }.reduce(_ unionByName _)

    val batched = DlvChangeFeed.changes(spark, path, 0)
    assert(batched.columns.toSeq ==
      meta.schema.fieldNames.toSeq ++
        Seq("_change_type", "_commit_version", "_commit_timestamp"))
    assert(batched.count() == naive.count(),
      s"row counts differ: batched=${batched.count()} naive=${naive.count()}")
    assert(batched.exceptAll(naive).isEmpty &&
      naive.exceptAll(batched).isEmpty,
      "batched and per-version change feeds must be row-identical")
  }

  test("CDF replays a file re-added by RESTORE at both its versions") {
    import spark.implicits._
    val path = freshDir("cdfrestore")
    DlvTable.create(spark, path, "id BIGINT, v BIGINT", Nil)
    DlvTable.append(spark, path, Seq((1L, 1L), (2L, 1L)).toDF("id", "v")) // v1
    DlvTable.append(spark, path, Seq((3L, 2L)).toDF("id", "v")) // v2
    DlvDml.delete(spark, path, col("id") === 3L) // v3: removes v2's file
    DlvTable.restore(spark, path, 2) // v4: re-ADDS v2's file (same path)
    val ch = DlvChangeFeed.changes(spark, path, 0)
    // the id=3 row must appear as an insert at BOTH v2 and v4 — the
    // batched read scans the file once and the mapping join fans out
    val v3Inserts = ch.filter(col("_change_type") === "insert" &&
      col("id") === 3L).select("_commit_version").collect()
      .map(_.getLong(0)).sorted
    assert(v3Inserts.toSeq == Seq(2L, 4L), s"got ${v3Inserts.toSeq}")
    // and the delete replay at v3
    assert(ch.filter(col("_change_type") === "delete" &&
      col("id") === 3L && col("_commit_version") === 3L).count() == 1)
  }

  test("a CDC blob is written in place: an empty change set leaves no " +
    "blob dir, a non-empty blob holds exactly the feed's rows") {
    import spark.implicits._
    val path = freshDir("cdcblob")
    DlvTable.create(spark, path, "id BIGINT, v BIGINT", Nil,
      Map(DlvDml.CDF_PROP -> "true"))
    DlvTable.append(spark, path,
      Seq.tabulate(20)(i => (i.toLong, 0L)).toDF("id", "v"))
    val l = DlvTable.log(path)
    val cdcRoot = l.resolve(s"${DlvTable.LOG_DIR}/_cdc")
    def blobDirs: Set[String] =
      if (l.io.exists(cdcRoot)) l.io.listNames(cdcRoot).toSet else Set.empty
    val before = blobDirs
    // an empty unpartitioned write still leaves one 0-row file: it is
    // swept together with its blob dir
    val empty = DlvTable.toDF(spark, path).filter(lit(false))
      .withColumn("_change_type", lit("insert"))
    assert(DlvDml.writeCdc(spark, l, l.snapshot().metadata, empty).isEmpty)
    assert(blobDirs == before, "an empty change set must leave no blob")
    // the data and blob writes run as named SQL executions
    val jobs = jobDescriptions {
      DlvDml.update(spark, path, col("id") < 5L, Map("v" -> lit(9L)))
    }
    assert(jobs.contains("dlv:write") && jobs.contains("dlv:cdc"), jobs)
    val v = l.latestVersion
    val rel = l.commitActionsOf(v)
      .collectFirst { case c: CommitInfo => c.cdcPath }.flatten
    assert(rel.nonEmpty, "a copy-on-write UPDATE on a CDF table writes a blob")
    def perType(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val blob = perType(spark.read.parquet(l.resolve(rel.get)))
    assert(blob == Map("update_preimage" -> 5L, "update_postimage" -> 5L))
    assert(blob == perType(DlvChangeFeed.changes(spark, path, v, Some(v))))
    // nothing but the blob's parquet in its dir
    assert(l.io.walkFiles(l.resolve(rel.get)).forall(_.name.endsWith(".parquet")))
  }
}
