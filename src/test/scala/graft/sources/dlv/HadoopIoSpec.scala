package graft.sources.dlv

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The object-store seam, exercised end-to-end through [[HadoopIo]]
  * with `file:/` scheme URIs (the only Hadoop filesystem in the
  * sandbox — production `gs://`/`s3a://`/`hdfs://` tables route
  * through the exact same code path, differing only in which
  * `FileSystem` the scheme resolves to).
  */
class HadoopIoSpec extends SparkSpec with DlvTestProps {

  private def freshUri(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"dlv-hio-$name-")
    d.toFile.deleteOnExit()
    "file:" + d.resolve("t").toString
  }

  private def orders = Tables.orders(spark, sf)
    .withColumn("order_date", to_date(col("o_orderdate")))

  test("scheme'd paths route to HadoopIo; bare paths to NioIo") {
    assert(DlvIo.forPath("file:/tmp/x").isInstanceOf[HadoopIo])
    assert(DlvIo.forPath("gs://bucket/table").isInstanceOf[HadoopIo])
    assert(DlvIo.forPath("s3a://bucket/table").isInstanceOf[HadoopIo])
    assert(DlvIo.forPath("/tmp/x").isInstanceOf[NioIo])
    assert(DlvIo.forPath("relative/dir").isInstanceOf[NioIo])
  }

  test("qualified() returns RAW paths (no percent encoding) on both " +
    "IO impls — the currency Path(String) and spark.read expect") {
    val d = java.nio.file.Files.createTempDirectory("dlv-hio-enc-")
    d.toFile.deleteOnExit()
    val special = d.resolve("weird name 100%").toString
    for (io <- Seq(DlvIo.forPath(special),
        DlvIo.forPath("file:" + special))) {
      val q = io.qualified(special)
      assert(!q.contains("%20") && !q.contains("%25"),
        s"qualified must stay raw, got $q from ${io.getClass.getSimpleName}")
      assert(q.endsWith("weird name 100%"), q)
      // raw form roundtrips through Hadoop Path (which re-encodes
      // internally and decodes on access)
      assert(new org.apache.hadoop.fs.Path(q).getName == "weird name 100%")
    }
  }

  test("full table lifecycle over a file:-scheme URI") {
    val uri = freshUri("lifecycle")
    val base = orders.limit(200)
    DlvTable.create(spark, uri, base.schema.toDDL, Seq("order_date"))
    DlvTable.append(spark, uri, base)
    val v1 = DlvTable.log(uri).latestVersion
    assert(v1 == 1)

    // read back through the pruned scan
    val back = DlvTable.toDF(spark, uri)
    assert(back.count() == base.count())
    assert(back.exceptAll(base).count() == 0)

    // second append + version time travel
    DlvTable.append(spark, uri, base.limit(50))
    assert(DlvTable.toDF(spark, uri).count() == 250)
    assert(DlvTable.toDF(spark, uri, version = Some(1)).count() == 200)

    // history via the io seam
    val hist = DlvTable.log(uri).history
    assert(hist.map(_.operation) == Seq("WRITE", "WRITE", "CREATE TABLE"))

    // timestamp travel resolves through checkpoint/tail reads
    val ts1 = DlvTable.log(uri).commitTimestamp(1)
    assert(DlvTable.log(uri).versionAtTimestamp(ts1) >= 1)
  }

  test("DML rewrite + vacuum over a file:-scheme URI") {
    val uri = freshUri("dml")
    val base = orders.limit(100)
    DlvTable.create(spark, uri, base.schema.toDDL, Nil)
    DlvTable.append(spark, uri, base)
    val before = DlvTable.toDF(spark, uri)
      .filter(col("o_totalprice") > 1000).count()
    DlvDml.delete(spark, uri, col("o_totalprice") > 1000)
    assert(DlvTable.toDF(spark, uri).count() == base.count() - before)

    // the rewrite left the old files unreferenced: vacuum at zero
    // retention physically deletes them
    val (deleted, kept) = DlvMaintenance.vacuum(spark, uri, retentionMs = 0L)
    assert(deleted >= 1, s"expected unreferenced files, deleted=$deleted")
    assert(kept >= 1)
    assert(DlvTable.toDF(spark, uri).count() == base.count() - before)
  }

  test("commit arbitration rejects the second writer of a version") {
    val uri = freshUri("race")
    val io = DlvIo.forPath(uri)
    io.mkdirs(uri)
    assert(io.putIfAbsent(uri, "00000000000000000000.json", "a\n"))
    assert(!io.putIfAbsent(uri, "00000000000000000000.json", "b\n"))
    assert(io.readString(io.child(uri, "00000000000000000000.json")) == "a\n")
  }

  test("a file: table holds no checksum file after 12 commits and a " +
    "checkpoint, JSON or parquet") {
    import scala.jdk.CollectionConverters._
    for (ckpt <- Seq("1000000", "1")) withProps(CKPT -> ckpt) {
      val uri = freshUri(s"nocrc-$ckpt")
      DlvTable.create(spark, uri, "id BIGINT, p INT", Seq("p"))
      for (i <- 1 to 12)
        DlvTable.append(spark, uri, spark.range(i * 10, i * 10 + 10)
          .select(col("id"), (col("id") % 3).cast("int").as("p")))
      val l = DlvTable.log(uri)
      assert(l.latestVersion == 12)
      assert(l.io.exists(l.io.child(l.logDir, "_last_checkpoint")))
      val root = java.nio.file.Paths.get(new java.net.URI(uri))
      val crc = java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".crc")).toList
      assert(crc.isEmpty, s"checksum files (parquet threshold $ckpt): $crc")
      assert(DlvTable.toDF(spark, uri).count() == 120)
    }
  }

  test("object-store fallback: the monitor-guarded probe-and-write " +
    "awards each version to exactly one of 8 racing writers") {
    // a scheme with neither a conditional-put client nor a `file:` or
    // `hdfs` branch takes HadoopIo's exists-probe + create under the
    // per-dir JVM monitor
    val io = new HadoopIo(Map(
      s"fs.${ObjectStoreLikeFs.Scheme}.impl" ->
        classOf[ObjectStoreLikeFs].getName))
    val local = java.nio.file.Files.createTempDirectory("dlv-hio-monitor-")
    local.toFile.deleteOnExit()
    val logDir = s"${ObjectStoreLikeFs.Scheme}://$local/_dlv_log"
    for (round <- 0 until 50) {
      val name = CommitStore.fileName(round.toLong)
      val barrier = new java.util.concurrent.CyclicBarrier(8)
      val winners = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 8).map { w =>
        new Thread(() => {
          val content = s"""{"writer":$w,"round":$round}"""
          barrier.await()
          if (io.putIfAbsent(logDir, name, content)) {
            winners.add(content); ()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(winners.size == 1,
        s"round $round: ${winners.size} writers won $name")
      assert(java.nio.file.Files.readString(
          local.resolve("_dlv_log").resolve(name)) == winners.peek(),
        s"round $round: the object is not the winner's bytes")
    }
  }
}

/** A local file system that reports a scheme of its own, so a
  * [[HadoopIo]] over it takes the object-store publish branch while
  * the bytes land on local disk. */
final class ObjectStoreLikeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = ObjectStoreLikeFs.Scheme
  override def getUri: java.net.URI =
    java.net.URI.create(s"${ObjectStoreLikeFs.Scheme}:///")
  // an object store keeps no POSIX modes (and the stock call forks a
  // `chmod` per created file)
  override def setPermission(
      p: org.apache.hadoop.fs.Path,
      perm: org.apache.hadoop.fs.permission.FsPermission): Unit = ()
}

object ObjectStoreLikeFs {
  val Scheme = "objlike"
}
