package graft.sources.dlv

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The filesystem seam for ALL dlv metadata + maintenance I/O.
  *
  * The reference's deployment substrate is an object store (its
  * validation suite drives `gs://` buckets directly), so nothing in the
  * table format may assume `java.nio` paths. Every log read/publish,
  * checkpoint, vacuum listing and checkpoint move goes through this
  * trait; the DATA path (parquet read/write) already speaks Hadoop via
  * Spark itself.
  *
  * Two implementations:
  *   - [[NioIo]] — local filesystem via `java.nio`, POSIX hard-link
  *     commit arbiter ([[LinkCommitStore]]). The default for plain
  *     local paths: exact no-replace atomicity, no Hadoop overhead.
  *   - [[HadoopIo]] — any Hadoop scheme (`hdfs://`, `s3a://`, `gs://`,
  *     `file:`). Commit arbitration is per-scheme: a
  *     [[ConditionalPutClient]] registered for the scheme (the store's
  *     own if-none-match / if-generation-match — TRUE cross-process
  *     multi-writer safety) owns the publish outright; otherwise
  *     `file:` borrows the POSIX hard-link arbiter, HDFS uses
  *     no-replace rename (atomic there), and object stores fall back
  *     to exists-probe + stage + rename under a JVM-wide monitor —
  *     same-process races safe, delta-spark's documented LogStore
  *     caveat, now opt-out instead of unconditional.
  */
trait DlvIo extends Serializable {
  /** Hadoop configuration able to open THIS store's paths, buildable
    * on executors from serializable state — the seam task-side parquet
    * reads (per-file deletion-vector application) resolve filesystems
    * through. */
  def hadoopConf: Configuration
  def child(dir: String, name: String): String
  def relativize(root: String, path: String): String
  /** Table-relative path of an absolute file URI (as produced by
    * Spark's `input_file_name()`). */
  def relativizeUri(root: String, uri: String): String
  /** Raw io-native absolute path of a scan-reported file URI — the
    * decoded form [[DlvLog.resolve]] accepts and an EXTERNAL
    * (shallow-clone) [[AddFile.path]] stores. The inverse of
    * `qualified` up to scheme spelling: percent-escapes decode, the
    * path comes back byte-exact. */
  def rawPathOfUri(uri: String): String
  /** Fully-QUALIFIED raw path string (scheme kept, NO percent
    * encoding) — the currency both `hadoop.fs.Path(String)` and
    * `DataFrameReader` paths expect: each re-encodes raw input itself,
    * so feeding them an already-encoded URI makes `%20` resolve as the
    * literal three characters (a CONVERT-adopted name with a space
    * pointed at a nonexistent object). NOT a `java.net.URI`: a name
    * with spaces keeps its spaces. */
  def qualified(path: String): String
  def exists(path: String): Boolean
  def isDirectory(path: String): Boolean
  def readString(path: String): String
  /** First `maxBytes` of the object as UTF-8 — bounded probe reads
    * (e.g. fingerprinting a creation commit whose tail can be huge for
    * CONVERT-adopted tables) without pulling the whole object. */
  def readHead(path: String, maxBytes: Int): String
  def readLines(path: String): Seq[String]
  /** Replace-allowed small control file (checkpoints, hints). */
  def writeReplace(path: String, content: String): Unit
  /** THE commit arbiter: publish `content` at `dir/name` iff absent,
    * all-or-nothing; false when another writer owns the name. */
  def putIfAbsent(dir: String, name: String, content: String): Boolean
  def listNames(dir: String): Seq[String]
  /** One level of `dir`. */
  def listEntries(dir: String): Seq[DlvIo.Entry]
  /** Every regular file under `dir`, recursively; `name` is the
    * dir-relative path. */
  def walkFiles(dir: String): Seq[DlvIo.Entry]
  def mkdirs(dir: String): Unit
  def move(src: String, dst: String): Unit
  /** Byte-for-byte copy, creating parent dirs; replaces an existing
    * destination (deep-clone re-attempts overwrite their own
    * partial copies). */
  def copy(src: String, dst: String): Unit
  def delete(path: String): Boolean
  def deleteRecursive(path: String): Unit
  def mtimeMs(path: String): Long
  def size(path: String): Long
}

object DlvIo {
  final case class Entry(
      name: String, isDir: Boolean, size: Long, mtimeMs: Long)

  /** Scheme'd URIs (including `file:`) route through Hadoop; bare
    * local paths stay on `java.nio`. */
  def forPath(path: String,
      store: CommitStore = new LinkCommitStore): DlvIo =
    if (path.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"))
      // seed from the active session's hadoop conf when one exists:
      // object-store credentials/endpoints arrive as spark.hadoop.*
      // and a bare Configuration would not see them
      new HadoopIo(confKVs = sessionHadoopKVs(), store = store)
    else new NioIo(store)

  /** The active session's effective hadoop key/values, or empty when
    * no session exists (session-less tooling keeps default wiring). */
  private def sessionHadoopKVs(): Map[String, String] =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        val it = s.sparkContext.hadoopConfiguration.iterator()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue
        }
        b.result()
      case None => Map.empty
    }
}

/** Local-filesystem I/O with the POSIX hard-link commit arbiter. */
final class NioIo(store: CommitStore = new LinkCommitStore) extends DlvIo {
  private def p(s: String) = Paths.get(s)

  // bare local paths: the default config resolves them via the local FS
  @transient private lazy val conf0 = new Configuration()
  override def hadoopConf: Configuration = conf0

  override def child(dir: String, name: String): String =
    p(dir).resolve(name).toString
  override def relativize(root: String, path: String): String =
    p(root).toAbsolutePath.normalize
      .relativize(p(path).toAbsolutePath.normalize).toString
  override def relativizeUri(root: String, uri: String): String =
    p(root).toAbsolutePath.normalize.relativize(
      Paths.get(java.net.URI.create(uri)).toAbsolutePath.normalize).toString
  override def rawPathOfUri(uri: String): String =
    Paths.get(java.net.URI.create(uri)).toAbsolutePath.normalize.toString
  // Path(URI) decodes the nio URI back to the raw path, keeping the
  // file: scheme so a cluster whose default FS isn't local still
  // resolves these correctly
  override def qualified(path: String): String =
    new HPath(p(path).toUri).toString
  override def exists(path: String): Boolean = Files.exists(p(path))
  override def isDirectory(path: String): Boolean =
    Files.isDirectory(p(path))
  override def readString(path: String): String = Files.readString(p(path))
  override def readHead(path: String, maxBytes: Int): String = {
    val in = Files.newInputStream(p(path))
    try new String(in.readNBytes(maxBytes),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def readLines(path: String): Seq[String] =
    Files.readAllLines(p(path)).asScala.toSeq
  override def writeReplace(path: String, content: String): Unit = {
    val dst = p(path)
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val tmp = Files.createTempFile(dst.getParent, ".dlv-", ".tmp")
    Files.writeString(tmp, content)
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }
  override def putIfAbsent(
      dir: String, name: String, content: String): Boolean =
    name match {
      // commit objects honor the injected arbiter (CAS vs link models)
      case CommitStore.CommitFile(v) =>
        store.commit(p(dir), v.toLong, content)
      case _ => AtomicPublish.putIfAbsent(p(dir), name, content)
    }
  // Files.list/walk return STREAMS that hold an open directory handle
  // until closed — a vacuum over a million partition dirs must not
  // leak a million descriptors
  private def closing[A, S <: java.util.stream.BaseStream[_, _]](s: S)(
      f: S => A): A =
    try f(s) finally s.close()
  override def listNames(dir: String): Seq[String] =
    closing(Files.list(p(dir)))(_.iterator().asScala
      .map(_.getFileName.toString).toSeq)
  override def listEntries(dir: String): Seq[DlvIo.Entry] =
    closing(Files.list(p(dir)))(_.iterator().asScala.map { e =>
      val d = Files.isDirectory(e)
      DlvIo.Entry(e.getFileName.toString, d,
        if (d) 0L else Files.size(e),
        Files.getLastModifiedTime(e).toMillis)
    }.toSeq)
  override def walkFiles(dir: String): Seq[DlvIo.Entry] = {
    val root = p(dir)
    closing(Files.walk(root))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
      .map(f => DlvIo.Entry(root.relativize(f).toString, isDir = false,
        Files.size(f), Files.getLastModifiedTime(f).toMillis)))
  }
  override def mkdirs(dir: String): Unit =
    Files.createDirectories(p(dir))
  override def move(src: String, dst: String): Unit = {
    val d = p(dst)
    if (d.getParent != null) Files.createDirectories(d.getParent)
    Files.move(p(src), d)
  }
  override def copy(src: String, dst: String): Unit = {
    val d = p(dst)
    if (d.getParent != null) Files.createDirectories(d.getParent)
    Files.copy(p(src), d,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  // a file written through Hadoop's checksummed local FS may carry a
  // `.<name>.crc` sibling (a write task killed before its commit
  // leaves one); it goes with its file, or the dir never empties
  override def delete(path: String): Boolean = {
    val f = p(path)
    if (f.getFileName != null)
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    Files.deleteIfExists(f)
  }
  override def deleteRecursive(path: String): Unit = {
    val root = p(path)
    if (Files.exists(root))
      closing(Files.walk(root))(_.iterator().asScala.toSeq).reverse
        .foreach(Files.deleteIfExists(_))
  }
  override def mtimeMs(path: String): Long =
    Files.getLastModifiedTime(p(path)).toMillis
  override def size(path: String): Long = Files.size(p(path))
}

/** Hadoop-FileSystem I/O for scheme'd paths. `confKVs` carries any
  * store credentials/endpoints and serializes to executors (the
  * `Configuration` itself does not); `file:` is pinned to
  * RawLocalFileSystem so dlv control files don't grow `.crc` siblings.
  */
final class HadoopIo(
    confKVs: Map[String, String] = Map.empty,
    store: CommitStore = new LinkCommitStore) extends DlvIo {

  @transient private lazy val conf: Configuration = {
    val c = new Configuration()
    confKVs.foreach { case (k, v) => c.set(k, v) }
    // AFTER confKVs: the crc-sibling-free local FS pin must win even
    // if the session conf carries its own fs.file.impl
    c.set("fs.file.impl",
      classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    c
  }
  override def hadoopConf: Configuration = conf
  private def hp(s: String) = new HPath(s)
  private def fs(p: HPath): FileSystem = p.getFileSystem(conf)

  override def child(dir: String, name: String): String =
    new HPath(hp(dir), name).toString
  override def relativize(root: String, path: String): String = {
    val r = hp(root).toUri.getPath.stripSuffix("/")
    val p = hp(path).toUri.getPath
    require(p.startsWith(r + "/"), s"$path not under $root")
    p.substring(r.length + 1)
  }
  override def relativizeUri(root: String, uri: String): String = {
    val r = hp(root).toUri.getPath.stripSuffix("/")
    val p = new java.net.URI(uri).getPath
    require(p.startsWith(r + "/"), s"$uri not under $root")
    p.substring(r.length + 1)
  }
  override def rawPathOfUri(uri: String): String =
    new HPath(new java.net.URI(uri)).toString
  override def qualified(path: String): String = {
    val p = hp(path)
    fs(p).makeQualified(p).toString
  }
  override def exists(path: String): Boolean = {
    val p = hp(path); fs(p).exists(p)
  }
  override def isDirectory(path: String): Boolean = {
    val p = hp(path)
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }
  override def readString(path: String): String = {
    val p = hp(path)
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def readHead(path: String, maxBytes: Int): String = {
    val p = hp(path)
    val in = fs(p).open(p)
    try new String(in.readNBytes(maxBytes),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def readLines(path: String): Seq[String] =
    readString(path).split("\n", -1).toSeq
  private def writeTo(p: HPath, content: String, overwrite: Boolean): Unit = {
    val out = fs(p).create(p, overwrite)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
  override def writeReplace(path: String, content: String): Unit = {
    val p = hp(path)
    val f = fs(p)
    if (f.getScheme == "file" || f.getScheme == "hdfs") {
      // rename publish; dst is either fresh (checkpoints are written
      // once) or a pure regex-parsed hint tolerant of a torn read
      val tmp = new HPath(p.getParent, s".${p.getName}.${
        java.util.UUID.randomUUID()}.tmp")
      writeTo(tmp, content, overwrite = true)
      if (f.exists(p)) f.delete(p, false)
      if (!f.rename(tmp, p)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    } else writeTo(p, content, overwrite = true) // object PUT: atomic
  }
  override def putIfAbsent(
      dir: String, name: String, content: String): Boolean = {
    val d = hp(dir)
    // the reflection-loaded SDK wrappers self-register when their SDK
    // is on the classpath (one-shot, no-op here otherwise) — a
    // deployment gets true conditional-PUT arbitration on s3/s3a/gs
    // without a registration call
    ObjectStoreClients.ensureAutoRegistered()
    // TRUE conditional PUT when the deployment registered the store's
    // SDK wrapper for this scheme: one server-side arbitration, safe
    // across processes AND machines — checked before any FileSystem
    // resolution so the client fully owns the publish
    ConditionalPut.clientFor(
        Option(d.toUri.getScheme).getOrElse("file")) match {
      case Some(client) =>
        // resolvedPut, not a raw putIfNoneMatch: a timeout/5xx after
        // the bytes were sent must be read back, not guessed at
        return ConditionalPut.resolvedPut(
          client,
          s"${dir.stripSuffix("/")}/$name",
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case None => ()
    }
    val f = fs(d)
    f.mkdirs(d)
    val dst = new HPath(d, name)
    f.getScheme match {
      case "file" =>
        // POSIX underneath: commit objects honor the injected arbiter
        // (CAS vs link models), everything else takes the hard link
        name match {
          case CommitStore.CommitFile(v) =>
            store.commit(Paths.get(d.toUri.getPath), v.toLong, content)
          case _ => AtomicPublish.putIfAbsent(
            Paths.get(d.toUri.getPath), name, content)
        }
      case "hdfs" =>
        // HDFS rename is atomic and fails (false) when dst exists
        if (f.exists(dst)) return false
        val tmp = new HPath(d, s".$name.${java.util.UUID.randomUUID()}.tmp")
        writeTo(tmp, content, overwrite = true)
        val won = f.rename(tmp, dst)
        if (!won) f.delete(tmp, false)
        won
      case _ =>
        // object store through the FS API: probe + publish under a
        // JVM monitor (see class doc for the conditional-PUT caveat)
        CasCommitStore.monitorFor(Paths.get(
          d.toUri.getSchemeSpecificPart)).synchronized {
          if (f.exists(dst)) false
          else { writeTo(dst, content, overwrite = false); true }
        }
    }
  }
  override def listNames(dir: String): Seq[String] = {
    val p = hp(dir)
    fs(p).listStatus(p).toSeq.map(_.getPath.getName)
  }
  override def listEntries(dir: String): Seq[DlvIo.Entry] = {
    val p = hp(dir)
    fs(p).listStatus(p).toSeq.map(s =>
      DlvIo.Entry(s.getPath.getName, s.isDirectory,
        if (s.isDirectory) 0L else s.getLen, s.getModificationTime))
  }
  override def walkFiles(dir: String): Seq[DlvIo.Entry] = {
    val p = hp(dir)
    val f = fs(p)
    val it = f.listFiles(p, true)
    val out = Seq.newBuilder[DlvIo.Entry]
    val rootPath = f.makeQualified(p).toUri.getPath.stripSuffix("/")
    while (it.hasNext) {
      val s = it.next()
      val sp = s.getPath.toUri.getPath
      out += DlvIo.Entry(sp.stripPrefix(rootPath + "/"), isDir = false,
        s.getLen, s.getModificationTime)
    }
    out.result()
  }
  override def mkdirs(dir: String): Unit = { val p = hp(dir); fs(p).mkdirs(p) }
  override def move(src: String, dst: String): Unit = {
    val s = hp(src); val d = hp(dst)
    val f = fs(d)
    if (d.getParent != null) f.mkdirs(d.getParent)
    if (!f.rename(s, d))
      throw new java.io.IOException(s"rename $s -> $d failed")
  }
  override def copy(src: String, dst: String): Unit = {
    val s = hp(src); val d = hp(dst)
    val sf = fs(s); val df = fs(d)
    if (d.getParent != null) df.mkdirs(d.getParent)
    val ok = org.apache.hadoop.fs.FileUtil.copy(
      sf, s, df, d, /*deleteSource=*/ false, /*overwrite=*/ true,
      df.getConf)
    if (!ok) throw new java.io.IOException(s"copy $s -> $d failed")
  }
  override def delete(path: String): Boolean = {
    val p = hp(path)
    val f = fs(p)
    // the pinned raw local FS leaves a checksum sibling (see NioIo)
    if (f.getScheme == "file" && p.getParent != null)
      f.delete(new HPath(p.getParent, s".${p.getName}.crc"), false)
    f.delete(p, false)
  }
  override def deleteRecursive(path: String): Unit = {
    val p = hp(path)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }
  override def mtimeMs(path: String): Long = {
    val p = hp(path); fs(p).getFileStatus(p).getModificationTime
  }
  override def size(path: String): Long = {
    val p = hp(path); fs(p).getFileStatus(p).getLen
  }
}
