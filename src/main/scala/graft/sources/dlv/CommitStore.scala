package graft.sources.dlv

import java.nio.file.{FileAlreadyExistsException, Files, Path}

/** Commit object names. A dlv commit is one immutable object at
  * `<logDir>/<%020d>.json`; whoever materializes version v first wins,
  * and a loser must observe a fully-written object, never a partial
  * one. Publishing is [[DlvIo.putIfAbsent]], which picks the arbiter
  * from the path's scheme: [[AtomicPublish]] on a local filesystem, a
  * registered [[ConditionalPutClient]] on an object store.
  *
  * Version DISCOVERY (listing + forward-probe) lives in
  * `DlvLog.latestVersion`: object-store listings are eventually
  * consistent, so it does not trust a listing alone. */
object CommitStore {
  val CommitFile = "(\\d{20})\\.json".r
  def fileName(version: Long): String = f"$version%020d.json"
}

/** Atomic no-replace publish on a POSIX filesystem: the arbiter behind
  * [[NioIo]] and [[HadoopIo]]'s `file:` branch, for commits and every
  * other put-if-absent object.
  *
  * NOT a plain rename: POSIX `rename(2)` (what `Files.move(...,
  * ATOMIC_MOVE)` compiles down to) silently REPLACES an existing
  * destination, so two racing writers would both "win" the same
  * version and one commit would vanish — exactly the lost-update the
  * commit protocol exists to prevent (it cost this suite a flaky
  * concurrent-append gate before the hard link landed).
  * `Files.createLink` is the POSIX operation with HDFS-rename
  * semantics: it either creates the name or throws
  * `FileAlreadyExistsException`, atomically, with the content already
  * fully staged.
  *
  * Filesystems WITHOUT hard links (FAT/exFAT, some NFS mounts,
  * certain container overlays) throw `UnsupportedOperationException`
  * instead of arbitrating — on those we degrade to exists-probe +
  * ATOMIC_MOVE under a JVM-wide per-dir monitor (same-process races
  * stay safe; the cross-process no-replace guarantee is only as strong
  * as the filesystem, which is the best any engine can do there). */
object AtomicPublish {
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The JVM-wide publish monitor for one directory `key` — shared by
    * the no-hard-link fallback here and [[HadoopIo]]'s object-store
    * probe-and-write. */
  private[dlv] def monitorFor(key: String): Object =
    monitors.computeIfAbsent(key, _ => new Object)

  def putIfAbsent(dir: Path, name: String, content: String): Boolean = {
    Files.createDirectories(dir)
    val dst = dir.resolve(name)
    if (Files.exists(dst)) return false
    val tmp = Files.createTempFile(dir, s".$name-", ".tmp")
    try {
      Files.writeString(tmp, content) // fully staged before visibility
      try {
        Files.createLink(dst, tmp) // atomic: the link lands or throws
        true
      } catch {
        case _: FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          monitorFor(dir.toAbsolutePath.toString).synchronized {
            if (Files.exists(dst)) false
            else {
              Files.move(tmp, dst,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              true
            }
          }
      }
    } finally Files.deleteIfExists(tmp)
  }
}

/** Server-side conditional PUT — the capability real object stores
  * expose (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`) that the
  * HDFS FileSystem API cannot: one PUT that atomically creates the
  * object iff absent, arbitrated BY THE STORE. With it, commit
  * publication needs no probe+monitor emulation — exactly-one-winner
  * holds across processes and machines, which the JVM-monitor fallback
  * can never promise (the reference's actual deployment is a GCS
  * bucket, `validation_suite.py:883-930`; this is the contract a
  * production wrapper of the bucket SDK implements). */
trait ConditionalPutClient extends Serializable {
  /** PUT `content` at `key` iff no object exists there. Atomic
    * server-side; true = created, false = precondition failed (the
    * store's 412 — DEFINITIVE: some object already owns the key). On
    * false/throw no partial object may be visible — real stores
    * guarantee this natively (a failed PUT writes nothing).
    *
    * Failure taxonomy a wrapper must honor (this is the whole SDK
    * contract — everything else is the arbiter's job):
    *   - HTTP 412 / `ifGenerationMatch` miss → return false.
    *   - Any outcome-UNKNOWN failure — request timeout, connection
    *     reset after the bytes were sent, 5xx — → throw
    *     [[AmbiguousPutException]]. Never map these to false: the PUT
    *     may have landed, and a false here would let the writer treat
    *     its OWN commit as a foreign conflict (or retry the version
    *     and duplicate it). [[ConditionalPut.resolvedPut]] resolves
    *     the ambiguity by reading the key back.
    *   - Definitive request-never-ran failures (DNS, 403) may throw
    *     anything else; they propagate to the caller unresolved. */
  def putIfNoneMatch(key: String, content: Array[Byte]): Boolean

  /** Read the object at `key`. Must be read-after-write consistent
    * with this store's PUTs (S3 and GCS both guarantee this) — the
    * ambiguity resolution in [[ConditionalPut.resolvedPut]] leans on
    * it. */
  def get(key: String): Option[Array[Byte]]
}

/** A conditional PUT whose OUTCOME IS UNKNOWN: the request timed out,
  * the connection died after the bytes were sent, or the store
  * answered 5xx. The object may or may not exist. SDK wrappers throw
  * this (and only this) for such failures; the arbiter resolves it by
  * reading the key back — wrappers never guess. */
final class AmbiguousPutException(message: String, cause: Throwable = null)
    extends java.io.IOException(message, cause)

/** In-memory object store honoring if-none-match — the protocol stub
  * the race property runs against. `putIfAbsent` on a concurrent map
  * IS the server-side generation check: atomic, no probe window. */
final class InMemoryObjectStore extends ConditionalPutClient {
  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
  override def putIfNoneMatch(
      key: String, content: Array[Byte]): Boolean =
    objects.putIfAbsent(key, content) == null
  override def get(key: String): Option[Array[Byte]] =
    Option(objects.get(key))
  def keys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala.toSeq
  }
}

/** Scheme → conditional-PUT client registry. A deployment registers
  * its bucket SDK wrapper (`ConditionalPut.register("gs", ...)`) and
  * [[HadoopIo]]'s put-if-absent publishes route through the store's
  * own arbitration; unregistered schemes keep the probe+monitor
  * fallback — parity with delta-spark's documented LogStore caveat,
  * now opt-out instead of unconditional. */
object ConditionalPut {
  private val clients = new java.util.concurrent.ConcurrentHashMap[
    String, ConditionalPutClient]()
  def register(scheme: String, client: ConditionalPutClient): Unit = {
    clients.put(scheme, client)
    ()
  }
  def unregister(scheme: String): Unit = {
    clients.remove(scheme)
    ()
  }
  def clientFor(scheme: String): Option[ConditionalPutClient] =
    Option(clients.get(scheme))

  /** Bounded retries before an unresolvable ambiguity is surfaced.
    * Attempts back off exponentially ([[backoffMs]]: 50 ms doubling
    * to 400 ms, 750 ms total) — enough to ride out a transient store
    * brown-out without turning a real outage into an unbounded
    * commit stall. */
  val MaxResolveAttempts = 5

  /** Sleep before attempt `n` (the second attempt is n=2; the first
    * never waits). Jitterless doubling is deliberate: commit racers
    * are already serialized by the store's precondition, so
    * synchronized retries cost nothing here. */
  private[dlv] def backoffMs(attempt: Int): Long =
    if (attempt <= 1) 0L else 50L << math.min(attempt - 2, 4)

  /** Conditional PUT with AMBIGUITY RESOLUTION — the arbitration a
    * real object store actually requires, beyond the happy-path
    * true/false (the reference deploys on a GCS bucket,
    * validation_suite.py:883-930, where every one of these failure
    * shapes is live):
    *
    *   - PUT true → won. PUT false on the FIRST attempt → a 412 with
    *     no prior ambiguity: definitive loss.
    *   - PUT throws [[AmbiguousPutException]] (timeout / 5xx / reset
    *     after send) → GET the key. Our bytes → our PUT landed before
    *     the failure: we WON. Someone else's bytes → lost. Absent →
    *     nothing landed yet; retry the PUT.
    *   - PUT false on a RETRY → the 412 may come from our own ZOMBIE
    *     first PUT, still in flight when the GET saw absence and
    *     landing after it — resolve by content again instead of
    *     reporting a loss to ourselves.
    *   - Attempts exhausted with the key still absent → rethrow the
    *     ambiguity. The caller must NOT assume either outcome (a
    *     guessed false double-commits the version on retry; a guessed
    *     true loses the commit) — surfacing is the only safe answer.
    *
    * Content-compare is sound because commit payloads are writer-
    * distinct by construction: every data commit references staged
    * files whose names carry fresh UUIDs (DlvTable.stageFiles), and
    * CommitInfo stamps a per-writer wall-clock. (Delta's S3 commit
    * coordinator resolves the same ambiguity the same way.) */
  def resolvedPut(
      client: ConditionalPutClient, key: String,
      content: Array[Byte]): Boolean = {
    var ambiguous: AmbiguousPutException = null
    var attempt = 0
    while (attempt < MaxResolveAttempts) {
      attempt += 1
      val pause = backoffMs(attempt)
      if (pause > 0) Thread.sleep(pause)
      val put =
        try Some(client.putIfNoneMatch(key, content))
        catch {
          case e: AmbiguousPutException => ambiguous = e; None
        }
      put match {
        case Some(true) => return true
        case Some(false) =>
          // first-attempt 412 is definitive; a retry's 412 may be our
          // own zombie PUT landing late — check whose bytes won
          return ambiguous != null && ours(client, key, content)
        case None =>
          client.get(key) match {
            case Some(landed) =>
              return java.util.Arrays.equals(landed, content)
            case None => () // nothing visible — retry the PUT
          }
      }
    }
    throw ambiguous
  }

  private def ours(
      client: ConditionalPutClient, key: String,
      content: Array[Byte]): Boolean =
    client.get(key).exists(java.util.Arrays.equals(_, content))
}
