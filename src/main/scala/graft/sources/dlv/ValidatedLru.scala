package graft.sources.dlv

import scala.util.control.NonFatal

/** Bounded LRU of state derived from one (tablePath, version). A
  * version's state is immutable once committed, so a hit is exact —
  * EXCEPT a table deleted and re-created at the same path, which
  * rewrites early commits; every hit therefore re-validates against a
  * [[ValidatedLru.Fingerprint]] (one stat probe + one tiny creation-
  * commit read vs. a full checkpoint-plus-tail replay). One class
  * serves the driver snapshot cache ([[DlvLog]]) and the distributed
  * index's light-state cache ([[DlvDistributedFileIndex]]).
  *
  * Every failure of the cache's own IO is a miss (lookup) or a no-op
  * (store) — NonFatal only: an interrupt (query cancel) must
  * propagate, not be swallowed into a full state derivation. */
private[dlv] final class ValidatedLru[V](capacity: Int) {
  import ValidatedLru.{Fingerprint, Probe}

  private val lru =
    new java.util.LinkedHashMap[(String, Long), (Fingerprint, V)](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (Fingerprint, V)])
          : Boolean = size() > capacity
    }

  /** The stat probe on `version`'s commit file — None when it fails
    * (a racing delete), and such a read neither hits nor stores. */
  def probe(log: DlvLog, version: Long): Option[Probe] =
    try {
      val cf = log.io.child(log.logDir, CommitStore.fileName(version))
      Some(new Probe(log, version, log.io.size(cf), log.io.mtimeMs(cf)))
    } catch { case NonFatal(_) => None }

  /** Lookup with two-stage validation: stat pair first (no IO beyond
    * the probe), creation hash only when the stats match. Stale entries
    * are evicted rather than left for the access-ordered get to
    * promote. A racing delete between the stat and the head read is a
    * miss, never a failed read. */
  def get(p: Probe): Option[V] =
    try {
      lru.synchronized(Option(lru.get(p.key))) match {
        case Some((fp, v)) if fp.size == p.size && fp.mtimeMs == p.mtimeMs =>
          // the head read runs OUTSIDE the lock; a racing eviction of a
          // just-replaced entry is benign (the next call re-derives)
          if (fp.createKey == p.createKey) Some(v)
          else { remove(p.key); None }
        case Some(_) => remove(p.key); None
        case None => None
      }
    } catch { case NonFatal(_) => None }

  def put(p: Probe, v: V): Unit =
    try put(p.key, Fingerprint(p.size, p.mtimeMs, p.createKey), v)
    catch { case NonFatal(_) => () }

  private[dlv] def put(key: (String, Long), fp: Fingerprint, v: V): Unit =
    lru.synchronized { lru.put(key, (fp, v)); () }

  private def remove(key: (String, Long)): Unit =
    lru.synchronized { lru.remove(key); () }
}

private[dlv] object ValidatedLru {

  /** Validation fingerprint: the version commit's (size, mtime) — a
    * cheap stat catching out-of-contract rewrites — plus a content hash
    * over the HEAD of the CREATION commit, whose leading Metadata
    * action carries the table's fresh UUID: a table deleted and
    * re-created at the same path can match the stat pair (same schema →
    * same byte length, coarse mtime granularity on object stores) but
    * never the creation hash. The head bound matters: a CONVERT-adopted
    * table's creation commit carries its whole AddFile list (can be
    * tens of MB), and the UUID-bearing Protocol/Metadata lines come
    * first — hashing [[CREATE_KEY_HEAD_BYTES]] captures them without an
    * unbounded read. */
  final case class Fingerprint(size: Long, mtimeMs: Long, createKey: String)

  val CREATE_KEY_HEAD_BYTES: Int = 64 * 1024

  /** One read's stat pair on its version commit. The creation hash is
    * LAZY and forced at most once per read: only when a lookup's stat
    * pair already matches, or when a value is actually stored —
    * never-cached tables pay only the stat probe per plan. */
  final class Probe private[ValidatedLru] (
      log: DlvLog, version: Long, val size: Long, val mtimeMs: Long) {
    val key: (String, Long) = (log.tablePath, version)
    lazy val createKey: String = contentKey(log.io.readHead(
      log.io.child(log.logDir, CommitStore.fileName(0L)),
      CREATE_KEY_HEAD_BYTES))
  }

  private def contentKey(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }
}
