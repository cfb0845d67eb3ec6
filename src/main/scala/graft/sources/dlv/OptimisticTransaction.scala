package graft.sources.dlv

/** Typed concurrency-control failures (the Delta-style taxonomy the
  * reference's tests 11/12 expect to see surfaced). */
sealed abstract class DlvConcurrentException(msg: String)
  extends RuntimeException(msg)
final class MetadataChangedException(msg: String)
  extends DlvConcurrentException(msg)
final class ProtocolChangedException(msg: String)
  extends DlvConcurrentException(msg)
final class ConcurrentAppendException(msg: String)
  extends DlvConcurrentException(msg)
final class ConcurrentDeleteReadException(msg: String)
  extends DlvConcurrentException(msg)
final class ConcurrentDeleteDeleteException(msg: String)
  extends DlvConcurrentException(msg)

/** Optimistic concurrency over the [[DlvIo.putIfAbsent]] publish: stage
  * everything, attempt the next version, and on losing a race replay
  * the winners' commits through the conflict matrix — retry only when
  * the concurrent commit provably cannot invalidate what this
  * transaction read or logically did:
  *
  * |our \ theirs  | add (blind) | remove       | metadata | protocol |
  * |blind append  | retry       | retry        | fail MC  | fail PC  |
  * |read-based    | fail CA*    | fail CDR/CDD | fail MC  | fail PC  |
  *
  * (* unless the adds land in partitions disjoint from everything the
  * transaction read — partition-level isolation, the property the
  * reference's test 12 exercises with per-worker partitions.)
  */
final class OptimisticTransaction(
    log: DlvLog, op: String,
    // package-private var: ops that learn a parameter AFTER pinning
    // the read version (DROP COLUMN's physical-name witness) amend it
    // pre-commit; nothing outside the format may rewrite provenance
    private[dlv] var params: Map[String, String] = Map.empty) {

  val readVersion: Long = if (log.exists) log.latestVersion else -1L

  /** Driver-side snapshot at [[readVersion]] — LAZY so a transaction
    * whose caller resolved table state through the DISTRIBUTED index
    * (DML discovery past the snapshot threshold) never materializes
    * the full file list on the driver. Callers on that path must set
    * [[protocolOverride]]; every other caller touches this on first
    * metadata access, exactly as before. */
  lazy val readSnapshot: Option[Snapshot] = {
    val s =
      if (readVersion >= 0) Some(log.snapshotAt(Some(readVersion)))
      else None
    s.foreach(sn => writerGate(sn.protocol))
    s
  }

  /** The protocol the writer gate validates when the caller resolved
    * state WITHOUT the driver snapshot (distributed DML) — set it
    * before commit, or the gate materializes [[readSnapshot]]. */
  var protocolOverride: Option[Protocol] = None

  // writer feature gate: refuse to commit against a table whose
  // protocol demands writer capabilities this library doesn't have —
  // a silent write could corrupt invariants a newer writer maintains
  private def writerGate(p: Protocol): Unit =
    require(p.minWriterVersion <= DlvLog.WRITER_VERSION,
      s"table ${log.tablePath} requires writer version " +
        s"${p.minWriterVersion}; this library supports " +
        s"${DlvLog.WRITER_VERSION} — upgrade before writing")

  private[dlv] def ensureGated(): Unit = protocolOverride match {
    case Some(p) => writerGate(p)
    case None => readSnapshot; () // materializing runs the gate
  }

  /** Files this transaction's result depends on (rewrites, deletes). */
  var readFilePaths: Set[String] = Set.empty
  /** Partitions this transaction read; None = whole table. */
  var readPartitions: Option[Set[Map[String, String]]] = Some(Set.empty)
  def setReadWholeTable(): Unit = readPartitions = None
  /** Refinement of a whole-table read: when set (and
    * [[readPartitions]] is None), a concurrent ADD conflicts only if
    * this predicate holds on its partition values — the scope a MERGE
    * derives from partition-constraining conjuncts of its condition
    * (rows outside them can never match, so concurrent adds there
    * cannot invalidate the match/non-match decisions). Removes stay
    * governed by the precise [[readFilePaths]] set. */
  var addConflictFilter: Option[AddFile => Boolean] = None
  /** Conflict with ANY concurrent remove — the whole-table file
    * dependency expressed WITHOUT materializing the path list
    * (distributed RESTORE depends on every current file but never
    * collects them). */
  private var anyRemoveConflicts = false
  def setConflictOnAnyRemove(): Unit = anyRemoveConflicts = true

  def commit(actions: Seq[Action], isBlindAppend: Boolean): Long = {
    ensureGated()
    val ourRemoves = actions.collect { case r: RemoveFile => r.path }.toSet
    // every commit that landed after our read snapshot must pass the
    // conflict matrix — whether it landed before our first attempt or
    // mid-retry makes no semantic difference
    var vetted = readVersion
    var attempts = 0
    while (attempts < 40) {
      attempts += 1
      val latest = log.latestVersion
      ((vetted + 1) to latest).foreach { wv =>
        log.commitActionsOf(wv).foreach {
          case _: Metadata => throw new MetadataChangedException(
            s"version $wv changed table metadata under $op")
          case _: Protocol => throw new ProtocolChangedException(
            s"version $wv changed the protocol under $op")
          case r: RemoveFile if !isBlindAppend =>
            if (anyRemoveConflicts || readFilePaths.contains(r.path))
              throw new ConcurrentDeleteReadException(
                s"version $wv removed ${r.path}, which $op read")
            if (ourRemoves.contains(r.path))
              throw new ConcurrentDeleteDeleteException(
                s"version $wv already removed ${r.path}")
          case a: AddFile if !isBlindAppend =>
            val conflicting = readPartitions match {
              case None => // whole table, modulo the scoped refinement
                addConflictFilter.forall(_(a))
              case Some(parts) => parts.contains(a.partitionValues)
            }
            if (conflicting)
              throw new ConcurrentAppendException(
                s"version $wv added ${a.path} in a partition $op read")
          case _ => ()
        }
      }
      vetted = latest
      val v = latest + 1
      // derived file/byte/row metrics, merged under any the caller
      // computed itself (caller-supplied keys win). ALL carrier
      // CommitInfos contribute — a commit can hold both a CDC carrier
      // (cdcPath, no metrics) and a metrics carrier.
      val callerMetrics = actions.collect {
        case c: CommitInfo => c.operationMetrics.getOrElse(Map.empty)
      }.foldLeft(Map.empty[String, String])(_ ++ _)
      val info = CommitInfo(v, System.currentTimeMillis(), op, params,
        isBlindAppend,
        cdcPath = actions.collect {
          case c: CommitInfo => c.cdcPath
        }.flatten.headOption,
        operationMetrics =
          Some(CommitInfo.metricsOf(actions) ++ callerMetrics))
      val payload = actions.filterNot(_.isInstanceOf[CommitInfo]) :+ info
      if (log.commit(v, payload)) return v
    }
    throw new IllegalStateException(
      s"$op could not commit after $attempts attempts")
  }
}
