package graft.sources.dlv

/** The table's current logical state at one version. */
final case class Snapshot(
    version: Long,
    metadata: Metadata,
    protocol: Protocol,
    files: Seq[AddFile],
    timestamp: Long) {
  def numFiles: Int = files.size
  def sizeInBytes: Long = files.map(_.size).sum
}

/** The dlv transaction log at `<table>/_dlv_log`: ordered immutable
  * JSON commits published through the [[DlvIo]] arbiter, replayed into
  * [[Snapshot]]s, compacted into JSON checkpoints every
  * [[DlvLog.CHECKPOINT_INTERVAL]] commits so replay cost is bounded by
  * the interval, not table age. `_last_checkpoint` names the newest
  * checkpoint; like LIST results it is a HINT — replay forward-probes
  * commits past it, so a stale pointer (eventually-consistent store)
  * costs extra reads, never wrong answers.
  *
  * All I/O goes through [[DlvIo]] — `gs://`/`s3a://`/`hdfs://` tables
  * work through [[HadoopIo]]; local paths keep the `java.nio`
  * hard-link arbiter.
  */
final class DlvLog(val tablePath: String, val io: DlvIo) {

  val logDir: String = io.child(tablePath, DlvTable.LOG_DIR)
  private def checkpointFile(v: Long): String =
    io.child(logDir, f"$v%020d.checkpoint.json")
  def checkpointParquetDir(v: Long): String =
    io.child(logDir, f"$v%020d.checkpoint.parquet")
  private def lastCheckpointFile: String =
    io.child(logDir, "_last_checkpoint")
  private[dlv] def sidecarsDir: String = io.child(logDir, "_sidecars")

  /** Qualified location of a checkpoint-manifest sidecar reference
    * (logDir-relative by contract; absolute tolerated). */
  private[dlv] def resolveCheckpointRef(ref: String): String =
    if (DlvLog.isAbsolutePath(ref)) io.qualified(ref)
    else io.qualified(io.child(logDir, ref))

  /** Absolute form of an [[AddFile.path]]. Table-relative paths (every
    * file this table wrote) resolve under the root; EXTERNAL absolute
    * paths — shallow-clone references into another table's files —
    * pass through untouched. One pass-through point keeps every read
    * surface (scan, DML, CDF, OPTIMIZE, RESTORE) clone-aware for
    * free; only VACUUM needs no awareness at all, because its
    * candidates come from LISTING under this root, which an external
    * file can never appear in. */
  def resolve(rel: String): String =
    if (DlvLog.isAbsolutePath(rel)) rel else io.child(tablePath, rel)
  /** Fully-qualified RAW path string (see [[DlvIo.qualified]]) — what
    * `hadoop.fs.Path(String)` and `DataFrameReader` paths expect. */
  def resolveQualified(rel: String): String = io.qualified(resolve(rel))
  def tableQualified: String = io.qualified(tablePath)

  def exists: Boolean = latestVersion >= 0

  /** Highest committed version, or -1. Listing is a hint; existence is
    * arbitrated by probes (eventually-consistent LIST may trail the
    * newest PUTs). */
  def latestVersion: Long = {
    val listed =
      if (!io.exists(logDir)) -1L
      else io.listNames(logDir)
        .collect { case CommitStore.CommitFile(v) => v.toLong }
        .foldLeft(-1L)(math.max)
    var v = listed + 1
    while (io.exists(io.child(logDir, CommitStore.fileName(v)))) v += 1
    v - 1
  }

  def commitActionsOf(v: Long): Seq[Action] =
    io.readLines(io.child(logDir, CommitStore.fileName(v)))
      .filter(_.nonEmpty).flatMap(Actions.fromJson)

  /** `f(v, actions)` over every commit `v` in `from..to`, results in
    * version order. The reads fan out over a bounded pool: each is one
    * small object, and a 10⁴-commit range on an object store at
    * ~20 ms/read would otherwise serialize into minutes of driver wall
    * time. `f` runs as each commit is read, so the caller keeps only
    * what it returns, never the whole range's actions. A commit missing
    * below the newest checkpoint is the log retention horizon
    * (DlvMaintenance.cleanupLog) — named, and probed only on failure. */
  def commitsIn[B](from: Long, to: Long)(
      f: (Long, Seq[Action]) => B): Seq[B] =
    DriverPar.map((from to to).toVector) { v =>
      val actions =
        try commitActionsOf(v)
        catch {
          case e: Exception
              if !io.exists(io.child(logDir, CommitStore.fileName(v))) =>
            throw new IllegalStateException(
              s"version $v of $tablePath predates the log retention " +
                s"horizon (commit $v was cleaned up)", e)
        }
      f(v, actions)
    }

  /** Publish `actions` as `version`; true if this writer won. Writes a
    * checkpoint afterwards when the interval divides the version.
    * The single choke point every schema change passes through —
    * reserved column names are enforced HERE so no surface (CREATE,
    * CONVERT, ADD COLUMNS, mergeSchema writes) can admit one: a user
    * column named `__dv_*` would collide with the deletion-vector
    * probe columns (`withColumn` REPLACES same-named columns, so DV
    * DML would silently write file paths into the user's column). */
  def commit(version: Long, actions: Seq[Action]): Boolean = {
    actions.foreach {
      case m: Metadata =>
        val bad = m.schema.fields.map(_.name).filter(_.startsWith("__dv_"))
        require(bad.isEmpty,
          s"column name(s) ${bad.mkString(", ")} use the reserved " +
            "'__dv_' prefix (deletion-vector probe columns)")
        // column-mapping consistency, enforced at the same choke point
        // so NO surface (ADD COLUMNS, mergeSchema, CREATE on existing
        // location) can admit a breaking state:
        //  - every physical key names a live column;
        //  - no two columns share an on-disk physical name (adding a
        //    column named like a renamed column's PHYSICAL name would
        //    make old files' bytes ambiguous between the two);
        //  - partition columns are never mapped
        val renames = DlvColMap.renames(m)
        val logicalLc = m.schema.fields.map(_.name.toLowerCase).toSet
        val orphan = renames.keys.filterNot(k =>
          logicalLc.contains(k.toLowerCase))
        require(orphan.isEmpty,
          s"column mapping references missing column(s): " +
            orphan.mkString(", "))
        val mappedPart = renames.keys.filter(k =>
          m.partitionColumns.exists(_.equalsIgnoreCase(k)))
        require(mappedPart.isEmpty,
          s"partition column(s) ${mappedPart.mkString(", ")} cannot " +
            "be column-mapped")
        val phys = m.schema.fields.map(f =>
          DlvColMap.physicalOf(m, f.name).toLowerCase)
        val dup = phys.groupBy(identity).collect {
          case (n, g) if g.size > 1 => n
        }
        require(dup.isEmpty,
          s"on-disk (physical) column name(s) ${dup.mkString(", ")} " +
            "would be shared by two columns — a column may not reuse " +
            "a renamed column's physical name")
      case _ => ()
    }
    // MONOTONIC commit timestamps (delta's in-commit-timestamp
    // contract): a writer whose clock runs behind another writer's
    // must not stamp version v with a timestamp EARLIER than v-1's —
    // TIMESTAMP AS OF resolves "latest version at-or-before ts", and
    // a non-monotonic history would make that set a non-prefix (a
    // travel that includes v but not v-1). Clamped at this one choke
    // point so every commit surface inherits it; the cost is one
    // small prior-commit read, paid only when the prior version
    // exists. Forward skew is accepted (monotonic beats accurate,
    // like delta): subsequent commits stamp prior+1 until the wall
    // clock catches up.
    val stamped =
      if (version == 0 || !actions.exists(_.isInstanceOf[CommitInfo]))
        actions
      else {
        val prevTs =
          try commitTimestamp(version - 1)
          catch { case scala.util.control.NonFatal(_) => Long.MinValue }
        actions.map {
          case c: CommitInfo if c.timestamp <= prevTs =>
            c.copy(timestamp = prevTs + 1)
          case a => a
        }
      }
    val content = stamped.map(Actions.toJson).mkString("\n") + "\n"
    val won = io.putIfAbsent(logDir, CommitStore.fileName(version), content)
    // the one best-effort catch of the checkpoint write: the commit is
    // already published, and a won commit must return true — whatever
    // the checkpoint does. A failed checkpoint only leaves this
    // interval without one; the next interval retries.
    if (won && version > 0 && version % DlvLog.checkpointInterval == 0)
      try writeCheckpoint(version)
      catch {
        case t: Throwable =>
          DlvLog.checkpointFailures.incrementAndGet()
          DlvLog.logger.warn(s"checkpoint of $tablePath at version " +
            s"$version failed; the commit stands", t)
      }
    won
  }

  /** A checkpoint holds the full logical state AND the accumulated
    * per-version [[CommitInfo]] history, so every read that needs
    * timestamps — DESCRIBE HISTORY, TIMESTAMP AS OF resolution — costs
    * O(CHECKPOINT_INTERVAL) object reads, not O(table age). Building
    * from the PREVIOUS checkpoint (not a from-zero replay) keeps the
    * checkpoint write itself O(interval) too.
    *
    * Two routes, chosen from ONE `_last_checkpoint` read by the same
    * evidence the read route uses
    * ([[DlvDistributedFileIndex.forVersion]]): when the hint names an
    * earlier PARQUET checkpoint at [[DlvLog.distributedSnapshotThreshold]]
    * live files or more, the sharded writer builds on it and never
    * materializes the file list; every other table goes through the
    * driver replay. A failure of either propagates to `commit`'s one
    * best-effort catch — no fall-through to the other route. */
  private def writeCheckpoint(version: Long): Unit = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val atScaleBase = lastCheckpointHint.filter(h =>
      h.version < version && DlvLog.atScale(h) &&
        isParquetCheckpoint(h.version))
    (session, atScaleBase) match {
      case (Some(spark), Some(prev)) =>
        writeShardedCheckpoint(spark, version, prev)
      case _ =>
        writeDriverCheckpoint(version, session)
    }
  }

  /** The driver-replay checkpoint: the full snapshot at `version`,
    * written by size — JSON below [[DlvLog.parquetCheckpointThreshold]]
    * (one cheap driver read, no job latency), columnar parquet above it
    * (10^5 AddFiles parse ~10× faster and the read can be distributed)
    * through the active session, which necessarily exists when a table
    * that big was just written. */
  private def writeDriverCheckpoint(
      version: Long,
      session: Option[org.apache.spark.sql.SparkSession]): Unit = {
    val snap = snapshotAt(Some(version))
    val actions: Seq[Action] =
      Seq(snap.protocol, snap.metadata) ++ historyAsc(version) ++ snap.files
    session match {
      case Some(spark)
          if snap.files.size >= DlvLog.parquetCheckpointThreshold =>
        stagePublishParquet(version, tmp =>
          DlvCheckpoint.writeParquet(spark, actions, tmp))
      case _ =>
        val content = actions.map(Actions.toJson).mkString("\n") + "\n"
        io.writeReplace(checkpointFile(version), content)
    }
    writeHint(version, snap.files.size, snap.sizeInBytes)
  }

  /** Point `_last_checkpoint` at a just-published checkpoint.
    * numFiles/sizeBytes are ROUTING/PLANNING hints (distributed-
    * snapshot threshold, checkpoint writer, relation size estimate),
    * not state: stale or absent → a suboptimal path choice, never a
    * wrong answer. */
  private def writeHint(version: Long, numFiles: Long, sizeBytes: Long)
      : Unit =
    io.writeReplace(lastCheckpointFile,
      s"""{"version":$version,"numFiles":$numFiles""" +
        s""","sizeBytes":$sizeBytes}""")

  /** Delta-v2-shaped SHARDED checkpoint write. The version's manifest
    * (`<v>.checkpoint.parquet`, same name → all discovery logic
    * unchanged) holds protocol/metadata/history plus sidecar
    * references; the AddFile population lives in immutable per-shard
    * parquet dirs under `_dlv_log/_sidecars/<job>/shard=<k>`, shard =
    * [[DlvCheckpoint.shardOf]](path). Only shards the tail commits
    * touched are rewritten (previous shard minus touched paths, plus
    * the tail's final adds); untouched shards carry their previous
    * reference forward verbatim — at 10^7 files and an interval's
    * worth of DML the write cost is O(interval × files-per-commit),
    * the last full-file-list object write in the lifecycle gone.
    *
    * Builds on `prev`, the hinted parquet checkpoint (classic or
    * sharded; a classic one converts here). Shard count targets
    * [[DlvLog.checkpointShardTargetAdds]] adds per shard and re-shards
    * (full rewrite, one interval) when the population drifts 4× out of
    * band. */
  private def writeShardedCheckpoint(
      spark: org.apache.spark.sql.SparkSession, version: Long,
      prev: DlvLog.CheckpointHint): Unit = {
    import org.apache.spark.sql.{Dataset, Encoders}
    import org.apache.spark.sql.functions.col
    val pc = prev.version
    val prevDir = io.qualified(checkpointParquetDir(pc))
    val prevRefs = DlvCheckpoint.sidecarRefs(spark, prevDir)
    val prevSharded = prevRefs.nonEmpty
    val prevAddRefs = prevRefs.filter(_.isAdd)
    // the writer routes here only on a hint that carries the count
    val prevCount: Long = prev.numFiles.getOrElse(0L)

    // tail replay — driver-bounded by the interval, the same bound
    // the distributed index's light-state derivation pays
    var metadata: Option[Metadata] = None
    var protocol: Option[Protocol] = None
    val touched =
      scala.collection.mutable.LinkedHashMap.empty[String, Option[AddFile]]
    val tailInfos =
      scala.collection.mutable.LinkedHashMap.empty[Long, CommitInfo]
    ((pc + 1) to version).foreach { cv =>
      commitActionsOf(cv).foreach {
        case m: Metadata => metadata = Some(m)
        case p: Protocol => protocol = Some(p)
        case f: AddFile => touched(f.path) = Some(f)
        case r: RemoveFile => touched(r.path) = None
        case c: CommitInfo => tailInfos(c.version) = c
      }
    }
    if (metadata.isEmpty || protocol.isEmpty) {
      // pruned read: metadata/protocol rows only, never the adds
      val (m0, p0) = DlvCheckpoint.readParquetMetaProtocol(spark, prevDir)
      metadata = metadata.orElse(m0)
      protocol = protocol.orElse(p0)
    }
    val meta = metadata.getOrElse(throw new IllegalStateException(
      s"no metadata in checkpoint $pc or its tail at $tablePath"))
    val proto = protocol.getOrElse(Protocol())

    val tailAdds = touched.values.flatten.toSeq
    // hint-grade estimate (a touched add replacing a checkpointed file
    // overcounts): sizes the shard count, never state
    val est = math.max(1L, prevCount +
      touched.valuesIterator.count(_.isDefined) -
      touched.valuesIterator.count(_.isEmpty))
    val target = DlvLog.checkpointShardTargetAdds
    val prevN = if (prevAddRefs.nonEmpty) prevAddRefs.head.numShards else 0
    val keepN = prevAddRefs.nonEmpty &&
      est <= prevN.toLong * target * 4 &&
      (prevN == 1 || est >= prevN.toLong * target / 4)
    val n =
      if (keepN) prevN
      else math.max(1, math.ceil(est.toDouble / target).toInt)
    val dirty: Set[Int] =
      if (!keepN) (0 until n).toSet
      else touched.keysIterator
        .map(DlvCheckpoint.shardOf(_, n)).toSet

    // immutable per-write job dir: concurrent checkpointers (v=10 and
    // v=20 racing) can never collide, and carried-forward references
    // stay valid because a published sidecar is never rewritten
    val jobRel = "_sidecars/" +
      f"$version%020d-${java.util.UUID.randomUUID().toString.take(8)}"

    // ── chunked HISTORY: immutable FULL chunks of H CommitInfos live
    // in sidecars and carry forward untouched; only the PARTIAL tail
    // chunk (≤ H rows, always containing `version`) rewrites inline in
    // the manifest — the history term of the checkpoint write drops
    // from O(table age) to O(H + chunks filled this interval), closing
    // the same O(-everything) hole the add shards closed. ──
    val H = DlvLog.historyChunkSize
    val wantFull = (version / H).toInt // chunks 0..wantFull-1 are full
    val carriedHist = prevRefs.filter(_.isHistory).filter(r =>
      r.numShards == H && r.shardId < wantFull && r.numFiles == H.toLong)
    val carriedIdx = carriedHist.map(_.shardId).toSet
    val missingChunks = (0 until wantFull).filterNot(carriedIdx)
    // per-version info source, cheapest first: this tail's own
    // CommitInfos; the prev manifest's INLINE rows (pruned read, no
    // chunks); a live commit read; and — rare fallback (H changed,
    // chunks reclaimed) — the prev checkpoint's full history. A
    // version resolvable nowhere aborts the checkpoint (`commit`
    // catches), never writes a hole into an immutable chunk.
    lazy val prevInline: Map[Long, CommitInfo] =
      if (!prevSharded) Map.empty
      else DlvCheckpoint.readManifestCommitInfos(spark, prevDir)
        .map(c => c.version -> c).toMap
    lazy val prevFull: Map[Long, CommitInfo] =
      DlvCheckpoint.readParquetCommitInfos(
        spark, prevDir, resolveCheckpointRef)
        .map(c => c.version -> c).toMap
    def infoAt(v: Long): CommitInfo =
      tailInfos.getOrElse(v, prevInline.getOrElse(v,
        (try Some(infoOf(v))
         catch { case scala.util.control.NonFatal(_) => None })
          .orElse(prevFull.get(v)).getOrElse(
            throw new IllegalStateException(
              s"history chunking cannot resolve CommitInfo $v"))))
    val newHistRefs = missingChunks.map { c =>
      val rows: Seq[Action] =
        (c.toLong * H until (c + 1).toLong * H).map(infoAt)
      val chunkRel = s"$jobRel/hist=$c"
      DlvCheckpoint.writeManifest(spark, rows, Nil,
        io.qualified(io.child(logDir, chunkRel)))
      DlvCheckpoint.SidecarRef(chunkRel, c, H, H.toLong, 0L, "history")
    }
    val histRefs = (carriedHist ++ newHistRefs).sortBy(_.shardId)
    val inlineInfos: Seq[Action] =
      (wantFull.toLong * H to version).map(infoAt)
    val small: Seq[Action] = Seq(proto, meta) ++ inlineInfos

    if (dirty.isEmpty && keepN) {
      // metadata-only tail: every add shard carries forward — the
      // manifest still rewrites (fresh inline history) but no shard
      // job runs
      stagePublishParquet(version, tmp =>
        DlvCheckpoint.writeManifest(spark, small,
          prevAddRefs ++ histRefs, tmp))
      writeHint(version, prevCount, prevAddRefs.map(_.sizeBytes).sum)
      return
    }

    val refByShard = prevAddRefs.map(r => r.shardId -> r).toMap
    val baseDirs: Seq[String] =
      if (prevAddRefs.nonEmpty && keepN)
        dirty.toSeq.sorted.flatMap(refByShard.get)
          .map(r => resolveCheckpointRef(r.path))
      else if (prevSharded)
        prevAddRefs.map(r => resolveCheckpointRef(r.path))
      else Seq(prevDir)
    val baseAdds: Dataset[AddFile] =
      if (baseDirs.isEmpty)
        spark.emptyDataset(Encoders.product[AddFile])
      else spark.read.schema(DlvCheckpoint.schema).parquet(baseDirs: _*)
        .filter(col("add").isNotNull).select(col("add.*"))
        .as[AddFile](Encoders.product[AddFile])
    val bc = spark.sparkContext.broadcast(touched.keySet.toSet)
    val kept = baseAdds.filter(f => !bc.value.contains(f.path))
    val newAdds =
      if (tailAdds.isEmpty) kept
      else kept.union(
        spark.createDataset(tailAdds)(Encoders.product[AddFile]))

    // add shards land under their own subdir: writeShards overwrites
    // its output dir, and the job's history chunks live beside it
    val counts = DlvCheckpoint.writeShards(spark, newAdds, n, dirty,
      io.qualified(io.child(logDir, s"$jobRel/add")))

    val addRefs: Seq[DlvCheckpoint.SidecarRef] =
      (0 until n).flatMap { k =>
        if (dirty(k)) {
          val shardRel = s"$jobRel/add/shard=$k"
          // a dirty shard emptied by the tail writes no dir → no ref
          if (io.exists(io.child(logDir, shardRel)))
            Some(DlvCheckpoint.SidecarRef(shardRel, k, n,
              counts.get(k).map(_._1).getOrElse(0L),
              counts.get(k).map(_._2).getOrElse(0L), "add"))
          else None
        } else refByShard.get(k)
      }
    stagePublishParquet(version, tmp =>
      DlvCheckpoint.writeManifest(spark, small, addRefs ++ histRefs, tmp))
    writeHint(version, addRefs.map(_.numFiles).sum,
      addRefs.map(_.sizeBytes).sum)
  }

  /** Stage-then-rename publish for parquet checkpoints: the
    * multi-second Spark job must never leave a half-written dir under
    * a checkpoint NAME — the listing fallback would read a partial
    * state. Temp dirs are dot-hidden (never match CheckpointFile);
    * stale ones from crashed writers are swept on the next successful
    * checkpoint — ONLY stale ones: a blanket sweep would delete
    * another concurrent writer's in-flight staging dir (two writers
    * checkpointing v=10 and v=20 at once) and silently drop its
    * checkpoint. Dir mtime refreshes as part files land, so an active
    * write never looks older than the grace period. */
  private def stagePublishParquet(
      version: Long, write: String => Unit): Unit = {
    val tmp = io.child(logDir,
      s".ckpt-tmp-${java.util.UUID.randomUUID()}")
    write(tmp)
    io.move(tmp, checkpointParquetDir(version))
    val now = System.currentTimeMillis()
    io.listNames(logDir).filter(_.startsWith(".ckpt-tmp-"))
      .map(n => io.child(logDir, n))
      .filter(p => (try now - io.mtimeMs(p) catch {
        case scala.util.control.NonFatal(_) => 0L
      }) > DlvLog.TMP_SWEEP_GRACE_MS)
      .foreach(io.deleteRecursive)
  }

  /** The `_last_checkpoint` hint. All fields are hints — version
    * readability is re-probed, numFiles/sizeBytes only route the
    * distributed-vs-driver snapshot decision and seed planning stats.
    * Pre-hint files (`{"version":N}` alone) parse with the counts
    * absent. */
  def lastCheckpointHint: Option[DlvLog.CheckpointHint] =
    if (!io.exists(lastCheckpointFile)) None
    else {
      val raw = io.readString(lastCheckpointFile)
      try {
        val j = org.json4s.jackson.JsonMethods.parse(raw)
        def long(field: String): Option[Long] = (j \ field) match {
          case org.json4s.JInt(n) => Some(n.toLong)
          case org.json4s.JLong(n) => Some(n)
          case _ => None
        }
        long("version").map(v =>
          DlvLog.CheckpointHint(v, long("numFiles"), long("sizeBytes")))
      } catch {
        case scala.util.control.NonFatal(_) =>
          // torn read (a streamed writeReplace on stores without atomic
          // replace): salvage the version — it is written FIRST — and
          // drop the counts; a hint failure must never fail a read,
          // the listing fallback covers a total loss
          "\\d+".r.findFirstIn(raw).map(_.toLong)
            .map(DlvLog.CheckpointHint(_, None, None))
      }
    }

  /** Newest checkpoint at or below `v` that passes `usable`: the hint
    * first, then a listing fallback (the hint may be stale, absent or
    * point past v). A caller that already read the hint passes it. */
  private[dlv] def checkpointAtOrBelow(
      v: Long, usable: Long => Boolean,
      hint: Option[DlvLog.CheckpointHint] = lastCheckpointHint)
      : Option[Long] =
    hint.map(_.version).filter(_ <= v).filter(usable).orElse {
      if (!io.exists(logDir)) None
      else io.listNames(logDir)
        .collect { case DlvLog.CheckpointFile(cv) => cv.toLong }
        .filter(_ <= v).filter(usable).maxOption
    }

  /** A PARQUET checkpoint — the only format the distributed snapshot
    * can plan from. */
  private[dlv] def isParquetCheckpoint(cv: Long): Boolean =
    io.exists(checkpointParquetDir(cv))

  /** A checkpoint this process can read. A parquet-only checkpoint is
    * unreadable without a SparkSession — session-less tooling falls
    * back to a full (checkpoint-free) replay, which is slower but
    * always correct. */
  private def isReadableCheckpoint(cv: Long): Boolean =
    io.exists(checkpointFile(cv)) ||
      (isParquetCheckpoint(cv) &&
        org.apache.spark.sql.SparkSession.getActiveSession.isDefined)

  // checkpoint objects are immutable once published — cache the last
  // one read so a snapshot+history pair (e.g. writeCheckpoint itself)
  // reads it once, not twice
  @volatile private var ckptCache: Option[(Long, Seq[Action])] = None

  private def readCheckpointActions(cv: Long): Seq[Action] =
    ckptCache match {
      case Some((v, as)) if v == cv => as
      case _ =>
        val as =
          if (io.exists(checkpointFile(cv)))
            io.readLines(checkpointFile(cv))
              .filter(_.nonEmpty).flatMap(Actions.fromJson)
          else
            DlvCheckpoint.readParquet(
              org.apache.spark.sql.SparkSession.active,
              io.qualified(checkpointParquetDir(cv)),
              resolveCheckpointRef)
        ckptCache = Some((cv, as))
        as
    }

  /** Only the checkpoint's CommitInfo actions — a cheap pre-filtered
    * read (line-substring for JSON, a pushed-down isNotNull for
    * parquet) so history/timestamp resolution never materializes a
    * million AddFiles on the driver. */
  private def readCheckpointCommitInfos(cv: Long): Seq[CommitInfo] =
    ckptCache match {
      case Some((v, as)) if v == cv =>
        as.collect { case c: CommitInfo => c }
      case _ =>
        if (io.exists(checkpointFile(cv)))
          io.readLines(checkpointFile(cv))
            .filter(_.contains("\"commitInfo\""))
            .flatMap(Actions.fromJson)
            .collect { case c: CommitInfo => c }
        else
          DlvCheckpoint.readParquetCommitInfos(
            org.apache.spark.sql.SparkSession.active,
            io.qualified(checkpointParquetDir(cv)),
            resolveCheckpointRef)
    }

  def snapshot(): Snapshot = snapshotAt(None)

  def snapshotAt(
      version: Option[Long], useCheckpoint: Boolean = true): Snapshot = {
    DlvLog.snapshotMaterializations.incrementAndGet()
    val latest = latestVersion
    require(latest >= 0, s"$tablePath is not a dlv table (empty log)")
    val v = version.getOrElse(latest)
    require(v <= latest && v >= 0,
      s"version $v out of range [0, $latest] for $tablePath")
    // validated cache: a stat probe on the version's commit file per
    // plan, plus a bounded head-read of the creation commit ONLY when
    // the stats match a cached entry (or a snapshot is stored) —
    // instead of a checkpoint-plus-tail replay per query plan. Probed
    // only when the cache is in play (useCheckpoint=false bypasses
    // both lookup and store).
    val probe =
      if (useCheckpoint) DlvLog.snapshotCache.probe(this, v) else None
    probe.flatMap(DlvLog.snapshotCache.get) match {
      case Some(s) => return s
      case None => ()
    }
    val ckpt =
      if (useCheckpoint) checkpointAtOrBelow(v, isReadableCheckpoint)
      else None
    val base: Seq[Action] = ckpt match {
      case Some(cv) => readCheckpointActions(cv)
      case None => Nil
    }
    val start = ckpt.map(_ + 1).getOrElse(0L)
    var metadata: Option[Metadata] = None
    var protocol: Protocol = Protocol()
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var ts = 0L
    def replay(a: Action): Unit = a match {
      case m: Metadata => metadata = Some(m)
      case p: Protocol => protocol = p
      case f: AddFile => files(f.path) = f
      case r: RemoveFile => files.remove(r.path)
      case c: CommitInfo => ts = math.max(ts, c.timestamp)
    }
    base.foreach(replay)
    (start to v).foreach { cv =>
      // a commit missing mid-replay means the version predates the
      // log-retention horizon (DlvMaintenance.cleanupLog) — name the
      // contract instead of surfacing an opaque missing-object read.
      // Probed only on FAILURE: the happy path pays no extra I/O.
      val actions =
        try commitActionsOf(cv)
        catch {
          case e: Exception
              if !io.exists(io.child(logDir, CommitStore.fileName(cv))) =>
            // distinguish the two ways a cleaned commit is reached:
            // a genuinely pre-horizon version, vs. the session-less
            // full-replay fallback on a parquet-checkpoint table
            // (where v itself may be CURRENT but the checkpoint that
            // covers it needs a SparkSession to read)
            val ckptAbove = io.listNames(logDir).collect {
              case DlvLog.CheckpointFile(x) => x.toLong
            }.exists(_ >= cv)
            if (ckptAbove &&
                org.apache.spark.sql.SparkSession.getActiveSession.isEmpty)
              throw new IllegalStateException(
                s"reading $tablePath without an active SparkSession " +
                  s"requires the parquet checkpoint covering commit " +
                  s"$cv (its preceding commits were reclaimed by log " +
                  "retention cleanup) — provide a session", e)
            throw new IllegalStateException(
              s"version $v of $tablePath predates the log retention " +
                s"horizon (commit $cv was cleaned up); time travel " +
                "below the newest checkpoint dies once cleanupLog " +
                "reclaims it", e)
        }
      actions.foreach(replay)
    }
    // reader feature gate: a table whose protocol demands reader
    // capabilities this library lacks must refuse loudly, not misread
    require(protocol.minReaderVersion <= DlvLog.READER_VERSION,
      s"table $tablePath requires reader version " +
        s"${protocol.minReaderVersion}; this library supports " +
        s"${DlvLog.READER_VERSION} — upgrade to read")
    val snap = Snapshot(v, metadata.getOrElse(
      throw new IllegalStateException(s"no metadata in log at $tablePath")),
      protocol, files.values.toSeq, ts)
    if (snap.files.size <= DlvLog.SNAPSHOT_CACHE_FILE_LIMIT)
      probe.foreach(DlvLog.snapshotCache.put(_, snap))
    snap
  }

  /** Version whose commit timestamp is the latest at or before `ts` —
    * the TIMESTAMP AS OF resolution rule. Timestamps come from the
    * checkpoint-embedded history + tail commits: O(interval) reads,
    * not a serial scan of every commit object. */
  def versionAtTimestamp(ts: Long): Long = {
    val versions = historyAsc(latestVersion).map(c => c.version -> c.timestamp)
    versions.filter(_._2 <= ts).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $ts (earliest: " +
          s"${versions.headOption.map(_._2)})"))
  }

  /** Earliest version whose commit timestamp is at or after `ts` — the
    * batch change-feed `startingTimestamp` rule (changes committed at
    * or after the instant, delta's contract — NOT the TIMESTAMP AS OF
    * at-or-before rule). None = `ts` is past the latest commit. */
  def versionAtOrAfterTimestamp(ts: Long): Option[Long] =
    historyAsc(latestVersion).find(_.timestamp >= ts).map(_.version)

  def commitTimestamp(v: Long): Long =
    // string-filter to the commitInfo line(s) before any JSON parse:
    // this runs on every commit (the monotonic clamp) and on history
    // resolution, and a big DML commit carries 10^5 add/remove lines
    // that would otherwise each pay a full parse
    io.readLines(io.child(logDir, CommitStore.fileName(v)))
      .iterator
      .filter(_.contains("\"commitInfo\""))
      .flatMap(Actions.fromJson)
      .collectFirst { case c: CommitInfo => c.timestamp }
      .getOrElse(io.mtimeMs(io.child(logDir, CommitStore.fileName(v))))

  private def infoOf(v: Long): CommitInfo =
    commitActionsOf(v).collectFirst { case c: CommitInfo => c }
      .getOrElse(CommitInfo(v, commitTimestamp(v), "UNKNOWN",
        Map.empty, isBlindAppend = false))

  /** Ascending per-version CommitInfo for 0..v: the last checkpoint's
    * embedded history plus the tail commits. Versions a (legacy,
    * history-less) checkpoint doesn't carry degrade to direct commit
    * reads — correctness never depends on the checkpoint's contents. */
  private def historyAsc(v: Long): Seq[CommitInfo] = {
    val fromCkpt: Map[Long, CommitInfo] =
      checkpointAtOrBelow(v, isReadableCheckpoint) match {
        case Some(cv) =>
          readCheckpointCommitInfos(cv).map(c => c.version -> c).toMap
        case None => Map.empty
      }
    (0L to v).map(cv => fromCkpt.getOrElse(cv, infoOf(cv)))
  }

  /** Reverse-chronological commit history (DESCRIBE HISTORY) —
    * checkpoint + tail, O(interval) object reads. */
  def history: Seq[CommitInfo] =
    historyAsc(latestVersion).reverse
}

object DlvLog {
  val CHECKPOINT_INTERVAL = 10

  /** Commits between checkpoints (sysprop-overridable so gates/specs
    * can exercise multi-interval lifecycles cheaply). */
  def checkpointInterval: Int =
    sys.props.get("graft.dlv.checkpointInterval")
      .map(_.toInt).getOrElse(CHECKPOINT_INTERVAL)

  /** Is this [[AddFile.path]] EXTERNAL — an absolute reference into
    * another table's files (shallow clone) rather than table-relative?
    * Table-relative paths never start with `/` (they are produced by
    * `relativize`) and never carry a scheme, so the two forms cannot
    * collide. */
  def isAbsolutePath(p: String): Boolean =
    p.startsWith("/") || SCHEME_RE.pattern.matcher(p).find()
  /** A URI scheme prefix (`s3a://…`, and the single-slash `file:/…`
    * form hadoop `Path.toString` produces). Anchored at the head; a
    * relative segment can't contain `:` before its first `/` in any
    * path `relativize` produces. */
  private val SCHEME_RE = "^[A-Za-z][A-Za-z0-9+.-]*:/".r

  /** Materialized snapshots of the last few (table, version) reads.
    * Entry count is kept small because each entry holds a full AddFile
    * list (the driver-side design point is ~250 MB at 10^5 files);
    * tables past the distributed threshold never reach this cache's
    * callers for data reads anyway ([[DlvDistributedFileIndex]]). */
  private val SNAPSHOT_CACHE_MAX = 4
  private[dlv] val snapshotCache =
    new ValidatedLru[Snapshot](SNAPSHOT_CACHE_MAX)
  /** Snapshots with more live files than this are not cached: four
    * pinned 10^5-AddFile lists would quadruple the documented
    * driver-state bound, and tables that large plan reads through the
    * distributed index anyway — the cache exists for the many small
    * metadata re-reads (DML planning, SQL statements, history), not
    * for pinning the biggest states. */
  private[dlv] val SNAPSHOT_CACHE_FILE_LIMIT = 20000

  /** Parsed `_last_checkpoint` contents — see
    * [[DlvLog.lastCheckpointHint]]. */
  final case class CheckpointHint(
      version: Long, numFiles: Option[Long], sizeBytes: Option[Long])

  /** Count of driver-side snapshot materializations ([[DlvLog
    * .snapshotAt]] calls — every one returns a FULL in-memory file
    * list, cache hit or replay). Observability only: the scale specs
    * assert distributed-routed DML performs ZERO of these. */
  val snapshotMaterializations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of checkpoint writes that failed after their commit won
    * ([[DlvLog.commit]]'s best-effort catch, which also logs each one
    * at WARN). A table whose checkpoints keep failing replays from an
    * older checkpoint on every read. */
  val checkpointFailures =
    new java.util.concurrent.atomic.AtomicLong(0)

  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[DlvLog])

  /** Protocol capabilities this library implements — the feature gate
    * [[Snapshot]] replay and [[OptimisticTransaction]] enforce against
    * a table's [[Protocol]] action (delta's reader/writer-version
    * contract). Version 2 = deletion vectors: a reader below it would
    * resurrect soft-deleted rows, so the first DV write bumps the
    * table's protocol and pre-DV readers refuse loudly. Tables never
    * touched by a vector stay at (1, 1). */
  val READER_VERSION = 3
  val WRITER_VERSION = 4
  val DV_READER_VERSION = 2
  val DV_WRITER_VERSION = 2
  /** Tables with CHECK constraints demand this writer version: a
    * writer that would not enforce them must refuse instead of
    * silently breaking the invariant (delta gates constraints behind
    * a writer feature the same way). */
  val CONSTRAINTS_WRITER_VERSION = 3
  /** Tables with RENAMED columns (column mapping, [[DlvColMap]])
    * demand these: a reader that would not translate physical →
    * logical would serve stale column names; a writer that would not
    * map would write logical-named files a translating reader then
    * nulls out. The first RENAME COLUMN bumps; tables never renamed
    * stay below. */
  val CM_READER_VERSION = 3
  val CM_WRITER_VERSION = 4
  val CheckpointFile = "(\\d{20})\\.checkpoint\\.(?:json|parquet)".r

  /** Age before a crashed writer's `.ckpt-tmp-*` staging dir becomes
    * sweepable — generous vs. any real checkpoint job duration
    * (sysprop-overridable so specs can exercise the sweep). */
  def TMP_SWEEP_GRACE_MS: Long =
    sys.props.get("graft.dlv.ckptTmpSweepGraceMs")
      .map(_.toLong).getOrElse(60L * 60 * 1000)

  /** Live-file count (from the `_last_checkpoint` hint) at or above
    * which the driver no longer holds the file list: reads plan through
    * the Dataset-backed [[DlvDistributedFileIndex]] instead of
    * materializing every AddFile, and interval checkpoints go to the
    * SHARDED writer ([[DlvLog.writeShardedCheckpoint]], write cost
    * O(changed shards) instead of O(file list)). The default sits above
    * the measured driver-side design point (10^5 files ≈ 250 MB heap,
    * SURVEY §4); sysprop-overridable so specs can force both paths. */
  def distributedSnapshotThreshold: Long =
    sys.props.get("graft.dlv.distributedSnapshotThreshold")
      .map(_.toLong).getOrElse(200000L)

  /** Does this hint describe a table past
    * [[distributedSnapshotThreshold]]? A hint without counts does not. */
  private[dlv] def atScale(h: CheckpointHint): Boolean =
    h.numFiles.exists(_ >= distributedSnapshotThreshold)

  /** AddFile count above which checkpoints switch to columnar parquet
    * (sysprop-overridable so specs can force the parquet path). */
  def parquetCheckpointThreshold: Int =
    sys.props.get("graft.dlv.parquetCheckpointThreshold")
      .map(_.toInt).getOrElse(10000)

  /** Target AddFiles per sidecar shard — shard count =
    * ceil(files/target), re-sharded when the population drifts 4× out
    * of band. 100k ≈ the documented driver design point per object;
    * a 10^7-file table gets ~100 shards. */
  def checkpointShardTargetAdds: Long =
    sys.props.get("graft.dlv.checkpointShardTarget")
      .map(_.toLong).getOrElse(100000L)

  /** CommitInfos per immutable history chunk in a sharded checkpoint:
    * a chunk becomes a carried-forward sidecar once every version in
    * it is below the manifest's own; the partial tail chunk stays
    * inline. At 10^6 commits the manifest rewrite carries ≤ this many
    * history rows instead of all of them. */
  def historyChunkSize: Int =
    sys.props.get("graft.dlv.checkpointHistoryChunk")
      .map(_.toInt).getOrElse(1000)

  def forTable(path: String): DlvLog = new DlvLog(path, DlvIo.forPath(path))
}
