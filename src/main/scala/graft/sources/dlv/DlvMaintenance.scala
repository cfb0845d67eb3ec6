package graft.sources.dlv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Table maintenance: VACUUM (physically delete unreferenced data
  * files past retention) and OPTIMIZE (bin-pack small files, optional
  * Z-ORDER clustering), mirroring `validation_suite.py`'s tests 9-10.
  */
object DlvMaintenance {

  /** Directory-listing fan-out threshold: above this many partition
    * dirs the listing runs as a Spark job over the dirs (an object
    * store at 100 TB has millions of partition dirs; the driver lists
    * none of them serially). */
  val DISTRIBUTED_LISTING_THRESHOLD = 64

  /** One vacuum pass's reclamation, population by population: data
    * files deleted/kept (one candidate set) and deletion-vector
    * sidecar objects swept (a separate `_dlv_log/_dv` population —
    * folding it into the data-file count skewed any caller comparing
    * deleted against candidates). */
  final case class VacuumStats(
      deletedDataFiles: Long, keptDataFiles: Long,
      sweptDvSidecars: Long,
      /** Reclaim candidates a REGISTERED shallow clone still
        * references — reported by DRY RUN; a non-dry vacuum REFUSES
        * while any exist (see [[VACUUM_IGNORE_CLONES_PROP]]). */
      strandedCloneFiles: Long = 0L)

  /** Opt-out for the shared-fate clone guard: set true to let VACUUM
    * reclaim files registered clones still reference (delta's
    * documented shallow-clone caveat, restored verbatim). */
  val VACUUM_IGNORE_CLONES_PROP = "graft.dlv.vacuumIgnoreClones"

  /** A clone's references into the vacuumed root: a driver Set for
    * small clones, a distributed Dataset for clones past the
    * distributed-snapshot threshold (their file list must never land
    * on the driver — the same bound every other read path honors). */
  private[dlv] sealed trait CloneRefs
  private[dlv] final case class DriverRefs(refs: Set[String])
    extends CloneRefs
  private[dlv] final case class DistRefs(
      ds: org.apache.spark.sql.Dataset[String]) extends CloneRefs

  /** Registered shallow clones of `l`'s table and the files UNDER ITS
    * ROOT their current snapshots still reference (root-relative).
    * The name registry is the only clone census available — clones
    * addressed by bare path stay the documented caveat. Cost: one
    * version-0 CommitInfo read per registered table; state resolves
    * only for tables born as clones (of ANY source — a transitive
    * clone references the base while naming the intermediate clone as
    * its source), and a PAST-THRESHOLD clone's scan stays a
    * distributed filter (absolute-ref ∧ under-root evaluated
    * executor-side) — the driver never materializes its file list. */
  private[dlv] def cloneExternalRefs(
      spark: SparkSession, l: DlvLog): Seq[(String, CloneRefs)] = {
    if (sys.props.get(VACUUM_IGNORE_CLONES_PROP)
        .exists(_.equalsIgnoreCase("true"))) return Nil
    val io = l.io
    val rootQ = io.qualified(l.tablePath).stripSuffix("/")
    val prefix = rootQ + "/"
    sql.DlvRegistry.list(spark).flatMap { case (name, p) =>
      try {
        val cl = DlvTable.log(p)
        if (!cl.exists ||
          io.qualified(cl.tablePath).stripSuffix("/") == rootQ) None
        else if (!cl.commitActionsOf(0).exists {
          // Any clone may carry absolute refs under THIS root, not
          // just direct clones: a shallow clone of a shallow clone
          // keeps the BASE table's absolute paths while its v0
          // CommitInfo names the intermediate clone as source. So the
          // census keeps only the cheap "born as a clone" filter and
          // lets the ref scan below decide whose files are at stake.
          case ci: CommitInfo => ci.operation == "CLONE"
          case _ => false
        }) None
        else DlvDistributedFileIndex.forVersion(
            spark, cl, None, statsSkipping = false) match {
          case Some(idx) =>
            // the ref scan runs WHERE the clone's state lives; only
            // under-root survivors would ever be collected, and the
            // guard never collects them at all (it joins/broadcasts)
            val clIo = cl.io
            Some(name -> DistRefs(idx.livePathsDS
              .filter(ref => DlvLog.isAbsolutePath(ref) &&
                clIo.qualified(ref).startsWith(prefix))
              .map(ref => clIo.qualified(ref).substring(prefix.length))(
                org.apache.spark.sql.Encoders.STRING)))
          case None =>
            val refs = cl.snapshot().files.iterator.map(_.path)
              .filter(DlvLog.isAbsolutePath)
              .map(io.qualified)
              .filter(_.startsWith(prefix))
              .map(_.substring(prefix.length))
              .toSet
            if (refs.isEmpty) None else Some(name -> DriverRefs(refs))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Fire the shared-fate guard: `strandedOf` counts the doomed ∩
    * clone-referenced files per clone, `sampleOf` names a few. DRY
    * RUN reports the total; a real vacuum throws BEFORE any delete. */
  private def guardClones(
      l: DlvLog, clones: Seq[(String, CloneRefs)],
      strandedOf: CloneRefs => Long,
      sampleOf: CloneRefs => Seq[String],
      dryRun: Boolean): Long = {
    var total = 0L
    clones.foreach { case (name, refs) =>
      val n = strandedOf(refs)
      if (n > 0 && !dryRun)
        throw new IllegalStateException(
          s"VACUUM of ${l.tablePath} would reclaim $n file(s) still " +
            s"referenced by shallow clone '$name' (e.g. " +
            s"${sampleOf(refs).take(5).mkString(", ")}) — run VACUUM " +
            ".. DRY RUN to list the exposure, drop or deep-copy the " +
            s"clone, or opt out with -D$VACUUM_IGNORE_CLONES_PROP=true")
      total += n
    }
    total
  }

  /** Physically delete data files that are (a) not referenced by the
    * CURRENT snapshot and (b) older than `retentionMs` by mtime.
    * Files referenced by older snapshots become unreadable — that is
    * vacuum's contract (time travel beyond retention dies). Returns
    * (deletedDataFiles, keptDataFiles) — DATA files only; sidecar
    * reclamation is reported by [[vacuumStats]]. */
  def vacuum(
      spark: SparkSession, path: String, retentionMs: Long,
      dryRun: Boolean = false): (Long, Long) = {
    val s = vacuumStats(spark, path, retentionMs, dryRun)
    (s.deletedDataFiles, s.keptDataFiles)
  }

  /** [[vacuum]] with the full per-population accounting. */
  def vacuumStats(
      spark: SparkSession, path: String, retentionMs: Long,
      dryRun: Boolean = false): VacuumStats = {
    val l = DlvTable.log(path)
    val cutoff = System.currentTimeMillis() - retentionMs
    val root = l.tablePath
    val io = l.io // Serializable: ships to executors for sharded listing

    // level-wise dir expansion: each BFS level's children list in one
    // pass, fanned out as a Spark job once the frontier is wide — a
    // hive layout is shallow (1-2 levels) but its FIRST level can hold
    // 10^6 partition dirs, and a serial recursive walk would list each
    // one from the driver
    val partitionDirs: Seq[String] = {
      def childDirs(p: String): Seq[String] =
        io.listEntries(p)
          .filter(e => e.isDir && !e.name.startsWith("_dlv_log"))
          .map(e => io.child(p, e.name))
      val all = Seq.newBuilder[String]
      var frontier = Seq(root)
      all += root
      while (frontier.nonEmpty) {
        val next =
          if (frontier.size <= DISTRIBUTED_LISTING_THRESHOLD)
            frontier.flatMap(childDirs)
          else
            spark.sparkContext
              .parallelize(frontier, math.min(frontier.size, 256))
              .flatMap(childDirs).collect().toSeq
        all ++= next
        frontier = next
      }
      all.result()
    }
    // past the distributed-snapshot threshold, the orphan diff AND the
    // deletes run on the cluster: neither the live set nor the listing
    // ever lands on the driver (the canonical 10^7-file vacuum)
    DlvDistributedFileIndex.forVersion(spark, l, None,
        statsSkipping = true) match {
      case Some(idx) =>
        // referenced set = the index's live sidecars (one aggregation)
        // when vectors are in play; an inactive table's _dv dir holds
        // only crash orphans — swept with an empty referenced set
        val dvSweptD = sweepDvSidecars(l,
          if (DlvDv.active(idx.metadata, idx.protocol))
            idx.dvSummary._1.toSet
          else Set.empty,
          cutoff, dryRun)
        val (del, kept, strandedD) = vacuumDistributed(
          spark, l, idx, partitionDirs, cutoff, dryRun)
        return VacuumStats(del, kept, dvSweptD, strandedD)
      case None => ()
    }
    // driver path: ONE snapshot capture up front — a writer committing
    // mid-vacuum cannot change what this pass considers referenced
    // (its new files are younger than the cutoff anyway)
    val snapFiles = l.snapshot().files
    val referenced = snapFiles.map(_.path).toSet
    val dvSwept = sweepDvSidecars(l,
      DlvDv.sidecarsOf(snapFiles).toSet, cutoff, dryRun)
    def filesIn(dir: String): Seq[(String, Long)] =
      io.listEntries(dir)
        .filter(e => !e.isDir && e.name.endsWith(".parquet"))
        .map(e => (io.relativize(root, io.child(dir, e.name)), e.mtimeMs))
    val candidates: Seq[(String, Long)] =
      if (partitionDirs.size <= DISTRIBUTED_LISTING_THRESHOLD)
        partitionDirs.flatMap(filesIn)
      else {
        // sharded listing: dirs fan out across the cluster
        spark.sparkContext
          .parallelize(partitionDirs,
            math.min(partitionDirs.size, 256))
          .flatMap { d =>
            io.listEntries(d)
              .filter(e => !e.isDir && e.name.endsWith(".parquet"))
              .map(e =>
                (io.relativize(root, io.child(d, e.name)), e.mtimeMs))
          }.collect().toSeq
      }
    val doomed = candidates.filter { case (rel, mtime) =>
      !referenced.contains(rel) && mtime < cutoff
    }
    // shared-fate guard BEFORE any delete: a registered clone still
    // referencing a doomed file refuses the reclaim (dry run reports)
    val doomedSet = doomed.map(_._1).toSet
    val stranded =
      if (doomed.isEmpty) 0L
      else guardClones(l, cloneExternalRefs(spark, l),
        {
          case DriverRefs(refs) =>
            refs.count(doomedSet.contains).toLong
          case DistRefs(ds) =>
            // past-threshold clone of a small base: the doomed set is
            // driver-small here — broadcast it, count on executors
            val b = spark.sparkContext.broadcast(doomedSet)
            ds.filter(r => b.value.contains(r)).count()
        },
        {
          case DriverRefs(refs) =>
            refs.filter(doomedSet.contains).toSeq.sorted
          case DistRefs(ds) =>
            val b = spark.sparkContext.broadcast(doomedSet)
            ds.filter(r => b.value.contains(r)).take(6).toSeq
        }, dryRun)
    if (!dryRun) {
      doomed.foreach { case (rel, _) => io.delete(l.resolve(rel)) }
      // sweep now-empty partition dirs (deepest first)
      partitionDirs.reverse.filter(_ != root).foreach { d =>
        if (io.exists(d) && io.listEntries(d).isEmpty) io.delete(d)
      }
    }
    VacuumStats(doomed.size.toLong,
      (candidates.size - doomed.size).toLong, dvSwept, stranded)
  }

  /** Reclaim deletion-vector sidecars no live AddFile references —
    * OPTIMIZE/UPDATE purge the REFERENCE; the sidecar bytes linger
    * under `_dlv_log/_dv`, which the data sweep (correctly) skips.
    * Same contract as data files: unreferenced by the CURRENT snapshot
    * and older than retention; time travel to a version whose vectors
    * were vacuumed dies exactly like one whose data files were.
    * (CDC blobs under `_dlv_log/_cdc` are reclaimed with their commit
    * JSONs by [[cleanupLog]].) */
  private def sweepDvSidecars(
      l: DlvLog, referencedRel: Set[String], cutoff: Long,
      dryRun: Boolean): Long = {
    val dvDir = l.io.child(l.logDir, "_dv")
    if (!l.io.exists(dvDir)) return 0L
    val doomed = l.io.listEntries(dvDir).filter { e =>
      !referencedRel.contains(s"${DlvTable.LOG_DIR}/_dv/${e.name}") &&
        e.mtimeMs < cutoff
    }
    if (!dryRun) doomed.foreach(e =>
      l.io.deleteRecursive(l.io.child(dvDir, e.name)))
    doomed.size.toLong
  }

  /** The all-distributed vacuum: sharded listing → anti-join against
    * the live `Dataset` → executor-side deletes. State is pinned by
    * the index's resolved VERSION (not a wall-clock snapshot), so
    * every job in the pass diffs against the same immutable file set.
    * The empty-dir sweep is scoped to dirs the pass deleted from —
    * the only dirs vacuum can have newly emptied. */
  private def vacuumDistributed(
      spark: SparkSession, l: DlvLog, idx: DlvDistributedFileIndex,
      partitionDirs: Seq[String], cutoff: Long, dryRun: Boolean)
      : (Long, Long, Long) = {
    val root = l.tablePath
    val io = l.io
    val session = spark
    import session.implicits._
    val candidates = spark.sparkContext
      .parallelize(partitionDirs, math.min(partitionDirs.size, 256))
      .flatMap { d =>
        io.listEntries(d)
          .filter(e => !e.isDir && e.name.endsWith(".parquet"))
          .map(e =>
            (io.relativize(root, io.child(d, e.name)), e.mtimeMs))
      }.toDF("rel", "mtime")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = candidates.count()
      val doomed = candidates
        .filter(col("mtime") < cutoff)
        .join(idx.livePathsDS.toDF("rel"), Seq("rel"), "left_anti")
        .select("rel").as[String]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nDoomed = doomed.count()
        // shared-fate guard BEFORE any delete, evaluated where the
        // doomed set lives (broadcast the clone's ref set, never
        // collect doomed)
        val stranded =
          if (nDoomed == 0) 0L
          else guardClones(l, cloneExternalRefs(spark, l),
            {
              case DriverRefs(refs) =>
                val b = spark.sparkContext.broadcast(refs)
                doomed.filter(r => b.value.contains(r)).count()
              case DistRefs(ds) =>
                // both sides at scale: a distributed equi-join — no
                // file list ever lands on the driver
                doomed.toDF("rel")
                  .join(ds.toDF("rel").distinct(), Seq("rel")).count()
            },
            {
              case DriverRefs(refs) =>
                val b = spark.sparkContext.broadcast(refs)
                doomed.filter(r => b.value.contains(r)).take(6).toSeq
              case DistRefs(ds) =>
                doomed.toDF("rel")
                  .join(ds.toDF("rel").distinct(), Seq("rel"))
                  .as[String].take(6).toSeq
            }, dryRun)
        if (!dryRun) {
          // sweep targets BEFORE deleting: if the cached doomed set
          // were evicted and recomputed after deletion, the re-listing
          // would no longer see the orphans
          val parents =
            if (nDoomed == 0) Array.empty[String]
            else doomed
              .map(rel => rel.split('/').dropRight(1).mkString("/"))
              .filter(_.nonEmpty).distinct().collect()
          // dirs ALREADY empty before this pass (a crashed earlier
          // vacuum, or driver-path leftovers) — emptiness CHECK fans
          // out, deletes are bounded by the empties found; without
          // this the driver path sweeps them but we never would
          val preEmpty = spark.sparkContext
            .parallelize(partitionDirs.filter(_ != root),
              math.max(1, math.min(partitionDirs.size, 256)))
            .filter(d => io.exists(d) && io.listEntries(d).isEmpty)
            .map(d => io.relativize(root, d))
            .collect()
          if (nDoomed > 0)
            doomed.foreachPartition { (it: Iterator[String]) =>
              it.foreach(rel => io.delete(io.child(root, rel)))
            }
          // sweep: pre-existing empties plus parents of this pass's
          // deletes, with all their ancestors — deepest-first,
          // re-checked for emptiness at delete time
          val sweep = (parents ++ preEmpty).flatMap { rel =>
            val segs = rel.split('/')
            (1 to segs.length).map(n => segs.take(n).mkString("/"))
          }.distinct.sortBy(-_.count(_ == '/'))
          sweep.foreach { rel =>
            val d = io.child(root, rel)
            if (io.exists(d) && io.listEntries(d).isEmpty) io.delete(d)
          }
        }
        (nDoomed, total - nDoomed, stranded)
      } finally doomed.unpersist()
    } finally candidates.unpersist()
  }

  /** Compact each selected partition into ~`targetFileBytes` outputs
    * through [[rewrite]]: partitions holding more than one file, or a
    * vector-bearing file, are rewritten (with `zorderBy` set, every
    * non-empty partition is). Plain OPTIMIZE bin-packs whole files;
    * with `zorderBy` rows are clustered by interleaved-bit Morton order
    * so min/max ranges of the rewritten files tighten on every
    * z-dimension. `where` must be partition-only. Rewrites carry
    * `dataChange = false` — an OPTIMIZE never changes table CONTENT,
    * so concurrent readers and CDF consumers see nothing. Returns the
    * committed version (the read version when nothing needed a
    * rewrite). */
  def optimize(
      spark: SparkSession, path: String,
      zorderBy: Seq[String] = Nil,
      targetFileBytes: Long = 128L << 20,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "OPTIMIZE",
      Map("zorderBy" -> zorderBy.mkString(",")) ++
        where.map(w => "where" -> w.toString))
    val st = DlvDml.dmlState(spark, l, tx)
    val meta = st.metadata
    // OPTIMIZE .. WHERE: partition-scoped compaction — at 100 TB you
    // bin-pack the partitions an ingest just fragmented, never the
    // whole table; the predicate must be partition-only (delta's rule)
    // so selection is pure log metadata, evaluated where the state
    // lives (Dataset-backed past the distributed threshold)
    val selected = where match {
      case None => st.allFiles
      case Some(cond) =>
        val aCond = DlvDml.analyzedCond(st.df, cond)
        require(DlvDml.partitionOnly(aCond, meta),
          s"OPTIMIZE WHERE supports partition columns only " +
            s"(${meta.partitionColumns.mkString(", ")}), got: $cond")
        st.filesWherePartition(
          DlvDml.boundPartition(aCond, meta.partitionSchema))
    }
    rewrite(spark, l, tx, meta,
      selected.groupBy(_.partitionValues).values.toSeq.filter { files =>
        files.size > 1 || zorderBy.nonEmpty ||
          // a lone vector-bearing file is still worth rewriting: the
          // compaction materializes the soft-deletes and drops the
          // sidecar dependency
          files.exists(_.dv.nonEmpty)
      }, zorderBy, targetFileBytes)
  }

  /** `REORG TABLE .. APPLY (PURGE)` — delta's deletion-vector
    * materialization op: rewrite ONLY the live files carrying a
    * vector (reading through it), so the soft-deletes become physical
    * and the sidecar dependencies drop; vector-FREE files are never
    * touched. This is the cheap DV-lifecycle closer — after a year of
    * sparse deletes, purging costs a rewrite of just the touched
    * fraction, where a full OPTIMIZE would bin-pack everything. The
    * rewrite is [[optimize]]'s bin-packing job over the vector-bearing
    * files, ~`targetFileBytes` per output.
    * `dataChange = false`: the logical row set is unchanged, so
    * change feeds skip the commit and streams don't re-see rows.
    * VACUUM reclaims the unreferenced sidecars afterwards. Returns
    * the committed version (the read version when nothing bears a
    * vector). */
  def reorgPurge(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "REORG",
      Map("apply" -> "PURGE"))
    val st = DlvDml.dmlState(spark, l, tx)
    rewrite(spark, l, tx, st.metadata,
      st.filesWithDv.groupBy(_.partitionValues).values.toSeq, Nil,
      targetFileBytes)
  }

  /** The one rewrite job behind OPTIMIZE, Z-ORDER and REORG PURGE
    * (delta's bin-packing OPTIMIZE, Armbrust et al., VLDB 2020): replace
    * exactly the files of `groups` (one group per partition) in one
    * commit, whatever the partition count, with one read, one shuffle
    * and one partitioned write.
    *   - Bins are planned on the driver from the log's sizes, with no
    *     data I/O: partition p gets `k_p = max(1, bytes_p /
    *     targetFileBytes)` bins, and its files pack whole, largest
    *     first into the lightest bin.
    *   - The selection is read once, vectors applied, and each row is
    *     tagged with its file's global bin through the shared file key
    *     (`__src_file`, the [[DlvDv.relFileExpr]] ↔ [[DlvDv.keyOf]]
    *     pair); one shuffle sends bin b to task b, so no task spans
    *     two partitions.
    *   - Z-ORDER tags the partition's first bin instead, computes the
    *     Morton key once over the selection, moves each row up by the
    *     number of its partition's key quantiles below it and sorts
    *     each task by the key: a partition's files hold disjoint key
    *     ranges.
    * Returns the committed version (the read version when `groups`
    * holds no file). */
  private def rewrite(
      spark: SparkSession, l: DlvLog, tx: OptimisticTransaction,
      meta: Metadata, groups: Seq[Seq[AddFile]], zorderBy: Seq[String],
      targetFileBytes: Long): Long = {
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive, got $targetFileBytes")
    val files = groups.flatten
    if (files.isEmpty) return tx.readVersion
    val bins = groups.map { fs =>
      val k = math.max(1L, fs.map(_.size).sum / targetFileBytes)
      // whole files pack: bins past the file count would stay empty
      (if (zorderBy.isEmpty) math.min(k, fs.size.toLong) else k).toInt
    }
    val first = bins.scanLeft(0)(_ + _)
    // file key → global bin: bin-packing puts whole files, largest
    // first, into the partition's lightest bin; Z-ORDER tags the
    // partition's first bin and offsets by the Morton key below
    val binOf = spark.sparkContext.broadcast(
      groups.zip(bins).zip(first).flatMap { case ((fs, k), b0) =>
        if (zorderBy.nonEmpty) fs.map(f => DlvDv.keyOf(l, f.path) -> b0)
        else {
          val open = scala.collection.mutable.PriorityQueue(
            (0 until k).map(b => (0L, b)): _*)(Ordering.by(-_._1))
          fs.sortBy(-_.size).map { f =>
            val (load, b) = open.dequeue()
            open.enqueue((load + f.size, b))
            DlvDv.keyOf(l, f.path) -> (b0 + b)
          }
        }
      }.toMap)
    val df = DlvDml.readFiles(spark, l, files.map(_.path), meta.schema,
      files, DlvColMap.toLogicalRenames(meta), meta.partitionColumns,
      keepFileKey = true)
    val tagged = df.withColumn("__bin",
      udf((key: String) => binOf.value(key)).apply(col("__src_file")))
    val arranged =
      if (zorderBy.isEmpty) tagged.repartitionById(bins.sum, col("__bin"))
      else {
        val z = tagged.withColumn("__z",
          graft.functions.ZOrder.mortonOf(df, zorderBy))
        // a partition given k > 1 bins splits at its k-quantiles of
        // the key: one approximate-quantile aggregation over those
        // partitions (at K-quantile resolution, K the largest k)
        val kOf = first.zip(bins).toMap
        val split = kOf.filter(_._2 > 1).keys.toSeq
        val big = bins.max
        val cuts = spark.sparkContext.broadcast(
          if (split.isEmpty) Map.empty[Int, IndexedSeq[Long]]
          else z.filter(col("__bin").isin(split: _*)).groupBy("__bin")
            .agg(percentile_approx(col("__z"),
              lit((1 until big).map(_.toDouble / big).toArray),
              lit(10000)))
            .collect().map { r =>
              val (b0, qs) = (r.getInt(0), r.getSeq[Long](1))
              b0 -> (1 until kOf(b0)).map(j => qs(j * big / kOf(b0) - 1))
            }.toMap)
        val keys = meta.partitionColumns.map(col) :+ col("__z")
        z.repartitionById(bins.sum,
            udf((b0: Int, zv: Long) => b0 + cuts.value.get(b0)
              .fold(0)(_.search(zv).insertionPoint))
              .apply(col("__bin"), col("__z")))
          .sortWithinPartitions(keys: _*)
      }
    val adds = DlvTable.stageFiles(spark, l,
      arranged.drop("__src_file", "__bin", "__z"), meta,
      dataChange = false)
    val now = System.currentTimeMillis()
    tx.readFilePaths = files.map(_.path).toSet
    tx.readPartitions = Some(files.map(_.partitionValues).toSet)
    tx.commit(files.map(_.remove(now, dataChange = false)) ++ adds,
      isBlindAppend = false)
  }

  /** delta's `FSCK REPAIR TABLE`: drop table references to physically
    * MISSING data files (accidental deletion, bucket lifecycle rules)
    * so reads stop dying on them. Existence probes run WHERE the
    * state lives — executor-side over the Dataset-backed index past
    * the distributed threshold, a parallel driver pool below it — and
    * only the MISSING files (bounded by the damage, never the table)
    * land on the driver. DRY RUN reports without committing.
    * Clone-external absolute references probe their own (source)
    * location. Metrics: the commit carries numRemovedFiles (derived)
    * and numDeletedRows (stats minus vector-dead, when stats are
    * complete). CDF caveat: lost content cannot be replayed, so
    * `table_changes` across an FSCK commit fails exactly like any
    * read of the lost files would. Returns (removedReferences,
    * scannedFiles). */
  def fsck(
      spark: SparkSession, path: String,
      dryRun: Boolean = false): (Long, Long) = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "FSCK",
      Map("dryRun" -> dryRun.toString))
    val io = l.io
    val root = l.tablePath
    val (missing, scanned) = DlvDistributedFileIndex.forVersion(
        spark, l, Some(math.max(0L, tx.readVersion)),
        statsSkipping = false) match {
      case Some(idx) =>
        tx.protocolOverride = Some(idx.protocol)
        tx.ensureGated()
        val m = idx.liveFilesDS.filter { f =>
          val p =
            if (DlvLog.isAbsolutePath(f.path)) f.path
            else io.child(root, f.path)
          !io.exists(p)
        }.collect().toSeq
        (m, idx.liveFilesDS.count())
      case None =>
        val snap = tx.readSnapshot.getOrElse(
          throw new IllegalArgumentException(
            s"$path is not a dlv table"))
        val m = DriverPar.map(snap.files)(f =>
          if (!io.exists(l.resolve(f.path))) Some(f) else None).flatten
        (m, snap.files.size.toLong)
    }
    if (missing.isEmpty || dryRun) return (missing.size.toLong, scanned)
    tx.readFilePaths = missing.map(_.path).toSet
    tx.readPartitions = Some(missing.map(_.partitionValues).toSet)
    val now = System.currentTimeMillis()
    val removes = missing.map(_.remove(now, dataChange = true))
    val lostRows = CommitInfo.rowCount(missing).map(r =>
      Map("numDeletedRows" ->
        (r - missing.flatMap(_.dv).map(_.cardinality).sum).toString))
    tx.commit(removes.toSeq ++
      CommitInfo.metricsCarrier(lostRows.getOrElse(Map.empty)),
      isBlindAppend = false)
    (missing.size.toLong, scanned)
  }

  /** Log retention cleanup — delta's `logRetentionDuration` contract:
    * reclaim commit JSONs strictly BELOW the newest checkpoint (state
    * replay never needs them — it reconstructs from the checkpoint),
    * their eager CDC blobs, orphaned blobs from commits that lost
    * their race, and superseded older checkpoints, when older than
    * `retentionMs` by mtime. Time travel and `table_changes` below
    * the cleaned horizon die — loudly, with the retention contract
    * named; DESCRIBE HISTORY and TIMESTAMP AS OF survive
    * (checkpoint-embedded). The CREATION commit (version 0) is always
    * kept: one small object that anchors the snapshot cache's
    * table-identity key. `spark` is unused today (pure driver-pool
    * metadata I/O) but kept for signature parity with the other
    * maintenance ops and a future distributed below-horizon sweep.
    * Returns (commitsDeleted, cdcBlobsDeleted). */
  def cleanupLog(
      spark: SparkSession, path: String,
      retentionMs: Long): (Long, Long) = {
    val l = DlvTable.log(path)
    val cutoff = System.currentTimeMillis() - retentionMs
    val names = if (l.io.exists(l.logDir)) l.io.listNames(l.logDir) else Nil
    val ckpts = names.collect {
      case DlvLog.CheckpointFile(v) => v.toLong
    }.distinct.sorted
    if (ckpts.isEmpty) return (0L, 0L) // no anchor: everything is live
    val horizon = ckpts.last
    val allCommits = names.collect {
      case CommitStore.CommitFile(v) => v.toLong
    }.sorted
    val commits = allCommits.filter(v => v > 0 && v < horizon)
    // blob-first per commit: a crash mid-cleanup leaves a commit whose
    // blob is gone (the below-horizon feed fails on read — already the
    // contract), never an orphaned blob no commit references
    val results = DriverPar.map(commits) { v =>
      val cf = l.io.child(l.logDir, CommitStore.fileName(v))
      if (!l.io.exists(cf) || l.io.mtimeMs(cf) >= cutoff) (0L, 0L)
      else {
        val blobs = l.commitActionsOf(v).collect {
          case c: CommitInfo => c.cdcPath
        }.flatten
        blobs.foreach(rel => l.io.deleteRecursive(l.resolve(rel)))
        l.io.delete(cf)
        (1L, blobs.size.toLong)
      }
    }
    // superseded checkpoint cv is reclaimed only when the NEXT
    // checkpoint is itself past retention: every commit in (cv, next]
    // is older than next's write time, so nothing inside the
    // retention window can still need cv for reconstruction (an
    // mtime-only rule would delete cv while younger commits above it
    // survive — and time travel to those would dead-end on a cleaned
    // full replay)
    ckpts.sliding(2).foreach {
      case Seq(cv, next) =>
        val nextFiles = Seq(
          l.io.child(l.logDir, f"$next%020d.checkpoint.json"),
          l.io.child(l.logDir, f"$next%020d.checkpoint.parquet"))
          .filter(l.io.exists)
        val nextPastRetention =
          nextFiles.nonEmpty && nextFiles.forall(l.io.mtimeMs(_) < cutoff)
        if (nextPastRetention)
          Seq(l.io.child(l.logDir, f"$cv%020d.checkpoint.json"),
            l.io.child(l.logDir, f"$cv%020d.checkpoint.parquet"))
            .foreach { p =>
              if (l.io.exists(p) && l.io.mtimeMs(p) < cutoff)
                l.io.deleteRecursive(p)
            }
      case _ => ()
    }
    // sidecar job dirs no SURVIVING parquet checkpoint manifest
    // references, past retention: superseded sharded checkpoints were
    // reclaimed above, and a crashed sharded-checkpoint writer leaves
    // a job dir with no manifest. The mtime cutoff protects an
    // IN-FLIGHT writer (shards land before its manifest publishes).
    // Reading manifests needs a session; GC is best-effort.
    val sidecarsDir = l.sidecarsDir
    if (l.io.exists(sidecarsDir)) try {
      def jobOf(ref: String): Option[String] = {
        val m = ref.indexOf("_sidecars/")
        if (m < 0) None
        else {
          val tail = ref.substring(m + "_sidecars/".length)
          val i = tail.indexOf('/')
          Some(if (i < 0) tail else tail.substring(0, i))
        }
      }
      val referenced = l.io.listNames(l.logDir).collect {
        case n @ DlvLog.CheckpointFile(_) if n.endsWith(".parquet") => n
      }.flatMap { n =>
        DlvCheckpoint.sidecarRefs(spark, l.io.qualified(
          l.io.child(l.logDir, n))).flatMap(r => jobOf(r.path))
      }.toSet
      l.io.listEntries(sidecarsDir)
        .filter(e => !referenced.contains(e.name) && e.mtimeMs < cutoff)
        .foreach(e =>
          l.io.deleteRecursive(l.io.child(sidecarsDir, e.name)))
    } catch { case scala.util.control.NonFatal(_) => () }
    // blobs no SURVIVING commit references (writers that lost their
    // commit race wrote the blob first — it outlives the loss), past
    // retention. Survivors' references are O(tail + v0) small reads.
    val cdcDir = l.io.child(l.logDir, "_cdc")
    val orphans =
      if (!l.io.exists(cdcDir)) 0L
      else {
        // every commit still standing after the reclaim — including
        // below-horizon ones the retention age kept — so a kept
        // commit's blob can never be mistaken for an orphan
        val surviving = allCommits.filter(v => l.io.exists(
          l.io.child(l.logDir, CommitStore.fileName(v))))
        val referenced = DriverPar.map(surviving) { v =>
          l.commitActionsOf(v).collect {
            case c: CommitInfo => c.cdcPath
          }.flatten
        }.flatten.map(rel => rel.substring(rel.lastIndexOf('/') + 1))
          .toSet
        val doomed = l.io.listEntries(cdcDir).filter(e =>
          !referenced.contains(e.name) && e.mtimeMs < cutoff)
        doomed.foreach(e => l.io.deleteRecursive(l.io.child(cdcDir, e.name)))
        doomed.size.toLong
      }
    (results.map(_._1).sum, results.map(_._2).sum + orphans)
  }
}
