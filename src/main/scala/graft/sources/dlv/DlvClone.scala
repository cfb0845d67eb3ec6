package graft.sources.dlv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHALLOW CLONE: create a new dlv table whose version 0 REFERENCES
  * the source snapshot's data files in place — one metadata commit,
  * zero data bytes copied. The 100 TB lever this buys: a writable
  * dev/test/experiment copy of a production table costs one commit
  * JSON, not a 100 TB copy job, and time travel on the source
  * (`VERSION/TIMESTAMP AS OF`) picks which state is cloned.
  *
  * Mechanics (the delta-parity shape, `CREATE TABLE .. SHALLOW CLONE`):
  *   - the clone's AddFiles carry ABSOLUTE paths into the source's
  *     files ([[DlvLog.resolve]] passes absolutes through, so every
  *     read surface — scan, DML discovery, CDF replay, OPTIMIZE,
  *     RESTORE — plans them like any other file);
  *   - stats, partition values, sizes carry verbatim — metadata
  *     COUNT(*)/MIN/MAX and stats skipping work on the clone from
  *     version 0 without touching a footer;
  *   - writes to the clone land UNDER THE CLONE's root and never
  *     touch the source: DML rewrites stage local replacement files
  *     and merely drop the external REFERENCE; the soft-delete (DV)
  *     routes write clone-local sidecars keyed by the external file's
  *     full URI ([[DlvDv.keyOf]]);
  *   - the clone's VACUUM can never reclaim source bytes by
  *     construction — its candidate set comes from LISTING under the
  *     clone root, where an external file cannot appear;
  *   - deletion vectors live on the source snapshot are CARRIED: the
  *     dead-row sets are re-keyed to the clone's view of each file
  *     and written as clone-owned sidecars (O(dead rows) bytes — the
  *     one part of a clone that copies anything, because sidecar
  *     contents key by table-relative paths the clone cannot reuse),
  *     so the clone is immediately independent of the source's DV
  *     lifecycle (the source may OPTIMIZE/REORG/VACUUM its vectors
  *     away without breaking the clone).
  *
  * The source table does NOT know about its clones (same as delta):
  * a source VACUUM after source DML can reclaim files a clone still
  * references — the documented shared-fate caveat of shallow clones;
  * RESTORE-style existence guards fail loudly on the clone if that
  * happens.
  *
  * Driver memory: the full source AddFile list materializes once to
  * write the commit (same bound as CONVERT's adoption commit — the
  * commit JSON necessarily holds every entry).
  */
object DlvClone {

  final case class CloneStats(
      version: Long,
      filesReferenced: Long,
      bytesReferenced: Long,
      dvRowsCarried: Long)

  /** Clone `srcPath`'s state (latest, or `VERSION/TIMESTAMP AS OF`)
    * into a NEW table at `dstPath`. Refuses if the destination is
    * already a table. */
  def shallowClone(
      spark: SparkSession, srcPath: String, dstPath: String,
      version: Option[Long] = None,
      timestampMs: Option[Long] = None): CloneStats = {
    val srcLog = DlvTable.log(srcPath)
    require(srcLog.exists, s"$srcPath is not a dlv table")
    val v = (version, timestampMs) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "specify version or timestamp, not both")
      case (v @ Some(_), None) => v
      case (None, Some(ts)) => Some(srcLog.versionAtTimestamp(ts))
      case (None, None) => None
    }
    val snap = srcLog.snapshotAt(v)
    val dstLog = DlvTable.log(dstPath)
    require(!dstLog.exists, s"$dstPath is already a dlv table")

    // NORMALIZED absolute form: the clone's AddFile.path must be the
    // exact string DML's scan-URI mapping (relPathOfUri → rawPathOfUri)
    // later reproduces — a non-normalized source path ("/tmp/src/.")
    // stored verbatim would make every touched-file lookup miss and a
    // DELETE on the clone silently no-op
    def absOf(p: String): String =
      if (DlvLog.isAbsolutePath(p)) p
      else srcLog.io.rawPathOfUri(
        new org.apache.hadoop.fs.Path(
          srcLog.io.qualified(srcLog.resolve(p))).toUri.toString)

    val carried = carryVectors(spark, srcLog, dstLog, snap.files,
      f => DlvDv.keyOf(dstLog, absOf(f.path)))
    val adds = snap.files.map { f =>
      f.copy(path = absOf(f.path), dataChange = true,
        dv = carried.get(f.path))
    }
    val now = System.currentTimeMillis()
    val meta = snap.metadata.copy(
      id = java.util.UUID.randomUUID().toString, createdTime = now)
    val committed = dstLog.commit(0, Seq(snap.protocol, meta,
      CommitInfo(0, now, "CLONE",
        Map("source" -> srcPath, "sourceVersion" -> snap.version.toString),
        isBlindAppend = false,
        operationMetrics = Some(CommitInfo.metricsOf(adds)))) ++ adds)
    if (!committed) {
      // the carried-DV sidecar was staged under the destination's log
      // dir BEFORE this commit; losing the creation race means that
      // path now belongs to the racing winner's table — best-effort
      // sweep the orphan so (a) the winner doesn't inherit a foreign
      // O(dead rows) blob and (b) a clone retry doesn't stack another
      val orphanRels = carried.valuesIterator
        .flatMap(_.paths).toSeq.distinct
      orphanRels.foreach { rel =>
        try dstLog.io.deleteRecursive(dstLog.resolve(rel))
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    require(committed,
      s"lost the creation race for $dstPath — another writer committed " +
        "version 0 first")
    CloneStats(0L, adds.size.toLong, adds.map(_.size).sum,
      carried.valuesIterator.map(_.cardinality).sum)
  }

  /** DEEP clone: a fully INDEPENDENT copy of `srcPath`'s state —
    * every live data file's BYTES are copied under the destination
    * root (a distributed copy job, one partition per batch of files;
    * never through the driver), stats and partition values carry
    * verbatim, live deletion vectors are re-keyed to the copied
    * files. Costs O(table bytes) where shallow costs one commit; the
    * trade is total independence — no shared fate with the source's
    * VACUUM, no cross-table references (`CREATE TABLE .. CLONE`
    * without SHALLOW, delta's default).
    *
    * Relative source files keep their table-relative (hive) paths;
    * EXTERNAL references of a shallow-clone source (deep-cloning a
    * clone materializes it) land at fresh local hive paths. A lost
    * creation race leaves the already-copied files in place — the
    * winner may reference identical paths, so deleting them is the
    * one unsafe cleanup; the winner's VACUUM sweeps true orphans. */
  def deepClone(
      spark: SparkSession, srcPath: String, dstPath: String,
      version: Option[Long] = None,
      timestampMs: Option[Long] = None): CloneStats = {
    val srcLog = DlvTable.log(srcPath)
    require(srcLog.exists, s"$srcPath is not a dlv table")
    val v = (version, timestampMs) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "specify version or timestamp, not both")
      case (vv @ Some(_), None) => vv
      case (None, Some(ts)) => Some(srcLog.versionAtTimestamp(ts))
      case (None, None) => None
    }
    val snap = srcLog.snapshotAt(v)
    val dstLog = DlvTable.log(dstPath)
    require(!dstLog.exists, s"$dstPath is already a dlv table")

    def escape(s: String) = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(s)
    val partCols = snap.metadata.partitionColumns
    // destination rel path per source file — hive partition dirs kept
    // (basePath partition recovery must keep working on the copy)
    val relMap: Map[String, String] = snap.files.map { f =>
      f.path -> {
        if (!DlvLog.isAbsolutePath(f.path)) f.path
        else {
          val name = f.path.split('/').last
          val dirs = partCols.map { c =>
            val raw = f.partitionValues.getOrElse(c, null)
            s"$c=${if (raw == null) "__HIVE_DEFAULT_PARTITION__"
              else escape(raw)}"
          }
          (dirs :+ s"ext-${java.util.UUID.randomUUID()}-$name")
            .mkString("/")
        }
      }
    }.toMap

    // the copy job: executors pull bytes store-to-store through the
    // serializable io seam; the driver never sees a row or a byte
    val io = dstLog.io
    val dstRoot = dstLog.tablePath
    val pairs: Seq[(String, String)] = snap.files.map(f =>
      (srcLog.resolve(f.path), relMap(f.path)))
    if (pairs.nonEmpty)
      spark.sparkContext
        .parallelize(pairs, math.min(pairs.size, 256))
        .foreach { case (srcAbs, rel) =>
          io.copy(srcAbs, io.child(dstRoot, rel))
        }

    val carried = carryVectors(spark, srcLog, dstLog, snap.files,
      f => DlvDv.keyOf(dstLog, relMap(f.path)))
    val adds = snap.files.map { f =>
      f.copy(path = relMap(f.path), dataChange = true,
        dv = carried.get(f.path))
    }
    val now = System.currentTimeMillis()
    val meta = snap.metadata.copy(
      id = java.util.UUID.randomUUID().toString, createdTime = now)
    val committed = dstLog.commit(0, Seq(snap.protocol, meta,
      CommitInfo(0, now, "CLONE",
        Map("source" -> srcPath,
          "sourceVersion" -> snap.version.toString,
          "mode" -> "deep"),
        isBlindAppend = false,
        operationMetrics = Some(CommitInfo.metricsOf(adds)))) ++ adds)
    if (!committed) {
      // same lost-race sweep as shallowClone: the carried-DV sidecar
      // is UUID-named so the winner can never reference it — deleting
      // it is safe, unlike the copied DATA files (the winner may
      // reference identical rel paths; those are left for its VACUUM)
      carried.valuesIterator.flatMap(_.paths).toSeq.distinct
        .foreach { rel =>
          try dstLog.io.deleteRecursive(dstLog.resolve(rel))
          catch { case scala.util.control.NonFatal(_) => () }
        }
    }
    require(committed,
      s"lost the creation race for $dstPath — another writer committed " +
        "version 0 first")
    CloneStats(0L, adds.size.toLong, adds.map(_.size).sum,
      carried.valuesIterator.map(_.cardinality).sum)
  }

  /** Re-key the source snapshot's live dead-row sets to the clone's
    * view of each file and write them as ONE clone-owned sidecar.
    * Returns the clone-side [[DeletionVector]] per ORIGINAL source
    * path (the caller's join key).
    *
    * A row in sidecar S counts for file f only if f's CURRENT vector
    * lists S — a still-live shared sidecar can hold STALE rows for a
    * file whose vector was later compacted (superseded duplicates) or
    * restored to a smaller set, so membership is per (file, sidecar)
    * pair, not per file. */
  private def carryVectors(
      spark: SparkSession, srcLog: DlvLog, dstLog: DlvLog,
      files: Seq[AddFile], newKeyOf: AddFile => String)
      : Map[String, DeletionVector] = {
    val bearing = files.filter(_.dv.nonEmpty)
    if (bearing.isEmpty) return Map.empty
    import DlvDv.{FILE_COL, ROW_COL}
    def tagOf(sidecarRel: String): String =
      sidecarRel.split('/').last
    // (source vector key, sidecar tag) → clone vector key
    val keyRows = bearing.flatMap { f =>
      val oldKey = DlvDv.keyOf(srcLog, f.path)
      val newKey = newKeyOf(f)
      f.dv.get.paths.map(p => (oldKey, tagOf(p), newKey))
    }
    val mapping = broadcast(
      spark.createDataFrame(keyRows).toDF("__k", "__tag", "__nk"))
    val raw = spark.read.schema(DlvDv.SIDECAR_SCHEMA)
      .parquet(DlvDv.sidecarsOf(bearing).map(srcLog.resolveQualified): _*)
      .withColumn("__tag", element_at(split(input_file_name(), "/"), -2))
    val rel = s"${DlvTable.LOG_DIR}/_dv/${java.util.UUID.randomUUID()}"
    val total = bearing.flatMap(_.dv).map(_.cardinality).sum
    raw.join(mapping,
        raw(FILE_COL) === mapping("__k") && raw("__tag") === mapping("__tag"))
      .select(col("__nk").as(FILE_COL), col(ROW_COL))
      .coalesce(DlvDv.sidecarParts(total))
      .sortWithinPartitions(FILE_COL, ROW_COL)
      .write.options(LocalWriteFs.writerOptions)
      .parquet(dstLog.resolve(rel))
    bearing.map(f => f.path ->
      DeletionVector(Seq(rel), f.dv.get.cardinality)).toMap
  }
}
