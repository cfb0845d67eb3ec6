package graft.sources.dlv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion vectors: soft-delete row sets that spare a predicate
  * DELETE from rewriting every touched file — THE write-amplification
  * lever for DML at 100 TB (a one-row delete against a 1 GB file costs
  * a sidecar write of one `(file, row)` pair instead of a 1 GB
  * rewrite; delta-spark ships the same trade under the same table
  * property, which is honored here in both its `dlv.` and `delta.`
  * spellings).
  *
  * Representation: sidecar parquet under `_dlv_log/_dv/<uuid>` holding
  * `(dv_file, dv_row)` — table-RELATIVE encoded file path + parquet
  * row index, both derived from `_metadata.file_path`/`row_index` with
  * the same prefix-strip on the write and read side, so the pairing is
  * byte-identical by construction and survives a table relocation.
  * EXTERNAL files (shallow-clone references outside the root, where
  * no prefix can be stripped) key by their FULL encoded URI instead —
  * [[keyOf]]/[[decodeKey]] pick the form per path, and [[relFileExpr]]
  * strips conditionally, so one sidecar can cover both populations.
  * Each DV-writing commit re-adds the touched `AddFile` with its
  * [[DeletionVector]] (sidecar list + this file's dead-row count);
  * sidecar row sets are disjoint per file because DV discovery scans
  * THROUGH the existing vector — an already-dead row cannot re-match.
  *
  * Read side: scans of a DV-bearing state anti-join the union of live
  * sidecars on `(file, row)` — broadcast below [[broadcastLimit]]
  * dead rows, shuffled above it. Tables without the feature (and
  * DV-enabled tables whose live files carry no vector) plan the exact
  * same scan as before — the wrap is a no-op, so the default path
  * pays nothing.
  *
  * Interactions:
  *   - rewriting DML / OPTIMIZE read their sources through the vector
  *     (no resurrection) and emit clean files — any rewrite purges;
  *   - metadata-answered COUNT/MIN/MAX bail on DV-enabled tables
  *     (counts need the subtraction, min/max bounds go wide once a
  *     row can be dead); the scan route stays correct;
  *   - `table_changes` across a DV commit requires CDF (the eager
  *     blob carries the exact rows) — without it the replay would
  *     mis-read a re-added file as whole-file inserts, so it fails
  *     loudly instead;
  *   - a DV commit bumps the protocol to reader/writer 2: a reader
  *     that would not apply vectors refuses the table instead of
  *     resurrecting rows.
  */
object DlvDv {

  val PROP = "dlv.enableDeletionVectors"
  val PROP_DELTA = "delta.enableDeletionVectors"

  def enabled(meta: Metadata): Boolean =
    meta.properties.get(PROP)
      .orElse(meta.properties.get(PROP_DELTA))
      .exists(_.equalsIgnoreCase("true"))

  /** Whether a read path must consider vectors: the property says new
    * ones may be WRITTEN, but the protocol bump is the durable witness
    * that some were — it survives `UNSET TBLPROPERTIES`, so disabling
    * the property can never silently resurrect soft-deleted rows
    * (reads keyed on the property alone would skip the anti-join while
    * live AddFiles still carry vectors). */
  def active(meta: Metadata, protocol: Protocol): Boolean =
    enabled(meta) ||
      protocol.minReaderVersion >= DlvLog.DV_READER_VERSION

  val FILE_COL = "dv_file"
  val ROW_COL = "dv_row"
  val SIDECAR_SCHEMA: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(FILE_COL,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(ROW_COL,
        org.apache.spark.sql.types.LongType)))

  /** Dead rows above this skip the broadcast hint on the anti-join —
    * same trade as the CDF stamp join's limit. */
  private[dlv] def broadcastLimit: Long =
    sys.props.get("graft.dlv.dvBroadcastLimit")
      .map(_.toLong).getOrElse(1000000L)

  /** A file whose vector already references this many sidecars gets
    * its dead rows COMPACTED into one fresh sidecar on the next DV
    * write instead of appending a (K+1)th path — without it, K sparse
    * deletes leave K sidecar objects every read of that file must
    * union (a daily-delete table would read 365 extra objects per
    * scan after a year; delta replaces a file's DV with one compact
    * bitmap on growth for the same reason). */
  private[dlv] def compactThreshold: Int =
    sys.props.get("graft.dlv.dvCompactThreshold")
      .map(_.toInt).getOrElse(4)

  /** Sidecar parquet rows per written part-file — sizes the coalesce
    * on sidecar writes so object count tracks DEAD ROWS, not the scan
    * parallelism that produced them (a sparse delete under 32 shuffle
    * partitions must not write 32 near-empty objects). ~60 B/row →
    * ~250 MB parts at the default. */
  private val SIDECAR_ROWS_PER_PART = 4L * 1024 * 1024
  private[dlv] def sidecarParts(rows: Long): Int =
    math.max(1L, (rows + SIDECAR_ROWS_PER_PART - 1) /
      SIDECAR_ROWS_PER_PART).min(10000L).toInt

  /** The scan-reported URI prefix of the table root — what
    * `_metadata.file_path` starts with for every file UNDER this
    * table. Derived through the same Path→URI machinery the scan
    * uses, so the strip below it is byte-exact. */
  private def encodedRootPrefix(l: DlvLog): String =
    new org.apache.hadoop.fs.Path(l.tableQualified).toUri.toString

  /** `_metadata.file_path` → the file's VECTOR KEY (column
    * expression): table-relative encoded path (root prefix + '/'
    * stripped) for files under the root; the untouched full URI for
    * EXTERNAL (shallow-clone) files, where there is no prefix to
    * strip. Must stay the byte-exact mirror of [[keyOf]]. */
  private[dlv] def relFileExpr(l: DlvLog, fp: Column): Column = {
    val prefix = encodedRootPrefix(l) + "/"
    when(fp.startsWith(prefix),
      fp.substr(lit(prefix.length + 1), lit(Int.MaxValue)))
      .otherwise(fp)
  }

  /** [[AddFile.path]] → its vector key: the driver-side mirror of
    * [[relFileExpr]]. */
  private[dlv] def keyOf(l: DlvLog, path: String): String =
    if (DlvLog.isAbsolutePath(path))
      new org.apache.hadoop.fs.Path(l.io.qualified(path)).toUri.toString
    else encodeRel(path)

  /** Vector key → the raw [[AddFile.path]] form (inverse of
    * [[keyOf]]). */
  private[dlv] def decodeKey(l: DlvLog, key: String): String =
    if (DlvLog.isAbsolutePath(key)) l.io.rawPathOfUri(key)
    else decodeRel(key)

  /** Live sidecar rel paths of a file set (deduped, ordered). */
  def sidecarsOf(files: Seq[AddFile]): Seq[String] =
    files.flatMap(_.dv).flatMap(_.paths).distinct.sorted

  /** Anti-join `plan` (a scan that still exposes `_metadata`) against
    * the union of `files`' sidecars, then project `schema` — the
    * single read-side choke point. No vectors → plain projection. */
  def filterDeleted(
      spark: SparkSession, l: DlvLog, plan: DataFrame,
      meta: Metadata, files: Seq[AddFile]): DataFrame =
    filterDeletedBy(spark, l, plan,
      meta.schema.map(f => col(DlvColMap.physicalOf(meta, f.name))
        .as(f.name)),
      sidecarsOf(files), files.flatMap(_.dv).map(_.cardinality).sum)

  /** Same, parameterized by sidecar list + total cardinality (the
    * distributed index summarizes without collecting its AddFiles)
    * and by an arbitrary output projection (DV-aware discovery keeps
    * a file-identity column beside the schema). The reader-filter
    * route needs nothing more: each file's sidecar dirs ride on its
    * own scan row ([[DlvParquetFileFormat]]). */
  def filterDeletedBy(
      spark: SparkSession, l: DlvLog, plan: DataFrame,
      cols: Seq[Column], sidecars: Seq[String],
      cardinality: Long): DataFrame =
    if (sidecars.isEmpty) plan.select(cols: _*)
    else antiJoinDead(spark, l, withRowId(l, plan), sidecars, cardinality)
      .select(cols: _*)

  /** `scan` — a file relation, where `_metadata` still resolves — plus
    * the row-identity columns the dead-row subtraction reads: the
    * vector key `__dv_fp`, the row index `__dv_ri`, and the file's
    * sidecar dirs `__dv_dirs`. */
  private[dlv] def withRowId(l: DlvLog, scan: DataFrame): DataFrame =
    scan
      .withColumn("__dv_fp", relFileExpr(l, col("_metadata.file_path")))
      .withColumn("__dv_ri", col("_metadata.row_index"))
      .withColumn("__dv_dirs",
        col(s"_metadata.${DlvParquetFileFormat.DV_DIRS}"))

  /** Dead-row subtraction over a plan carrying [[withRowId]]'s
    * columns, by dead-set size (`__dv_dirs` is dropped from the
    * output):
    *
    *   - at or below [[broadcastLimit]]: broadcast ANTI-join on the
    *     union of sidecars (codegen'd, predicates push past it —
    *     plan-pinned by DeletionVectorSpec). Join keys are
    *     DATAFRAME-QUALIFIED — a user column named
    *     `dv_file`/`dv_row` must not make the condition ambiguous
    *     (the `__dv_` probe names are the module's only reserved
    *     prefix);
    *   - above it: per-file application at the reader
    *     ([[DvAliveExpr]]) — a filter directly over the scan, NO join
    *     and NO shuffle at any dead-set size (the pre-r15 fallback
    *     shuffled every scanned row); each file's dead-set load
    *     touches only its OWN vector's dirs, read from the row's
    *     `__dv_dirs`. */
  private[dlv] def antiJoinDead(
      spark: SparkSession, l: DlvLog, planId: DataFrame,
      sidecars: Seq[String], cardinality: Long): DataFrame =
    (if (cardinality <= broadcastLimit) {
      val dead = broadcast(spark.read.schema(SIDECAR_SCHEMA)
        .parquet(sidecars.map(l.resolveQualified): _*))
      planId.join(dead,
        planId("__dv_fp") === dead(FILE_COL) &&
          planId("__dv_ri") === dead(ROW_COL),
        "left_anti")
    } else {
      import org.apache.spark.sql.graft.GraftInternal
      planId.filter(GraftInternal.column(DvAliveExpr(
        GraftInternal.expr(planId("__dv_fp")),
        GraftInternal.expr(planId("__dv_ri")),
        GraftInternal.expr(planId("__dv_dirs")), l.io)))
    }).drop("__dv_dirs")

  /** The shared mark-dead machinery behind DV DELETE, DV UPDATE and
    * DV MERGE: scan `touchedAdds` with row identity, existing vector
    * applied (dead rows can't re-match) and schema-evolution nulls
    * filled, apply `mark` (live rows → the subset to kill; it must
    * PRESERVE the `__dv_fp`/`__dv_ri` identity columns and may carry
    * extra columns for `body` — MERGE carries its resolved clause
    * output), write the new sidecar, and count dead rows per file.
    * `body` receives the PERSISTED marked rows and the per-file dead
    * counts, and returns the op-specific extra actions (CDC carrier,
    * staged updated copies); the caller gets removes ++ grown ++
    * extras — removes FIRST is load-bearing (same-path
    * remove-then-add replays to the re-added vector-bearing entry).
    * Empty mark (over-touch from a raw discovery scan) yields Nil
    * without invoking `body`. */
  private[dlv] def withMarkedBy(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      touchedAdds: Seq[AddFile], mark: DataFrame => DataFrame,
      now: Long)(
      body: (DataFrame, Map[String, Long]) => Seq[Action]): Seq[Action] = {
    // identity columns materialized inside the scan; columns a file
    // predates (ADD COLUMNS) read as typed nulls, so `cond` and the
    // downstream projections resolve against them
    val withId = DlvDml.scanFiles(spark, l, meta, touchedAdds,
      withRowId = true)
    val live = {
      val sidecars = sidecarsOf(touchedAdds)
      if (sidecars.isEmpty) withId.drop("__dv_dirs")
      else antiJoinDead(spark, l, withId, sidecars,
        touchedAdds.flatMap(_.dv).map(_.cardinality).sum)
    }
    val matched = mark(live).persist()
    try {
      // per-file dead counts FIRST (this materializes the persist at
      // full scan parallelism) — keyed by the same vector key the
      // sidecar stores; decode to match AddFile.path's raw form
      val counts: Map[String, Long] = matched
        .groupBy(col("__dv_fp")).count().collect()
        .map(r => decodeKey(l, r.getString(0)) -> r.getLong(1)).toMap
      if (counts.isEmpty) return Nil
      val affected = touchedAdds.filter(f => counts.contains(f.path))
      // growth compaction: a file already at the path cap gets ALL its
      // dead rows (prior sidecars + this commit's) merged into one
      // fresh sidecar and re-added with that single path; the rest
      // append the shared per-commit sidecar as before. Superseded
      // sidecars go unreferenced once no other live file lists them —
      // VACUUM reclaims.
      // threshold read ONCE: `compactThreshold` is a sys-prop def, and
      // deciding membership here but re-deriving it when building the
      // grown entries could disagree under a concurrent prop change —
      // worst case rewriting a vector to reference a compact sidecar
      // that does not hold its rows (silent resurrection)
      val threshold = compactThreshold
      val (toCompact, toAppend) = affected.partition(
        f => f.dv.exists(_.paths.size >= threshold))
      val compactPaths = toCompact.map(_.path).toSet
      val newDead = matched.select(
        col("__dv_fp").as(FILE_COL), col("__dv_ri").as(ROW_COL))
      def freshRel() = s"_dlv_log/_dv/${java.util.UUID.randomUUID()}"
      // sorted by (file, row) within each part: parquet row-group
      // stats on dv_file then prune task-side per-file dead-set loads
      // ([[DvAliveExpr]]) to ~one file's rows, not the whole sidecar
      def write(df: DataFrame, rel: String, rows: Long): Unit =
        df.coalesce(sidecarParts(rows))
          .sortWithinPartitions(FILE_COL, ROW_COL)
          .write.options(LocalWriteFs.writerOptions)
          .parquet(l.resolve(rel))
      val appendRel = if (toAppend.isEmpty) None else {
        val rel = freshRel()
        val df =
          if (toCompact.isEmpty) newDead
          else newDead.filter(col(FILE_COL).isInCollection(
            toAppend.map(f => keyOf(l, f.path))))
        write(df, rel, toAppend.map(f => counts(f.path)).sum)
        Some(rel)
      }
      val compactRel = if (toCompact.isEmpty) None else {
        val rel = freshRel()
        val enc = toCompact.map(f => keyOf(l, f.path))
        val prior = spark.read.schema(SIDECAR_SCHEMA)
          .parquet(sidecarsOf(toCompact).map(l.resolveQualified): _*)
          .filter(col(FILE_COL).isInCollection(enc))
        val fresh = newDead.filter(col(FILE_COL).isInCollection(enc))
        write(prior.union(fresh), rel, toCompact.map(f =>
          f.dv.map(_.cardinality).getOrElse(0L) + counts(f.path)).sum)
        Some(rel)
      }
      val extras = body(matched, counts)
      val grown = affected.map { f =>
        val prior = f.dv.getOrElse(DeletionVector(Nil, 0L))
        val paths =
          if (compactPaths.contains(f.path)) Seq(compactRel.get)
          else prior.paths :+ appendRel.get
        f.copy(
          dataChange = true,
          modificationTime = now,
          dv = Some(DeletionVector(
            paths, prior.cardinality + counts(f.path))))
      }
      // removes describe the REPLACED entries — hadDv reflects their
      // PRIOR vector state, not the grown one
      val removes = affected.map(_.remove(now, dataChange = true))
      // removes FIRST: same-path remove-then-add within one commit
      // replays to the re-added (vector-bearing) entry
      removes ++ grown ++ extras
    } finally {
      matched.unpersist()
      ()
    }
  }

  /** DELETE via deletion vector: mark `cond`-matching live rows of
    * `touchedAdds` dead in a new sidecar and re-add each file with its
    * grown vector. Returns the commit's actions — empty when nothing
    * matched after the existing vector was applied. */
  private[dlv] def deleteActions(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      touchedAdds: Seq[AddFile], cond: Column,
      writeCdcBlob: DataFrame => Option[CommitInfo],
      cdfOn: Boolean, now: Long): Seq[Action] =
    withMarkedBy(spark, l, meta, touchedAdds, _.filter(cond), now) {
        (matched, _) =>
      (if (!cdfOn) None
       else writeCdcBlob(matched
         .select(meta.schema.map(f => col(f.name)): _*)
         .withColumn("_change_type", lit("delete")))).toSeq
    }

  /** UPDATE via deletion vector: soft-delete the matched rows and
    * append their updated copies as NEW files — a sparse update costs
    * O(matched rows) written instead of O(touched bytes) rewritten
    * (delta's DV-update shape under the same property). A `set` that
    * changes a partition column moves rows across partitions through
    * the staged write naturally. Returns the commit's actions (marks
    * + staged copies + optional CDC pre/post images) — empty on no
    * match. */
  private[dlv] def updateActions(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      touchedAdds: Seq[AddFile], cond: Column,
      set: Map[String, Column],
      writeCdcBlob: DataFrame => Option[CommitInfo],
      cdfOn: Boolean, now: Long): Seq[Action] =
    withMarkedBy(spark, l, meta, touchedAdds, _.filter(cond), now) {
        (matched, _) =>
      // every matched row satisfies `cond` — apply the set directly
      val updated0 = matched.select(meta.schema.map(f =>
        set.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))): _*)
      // generated columns the SET left untouched recompute from the
      // POST-update row (same contract as the rewrite route)
      val updated = DlvGenerated.recomputeAfterSet(meta, set)
        .foldLeft(updated0) { case (acc, (g, e)) =>
          acc.withColumn(g, e)
        }
      val staged = DlvTable.stageFiles(spark, l, updated, meta,
        dataChange = true)
      val cdc =
        if (!cdfOn) None
        else {
          val pre = matched
            .select(meta.schema.map(f => col(f.name)): _*)
            .withColumn("_change_type", lit("update_preimage"))
          val post = updated
            .withColumn("_change_type", lit("update_postimage"))
          writeCdcBlob(pre.unionByName(post))
        }
      staged ++ cdc
    }

  /** `AddFile.path` (raw) → the rel-encoded form sidecars store —
    * the inverse of [[decodeRel]], built with the same multi-arg URI
    * constructor Hadoop's `Path.toUri` uses so '+', spaces and
    * unicode round-trip byte-identically. */
  private[dlv] def encodeRel(raw: String): String =
    raw.split('/').map(seg =>
      new java.net.URI(null, null, "/" + seg, null)
        .getRawPath.substring(1)).mkString("/")

  /** Reverse of [[relFileExpr]]'s encoding for keying per-file counts
    * back to `AddFile.path` (raw, URL-decoded rel path). */
  private def decodeRel(encodedRel: String): String =
    encodedRel.split('/')
      .map(seg => java.net.URLDecoder.decode(
        seg.replace("+", "%2B"), "UTF-8"))
      .mkString("/")
}
