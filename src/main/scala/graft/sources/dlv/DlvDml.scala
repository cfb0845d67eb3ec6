package graft.sources.dlv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DML over dlv tables: DELETE / UPDATE / MERGE, file-rewrite
  * (copy-on-write) with eager CDC capture when
  * `dlv.enableChangeDataFeed` is set.
  *
  * Scale shape shared by all three: touched-file DISCOVERY runs as a
  * pruned scan (partition + stats skipping apply to the predicate /
  * join keys), collecting only file PATHS to the driver — bounded by
  * file count, never row count; the REWRITE reads exactly the touched
  * files and stages replacements; untouched files are never opened.
  * A partition-equality DELETE never reads data at all (metadata-only
  * remove, `validation_suite.py:710-742`'s shape).
  *
  * Past [[DlvLog.distributedSnapshotThreshold]], every step of that
  * shape routes through the Dataset-backed snapshot ([[DmlState]]):
  * the discovery scan plans on [[DlvDistributedFileIndex]], touched
  * AddFiles are looked up by a broadcast path-set filter over the
  * checkpoint Dataset, and partition-predicate selection evaluates
  * where the state lives — the driver never materializes the full
  * file list (SURVEY §4's named next step; a small-file-heavy table's
  * first UPDATE now scales like its reads do).
  */
object DlvDml {

  val CDF_PROP = "dlv.enableChangeDataFeed"

  /** delta-parity alias: the reference's literal statement sets the
    * delta-spelled key (`validation_suite.py:303` —
    * `SET TBLPROPERTIES (delta.enableChangeDataFeed = true)`); honoring
    * it means those statements enable CDF verbatim instead of setting a
    * key nothing reads. */
  val CDF_PROP_DELTA = "delta.enableChangeDataFeed"

  private[dlv] def cdfEnabled(meta: Metadata): Boolean =
    meta.properties.get(CDF_PROP)
      .orElse(meta.properties.get(CDF_PROP_DELTA))
      .exists(_.equalsIgnoreCase("true"))

  val APPEND_ONLY_PROP = "dlv.appendOnly"
  val APPEND_ONLY_PROP_DELTA = "delta.appendOnly"

  /** delta's `appendOnly` table feature: rows may only be ADDED —
    * every op that deletes or modifies them (DELETE, UPDATE, a MERGE
    * with update/delete clauses, OVERWRITE, RESTORE) refuses.
    * Maintenance that preserves the logical row set (OPTIMIZE, REORG,
    * VACUUM) stays allowed. Checked per-op, where the metadata is
    * already in hand and the error can name the operation. */
  private[dlv] def checkAppendOnly(meta: Metadata, op: String): Unit = {
    val on = meta.properties.get(APPEND_ONLY_PROP)
      .orElse(meta.properties.get(APPEND_ONLY_PROP_DELTA))
      .exists(_.equalsIgnoreCase("true"))
    require(!on,
      s"$op is not allowed on an append-only table " +
        s"($APPEND_ONLY_PROP = true): rows can only be added")
  }

  // ── routed table state ─────────────────────────────────────────────

  /** One DML transaction's view of the table, routed like reads are:
    * Dataset-backed past the distributed threshold, driver snapshot
    * otherwise. Each accessor collects only what the op needs —
    * touched survivors, partition-matching files — never the whole
    * list (except [[allFiles]], whose callers inherently enumerate
    * the table in their commit as RemoveFiles, so the collect adds no
    * new driver bound). */
  private[dlv] sealed trait DmlState {
    def metadata: Metadata
    def protocol: Protocol
    /** Routed scan pinned to the transaction's read version. */
    def df: DataFrame
    /** The same routed scan, UNPROJECTED — still resolves `_metadata`
      * (file identity for DV-aware discovery). */
    def scanPlan: DataFrame
    /** Live deletion-vector summary: (sidecar rel paths, total dead
      * rows). Only consulted when [[dvActive]]. */
    def dvSidecars: (Seq[String], Long)
    /** Per-file sidecar-dir map thunk for the reader-filter path —
      * evaluated only past the broadcast limit ([[DlvDv.DvFileMap]]).
      * None = fall back to the all-dirs lookup. */
    def dvFileDirs: () => Option[Map[String, Seq[String]]]
    /** Must reads through this state consider vectors? Property OR
      * protocol witness — never the property alone (UNSET must not
      * resurrect rows). */
    def dvActive: Boolean
    def filesByPath(paths: Set[String]): Seq[AddFile]
    /** Files whose partition values satisfy `bound` (an expression
      * already bound to the partition schema via [[boundPartition]])
      * — EXACT evaluation, both routes. */
    def filesWherePartition(
        bound: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[AddFile]
    /** Files whose min/max stats MAY satisfy the filters —
      * conservative superset ([[DlvFileIndex.mayMatch]]). */
    def filesMayMatch(
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[AddFile]
    /** Every live file — only for ops whose commit enumerates the
      * whole table anyway. */
    def allFiles: Seq[AddFile]
    /** Only the live files carrying a deletion vector — REORG PURGE's
      * selection; bounded by DV-bearing count, never the table. */
    def filesWithDv: Seq[AddFile]
  }

  private final class DriverDmlState(
      spark: SparkSession, l: DlvLog, snap: Snapshot) extends DmlState {
    def metadata: Metadata = snap.metadata
    def protocol: Protocol = snap.protocol
    def df: DataFrame = DlvTable.dfForSnapshot(spark, l, snap)
    def scanPlan: DataFrame = org.apache.spark.sql.graft.GraftInternal
      .ofRows(spark, org.apache.spark.sql.execution.datasources
        .LogicalRelation(
          DlvTable.relationForSnapshot(spark, l, snap)))
    def dvSidecars: (Seq[String], Long) =
      (DlvDv.sidecarsOf(snap.files),
        snap.files.flatMap(_.dv).map(_.cardinality).sum)
    def dvFileDirs: () => Option[Map[String, Seq[String]]] =
      () => Some(DlvDv.fileDirMap(l, snap.files))
    def dvActive: Boolean = snap.files.exists(_.dv.nonEmpty)
    def filesByPath(paths: Set[String]): Seq[AddFile] =
      snap.files.filter(f => paths(f.path))
    def filesWherePartition(
        bound: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[AddFile] = {
      val pred =
        org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
      pred.initialize(0)
      snap.files.filter(f => pred.eval(
        DlvFileIndex.partitionValueRow(f, metadata.partitionSchema)))
    }
    def filesMayMatch(
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[AddFile] =
      snap.files.filter(f => DlvFileIndex.mayMatch(f, dataFilters))
    def allFiles: Seq[AddFile] = snap.files
    def filesWithDv: Seq[AddFile] = snap.files.filter(_.dv.nonEmpty)
  }

  private final class DistributedDmlState(
      spark: SparkSession, idx: DlvDistributedFileIndex) extends DmlState {
    def metadata: Metadata = idx.metadata
    def protocol: Protocol = idx.protocol
    def df: DataFrame = DlvTable.dfForIndex(spark, idx)
    def scanPlan: DataFrame = org.apache.spark.sql.graft.GraftInternal
      .ofRows(spark, org.apache.spark.sql.execution.datasources
        .LogicalRelation(DlvTable.relationForIndex(spark, idx)))
    def dvSidecars: (Seq[String], Long) = idx.dvSummary
    def dvFileDirs: () => Option[Map[String, Seq[String]]] =
      () => idx.dvFileDirs(idx.dvSplitSummary._4)
    def dvActive: Boolean = DlvDv.active(idx.metadata, idx.protocol)
    def filesByPath(paths: Set[String]): Seq[AddFile] =
      idx.collectAddFiles(paths = Some(paths))
    def filesWherePartition(
        bound: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[AddFile] =
      idx.collectAddFiles(boundPartition = Some(bound))
    def filesMayMatch(
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[AddFile] =
      idx.collectAddFiles(dataFilters = dataFilters)
    def allFiles: Seq[AddFile] = idx.allFilesCollected
    def filesWithDv: Seq[AddFile] = {
      import org.apache.spark.sql.functions.col
      idx.liveFilesDS.filter(col("dv").isNotNull).collect().toSeq
    }
  }

  /** Route a DML transaction's state resolution — and when the
    * distributed index takes it, hand the transaction the protocol so
    * its writer gate never has to materialize the driver snapshot. */
  private[dlv] def dmlState(
      spark: SparkSession, l: DlvLog,
      tx: OptimisticTransaction): DmlState =
    (if (tx.readVersion >= 0)
       DlvDistributedFileIndex.forVersion(
         spark, l, Some(tx.readVersion), statsSkipping = true)
     else None) match {
      case Some(idx) =>
        tx.protocolOverride = Some(idx.protocol)
        // gate NOW, not at commit: a too-new-writer table must refuse
        // before discovery scans run and stageFiles writes rewritten
        // parquet into the table dir (the driver route gates at first
        // snapshot access — same point in the op's life)
        tx.ensureGated()
        new DistributedDmlState(spark, idx)
      case None => new DriverDmlState(spark, l, tx.readSnapshot.get)
    }

  // ── CDC capture ────────────────────────────────────────────────────

  /** Write CDC rows (with `_change_type` set) for one commit; returns
    * the carrier action holding the cdc path.
    *
    * Write-first: a leading `changes.isEmpty` probe would compute the
    * whole change set TWICE (the probe scan + the write) — it made
    * `dlv_cdf` the slowest scenario in the bench. Instead write once,
    * in place under a fresh blob dir (the same direct write as
    * [[DlvTable.stageFiles]]), and decide emptiness from the row
    * counts the write tasks return; an empty result (an empty
    * unpartitioned write still leaves one 0-row file) is swept away.
    * The blob is visible only through the commit that carries its
    * path; a blob of a write that never commits is an orphan. */
  private[dlv] def writeCdc(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      changes: DataFrame): Option[CommitInfo] = {
    val rel = s"_dlv_log/_cdc/${java.util.UUID.randomUUID()}"
    val dir = l.resolve(rel)
    // blobs live in the PHYSICAL lexicon like every other on-disk
    // byte ([[DlvColMap]]): a blob keyed to its commit-time LOGICAL
    // names would stop replaying after the next rename
    val files = DlvTable.writeInPlace(l, dir,
      DlvColMap.toPhysical(changes, meta), partitionColumns = Nil,
      indexed = Some(Set.empty), dataChange = false, name = "dlv:cdc")
    val rows = files.map(_.parsedStats.fold(0L)(_.numRecords)).sum
    if (rows == 0L) {
      l.io.deleteRecursive(dir)
      None
    } else
      Some(CommitInfo(-1, 0, "CDC-CARRIER", Map.empty,
        isBlindAppend = false, cdcPath = Some(rel)))
  }

  /** Scan-reported file URI → the exact [[AddFile.path]] string: the
    * table-relative form for files under the root, the raw absolute
    * form for EXTERNAL (shallow-clone) references — which relativize
    * either refuses (hadoop) or escapes with `..` segments (nio). */
  private[dlv] def relPathOfUri(l: DlvLog, uri: String): String =
    (try Some(l.io.relativizeUri(l.tablePath, uri))
     catch { case _: IllegalArgumentException => None }) match {
      case Some(rel) if !rel.startsWith("..") => rel
      case _ => l.io.rawPathOfUri(uri)
    }

  /** First vector on the table: gate readers that would not apply it —
    * resurrection is worse than refusal. */
  private def dvProtocolBump(
      st: DmlState, actions: Seq[Action]): Seq[Action] =
    if (actions.nonEmpty && st.protocol.minReaderVersion <
        DlvLog.DV_READER_VERSION)
      Seq(Protocol(DlvLog.DV_READER_VERSION, DlvLog.DV_WRITER_VERSION))
    else Nil

  /** The routed scan with a `__file` identity column, for touched-file
    * discovery and MERGE's match accounting. Plain tables use
    * `input_file_name()` (the proven zero-cost path); deletion-vector
    * tables must instead read `_metadata.file_path` BEFORE the DV
    * anti-join (input_file_name is undefined across a join boundary)
    * and filter dead rows so they can't re-match — at worst a dead row
    * over-touches a file, and every rewrite re-reads through the
    * vector anyway. */
  private[dlv] def discovery(
      spark: SparkSession, l: DlvLog, st: DmlState): DataFrame =
    if (!st.dvActive)
      st.df.withColumn("__file", input_file_name())
    else {
      val (sidecars, card) = st.dvSidecars
      DlvDv.filterDeletedBy(spark, l,
        st.scanPlan.withColumn("__file", col("_metadata.file_path")),
        st.metadata.schema.map(f => col(DlvColMap.physicalOf(
          st.metadata, f.name)).as(f.name)) :+ col("__file"),
        sidecars, card, st.dvFileDirs)
    }

  /** Files whose rows can satisfy `cond`, discovered via a pruned scan
    * over the ROUTED relation — paths only, no row data moves to the
    * driver. Plain tables FILTER BELOW the `input_file_name()`
    * projection: the expression is nondeterministic, and a filter
    * above it can't push down to the scan (observed as a full read of
    * every stats-prunable file). DV tables go through [[discovery]] —
    * `_metadata.file_path` is deterministic, so the filter still
    * reaches the scan through that projection. */
  private def touchedFiles(
      spark: SparkSession, l: DlvLog, st: DmlState,
      cond: Column): Set[String] =
    (if (!st.dvActive)
       st.df.filter(cond).select(input_file_name().as("__file"))
     else
       discovery(spark, l, st).filter(cond).select(col("__file")))
      .distinct()
      .collect()
      .map(r => relPathOfUri(l, r.getString(0)))
      .toSet

  /** Does the ANALYZED condition reference only partition columns?
    * Then DELETE is metadata-only. Must take the analyzed form: a raw
    * Column in Spark 4 is an opaque ColumnNodeExpression whose
    * `references` is EMPTY — deciding on it silently routed every
    * partition delete down the rewrite path (it only LOOKED
    * metadata-only because the staged "kept" write was empty). */
  private[dlv] def partitionOnly(
      analyzed: org.apache.spark.sql.catalyst.expressions.Expression,
      meta: Metadata): Boolean = {
    val refs = analyzed.references.map(_.name).toSet
    refs.nonEmpty && refs.subsetOf(meta.partitionColumns.toSet)
  }

  /** The condition ANALYZED against the given relation — resolution
    * plus implicit type coercion. A raw SQL predicate like
    * `order_date = "2024-01-10"` (DATE vs STRING, the reference's
    * test-7 form) only compares correctly after the analyzer inserts
    * its casts; binding the raw expression against partition values
    * crashes on the type mismatch. */
  private[dlv] def analyzedCond(
      df: DataFrame,
      cond: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    df.filter(cond)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(org.apache.spark.sql.graft.GraftInternal.expr(cond))

  /** Constant-fold foldable subtrees of an ANALYZED predicate: type
    * coercion wraps literals in casts (`id >= 300` analyzes to
    * `id >= CAST(300 AS BIGINT)` — the optimizer's folding hasn't run
    * on a bare analyzed expression), and the stats may-match evaluator
    * only recognizes bare literals beside attributes. */
  private def foldConstants(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    e.transformUp {
      case x if x.foldable &&
          !x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          x.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
          x.dataType)
    }

  /** Bind an (analyzer-coerced) partition-column predicate to the
    * partition schema — the SERIALIZABLE form both [[DmlState]] routes
    * evaluate per AddFile (Catalyst expressions ship to executors;
    * codegen'd predicates don't). */
  private[dlv] def boundPartition(
      analyzed: org.apache.spark.sql.catalyst.expressions.Expression,
      partSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
    analyzed.transform {
      case a: AttributeReference =>
        BoundReference(partSchema.fieldIndex(a.name),
          partSchema(a.name).dataType, nullable = true)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        BoundReference(partSchema.fieldIndex(u.name),
          partSchema(u.name).dataType, nullable = true)
    }
  }

  def delete(spark: SparkSession, path: String, cond: Column): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "DELETE",
      Map("predicate" -> cond.toString))
    val st = dmlState(spark, l, tx)
    val meta = st.metadata
    checkAppendOnly(meta, "DELETE")
    val now = System.currentTimeMillis()

    val aCond = analyzedCond(st.df, cond)
    // `DELETE FROM t` (no WHERE → the parser's TrueLiteral) removes
    // every file logically — zero data reads or rewrites, like a
    // partition delete with an all-matching predicate. ONLY the
    // explicit true literal: an empty reference set alone could be a
    // non-deterministic predicate (rand() < 0.5), which must scan.
    val fullDelete = aCond match {
      case org.apache.spark.sql.catalyst.expressions.Literal(true,
        org.apache.spark.sql.types.BooleanType) => true
      case _ => false
    }
    if (fullDelete || partitionOnly(aCond, meta)) {
      // metadata-only: evaluate the (analyzer-coerced) predicate
      // against partition values, where the state lives
      val doomed =
        if (fullDelete) st.allFiles
        else st.filesWherePartition(
          boundPartition(aCond, meta.partitionSchema))
      tx.readPartitions = Some(doomed.map(_.partitionValues).toSet)
      tx.readFilePaths = doomed.map(_.path).toSet
      val cdc =
        if (!cdfEnabled(meta) || doomed.isEmpty) None
        else writeCdc(spark, l, meta,
          readFiles(spark, l, doomed.map(_.path), meta.schema, doomed,
            DlvColMap.toLogicalRenames(meta), meta.partitionColumns)
            .withColumn("_change_type", lit("delete")))
      val removes = doomed.map(_.remove(now, dataChange = true))
      // whole files go: deleted rows = their stats totals minus rows
      // already dead in their vectors
      val metrics = CommitInfo.rowCount(doomed).map(rows =>
        Map("numDeletedRows" ->
          (rows - doomed.flatMap(_.dv).map(_.cardinality).sum).toString))
      return tx.commit(removes ++ cdc ++
        CommitInfo.metricsCarrier(metrics.getOrElse(Map.empty)),
        isBlindAppend = false)
    }

    val touched = touchedFiles(spark, l, st, cond)
    if (touched.isEmpty)
      return tx.commit(Nil, isBlindAppend = false)
    val touchedAdds = st.filesByPath(touched)
    tx.readFilePaths = touched
    tx.readPartitions = Some(touchedAdds.map(_.partitionValues).toSet)

    if (DlvDv.enabled(meta)) {
      // deletion-vector route: mark rows dead in a sidecar instead of
      // rewriting the touched files — the write-amplification lever
      // (predicate deletes cost O(matched rows), not O(touched bytes))
      val actions = DlvDv.deleteActions(spark, l, meta, touchedAdds,
        cond, changes => writeCdc(spark, l, meta, changes),
        cdfEnabled(meta), now)
      // per-path vector cardinality delta IS the deleted-row count,
      // exactly (files the predicate matched nothing in are not
      // re-added and must not contribute their old cardinality)
      val newAdds = actions.collect { case a: AddFile => a }
      val oldCard = touchedAdds.map(f =>
        f.path -> f.dv.map(_.cardinality).getOrElse(0L)).toMap
      val deleted = newAdds.map(f =>
        f.dv.map(_.cardinality).getOrElse(0L) -
          oldCard.getOrElse(f.path, 0L)).sum
      return tx.commit(DlvIdentity.advance(meta, newAdds).toSeq ++
        dvProtocolBump(st, actions) ++ actions ++
        CommitInfo.metricsCarrier(
          Map("numDeletedRows" -> deleted.toString)),
        isBlindAppend = false)
    }

    // PERSISTED: under CDF the touched-file scan feeds both the
    // rewrite (kept rows) and the CDC delete image — without caching,
    // each pass re-reads the touched files from storage.
    val touchedDf = readFiles(spark, l, touched.toSeq, meta.schema,
      touchedAdds, DlvColMap.toLogicalRenames(meta),
      meta.partitionColumns).persist()
    try {
      // SQL DELETE semantics: only rows where the predicate is TRUE
      // are deleted — a NULL predicate keeps the row. `!cond` alone
      // would silently drop NULL-evaluating rows (null is not true
      // for filter), diverging from the DV route and emitting no CDC
      // image for the disappearance.
      val hit = coalesce(cond, lit(false))
      val kept = touchedDf.filter(!hit)
      val adds = DlvTable.stageFiles(spark, l, kept, meta, dataChange = true)
      val removes = touchedAdds.map(_.remove(now, dataChange = true))
      val cdc =
        if (!cdfEnabled(meta)) None
        else writeCdc(spark, l, meta, touchedDf.filter(hit)
          .withColumn("_change_type", lit("delete")))
      // rewrite route: deleted = touched live rows minus rewritten
      // survivors (touched stats minus their vectors' dead rows, both
      // sides stats-complete or the metric is omitted)
      val metrics = for {
        before <- CommitInfo.rowCount(touchedAdds)
        after <- CommitInfo.rowCount(adds)
      } yield Map("numDeletedRows" -> (before -
        touchedAdds.flatMap(_.dv).map(_.cardinality).sum -
        after).toString)
      tx.commit(DlvIdentity.advance(meta, adds).toSeq ++
        removes ++ adds ++ cdc ++
        CommitInfo.metricsCarrier(metrics.getOrElse(Map.empty)),
        isBlindAppend = false)
    } finally {
      touchedDf.unpersist()
      ()
    }
  }

  /** delta's `replaceWhere` overwrite: ONE atomic commit that
    * logically deletes every row satisfying `cond` and inserts `df` —
    * the predicate-scoped overwrite (backfill a day, restate a
    * partition) that a whole-table overwrite would turn into a 100 TB
    * rewrite. Every incoming row must satisfy `cond` (delta's
    * containment rule — anything else would silently leak rows
    * outside the replaced region); a violation fails the write before
    * any commit. Partition-only predicates remove files by metadata
    * alone; arbitrary predicates rewrite only the touched files'
    * survivors. Always copy-on-write (a bulk restatement gains
    * nothing from deletion vectors; DV-enabled tables read through
    * their vectors and come out clean). */
  def overwriteWhere(
      spark: SparkSession, path: String, df: DataFrame,
      cond: Column): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "WRITE",
      Map("mode" -> "Overwrite", "predicate" -> cond.toString))
    val st = dmlState(spark, l, tx)
    val meta = st.metadata
    checkAppendOnly(meta, "INSERT OVERWRITE (replaceWhere)")
    DlvIdentity.checkExplicit(df, meta, "INSERT OVERWRITE")
    val now = System.currentTimeMillis()
    // containment rides the write's own scan (no extra pass): a row
    // outside the replaced region — including a NULL predicate —
    // fails the job before any file is staged
    val guarded = df.filter(assert_true(cond, lit(
      "replaceWhere: an incoming row does not satisfy the " +
        "predicate")).isNull)
    // under CDF the insert frame feeds BOTH staging and the CDC
    // images — pin the FULL write normalization (generated columns
    // computed, identity allocated, schema null-filled/ordered),
    // persisted so both passes observe the same values: identity
    // allocation AND any nondeterministic source expression would
    // otherwise re-evaluate between the two passes, and a generated
    // column the incoming frame omits would reach the table computed
    // but the feed absent/NULL. DlvTable.overwrite re-reads staged
    // files for the same reason.
    val (inserted, pin) =
      if (!cdfEnabled(meta)) (guarded, None)
      else {
        val pinned = DlvTable.writeNormalized(guarded, meta).persist()
        (pinned, Some(pinned))
      }
    try {
      val aCond = analyzedCond(st.df, cond)
      val fullReplace = aCond match {
        case org.apache.spark.sql.catalyst.expressions.Literal(true,
          org.apache.spark.sql.types.BooleanType) => true
        case _ => false
      }
      def insertImages = inserted.withColumn("_change_type", lit("insert"))
      if (fullReplace || partitionOnly(aCond, meta)) {
        // metadata-only removes: predicate evaluated on partition
        // values, no old data read (except for CDC delete images)
        val doomed =
          if (fullReplace) st.allFiles
          else st.filesWherePartition(
            boundPartition(aCond, meta.partitionSchema))
        tx.readFilePaths = doomed.map(_.path).toSet
        // the restated REGION is the read dependency, not just the
        // partitions that currently hold files: a concurrent append
        // into the region (including a brand-new partition value
        // satisfying the predicate) must conflict, or it would
        // silently survive inside an "atomically restated" range
        tx.setReadWholeTable()
        if (fullReplace) tx.setConflictOnAnyRemove()
        else tx.addConflictFilter = partitionScopeFilter(aCond, meta)
        val staged = DlvTable.stageFiles(spark, l, inserted, meta,
          dataChange = true)
        val cdc =
          if (!cdfEnabled(meta)) None
          else {
            val delImg =
              if (doomed.isEmpty) None
              else Some(readFiles(spark, l, doomed.map(_.path),
                meta.schema, doomed, DlvColMap.toLogicalRenames(meta),
                meta.partitionColumns)
                .withColumn("_change_type", lit("delete")))
            writeCdc(spark, l, meta,
              delImg.map(_.unionByName(insertImages))
                .getOrElse(insertImages))
          }
        val removes = doomed.map(_.remove(now, dataChange = true))
        return tx.commit(DlvIdentity.advance(meta, staged).toSeq ++
          removes ++ staged ++ cdc, isBlindAppend = false)
      }
      // arbitrary predicate: rewrite ONLY the touched files' survivors
      val touched = touchedFiles(spark, l, st, cond)
      val touchedAdds = st.filesByPath(touched)
      tx.readFilePaths = touched
      // arbitrary predicate: the engine cannot evaluate a DATA
      // predicate against a concurrent add's rows, so the sound
      // dependency is whole-table — narrowed to the predicate's
      // partition-column conjuncts when it carries any (the same
      // scoping MERGE uses)
      tx.setReadWholeTable()
      tx.addConflictFilter = partitionScopeFilter(aCond, meta)
      val touchedDf =
        if (touched.isEmpty) None
        else Some(readFiles(spark, l, touched.toSeq, meta.schema,
          touchedAdds, DlvColMap.toLogicalRenames(meta),
          meta.partitionColumns).persist())
      try {
        // only predicate-TRUE rows are replaced; NULL keeps the row
        // (same rule as DELETE)
        val hit = coalesce(cond, lit(false))
        val out = touchedDf.map(_.filter(!hit).unionByName(inserted))
          .getOrElse(inserted)
        val staged = DlvTable.stageFiles(spark, l, out, meta,
          dataChange = true)
        val removes = touchedAdds.map(_.remove(now, dataChange = true))
        val cdc =
          if (!cdfEnabled(meta)) None
          else writeCdc(spark, l, meta,
            touchedDf.map(_.filter(hit)
                .withColumn("_change_type", lit("delete"))
                .unionByName(insertImages))
              .getOrElse(insertImages))
        tx.commit(DlvIdentity.advance(meta, staged).toSeq ++
          removes ++ staged ++ cdc, isBlindAppend = false)
      } finally {
        touchedDf.foreach(_.unpersist())
        ()
      }
    } finally {
      pin.foreach(_.unpersist())
      ()
    }
  }

  def update(
      spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column]): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "UPDATE",
      Map("predicate" -> cond.toString))
    val st = dmlState(spark, l, tx)
    val meta = st.metadata
    checkAppendOnly(meta, "UPDATE")
    val idSet = DlvIdentity.of(meta).map(_._1).filter(n =>
      set.keys.exists(_.equalsIgnoreCase(n)))
    require(idSet.isEmpty,
      s"UPDATE cannot set identity column(s) ${idSet.mkString(", ")}")
    val touched = touchedFiles(spark, l, st, cond)
    if (touched.isEmpty) return tx.commit(Nil, isBlindAppend = false)
    val touchedAdds = st.filesByPath(touched)
    tx.readFilePaths = touched
    tx.readPartitions = Some(touchedAdds.map(_.partitionValues).toSet)

    if (DlvDv.enabled(meta)) {
      // deletion-vector route: soft-delete the matched rows, append
      // their updated copies — a sparse update writes O(matched rows)
      // instead of rewriting O(touched bytes). A set that moves rows
      // across partitions works through the staged write as usual.
      val now = System.currentTimeMillis()
      val actions = DlvDv.updateActions(spark, l, meta, touchedAdds,
        cond, set, changes => writeCdc(spark, l, meta, changes),
        cdfEnabled(meta), now)
      // soft-deleted matched rows == the per-path vector cardinality
      // delta == the updated-row count (their copies land as new
      // files, whose dv-less paths contribute zero)
      val newAdds = actions.collect { case a: AddFile => a }
      val oldCard = touchedAdds.map(f =>
        f.path -> f.dv.map(_.cardinality).getOrElse(0L)).toMap
      val updated = newAdds.map(f =>
        f.dv.map(_.cardinality).getOrElse(0L) -
          oldCard.getOrElse(f.path, 0L)).sum
      return tx.commit(DlvIdentity.advance(meta, newAdds).toSeq ++
        dvProtocolBump(st, actions) ++ actions ++
        CommitInfo.metricsCarrier(
          Map("numUpdatedRows" -> updated.toString)),
        isBlindAppend = false)
    }

    // PERSISTED: under CDF the touched-file scan is evaluated up to
    // four times — rewrite, CDC preimage, CDC postimage (plus the
    // discovery scan above) — mirroring MERGE's source persistence.
    // Without it dlv_cdf pays ~3 redundant storage passes per UPDATE.
    // The rewrite reads THROUGH any deletion vectors (dead rows must
    // not resurrect); the clean rewritten files purge them.
    val touchedDf = readFiles(spark, l, touched.toSeq, meta.schema,
      touchedAdds, DlvColMap.toLogicalRenames(meta),
      meta.partitionColumns).persist()
    try {
      def applySet(df: DataFrame): DataFrame = {
        val afterSet = meta.schema.fieldNames.foldLeft(df) { (acc, c) =>
          set.get(c) match {
            case Some(v) => acc.withColumn(c,
              when(cond, v).otherwise(col(c)))
            case None => acc
          }
        }
        // generated columns the SET left untouched recompute from the
        // POST-update row (sequential withColumn: the expressions see
        // the applied sets) — `UPDATE .. SET ts = ..` keeps `day(ts)`
        // consistent without the caller spelling it
        DlvGenerated.recomputeAfterSet(meta, set)
          .foldLeft(afterSet) { case (acc, (g, e)) =>
            acc.withColumn(g, when(cond, e).otherwise(col(g)))
          }
      }
      val rewritten = applySet(touchedDf)
      val adds = DlvTable.stageFiles(spark, l, rewritten, meta,
        dataChange = true)
      val now = System.currentTimeMillis()
      val removes = touchedAdds.map(_.remove(now, dataChange = true))
      val cdc =
        if (!cdfEnabled(meta)) None
        else {
          val pre = touchedDf.filter(cond)
            .withColumn("_change_type", lit("update_preimage"))
          val post = applySet(touchedDf.filter(cond))
            .withColumn("_change_type", lit("update_postimage"))
          writeCdc(spark, l, meta, pre.unionByName(post))
        }
      tx.commit(DlvIdentity.advance(meta, adds).toSeq ++
        removes ++ adds ++ cdc, isBlindAppend = false)
    } finally {
      touchedDf.unpersist()
      ()
    }
  }

  // ── MERGE ──

  sealed trait MergeClause { def condition: Option[Column] }
  final case class MatchedUpdate(
      condition: Option[Column], set: Map[String, Column]) extends MergeClause
  final case class MatchedDelete(condition: Option[Column]) extends MergeClause
  final case class NotMatchedInsert(
      condition: Option[Column], values: Map[String, Column]) extends MergeClause
  final case class NotMatchedBySourceUpdate(
      condition: Option[Column], set: Map[String, Column]) extends MergeClause
  final case class NotMatchedBySourceDelete(
      condition: Option[Column]) extends MergeClause

  /** MERGE INTO target USING source ON cond, Delta-style semantics:
    * first applicable clause wins per row; a target row matching more
    * than one source row is an error; untouched files survive as-is.
    * Source columns are referenced as `src.<name>` in clause
    * conditions/values. */
  /** `withSchemaEvolution` = delta's `MERGE WITH SCHEMA EVOLUTION`
    * (autoMerge): TOP-LEVEL source columns absent from the target are
    * added to the table schema in the SAME commit as the merge — old
    * files read the new columns as typed nulls, the staged rewrite
    * and inserts carry them, and concurrent writers fail
    * MetadataChanged (a schema change is a metadata change). The
    * merge CONDITION must reference pre-existing target columns (a
    * brand-new column is null on every target row — matching on it
    * is meaningless and the discovery scan refuses to resolve it). */
  def merge(
      spark: SparkSession, path: String, source: DataFrame,
      on: Column, clauses: Seq[MergeClause],
      extraOpParams: Map[String, String] = Map.empty,
      withSchemaEvolution: Boolean = false): Long = {
    val l = DlvTable.log(path)
    // extraOpParams land in the CommitInfo — the streaming upsert
    // sink stamps (txnAppId, txnBatchId) here for exactly-once replay
    val tx = new OptimisticTransaction(l, "MERGE", extraOpParams)
    val st = dmlState(spark, l, tx)
    // schema evolution: compute the widened metadata up front — every
    // downstream step (clause folds, file reads, staging, CDC) then
    // speaks the evolved schema uniformly
    val evolved: Option[Metadata] = if (!withSchemaEvolution) None else {
      val known = st.metadata.schema.fieldNames
        .map(_.toLowerCase).toSet
      val extras = source.schema.fields
        .filterNot(f => known.contains(f.name.toLowerCase))
        .filterNot(_.name.startsWith("__")) // engine-reserved lexicon
        .map(_.copy(nullable = true)) // pre-evolution rows are null
      if (extras.isEmpty) None
      // the one widening chokepoint: under id-mode mapping the new
      // columns get fresh field ids + col-<id> physical names
      else Some(DlvColMap.assignNewColumns(st.metadata, extras.toSeq))
    }
    val meta = evolved.getOrElse(st.metadata)
    val tgtCols = meta.schema.fieldNames.toSeq
    // identity guards — the same contract the UPDATE and INSERT
    // surfaces enforce, or MERGE would be the loophole: no clause may
    // SET an identity column, and ALWAYS refuses explicit insert
    // values (BY DEFAULT inserts may supply them)
    val ids = DlvIdentity.of(st.metadata)
    if (ids.nonEmpty) {
      def touching(keys: Iterable[String], always: Boolean) =
        ids.collect { case (n, d) if (!always || d.always) &&
          keys.exists(_.equalsIgnoreCase(n)) => n }
      clauses.foreach {
        case MatchedUpdate(_, set) =>
          val bad = touching(set.keys, always = false)
          require(bad.isEmpty, s"MERGE cannot update identity " +
            s"column(s) ${bad.mkString(", ")}")
        case NotMatchedBySourceUpdate(_, set) =>
          val bad = touching(set.keys, always = false)
          require(bad.isEmpty, s"MERGE cannot update identity " +
            s"column(s) ${bad.mkString(", ")}")
        case NotMatchedInsert(_, values) =>
          val bad = touching(values.keys, always = true)
          require(bad.isEmpty, s"MERGE INSERT: column(s) " +
            s"${bad.mkString(", ")} are GENERATED ALWAYS AS IDENTITY " +
            "— values cannot be supplied")
        case _ => ()
      }
    }
    // explicit match marker: no source column is trustworthy as a
    // match signal (legitimately-null values would read as non-match).
    // PERSISTED: the source feeds three passes (discovery, rewrite,
    // insert) — an arbitrary source query must not recompute per pass.
    val src = source.withColumn("__src_marker", lit(true)).alias("src")
      .persist()
    try {
      mergeBody(spark, l, tx, st, meta, evolved, tgtCols, src, on,
        clauses)
    } finally {
      src.unpersist()
      ()
    }
  }

  private def mergeBody(
      spark: SparkSession, l: DlvLog, tx: OptimisticTransaction,
      st: DmlState, meta: Metadata, evolved: Option[Metadata],
      tgtCols: Seq[String],
      src: DataFrame, on: Column, clauses: Seq[MergeClause]): Long = {
    // a MERGE whose only clause is NOT MATCHED INSERT is an append —
    // allowed on an append-only table; anything touching existing
    // rows is not
    if (clauses.exists(!_.isInstanceOf[NotMatchedInsert]))
      checkAppendOnly(meta, "MERGE with update/delete clauses")
    val insert = clauses.collectFirst { case i: NotMatchedInsert => i }
    val matchedClauses = clauses.exists(c =>
      c.isInstanceOf[MatchedUpdate] || c.isInstanceOf[MatchedDelete])
    val viaVectors = DlvDv.enabled(meta)
    // Two passes read the target, as in Delta's MERGE: pass 0 joins
    // it with the source to find the matches, pass 1 rewrites the
    // files holding them. The insert set and the matched clauses'
    // change images come from pass 0's join and read no target file.
    //
    // pass 0: the inner join tgt ⋈ src over the routed scan (stats
    // skipping prunes target files whose key ranges miss the source).
    // One action feeds both the touched-file set and the multi-match
    // guard. Row IDENTITY (not row equality) backs the guard —
    // duplicate target rows are each allowed their own single match.
    // Columns this merge adds read as typed nulls, as in every file
    // read, so clause expressions over them resolve on the join.
    val scanned = discovery(spark, l, st)
      .withColumn("__rid", monotonically_increasing_id())
    // …but the merge CONDITION still resolves against the unwidened
    // scan: an added column is null on every target row, and matching
    // on it refuses (the join analyzes eagerly)
    if (evolved.nonEmpty) scanned.alias("tgt").join(src, on)
    val tgtAll = nullFill(scanned, meta.schema).alias("tgt")
    // the join is PINNED when a later step reads it — the insert set,
    // and under CDF the matched clauses' change images on the
    // copy-on-write route — so neither scans the target again
    val pinned = insert.nonEmpty ||
      (cdfEnabled(meta) && !viaVectors && matchedClauses)
    val matches =
      if (pinned) tgtAll.join(src, on).persist() else tgtAll.join(src, on)
    var insertPin: Option[DataFrame] = None
    try {
      val perFile = matches
        .groupBy(col("__file"), col("__rid"))
        .agg(count(lit(1)).as("__m"))
        .groupBy(col("__file")).agg(max(col("__m")).as("__mx"))
        .collect()
      require(perFile.forall(_.getLong(1) <= 1),
        "MERGE: a target row matched multiple source rows")
      val touched =
        perFile.map(r => relPathOfUri(l, r.getString(0))).toSet
      tx.readFilePaths = touched
      tx.setReadWholeTable() // inserts depend on global non-matches
      // …but when the merge condition carries conjuncts over TARGET
      // partition columns alone (tgt.part = 5 AND tgt.k = src.k), no
      // row outside those partitions can ever match — concurrent adds
      // there cannot invalidate this merge's decisions, so the
      // whole-table ADD dependency narrows to the partition scope and
      // merges into disjoint partitions commit concurrently (delta's
      // behavior). BY SOURCE clauses read non-matching rows
      // table-wide, so they keep the full dependency.
      if (!clauses.exists(c => c.isInstanceOf[NotMatchedBySourceUpdate] ||
          c.isInstanceOf[NotMatchedBySourceDelete]))
        tx.addConflictFilter =
          mergeAddConflictScope(tgtAll, src, on, meta)

      val bySourceConds: Seq[Option[Column]] = clauses.collect {
        case NotMatchedBySourceUpdate(c, _) => c
        case NotMatchedBySourceDelete(c) => c
      }
      // the rewrite set is carried as the collected ADDFILES themselves:
      // the remove enumeration at commit time reuses them, so the
      // distributed route never re-collects (a second filesByPath over
      // the full-table case would broadcast an O(table) path set
      // straight back to the executors it just came from)
      val rewriteFiles: Seq[AddFile] =
        if (bySourceConds.isEmpty) st.filesByPath(touched)
        else {
          // by-source clauses can touch any NON-matching target row,
          // but a file whose min/max prove NO row satisfies ANY clause
          // condition cannot be changed by them — rewrite touched ∪
          // possibly-affected instead of the whole table (at 100 TB: a
          // partition instead of everything). An unconditional clause,
          // or a condition that won't analyze against the target alone
          // (they may only reference target columns — no source row
          // exists for a by-source row), keeps the full rewrite.
          val prunable:
              Option[org.apache.spark.sql.catalyst.expressions.Expression] =
            if (bySourceConds.exists(_.isEmpty)) None
            else try {
              val tgtView = st.df.alias("tgt")
              Some(bySourceConds.flatten
                .map(c => foldConstants(analyzedCond(tgtView, c)))
                .reduce(
                  org.apache.spark.sql.catalyst.expressions.Or(_, _)))
            } catch { case scala.util.control.NonFatal(_) => None }
          prunable match {
            case None => st.allFiles
            case Some(anyClause) =>
              val may = st.filesMayMatch(Seq(anyClause))
              val mayPaths = may.map(_.path).toSet
              // both collects are bounded (pruned set + touched set)
              may ++ st.filesByPath(touched -- mayPaths)
          }
        }
      val rewriteSet: Set[String] = rewriteFiles.map(_.path).toSet

      // inserts = source rows matching NO target row, computed as the
      // anti-join against the PINNED matched target rows instead of
      // the whole table. Exact: a source row matches some target row
      // only if that row joined it in pass 0, so the rows outside the
      // matched set cannot change the answer.
      val inserted: Option[DataFrame] = insert.map {
        case NotMatchedInsert(cond, values) =>
          val raw = src
            .join(matches.select(col("tgt.*")).alias("tgt"), on,
              "left_anti")
            .filter(cond.getOrElse(lit(true)))
            .select(tgtCols.map(n => values.getOrElse(n,
              lit(null).cast(meta.schema(n).dataType)).as(n)): _*)
          val (df, pin) = pinInsertIdentity(raw, meta)
          insertPin = pin
          df
      }

      // deletion-vector route: when the table opts in, MERGE marks the
      // changed/deleted target rows dead in a sidecar and appends ONLY
      // the updated copies and inserts — the unchanged rows of touched
      // files stay alive in place, so a sparse merge costs O(affected
      // rows) written instead of O(touched bytes) rewritten (the same
      // lever as the DELETE/UPDATE twins, completing the DML triple)
      if (viaVectors && rewriteSet.nonEmpty) {
        require(src.columns.forall(!_.startsWith("__dv_")),
          "MERGE source columns may not use the reserved '__dv_' prefix")
        return mergeViaVectors(spark, l, tx, st, meta, evolved,
          tgtCols, src, on, clauses, rewriteFiles, inserted)
      }

      // pass 1: rewrite the touched files via a left-outer join with
      // the source — the only other read of the target
      val outputs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val changes = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (rewriteSet.nonEmpty) {
        val tgt = readFiles(spark, l, rewriteSet.toSeq, meta.schema,
          rewriteFiles, DlvColMap.toLogicalRenames(meta),
          meta.partitionColumns).alias("tgt")
        val resolved = resolveClauses(
          tgt.join(src, on, "left_outer").withColumn("__matched",
            coalesce(col("src.__src_marker"), lit(false))),
          clauses, tgtCols)
        outputs += resolved.filter(!col("__del"))
          .select(tgtCols.map(n => col("__out").getField(n).as(n)): _*)
        // by-source clauses change rows the pin does not hold
        if (bySourceConds.nonEmpty)
          changes += changeImages(
            resolved.filter(!col("__matched")), tgtCols)
        // matched clauses' images come from the pinned matches: the
        // same rows, resolved by the same fold, without re-reading the
        // files
        if (cdfEnabled(meta) && matchedClauses)
          changes += changeImages(resolveClauses(
            matches.withColumn("__matched", lit(true)), clauses, tgtCols),
            tgtCols)
      }
      inserted.foreach { df =>
        outputs += df
        changes += df.withColumn("_change_type", lit("insert"))
      }

      val now = System.currentTimeMillis()
      val removes = rewriteFiles.map(_.remove(now, dataChange = true))
      val adds =
        if (outputs.isEmpty) Nil
        else DlvTable.stageFiles(spark, l,
          outputs.reduce(_ unionByName _), meta, dataChange = true)
      val cdc =
        if (!cdfEnabled(meta) || changes.isEmpty) None
        else writeCdc(spark, l, meta, changes.reduce(_ unionByName _))
      tx.commit(mergeMetaActions(tx, meta, evolved, adds) ++
        removes ++ adds ++ cdc, isBlindAppend = false)
    } finally {
      insertPin.foreach(_.unpersist())
      if (pinned) matches.unpersist()
      ()
    }
  }

  /** The clause fold over joined target/source rows that carry
    * `__matched`: adds the output row `__out` (a struct over
    * `tgtCols`, the target row itself when no clause changes it) and
    * the delete flag `__del`. First applicable clause wins. One fold
    * serves the rewrite, the vector mark and the pinned matches. */
  private def resolveClauses(
      joined: DataFrame, clauses: Seq[MergeClause],
      tgtCols: Seq[String]): DataFrame = {
    def tcol(c: String) = col(s"tgt.$c")
    val keepAsIs = struct(tgtCols.map(tcol): _*)
    var out: Column = keepAsIs
    var del: Column = lit(false)
    // build in reverse so earlier clauses take precedence
    clauses.reverse.foreach {
      case MatchedUpdate(c, set) =>
        val applies = col("__matched") && c.getOrElse(lit(true))
        val updated = struct(tgtCols.map(n =>
          set.getOrElse(n, tcol(n)).as(n)): _*)
        out = when(applies, updated).otherwise(out)
        del = when(applies, lit(false)).otherwise(del)
      case MatchedDelete(c) =>
        val applies = col("__matched") && c.getOrElse(lit(true))
        del = when(applies, lit(true)).otherwise(del)
        out = when(applies, keepAsIs).otherwise(out)
      case NotMatchedBySourceUpdate(c, set) =>
        val applies = !col("__matched") && c.getOrElse(lit(true))
        val updated = struct(tgtCols.map(n =>
          set.getOrElse(n, tcol(n)).as(n)): _*)
        out = when(applies, updated).otherwise(out)
        del = when(applies, lit(false)).otherwise(del)
      case NotMatchedBySourceDelete(c) =>
        val applies = !col("__matched") && c.getOrElse(lit(true))
        del = when(applies, lit(true)).otherwise(del)
      case _: NotMatchedInsert => ()
    }
    joined.withColumn("__out", out).withColumn("__del", del)
  }

  /** The change rows of [[resolveClauses]] output: a deleted row as
    * `delete`, a changed row as its `update_preimage` /
    * `update_postimage` pair. A row an update leaves equal emits
    * nothing. */
  private def changeImages(
      resolved: DataFrame, tgtCols: Seq[String]): DataFrame = {
    val before = tgtCols.map(n => col(s"tgt.$n"))
    val after = tgtCols.map(n => col("__out").getField(n).as(n))
    val changed = !col("__del") && !(col("__out") <=> struct(before: _*))
    def image(rows: Column, cols: Seq[Column], kind: String) =
      resolved.filter(rows).select(cols: _*)
        .withColumn("_change_type", lit(kind))
    image(col("__del"), before, "delete")
      .unionByName(image(changed, before, "update_preimage"))
      .unionByName(image(changed, after, "update_postimage"))
  }

  /** MERGE-insert frame WRITE-NORMALIZED (generated columns computed,
    * identity allocated, schema null-filled/ordered) BEFORE the
    * staging/CDC fork, PERSISTED so both passes observe the same
    * rows: identity allocation rides
    * `monotonically_increasing_id` (nondeterministic on recompute),
    * any nondeterministic source expression (current_timestamp,
    * rand) would re-evaluate between the two scans, and a generated
    * column the insert action omits would reach the table computed
    * but the feed absent — the feed must carry exactly the rows the
    * table committed. CDF-off tables skip the pin entirely (only one
    * consumer exists). Returns the frame to use plus the handle to
    * unpersist after commit. */
  private def pinInsertIdentity(
      raw: DataFrame, meta: Metadata): (DataFrame, Option[DataFrame]) =
    if (!cdfEnabled(meta)) (raw, None)
    else {
      val pinned = DlvTable.writeNormalized(raw, meta).persist()
      (pinned, Some(pinned))
    }

  /** The concurrent-ADD conflict scope a single-relation predicate
    * implies: the conjunction of its conjuncts that reference ONLY
    * partition columns, evaluated per AddFile's partition values —
    * None (whole table) when no such conjunct exists or anything
    * fails to bind. The single-relation analogue of
    * [[mergeAddConflictScope]]. */
  private[dlv] def partitionScopeFilter(
      aCond: org.apache.spark.sql.catalyst.expressions.Expression,
      meta: Metadata): Option[AddFile => Boolean] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{
        And => CAnd, Expression}
      if (meta.partitionColumns.isEmpty) return None
      val partNames = meta.partitionColumns.map(_.toLowerCase).toSet
      def split(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => split(l) ++ split(r)
        case other => Seq(other)
      }
      val scoped = split(aCond).filter { c =>
        c.deterministic && c.references.nonEmpty &&
          c.references.forall(a => partNames.contains(a.name.toLowerCase))
      }
      if (scoped.isEmpty) None
      else {
        val bound = boundPartition(
          scoped.reduce(CAnd(_, _)), meta.partitionSchema)
        val pred = org.apache.spark.sql.catalyst.expressions
          .Predicate.create(bound)
        pred.initialize(0)
        Some((a: AddFile) => pred.eval(
          DlvFileIndex.partitionValueRow(a, meta.partitionSchema)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The partition scope a MERGE's whole-table ADD dependency narrows
    * to: the conjunction of the merge condition's conjuncts that
    * reference ONLY target partition columns (plus literals),
    * evaluated per concurrent AddFile's partition values. None — keep
    * the full whole-table dependency — when no such conjunct exists,
    * the table is unpartitioned, or anything fails to analyze
    * (narrowing is an optimization; the fallback is always safe). */
  private[dlv] def mergeAddConflictScope(
      tgtAll: DataFrame, src: DataFrame, on: Column,
      meta: Metadata): Option[AddFile => Boolean] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{
        And => CAnd, Expression}
      if (meta.partitionColumns.isEmpty) return None
      val analyzed = tgtAll.join(src, on).queryExecution.analyzed
      val cond: Expression = (analyzed.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.nonEmpty => j.condition.get
      }) match {
        case Some(c) => c
        case None => return None
      }
      val tgtAttrs = tgtAll.queryExecution.analyzed.outputSet
      val partNames = meta.partitionColumns.map(_.toLowerCase).toSet
      def split(e: Expression): Seq[Expression] = e match {
        case CAnd(l, r) => split(l) ++ split(r)
        case other => Seq(other)
      }
      val scoped = split(cond).filter { c =>
        c.deterministic && c.references.nonEmpty &&
          c.references.forall(a => tgtAttrs.contains(a) &&
            partNames.contains(a.name.toLowerCase))
      }
      if (scoped.isEmpty) None
      else {
        val bound = boundPartition(
          scoped.reduce(CAnd(_, _)), meta.partitionSchema)
        val pred = org.apache.spark.sql.catalyst.expressions
          .Predicate.create(bound)
        pred.initialize(0)
        // null partition values evaluate the predicate to null →
        // false → non-conflicting, which is exactly right: a
        // null-partition row can never satisfy the condition either
        Some((a: AddFile) => pred.eval(
          DlvFileIndex.partitionValueRow(a, meta.partitionSchema)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The metadata action(s) a MERGE commit carries: the identity
    * watermark advance computed ON the (possibly widened) schema —
    * one Metadata action holds both — or the bare widened schema when
    * no watermark moved. Empty for the common no-evolution,
    * no-identity case. */
  private def mergeMetaActions(
      tx: OptimisticTransaction, meta: Metadata,
      evolved: Option[Metadata], adds: Seq[AddFile]): Seq[Action] = {
    val bump: Seq[Action] =
      if (evolved.nonEmpty && DlvColMap.idMode(meta))
        DlvColMap.cmBump(tx)
      else Nil
    bump ++ DlvIdentity.advance(meta, adds).map(Seq[Action](_))
      .getOrElse(evolved.toSeq)
  }

  /** MERGE through deletion vectors: resolve the clauses over the
    * live rows of `rewriteFiles` (left-outer join with the source and
    * the rewrite route's [[resolveClauses]] fold), mark the rows a
    * clause deletes or changes dead via [[DlvDv.withMarkedBy]], and
    * stage only the updated copies plus the not-matched `inserted`
    * rows as new files. A merge that changes nothing but inserts
    * still appends (the mark pass is empty — vectors untouched). CDC
    * carries the same delete / update_preimage / update_postimage /
    * insert rows the rewrite route writes. */
  private def mergeViaVectors(
      spark: SparkSession, l: DlvLog, tx: OptimisticTransaction,
      st: DmlState, meta: Metadata, evolved: Option[Metadata],
      tgtCols: Seq[String], src: DataFrame, on: Column,
      clauses: Seq[MergeClause], rewriteFiles: Seq[AddFile],
      inserted: Option[DataFrame]): Long = {
    val now = System.currentTimeMillis()
    def insertChanges: Option[DataFrame] =
      inserted.map(_.withColumn("_change_type", lit("insert")))
    val keepAsIs = struct(tgtCols.map(n => col(s"tgt.$n")): _*)

    // live rows a clause deletes or changes — carrying the resolved
    // output row (__out) and the delete flag (__del) through to the
    // staging/CDC body. Unchanged-by-update rows are NOT marked: the
    // rewrite route keeps them as survivors, this route leaves them
    // alive in place — same content, no vector growth.
    val mark: DataFrame => DataFrame = live =>
      resolveClauses(
        live.alias("tgt").join(src, on, "left_outer").withColumn(
          "__matched", coalesce(col("src.__src_marker"), lit(false))),
        clauses, tgtCols)
        .filter(col("__del") || !(col("__out") <=> keepAsIs))

    val dvActions = DlvDv.withMarkedBy(spark, l, meta, rewriteFiles,
        mark, now) { (marked, _) =>
      val updatedCopies = marked.filter(!col("__del"))
        .select(tgtCols.map(n => col("__out").getField(n).as(n)): _*)
      val staged = DlvTable.stageFiles(spark, l,
        inserted.map(updatedCopies.unionByName(_))
          .getOrElse(updatedCopies),
        meta, dataChange = true)
      val cdc =
        if (!cdfEnabled(meta)) None
        else {
          val images = changeImages(marked, tgtCols)
          writeCdc(spark, l, meta,
            insertChanges.map(images.unionByName(_)).getOrElse(images))
        }
      staged ++ cdc
    }
    if (dvActions.nonEmpty)
      tx.commit(mergeMetaActions(tx, meta, evolved,
          dvActions.collect { case a: AddFile => a }) ++
        dvProtocolBump(st, dvActions) ++ dvActions,
        isBlindAppend = false)
    else {
      // no live row was changed or deleted — inserts (if any) still
      // append; vectors and data files stay untouched
      val adds = inserted.map(df =>
        DlvTable.stageFiles(spark, l, df, meta, dataChange = true))
        .getOrElse(Nil)
      val cdc =
        if (!cdfEnabled(meta) || adds.isEmpty) None
        else insertChanges.flatMap(writeCdc(spark, l, meta, _))
      tx.commit(mergeMetaActions(tx, meta, evolved, adds) ++
        adds ++ cdc, isBlindAppend = false)
    }
  }

  /** Read specific table files with partition columns recovered from
    * their hive paths, projected and cast to `schema`. The schema is
    * REQUIRED (no resolve-at-latest convenience): every caller is
    * version-pinned (DML at the tx version, change feed at its range
    * end, streaming at its start), and resolving at latest would both
    * materialize a snapshot and emit a different shape than the reads
    * beside it when the schema evolved past the pinned version.
    * Schema-evolution aware: columns the files predate (ADD COLUMNS)
    * come back as typed nulls; columns `schema` dropped are projected
    * away. */
  /** Read table files by rel path, schema-aligned. `dvFiles` (the
    * AddFiles being read, when the caller has them) applies their
    * deletion vectors — every REWRITE source must pass them, or a
    * rewrite would resurrect soft-deleted rows. Historical replays
    * (CDF) pass vector-free entries only for their log sizes: they
    * want the file's rows as written.
    *
    * With `keepFileKey` the output carries one extra `__src_file`
    * column — the row's source-file key ([[DlvDv.keyOf]] form) — for
    * callers that shuffle rewrites by source file (distributed REORG)
    * or stamp rows by it (the change feed); it resolves per scan leg,
    * where `input_file_name()` would refuse a multi-source (DV
    * anti-join) plan. */
  def readFiles(
      spark: SparkSession, l: DlvLog, relPaths: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      dvFiles: Seq[AddFile] = Nil,
      toLogical: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = Nil,
      keepFileKey: Boolean = false): DataFrame = {
    // row identity materializes INSIDE the scan when vectors apply —
    // `_metadata` only resolves directly over a file relation, and
    // the external (shallow-clone) leg may union/join above it
    val sidecars = DlvDv.sidecarsOf(dvFiles)
    val raw0 = scanFiles(spark, l, relPaths, schema,
      withRowId = sidecars.nonEmpty || keepFileKey,
      toLogical = toLogical,
      partitionCols = partitionCols, knownFiles = dvFiles)
    val raw =
      if (sidecars.isEmpty) raw0
      else DlvDv.antiJoinDead(spark, l, raw0, sidecars,
        dvFiles.flatMap(_.dv).map(_.cardinality).sum,
        () => Some(DlvDv.fileDirMap(l, dvFiles)))
    val out = schema.map(f => col(f.name).cast(f.dataType)) ++
      (if (keepFileKey) Seq(col("__dv_fp").as("__src_file")) else Nil)
    nullFill(raw, schema).select(out: _*)
  }

  /** `df` plus every `schema` field it lacks, as a typed null: how
    * rows written before a widened schema (ADD COLUMNS, MERGE WITH
    * SCHEMA EVOLUTION) read. */
  private[dlv] def nullFill(
      df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    schema.fields.filterNot(f => have.contains(f.name.toLowerCase))
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Hive path segments of an [[AddFile.path]] → decoded partition
    * values — the same parse (and the same `%XX`-only unescaping; a
    * literal '+' stays a '+') the staging and CONVERT adoption sites
    * use. */
  private[dlv] def hivePartValues(path: String): Map[String, String] =
    path.split('/').dropRight(1).toSeq.filter(_.contains('=')).map { seg =>
      val eq = seg.indexOf('=')
      val v = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(seg.substring(eq + 1))
      seg.substring(0, eq) ->
        (if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
    }.toMap

  /** One logical scan of specific table files with partition columns
    * recovered and (when `withRowId`) the `__dv_fp`/`__dv_ri`
    * row-identity columns materialized. Files under the root take the
    * stock `basePath` hive recovery. EXTERNAL (shallow-clone) paths
    * cannot — Spark refuses files outside `basePath` — so they read
    * bare (leaf-file reads infer no partitions) and recover partition
    * columns from their OWN hive path segments, parsed driver-side
    * from the raw path (no per-file I/O) and attached through a
    * broadcast join on the same vector key the DV machinery derives
    * from `_metadata.file_path` — byte-exact by construction, no
    * filename-collision caveat. Identity columns are computed on each
    * leg's raw file relation BEFORE any union/join, because
    * `_metadata` does not resolve above one. */
  private[dlv] def scanFiles(
      spark: SparkSession, l: DlvLog, paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      withRowId: Boolean,
      toLogical: Map[String, String] = Map.empty,
      partitionCols: Seq[String] = Nil,
      knownFiles: Seq[AddFile] = Nil): DataFrame = {
    val (ext, local) = paths.partition(DlvLog.isAbsolutePath)
    def idCols(df: DataFrame): DataFrame = df
      .withColumn("__dv_fp",
        DlvDv.relFileExpr(l, col("_metadata.file_path")))
      .withColumn("__dv_ri", col("_metadata.row_index"))
    // KNOWN-FILES fast path (r19): every rewrite caller already holds
    // the AddFiles it is about to read (`dvFiles` = doomed / touched /
    // rewrite sets), so the scan can plan through a file-list-backed
    // FileIndex with ZERO listing I/O — the same no-listing property
    // the table's own read path has. Without it, `spark.read.parquet`
    // over ≥32 leaf files launches a distributed "listing leaf files"
    // job per call (r19 profile: three ~165 ms listing jobs inside one
    // dlv_cdf run; at 100 TB each is an object-store LIST storm over
    // files whose size/mtime the log already knows). Conditions:
    // every local path is covered by a known AddFile, and partition
    // columns are threaded (or the table is unpartitioned) — anything
    // else falls back to the explicit-schema read below.
    val knownByPath: Map[String, AddFile] =
      knownFiles.iterator.map(f => f.path -> f).toMap
    // the on-disk physical lexicon, shared by both local-leg routes:
    // data columns mapped back through the column-mapping renames
    // (birth names — immutable), partition columns name-stable
    // (RENAME on them is refused), everything nullable (old files may
    // predate a widened schema)
    lazy val physicalFields = schema.fields.map { f =>
      val phys = toLogical.collectFirst {
        case (p, lg) if lg.equalsIgnoreCase(f.name) => p
      }.getOrElse(f.name)
      org.apache.spark.sql.types.StructField(
        phys, f.dataType, nullable = true)
    }
    val localLeg =
      if (local.isEmpty) None
      else if (local.forall(knownByPath.contains) &&
          (partitionCols.nonEmpty ||
            knownFiles.forall(_.partitionValues.isEmpty))) {
        val raw = knownFilesDF(spark, l, local.map(knownByPath),
          physicalFields, partitionCols)
        Some(if (withRowId) idCols(raw) else raw)
      } else {
        // EXPLICIT read schema: without one, every scanFiles call runs
        // a footer schema-inference Spark job first (r19 profile:
        // dlv_history alone paid 31 such 50-90 ms jobs per run — pure
        // metadata overhead on multi-commit scenarios, and at 100 TB
        // an extra footer pass over every rewritten file). The on-disk
        // physical schema is derivable without I/O: data columns are
        // the caller's logical fields mapped back through `toLogical`
        // (physical birth names — immutable), partition columns keep
        // their names (RENAME on them is refused) and are recovered
        // from the hive dirs under basePath exactly as inference did,
        // now cast to the declared type directly. Files predating a
        // widened schema read the missing columns as typed nulls —
        // same rows the old inference + null-fill produced. The
        // external (shallow-clone) leg below keeps inference: its
        // files carry the SOURCE table's physical lexicon.
        val raw = spark.read
          .schema(org.apache.spark.sql.types.StructType(physicalFields))
          .option("basePath", l.tableQualified)
          .parquet(local.map(l.resolveQualified): _*)
        Some(if (withRowId) idCols(raw) else raw)
      }
    val extLeg =
      if (ext.isEmpty) None
      else {
        // key → string partition values. ONLY the table's declared
        // partition columns may be recovered from path segments — an
        // ancestor directory of the SOURCE table's absolute path can
        // legitimately contain 'k=v' segments (…/v=2/warehouse/…)
        // whose key collides with a DATA column, and attaching those
        // would silently overwrite real data during clone DML/CDF
        // reads. When the caller didn't thread partition columns
        // through, fall back to columns ABSENT from the files' own
        // data (hive layout never stores partition values in the
        // parquet): a data column present in the file is then still
        // unclobberable.
        val raw0 = spark.read.parquet(ext.map(l.resolveQualified): _*)
        val bySchema = schema.fields.map(f => f.name.toLowerCase -> f).toMap
        val allowed: String => Boolean =
          if (partitionCols.nonEmpty) {
            val ok = partitionCols.map(_.toLowerCase).toSet
            k => ok.contains(k.toLowerCase)
          } else {
            val inData = raw0.schema.fieldNames.map(_.toLowerCase).toSet
            k => !inData.contains(k.toLowerCase)
          }
        val pvals: Seq[(String, Map[String, String])] = ext.map { p =>
          DlvDv.keyOf(l, p) -> hivePartValues(p).flatMap { case (k, v) =>
            if (allowed(k)) bySchema.get(k.toLowerCase).map(f => f.name -> v)
            else None
          }
        }
        val partCols: Seq[org.apache.spark.sql.types.StructField] =
          pvals.flatMap(_._2.keys).distinct.map(n => bySchema(n.toLowerCase))
        val keyed = idCols(raw0)
        val attached =
          if (partCols.isEmpty) keyed
          else {
            val mapSchema = org.apache.spark.sql.types.StructType(
              org.apache.spark.sql.types.StructField("__dv_fp",
                org.apache.spark.sql.types.StringType) +:
                partCols.map(f => org.apache.spark.sql.types.StructField(
                  f.name, org.apache.spark.sql.types.StringType)))
            val rows = pvals.map { case (k, vs) =>
              org.apache.spark.sql.Row.fromSeq(
                k +: partCols.map(f => vs.getOrElse(f.name, null)))
            }
            val m = spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1), mapSchema)
            val joined = keyed.join(broadcast(m), Seq("__dv_fp"))
            partCols.foldLeft(joined)((d, f) =>
              d.withColumn(f.name, col(f.name).cast(f.dataType)))
          }
        Some(if (withRowId) attached else attached.drop("__dv_fp", "__dv_ri"))
      }
    val scanned = (localLeg.toSeq ++ extLeg.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // mapped tables: physical on disk -> logical in the plan
    // ([[DlvColMap]]); a file predating the column is a no-op rename
    // and the caller's null-fill covers it. SIMULTANEOUS positional
    // rename, same as DlvColMap.applyRenames — a sequential fold
    // breaks on cross-renames/swaps (x↔y would produce a duplicate-
    // column intermediate here too).
    if (toLogical.isEmpty) scanned
    else {
      val ci = toLogical.map { case (k, v) => k.toLowerCase -> v }
      scanned.toDF(scanned.columns.map(c =>
        ci.getOrElse(c.toLowerCase, c)): _*)
    }
  }

  /** Scan over an explicit AddFile list via [[KnownFilesIndex]] —
    * zero listing/footer I/O at plan time. `physicalFields` is the
    * full on-disk lexicon (data + partition columns); partition
    * fields are split off by name and resolve from the AddFiles'
    * partitionValues. Output columns: physical data fields then
    * partition fields. */
  private[dlv] def knownFilesDF(
      spark: SparkSession, l: DlvLog, files: Seq[AddFile],
      physicalFields: Seq[org.apache.spark.sql.types.StructField],
      partitionCols: Seq[String]): DataFrame = {
    val partNamesLower = partitionCols.map(_.toLowerCase).toSet
    val (partFields, dataFields) = physicalFields.partition(f =>
      partNamesLower.contains(f.name.toLowerCase))
    val partitionSchema =
      org.apache.spark.sql.types.StructType(partFields)
    val rel = org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(
        location = new KnownFilesIndex(l, files, partitionSchema),
        partitionSchema = partitionSchema,
        dataSchema = org.apache.spark.sql.types.StructType(dataFields),
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources
          .parquet.ParquetFileFormat(),
        options = Map.empty)(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    org.apache.spark.sql.graft.GraftInternal.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }
}

/** [[org.apache.spark.sql.execution.datasources.FileIndex]] over an
  * EXPLICIT AddFile list — the scan-side of [[DlvDml.scanFiles]]'s
  * known-files fast path. Sizes and mtimes come from the log entries,
  * partition values from `AddFile.partitionValues` (the same values
  * hive-path recovery would parse — they were derived from those very
  * path segments at stage time), so planning performs no filesystem
  * I/O at all. Partition filters still prune
  * ([[DlvFileIndex.pruneAndGroup]]); stats skipping is off — rewrite
  * sources must read every surviving row of the files they were
  * given. */
private[dlv] final class KnownFilesIndex(
    l: DlvLog, files: Seq[AddFile],
    override val partitionSchema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.execution.datasources.FileIndex {
  override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
    Seq(new org.apache.hadoop.fs.Path(l.tableQualified))
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = math.max(1L, files.map(_.size).sum)
  override def inputFiles: Array[String] =
    files.map(f => l.resolveQualified(f.path)).toArray
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
    DlvFileIndex.pruneAndGroup(
      files, partitionFilters, dataFilters, partitionSchema,
      statsSkipping = false, l.resolveQualified)._1
}
