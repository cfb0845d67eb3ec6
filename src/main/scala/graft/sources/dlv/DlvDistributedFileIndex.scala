package graft.sources.dlv

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.json4s._

/** The Dataset-backed snapshot: a [[FileIndex]] whose file list NEVER
  * fully materializes on the driver — the scale path past the
  * driver-side design point (SURVEY §4: 10^5 AddFiles ≈ 250 MB driver
  * heap; a small-file-heavy 100 TB table can hold 10^7).
  *
  * State = the last PARQUET checkpoint's `add` rows read as a
  * distributed `Dataset[AddFile]` (delta-spark's state-reconstruction
  * shape), plus the O(CHECKPOINT_INTERVAL) tail commits parsed on the
  * driver (tail adds/removes override checkpoint rows by path —
  * last-writer-wins replay, exactly [[DlvLog.snapshotAt]]'s rule).
  *
  * Pruning runs WHERE the state lives:
  *   1. distributed phase — serialization-safe partition filters and
  *      stats-skipping comparisons ship to executors (interpreted
  *      Catalyst predicates; no codegen dependency) and filter the
  *      Dataset; only SURVIVORS are collected, so driver memory is
  *      bounded by the pruned result, not the table;
  *   2. driver phase — the FULL filter set (including runtime DPP
  *      subquery filters, which cannot serialize) re-applied on the
  *      survivors through the same [[DlvFileIndex.pruneAndGroup]] the
  *      driver-side index uses. Correctness never depends on what
  *      shipped: phase 1 only shrinks what phase 2 sees.
  *
  * Routing: [[DlvTable]] plans through this index when the
  * `_last_checkpoint` hint reports at least
  * [[DlvLog.distributedSnapshotThreshold]] live files AND the target
  * version's state is reachable from a parquet checkpoint the hint
  * describes; anything else falls back to the driver-side
  * [[DlvFileIndex]] (smaller tables, JSON checkpoints, time travel
  * below the last checkpoint). A worst-case unpruned scan still
  * collects every surviving AddFile — the same bound delta-spark
  * accepts when materializing `PartitionDirectory`s for an unfiltered
  * query.
  *
  * Each consumer (listFiles, metadata aggregates) runs a fresh
  * bounded job over the checkpoint parquet — a few-second metadata
  * scan per query on a 10^6-file table, traded against pinning
  * snapshot state in executor memory across queries.
  */
final class DlvDistributedFileIndex private (
    spark: SparkSession,
    log: DlvLog,
    val version: Long,
    val metadata: Metadata,
    val protocol: Protocol,
    ckptVersion: Long,
    touchedPaths: Set[String],
    tailLive: Seq[AddFile],
    statsSkipping: Boolean,
    sizeHint: Option[Long],
    dvFilter: Option[Boolean] = None) extends FileIndex with DlvStatsIndex {

  override val partitionSchema: StructType = metadata.partitionSchema

  private[dlv] def dlvLog: DlvLog = log

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(log.tableQualified))

  override def refresh(): Unit = ()

  private def absolute(rel: String): String = log.resolveQualified(rel)

  /** Live files at `version` as a distributed Dataset: checkpoint adds
    * minus tail-touched paths, plus the tail's final adds. The touched
    * set is O(tail commit sizes) — the same driver bound parsing those
    * JSON commits already paid. */
  private def liveFiles: Dataset[AddFile] = {
    val ckpt = DlvCheckpoint.addsDataset(
      spark, log.io.qualified(log.checkpointParquetDir(ckptVersion)),
      log.resolveCheckpointRef)
    val base =
      if (touchedPaths.isEmpty) ckpt
      else {
        val bc = spark.sparkContext.broadcast(touchedPaths)
        ckpt.filter(f => !bc.value.contains(f.path))
      }
    val all =
      if (tailLive.isEmpty) base
      else base.union(spark.createDataset(tailLive)(
        Encoders.product[AddFile]))
    dvFilter match {
      case Some(h) => all.filter((f: AddFile) => f.dv.nonEmpty == h)
      case None => all
    }
  }

  /** A view of this index restricted to files WITH (`hasDv = true`) or
    * WITHOUT a deletion vector — the two branches of the split DV read
    * plan ([[DlvTable.dfForIndex]]): only the vector-bearing subset
    * pays the dead-set anti-join. `sizeInBytes` keeps the whole-state
    * hint — an overestimate, which is the safe direction for join
    * planning (never wrongly broadcasts a branch). */
  private[dlv] def restrictedToDv(hasDv: Boolean): DlvDistributedFileIndex =
    new DlvDistributedFileIndex(spark, log, version, metadata, protocol,
      ckptVersion, touchedPaths,
      tailLive.filter(f => f.dv.nonEmpty == hasDv),
      statsSkipping, sizeHint, Some(hasDv))

  /** Relation size for join planning: checkpoint hint + tail adds.
    * Removed-but-unsubtracted bytes make this an overestimate — the
    * safe direction (never broadcasts something huge). Falls back to
    * one distributed sum when the hint predates sizeBytes. */
  override lazy val sizeInBytes: Long = math.max(1L,
    sizeHint.map(_ + tailLive.map(_.size).sum).getOrElse {
      import org.apache.spark.sql.functions.{coalesce, lit, sum}
      liveFiles.agg(coalesce(sum("size"), lit(0L))).head.getLong(0)
    })

  /** Every live path, collected — the `FileIndex` API contract (the
    * signature is `Array[String]`; nothing can stream it). Only
    * `df.inputFiles` — a user-facing diagnostic, never query
    * planning — reaches it, and the collect is CAPPED
    * ([[DlvDistributedFileIndex.INPUT_FILES_CAP_PROP]], default 10^6
    * paths ≈ 60 MB of strings): past the cap it throws loudly with
    * the [[livePathsDS]] pointer instead of silently re-materializing
    * on the driver exactly the list this index exists to avoid. */
  override def inputFiles: Array[String] = {
    val cap = DlvDistributedFileIndex.inputFilesCap
    val got = liveFiles.rdd.map(_.path).take(cap + 1)
    if (got.length > cap)
      throw new IllegalStateException(
        s"df.inputFiles over ${log.tablePath} would materialize more " +
          s"than $cap paths on the driver — use the distributed " +
          "livePathsDS instead, or raise " +
          s"-D${DlvDistributedFileIndex.INPUT_FILES_CAP_PROP}")
    got.map(absolute)
  }

  /** Live TABLE-RELATIVE paths as a distributed Dataset — the
    * reference set a distributed VACUUM anti-joins its listing
    * against (the live side never lands on the driver). */
  def livePathsDS: Dataset[String] = liveFiles.map(_.path)(Encoders.STRING)

  /** Live AddFiles as a distributed Dataset — the two-version diff a
    * distributed RESTORE computes where the state lives (only the
    * CHANGED files ever land on the driver). */
  def liveFilesDS: Dataset[AddFile] = liveFiles

  /** Live deletion-vector summary — (distinct sidecar rel paths,
    * total dead rows) — as ONE aggregation over the distributed
    * state; only sidecar PATH strings land on the driver (bounded by
    * DV-writing commits, not files). Consulted only when the table's
    * DV property is on, so plain tables never pay the job. */
  def dvSummary: (Seq[String], Long) = {
    val (s, c, _, _) = dvSplitSummary
    (s, c)
  }

  /** [[dvSummary]] plus the counts of vector-FREE and vector-BEARING
    * live files, in the same single aggregation — the split read plan
    * skips its plain branch entirely when every live file bears a
    * vector, and sizes the per-file reader-filter map off the bearing
    * count. */
  private[dlv] def dvSplitSummary: (Seq[String], Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = liveFiles
      .agg(
        coalesce(sum(col("dv.cardinality")), lit(0L)),
        coalesce(array_distinct(flatten(collect_list(col("dv.paths")))),
          array().cast("array<string>")),
        sum(when(col("dv").isNull, 1L).otherwise(0L)),
        sum(when(col("dv").isNull, 0L).otherwise(1L)))
      .head()
    (Option(r.getSeq[String](1)).map(_.toSeq).getOrElse(Nil).sorted,
      r.getLong(0),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** The per-file `encoded path → its vector's sidecar dirs` map the
    * reader filter broadcasts ([[DvFileMap]]) — collected as a SLIM
    * two-column projection (never whole AddFiles with stats), and only
    * up to [[DlvDv.fileMapLimit]] bearing files; above it, None (the
    * filter falls back to the all-dirs lookup, keeping driver memory
    * out of the failure domain at any scale). */
  private[dlv] def dvFileDirs(
      dvFileCount: Long): Option[Map[String, Seq[String]]] =
    if (dvFileCount > DlvDv.fileMapLimit) None
    else {
      import org.apache.spark.sql.functions.col
      Some(liveFiles
        .filter(col("dv").isNotNull)
        .select(col("path"), col("dv.paths"))
        .collect()
        .iterator
        .map(r => DlvDv.keyOf(log, r.getString(0)) ->
          r.getSeq[String](1).map(log.resolve).toSeq)
        .toMap)
    }

  // ---- pruning ------------------------------------------------------

  /** Expression shapes safe to serialize into the distributed filter.
    * Anything else (DPP's InSubqueryExec-backed filters, UDFs, plan
    * subtrees) stays on the driver — conservatively, since the driver
    * phase re-applies everything. */
  private def shippable(e: Expression): Boolean = e match {
    case _: AttributeReference | _: Literal | _: BoundReference => true
    case _: EqualTo | _: EqualNullSafe | _: LessThan |
         _: LessThanOrEqual | _: GreaterThan | _: GreaterThanOrEqual |
         _: And | _: Or | _: Not | _: IsNull | _: IsNotNull | _: In |
         _: StartsWith | _: EndsWith | _: Contains | _: Cast =>
      e.children.forall(shippable)
    case _ => false
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition bounds implied by data filters through GENERATED
    // partition columns — derived BEFORE the distributed phase so the
    // executor-side pre-prune already benefits
    val partitionFilters0 = partitionFilters ++ DlvGeneratedPruning
      .derive(spark, metadata, dataFilters, partitionSchema)
    val boundOpt = DlvFileIndex.boundPartitionPredicate(
      partitionFilters0.filter(shippable), partitionSchema)
    val safeData =
      if (statsSkipping) dataFilters.filter(shippable) else Nil
    val accTotal = spark.sparkContext.longAccumulator(
      "dlv.distributed.files.total")
    val ps = partitionSchema
    val survivors = liveFiles.mapPartitions { it =>
      val pred = boundOpt.map { b =>
        val p = Predicate.createInterpreted(b); p.initialize(0); p
      }
      it.filter { f =>
        accTotal.add(1)
        pred.forall(_.eval(DlvFileIndex.partitionValueRow(f, ps))) &&
          (safeData.isEmpty || DlvFileIndex.mayMatch(f, safeData))
      }
    }(Encoders.product[AddFile]).collect().toSeq
    // driver phase: the full filter set on the survivors — including
    // whatever could not ship. Re-applying the shipped subset is
    // idempotent and cheap at survivor scale.
    val (dirs, (_, afterPart, afterStats)) = DlvFileIndex.pruneAndGroup(
      survivors, partitionFilters0, dataFilters, partitionSchema,
      statsSkipping, absolute)
    // total from the accumulator (best-effort: task retries can
    // overcount; observability only)
    DlvFileIndex.lastSkippingStats.set(
      (accTotal.value.toInt, afterPart, afterStats))
    dirs
  }

  /** DML discovery/selection collect: only the AddFiles surviving the
    * given filters land on the driver — the seam DELETE/UPDATE/MERGE
    * touched-file lookup and OPTIMIZE's bin-pack selection use past
    * the distributed threshold (SURVEY §4's named next step; driver
    * memory stays bounded by the SELECTED set, which the commit must
    * enumerate as RemoveFiles anyway).
    *
    *   - `paths`: broadcast path-set restriction (touched-file lookup
    *     after a discovery scan);
    *   - `boundPartition`: a partition predicate ALREADY BOUND to the
    *     partition schema ([[DlvDml.boundPartition]]) — evaluated
    *     EXACTLY, interpreted, where the state lives (Catalyst
    *     expressions serialize; codegen'd predicates don't);
    *   - `dataFilters`: stats may-match pruning (conservative
    *     superset, same [[DlvFileIndex.mayMatch]] the scan uses).
    */
  def collectAddFiles(
      boundPartition: Option[Expression] = None,
      dataFilters: Seq[Expression] = Nil,
      paths: Option[Set[String]] = None): Seq[AddFile] = {
    // a predicate outside the shippable whitelist (e.g. a UDF over a
    // partition column — the driver path evaluated those fine) stays
    // on the driver: the distributed phase passes everything through
    // and the exact filter runs on the collected survivors
    val (shipped, driverOnly) = boundPartition match {
      case Some(b) if shippable(b) => (Some(b), None)
      case other => (None, other)
    }
    val pathBc = paths.map(spark.sparkContext.broadcast(_))
    val ps = partitionSchema
    val survivors = liveFiles.mapPartitions { it =>
      val pred = shipped.map { b =>
        val p = Predicate.createInterpreted(b); p.initialize(0); p
      }
      it.filter { f =>
        pathBc.forall(_.value.contains(f.path)) &&
          pred.forall(_.eval(DlvFileIndex.partitionValueRow(f, ps))) &&
          (dataFilters.isEmpty || DlvFileIndex.mayMatch(f, dataFilters))
      }
    }(Encoders.product[AddFile]).collect().toSeq
    driverOnly match {
      case Some(b) =>
        val p = Predicate.create(b)
        p.initialize(0)
        survivors.filter(f =>
          p.eval(DlvFileIndex.partitionValueRow(f, ps)))
      case None => survivors
    }
  }

  /** EVERY live AddFile on the driver — only for ops that inherently
    * enumerate the whole table in their commit (full DELETE, by-source
    * MERGE with unprunable clauses, whole-table OPTIMIZE): the commit
    * JSON itself is O(files) there, so this collect adds no new bound. */
  def allFilesCollected: Seq[AddFile] = collectAddFiles()

  // ---- log-stats aggregates (DlvStatsIndex), distributed ------------

  // one index instance = one immutable version: memoize each fold so a
  // SELECT count(*), min(x), max(x) costs one job per DISTINCT
  // aggregate input, not one per aggregate expression (min and max of
  // the same column share a fold)
  @volatile private var rowCountMemo: Option[Option[Long]] = None
  private val nonNullMemo =
    scala.collection.concurrent.TrieMap.empty[String, Option[Long]]
  private val minMaxMemo = scala.collection.concurrent.TrieMap
    .empty[String, Option[(Option[JValue], Option[JValue])]]

  override def metadataRowCount: Option[Long] = {
    rowCountMemo match {
      case Some(r) => return r
      case None => ()
    }
    val r = computeRowCount
    rowCountMemo = Some(r)
    r
  }

  private def computeRowCount: Option[Long] = {
    // deletion-vector dead rows subtract exactly from the as-written
    // numRecords, in the same fold (see the driver seam's contract)
    val (allDefined, total, dead) = liveFiles.rdd.mapPartitions { it =>
      var ok = true; var sum = 0L; var dv = 0L
      it.foreach { f =>
        f.parsedStats.map(_.numRecords) match {
          case Some(n) => sum += n
          case None => ok = false
        }
        dv += f.dv.map(_.cardinality).getOrElse(0L)
      }
      Iterator.single((ok, sum, dv))
    }.fold((true, 0L, 0L)) { case ((o1, s1, d1), (o2, s2, d2)) =>
      (o1 && o2, s1 + s2, d1 + d2)
    }
    if (allDefined) Some(total - dead) else None
  }

  override def metadataNonNullCount(column: String): Option[Long] =
    nonNullMemo.getOrElseUpdate(column, computeNonNullCount(column))

  private def computeNonNullCount(column: String): Option[Long] = {
    // any deletion vector voids the answer (a dead row's null-ness is
    // unknown to the log) — folded in the same job as the sum
    val (allDefined, total) = liveFiles.rdd.mapPartitions { it =>
      var ok = true; var sum = 0L
      it.foreach { f =>
        if (f.dv.nonEmpty) ok = false
        else f.parsedStats.flatMap(st =>
          st.nullCount.get(column).map(nc => st.numRecords - nc)) match {
          case Some(n) => sum += n
          case None => ok = false
        }
      }
      Iterator.single((ok, sum))
    }.fold((true, 0L)) { case ((o1, s1), (o2, s2)) =>
      (o1 && o2, s1 + s2)
    }
    if (allDefined) Some(total) else None
  }

  override def metadataMinMax(column: String)
      : Option[(Option[JValue], Option[JValue])] =
    minMaxMemo.getOrElseUpdate(column, computeMinMax(column))

  private def computeMinMax(column: String)
      : Option[(Option[JValue], Option[JValue])] = {
    type Partial = (Boolean, Option[JValue], Option[JValue])
    def merge(a: Partial, b: Partial): Partial = (
      a._1 || b._1,
      DlvFileIndex.combineMin(Seq(a._2, b._2).flatten),
      DlvFileIndex.combineMax(Seq(a._3, b._3).flatten))
    // a file bearing a deletion vector voids the answer (a dead row
    // may have held the min/max) — folded as a missing-stats file
    val (anyMissing, mn, mx) = liveFiles.rdd.mapPartitions { it =>
      var p: Partial = (false, None, None)
      it.foreach { f =>
        if (f.dv.nonEmpty) p = (true, p._2, p._3)
        else DlvFileIndex.fileMinMax(f, column) match {
          case None => p = (true, p._2, p._3)
          case Some((fmn, fmx)) =>
            p = (p._1,
              DlvFileIndex.combineMin(Seq(p._2, fmn).flatten),
              DlvFileIndex.combineMax(Seq(p._3, fmx).flatten))
        }
      }
      Iterator.single(p)
    }.fold((false, None, None))(merge)
    if (anyMissing) None else Some((mn, mx))
  }
}

object DlvDistributedFileIndex {

  /** The distributed index's LIGHT state — everything `forVersion`
    * derives from the log besides the checkpoint parquet itself:
    * metadata/protocol from two pruned scans plus the replayed tail.
    * Bounded by O(CHECKPOINT_INTERVAL) commits' worth of touched
    * paths and tail adds — cheap to pin, unlike the driver cache's
    * full AddFile lists. */
  private final case class LightState(
      metadata: Metadata, protocol: Protocol, ckptVersion: Long,
      touchedPaths: Set[String], tailLive: Seq[AddFile],
      sizeHint: Option[Long])

  /** Validated LRU of light states keyed (tablePath, version) — the
    * distributed twin of [[DlvLog]]'s snapshot cache: without it every
    * plan against a past-threshold table re-reads `_last_checkpoint`,
    * the checkpoint meta/protocol (two pruned scans) and the tail
    * commits — ~4 object reads + 2 jobs per repeat plan at exactly the
    * table sizes where plans are most frequent. */
  private val LIGHT_CACHE_MAX = 8
  private val lightCache = new ValidatedLru[LightState](LIGHT_CACHE_MAX)

  /** Count of full light-state derivations (cache misses) — the
    * assertion hook for the repeat-plan spec, mirroring
    * [[DlvLog.snapshotMaterializations]]. */
  val lightStateDerivations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Driver-side path cap for the `df.inputFiles` diagnostic. */
  val INPUT_FILES_CAP_PROP = "graft.dlv.inputFilesLimit"
  private[dlv] def inputFilesCap: Int =
    sys.props.get(INPUT_FILES_CAP_PROP).map(_.toInt)
      .getOrElse(1000000)

  /** Routing + light state resolution. Some only when the target
    * version's state is reachable from a parquet checkpoint whose
    * `_last_checkpoint` hint reports at least
    * [[DlvLog.distributedSnapshotThreshold]] live files; every other
    * case (small table, JSON checkpoint, time travel below the last
    * checkpoint, hint predating the counts) returns None and the
    * caller plans the driver-side [[DlvFileIndex]].
    *
    * Light state = Metadata + Protocol from a PRUNED checkpoint read
    * (two filtered scans — the AddFiles never reach the driver) with
    * the tail commits replayed over them; the protocol reader gate is
    * enforced exactly as [[DlvLog.snapshotAt]] does. */
  def forVersion(
      spark: SparkSession, log: DlvLog, v: Option[Long],
      statsSkipping: Boolean): Option[DlvDistributedFileIndex] = {
    for {
      // hint first: one tiny object read decides eligibility, so the
      // common small-table case never pays an extra log LIST here
      hint <- log.lastCheckpointHint
      if DlvLog.atScale(hint)
      n <- hint.numFiles
      version = v match {
        case Some(x) =>
          // same range contract as snapshotAt — without it an
          // out-of-range version would replay a nonexistent commit
          // and die on an opaque missing-file read
          val latest = log.latestVersion
          require(x >= 0 && x <= latest,
            s"version $x out of range [0, $latest] for ${log.tablePath}")
          x
        case None => log.latestVersion
      }
      state <- cachedOrDerive(spark, log, hint, n, version)
    } yield new DlvDistributedFileIndex(
      spark, log, version, state.metadata, state.protocol,
      state.ckptVersion, state.touchedPaths, state.tailLive,
      statsSkipping, state.sizeHint)
  }

  /** The light state for one immutable (table, version) — from the
    * validated cache when the fingerprint holds (and the checkpoint
    * parquet it references still exists: log retention cleanup can
    * reclaim superseded checkpoints out from under an entry), a full
    * derivation otherwise. */
  private def cachedOrDerive(
      spark: SparkSession, log: DlvLog, hint: DlvLog.CheckpointHint,
      n: Long, version: Long): Option[LightState] = {
    val probe = lightCache.probe(log, version)
    probe.flatMap(lightCache.get).filter(s =>
      log.isParquetCheckpoint(s.ckptVersion))
      .orElse(for {
        cv <- log.checkpointAtOrBelow(
          version, log.isParquetCheckpoint, Some(hint))
        // the hint's counts describe the HINTED checkpoint's state; an
        // older parquet checkpoint (time travel below the hint) reports
        // its own add-count with one metadata-cheap job over the
        // checkpoint parquet (footer row counts — no column data moves),
        // so a 10^7-file table can time-travel without driver
        // materialization. The count job is only paid when the hint
        // already said the CURRENT table is at scale (the caller's
        // n >= threshold guard) — small tables never see it.
        nAt = if (cv == hint.version) n
              else DlvCheckpoint.addsDataset(spark,
                log.io.qualified(log.checkpointParquetDir(cv)),
                log.resolveCheckpointRef).count()
        // the historical version itself may be small → driver path is
        // both correct and cheaper there
        if nAt >= DlvLog.distributedSnapshotThreshold
      } yield {
        lightStateDerivations.incrementAndGet()
        val (metaOpt, protoOpt) = DlvCheckpoint.readParquetMetaProtocol(
          spark, log.io.qualified(log.checkpointParquetDir(cv)))
        var metadata = metaOpt
        var protocol = protoOpt.getOrElse(Protocol())
        val touched = scala.collection.mutable.LinkedHashMap
          .empty[String, Option[AddFile]]
        ((cv + 1) to version).foreach { v =>
          log.commitActionsOf(v).foreach {
            case m: Metadata => metadata = Some(m)
            case p: Protocol => protocol = p
            case f: AddFile => touched(f.path) = Some(f)
            case r: RemoveFile => touched(r.path) = None
            case _: CommitInfo => ()
          }
        }
        require(protocol.minReaderVersion <= DlvLog.READER_VERSION,
          s"table ${log.tablePath} requires reader version " +
            s"${protocol.minReaderVersion}; this library supports " +
            s"${DlvLog.READER_VERSION} — upgrade to read")
        val state = LightState(
          metadata.getOrElse(throw new IllegalStateException(
            s"no metadata in checkpoint $cv at ${log.tablePath}")),
          protocol,
          cv, touched.keySet.toSet, touched.values.flatten.toSeq,
          // the hint's byte count describes the hinted checkpoint only;
          // an older checkpoint's size resolves lazily (one distributed
          // sum) if join planning asks
          if (cv == hint.version) hint.sizeBytes else None)
        probe.foreach(lightCache.put(_, state))
        state
      })
  }
}
