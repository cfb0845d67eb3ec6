package graft.sources.dlv

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, Expression, Literal, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._

/** The log-stats aggregate seam shared by the driver-side and
  * distributed file indexes — the interface
  * [[graft.sources.dlv.sql.DlvMetadataOnlyCountRule]] answers
  * `COUNT(*)` / `COUNT(col)` / `MIN` / `MAX` from. */
trait DlvStatsIndex {
  def metadataRowCount: Option[Long]
  def metadataNonNullCount(column: String): Option[Long]
  def metadataMinMax(column: String)
      : Option[(Option[JValue], Option[JValue])]
}

/** The dlv scan's integration point with Catalyst: a [[FileIndex]] over
  * one [[Snapshot]]'s AddFiles. Spark plans the scan through the stock
  * parquet `FileFormat` (vectorized reader, whole-stage codegen,
  * nested-column pruning — all free); THIS class decides which files
  * the scan sees:
  *
  *   1. partition pruning — `partitionFilters` evaluated against each
  *      file's partition values (and dynamic partition pruning arrives
  *      here too: Spark plants the DPP subquery filter as a runtime
  *      partition filter on exactly this seam);
  *   2. file skipping — simple comparison `dataFilters` checked
  *      against the log's per-file min/max stats; a file whose range
  *      cannot satisfy the conjunction never reaches the scan.
  *
  * Both prunings read ONLY log metadata — no object-store listing, no
  * footer reads at plan time. Skipped-vs-scanned counts are observable
  * via [[DlvFileIndex.lastSkippingStats]] for specs and the A/B bench
  * contrast gates.
  */
final class DlvFileIndex(
    spark: SparkSession,
    log: DlvLog,
    private[dlv] val snapshot: Snapshot,
    statsSkipping: Boolean = true) extends FileIndex with DlvStatsIndex {

  private val meta = snapshot.metadata
  override val partitionSchema: StructType = meta.partitionSchema
  private val dataSchema: StructType = meta.dataSchema

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(log.tableQualified))

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = math.max(1L, snapshot.sizeInBytes)

  /** Whether any live file carries a deletion vector — the stats-seam
    * guard: footer/log stats describe rows AS WRITTEN, so once a row
    * can be soft-deleted, non-null counts and min/max bounds are no
    * longer answers (only COUNT(*) survives, by exact cardinality
    * subtraction). Guarded HERE so the metadata-answer contract is
    * safe by construction, not by every caller wrapping the relation. */
  private val anyDv: Boolean = snapshot.files.exists(_.dv.nonEmpty)
  private val dvDeadRows: Long =
    snapshot.files.flatMap(_.dv).map(_.cardinality).sum

  /** Exact row count from log stats alone — Some only when EVERY live
    * file carries numRecords (always true for graft-written files;
    * CONVERTed files get footer stats at adoption). Deletion-vector
    * dead rows subtract exactly: numRecords counts rows as written and
    * each file's vector cardinality counts its dead ones. The seam
    * [[graft.sources.dlv.sql.DlvMetadataOnlyCountRule]] answers
    * `COUNT(*)` from. */
  def metadataRowCount: Option[Long] = {
    val counts = snapshot.files.map(_.parsedStats.map(_.numRecords))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum - dvDeadRows)
    else None
  }

  /** Non-null count of a column from log stats alone — Some only when
    * every live file carries numRecords and the column's nullCount,
    * and no live file bears a deletion vector (a dead row's null-ness
    * is unknown to the log). */
  def metadataNonNullCount(column: String): Option[Long] = {
    if (anyDv) return None
    val per = snapshot.files.map(f => f.parsedStats.flatMap(st =>
      st.nullCount.get(column).map(nc => st.numRecords - nc)))
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Column MIN/MAX from log stats alone, in the stats JSON lexicon.
    * Outer None = not answerable (some live file lacks the column's
    * nullCount, or lacks min/max while holding non-null values —
    * conservative bail, the scan stays). Inner Nones = provably
    * all-null column → SQL NULL. */
  def metadataMinMax(column: String)
      : Option[(Option[JValue], Option[JValue])] = {
    // a dead row may have HELD the min/max — bounds go wide, not exact
    if (anyDv) return None
    val per = snapshot.files.map(DlvFileIndex.fileMinMax(_, column))
    if (per.exists(_.isEmpty)) None
    else {
      val defined = per.flatten
      Some((
        DlvFileIndex.combineMin(defined.flatMap(_._1)),
        DlvFileIndex.combineMax(defined.flatMap(_._2))))
    }
  }

  override def inputFiles: Array[String] =
    snapshot.files.map(f => absolute(f.path)).toArray

  private def absolute(rel: String): String = log.resolveQualified(rel)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // partition bounds implied by data filters through GENERATED
    // partition columns ([[DlvGeneratedPruning]]) — a pure pruning add
    val derived = DlvGeneratedPruning.derive(
      spark, snapshot.metadata, dataFilters, partitionSchema)
    val (dirs, counts) = DlvFileIndex.pruneAndGroup(
      snapshot.files, partitionFilters ++ derived, dataFilters,
      partitionSchema, statsSkipping, log)
    DlvFileIndex.lastSkippingStats.set(counts)
    dirs
  }
}

object DlvFileIndex {

  /** (total files, after partition pruning, after stats skipping) of
    * the most recent listFiles call in this JVM — observability for
    * specs and the skipping A/B gates. Global, not thread-local: AQE
    * materializes stages on its own thread pool, so the planning
    * thread is not the caller's. */
  val lastSkippingStats =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int, Int)](
      (0, 0, 0))

  private[dlv] def partitionValueRow(
      f: AddFile, partitionSchema: StructType): InternalRow =
    InternalRow.fromSeq(partitionSchema.map { field =>
      val raw = f.partitionValues.getOrElse(field.name, null)
      castPartitionValue(raw, field.dataType)
    })

  /** Partition filters conjoined and name-bound to the partition
    * schema — the expression both the driver loop and the distributed
    * filter evaluate per file. */
  private[dlv] def boundPartitionPredicate(
      partitionFilters: Seq[Expression],
      partitionSchema: StructType): Option[Expression] =
    if (partitionFilters.isEmpty) None
    else Some(partitionFilters.reduce(And).transform {
      case a: Attribute =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
    })

  /** The full pruning pipeline over an in-memory file list: partition
    * pruning, then stats skipping, grouped into [[PartitionDirectory]]s.
    * Returns (directories, (total, afterPartition, afterStats)). Shared
    * by [[DlvFileIndex]] (whole snapshot), the distributed index
    * (pre-pruned survivors) and [[KnownFilesIndex]] (given files).
    * Each file carries its vector's sidecar dirs
    * ([[DlvParquetFileFormat.metadataOf]]). */
  private[dlv] def pruneAndGroup(
      files: Seq[AddFile],
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      partitionSchema: StructType,
      statsSkipping: Boolean,
      l: DlvLog)
      : (Seq[PartitionDirectory], (Int, Int, Int)) = {
    val partPruned =
      boundPartitionPredicate(partitionFilters, partitionSchema) match {
        case None => files
        case Some(bound) =>
          val pred = CatalystPredicate.create(bound)
          pred.initialize(0)
          files.filter(f =>
            pred.eval(partitionValueRow(f, partitionSchema)))
      }
    val statsPruned =
      if (!statsSkipping || dataFilters.isEmpty) partPruned
      else partPruned.filter(f => mayMatch(f, dataFilters))
    val dirs = statsPruned.groupBy(_.partitionValues).toSeq.map {
      case (_, fs) =>
        val row = partitionValueRow(fs.head, partitionSchema)
        val statuses = fs.map { f =>
          FileStatusWithMetadata(
            new FileStatus(f.size, false, 1, 128L << 20,
              f.modificationTime, new HPath(l.resolveQualified(f.path))),
            DlvParquetFileFormat.metadataOf(l, f))
        }
        PartitionDirectory(row, statuses)
    }
    (dirs, (files.size, partPruned.size, statsPruned.size))
  }

  /** One file's contribution to a column's metadata MIN/MAX: None =
    * not answerable from this file's stats; Some((None, None)) =
    * provably all-null. */
  private[dlv] def fileMinMax(f: AddFile, column: String)
      : Option[(Option[JValue], Option[JValue])] =
    f.parsedStats.flatMap { st =>
      st.nullCount.get(column).flatMap { nc =>
        if (nc >= st.numRecords) Some((None, None)) // all-null file
        else for {
          mn <- st.minValues.get(column)
          mx <- st.maxValues.get(column)
        } yield (Some(mn), Some(mx))
      }
    }

  private[dlv] def combineMin(vs: Seq[JValue]): Option[JValue] =
    vs.reduceOption((a, b) => if (ParquetStats.jLt(b, a)) b else a)
  private[dlv] def combineMax(vs: Seq[JValue]): Option[JValue] =
    vs.reduceOption((a, b) => if (ParquetStats.jLt(a, b)) b else a)

  def castPartitionValue(raw: String, dt: DataType): Any =
    if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType => UTF8String.fromString(raw)
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case DoubleType => raw.toDouble
      case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
      case TimestampType =>
        java.time.Instant.parse(raw).toEpochMilli * 1000L
      case BooleanType => raw.toBoolean
      case _ => UTF8String.fromString(raw)
    }

  /** Conservative range check: can `f`'s [min, max] satisfy every
    * simple comparison in `filters`? Unknown shapes → keep the file.
    * The stats lexicon matches [[ParquetStats]]: numbers (timestamp =
    * micros-long, date = epoch-days) and strings. */
  def mayMatch(f: AddFile, filters: Seq[Expression]): Boolean = {
    val st = f.parsedStats.getOrElse(return true)
    import org.apache.spark.sql.catalyst.expressions._
    def litJ(l: Literal): Option[JValue] = l.dataType match {
      case LongType => Some(JLong(l.value.asInstanceOf[Long]))
      case IntegerType => Some(JLong(l.value.asInstanceOf[Int].toLong))
      case DoubleType => Some(JDouble(l.value.asInstanceOf[Double]))
      case StringType => Some(JString(l.value.toString))
      case TimestampType => Some(JLong(l.value.asInstanceOf[Long]))
      case DateType => Some(JLong(l.value.asInstanceOf[Int].toLong))
      case _ => None
    }
    def mn(c: String) = st.minValues.get(c)
    def mx(c: String) = st.maxValues.get(c)
    def lte(a: JValue, b: JValue) = !ParquetStats.jLt(b, a)
    def check(e: Expression): Boolean = e match {
      case EqualTo(a: Attribute, l: Literal) =>
        litJ(l).forall(v => mn(a.name).forall(m => lte(m, v)) &&
          mx(a.name).forall(m => lte(v, m)))
      case EqualTo(l: Literal, a: Attribute) =>
        check(EqualTo(a, l))
      case LessThan(a: Attribute, l: Literal) =>
        litJ(l).forall(v => mn(a.name).forall(m => ParquetStats.jLt(m, v)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        litJ(l).forall(v => mn(a.name).forall(m => lte(m, v)))
      case GreaterThan(a: Attribute, l: Literal) =>
        litJ(l).forall(v => mx(a.name).forall(m => ParquetStats.jLt(v, m)))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        litJ(l).forall(v => mx(a.name).forall(m => lte(v, m)))
      case LessThan(l: Literal, a: Attribute) =>
        check(GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        check(GreaterThanOrEqual(a, l))
      case GreaterThan(l: Literal, a: Attribute) =>
        check(LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        check(LessThanOrEqual(a, l))
      case And(x, y) => check(x) && check(y)
      case Or(x, y) => check(x) || check(y)
      case IsNull(a: Attribute) =>
        st.nullCount.get(a.name).forall(_ > 0)
      case IsNotNull(a: Attribute) =>
        // a file of only nulls is prunable when counts say so
        !st.nullCount.get(a.name).contains(st.numRecords)
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => check(EqualTo(a, v.asInstanceOf[Literal])))
      case _ => true // unknown shape: never prune on it
    }
    filters.forall(check)
  }
}
