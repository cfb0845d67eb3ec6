package graft.sources.dlv

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataStructField}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** The dlv scan's file format: stock parquet plus one file-constant
  * `_metadata` field, [[DlvParquetFileFormat.DV_DIRS]] — the io-native
  * sidecar dirs of the file's deletion vector, empty for a vector-free
  * file (never null, like every other `_metadata` field, which
  * [[graft.sources.dlv.sql.DlvMetadataOnlyCountRule]] relies on).
  * [[DlvFileIndex.pruneAndGroup]] attaches the value to each
  * file's `FileStatusWithMetadata`; Spark carries it on the
  * `PartitionedFile` and surfaces it as a literal, so [[DvAliveExpr]]
  * reads a file's dirs from its own row — the way delta's reader gets
  * each file's vector descriptor with the file itself. */
private[dlv] class DlvParquetFileFormat extends ParquetFileFormat {
  import DlvParquetFileFormat.DV_DIRS
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields :+ FileSourceConstantMetadataStructField(
      DV_DIRS, StringType, nullable = false)
  // a vector-free file carries no value and reads as ""
  override def fileConstantMetadataExtractors
      : Map[String, PartitionedFile => Any] =
    super.fileConstantMetadataExtractors + (DV_DIRS ->
      ((f: PartitionedFile) =>
        f.otherConstantMetadataColumnValues.getOrElse(DV_DIRS, "")))
}

private[dlv] object DlvParquetFileFormat {
  val DV_DIRS = "dv_dirs"

  /** `f`'s metadata values: its vector's sidecar dirs, io-native (not
    * percent-encoded URIs: the expression lists and opens them through
    * the same [[DlvIo]]) and joined by NUL, which no filesystem admits
    * in a path (Spark refuses a non-atomic metadata field); none
    * without a vector. */
  def metadataOf(l: DlvLog, f: AddFile): Map[String, Any] =
    f.dv.fold(Map.empty[String, Any])(dv =>
      Map(DV_DIRS -> dv.paths.map(l.resolve).mkString("\u0000")))

  def dirsOf(v: UTF8String): Array[String] =
    if (v.numBytes == 0) Array.empty else v.toString.split('\u0000')
}

/** Per-file deletion-vector application at the READER — the scale path
  * for dead sets past [[DlvDv.broadcastLimit]], where a broadcast of
  * the raw `(file, row)` pairs would no longer fit and the pre-r15
  * fallback degraded to a full shuffle of the scanned rows.
  *
  * Shape: a deterministic boolean [[Expression]] sitting in a `Filter`
  * directly above the DV-bearing branch's scan — NO join, NO shuffle,
  * and other predicate conjuncts still push past it to the parquet
  * scan. Each task loads the dead row-set of the file it is currently
  * reading (scan output arrives file-grouped, so a single-slot cache
  * is one load per file per task, bounded memory) from the sidecar
  * dirs of its own vector, which its `_metadata` row carries
  * ([[DlvParquetFileFormat]]), reading each part THROUGH a
  * `dv_file` filter — sidecars are written sorted by
  * `(dv_file, dv_row)` ([[DlvDv]]), so parquet row-group stats prune
  * the read to ~the file's own dead rows, and per-file dir count is
  * bounded by [[DlvDv.compactThreshold]]-driven compaction. This is
  * delta's per-file DV semantics with the sidecar parquet standing in
  * for the roaring bitmap.
  *
  * Correctness is identical to the broadcast anti-join by
  * construction: both subtract "rows of THIS file present in any live
  * sidecar its vector references", and a live sidecar's rows for a
  * live file are always a subset of that file's true dead set (sidecar
  * writes scan through the then-current vector; compaction copies;
  * RESTORE replays to a state whose live sidecars are all target-era).
  *
  * `CodegenFallback`: the eval does task-side I/O on file change — a
  * codegen body would buy nothing against that; the surrounding scan
  * and projections stay inside whole-stage codegen.
  *
  * `private[dlv]`: only the module constructs this — which is also
  * what lets [[graft.sources.dlv.sql.DlvMetadataOnlyCountRule]] trust
  * a `DvAliveExpr` conjunct as exactly-the-branch-cardinality
  * row-accounting.
  */
private[dlv] case class DvAliveExpr(
    file: Expression, row: Expression, dirs: Expression, io: DlvIo)
  extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(file, row, dirs)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(file = newChildren(0), row = newChildren(1),
      dirs = newChildren(2))

  // single-slot per-task cache: scan output is file-grouped, so this
  // is one sidecar load per (task, file) with O(one file's dead rows)
  // pinned — never the whole dead set. The UTF8String is CLONED on
  // the miss path (eval results may alias reused buffers) and
  // compared without decoding — the per-row hot path allocates
  // nothing.
  @transient private var curFile: UTF8String = _
  @transient private var curDead: Array[Long] = _
  // dir listings are immutable for the life of the plan (sidecars are
  // write-once; removal is a VACUUM past retention) — cache per task:
  // one DV commit's sidecar covers every file it touched, so files of
  // one task share dirs and pay one LIST per dir, not one per file
  @transient private lazy val listings =
    new java.util.HashMap[String, Array[String]]()

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input).asInstanceOf[UTF8String]
    val r = row.eval(input).asInstanceOf[Long]
    if (curFile == null || !curFile.equals(f)) {
      curFile = f.clone()
      curDead = loadDead(curFile.toString, DlvParquetFileFormat
        .dirsOf(dirs.eval(input).asInstanceOf[UTF8String]))
    }
    java.util.Arrays.binarySearch(curDead, r) < 0
  }

  private def partsOf(dir: String): Array[String] = {
    var parts = listings.get(dir)
    if (parts == null) {
      parts = io.listEntries(dir)
        .filter(e => !e.isDir && e.name.endsWith(".parquet"))
        .map(e => io.child(dir, e.name)).toArray
      listings.put(dir, parts)
    }
    parts
  }

  /** All dead row indexes of `encodedFile` across its vector's
    * `sidecarDirs`, sorted. Reads each sidecar part through a
    * `dv_file ==` filter — row-group pruned via the write-side sort.
    * Duplicates across sidecars (a compaction's copy beside a
    * still-live original) are harmless for membership and removed by
    * the sort-dedup. */
  private def loadDead(
      encodedFile: String, sidecarDirs: Array[String]): Array[Long] = {
    val pred = FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn(DlvDv.FILE_COL),
      Binary.fromString(encodedFile)))
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    sidecarDirs.foreach { dir =>
      partsOf(dir).foreach { part =>
        val reader = ParquetReader
          .builder(new GroupReadSupport(), new HPath(part))
          .withConf(io.hadoopConf)
          .withFilter(pred)
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            // the filter prunes row groups AND filters records, but
            // re-check defensively — a stats-less writer would
            // otherwise leak other files' rows into this dead set
            if (g.getString(DlvDv.FILE_COL, 0) == encodedFile)
              buf += g.getLong(DlvDv.ROW_COL, 0)
            g = reader.read()
          }
        } finally reader.close()
      }
    }
    val arr = buf.result()
    java.util.Arrays.sort(arr)
    // dedupe in place (sorted): keeps binarySearch contracts exact
    if (arr.length < 2) arr
    else {
      var w = 1
      var i = 1
      while (i < arr.length) {
        if (arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
        i += 1
      }
      if (w == arr.length) arr else java.util.Arrays.copyOf(arr, w)
    }
  }
}
