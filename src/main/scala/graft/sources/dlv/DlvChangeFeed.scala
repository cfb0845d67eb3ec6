package graft.sources.dlv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Change-data-feed reader: `table_changes(table, fromVersion [, to])`.
  *
  * Change provenance per commit version:
  *   - a commit that wrote an eager CDC blob (DML under
  *     `dlv.enableChangeDataFeed`) → read the blob verbatim
  *     (`_change_type` ∈ insert/delete/update_pre/postimage);
  *   - otherwise, `dataChange=true` AddFiles replay as `insert`s
  *     (plain appends never pay a CDC write);
  *   - otherwise, `dataChange=true` RemoveFiles replay as `delete`s by
  *     reading the removed files — valid until VACUUM ages them out,
  *     which is why retention must cover the CDF consumers' lag.
  *
  * Every row carries `_change_type`, `_commit_version`,
  * `_commit_timestamp`.
  *
  * Scale shape: the plan holds a BOUNDED number of scan relations
  * regardless of the version range — one read per change KIND (cdc
  * blobs / add replays / remove replays), stamped by one join against
  * a (file key → version, ts) mapping. A one-relation-per-version
  * union over a 10⁴-commit table would build a 10⁴-leaf plan and stall
  * the optimizer before a byte is read.
  *
  * One key: the format's own file key — [[DlvDv.keyOf]] on the mapping
  * side, [[DlvDv.relFileExpr]] over `_metadata.file_path` on the scan
  * side — byte-exact for every path, external (shallow-clone) files
  * included; a CDC blob's key is its directory's. One reader per kind:
  * data-file replays go through [[DlvDml.readFiles]] over files the
  * log already describes (size and partition values from the add or
  * remove action), so planning lists and HEADs nothing; a remove
  * written before [[RemoveFile.size]] existed costs one size probe,
  * and no listing. One route classifies every range: the driver reads
  * the range's commits over a bounded pool ([[DlvLog.commitsIn]]) and
  * keeps only a compact (file, version, timestamp) tuple per replayed
  * action — O(replayed actions), the size of the AddFiles the scan's
  * own planning holds — and the planner's broadcast threshold picks a
  * broadcast or shuffled stamp join.
  */
object DlvChangeFeed {

  /** One file a change kind reads — a CDC blob dir (`cdc`) or a data
    * file replayed as `insert`/`delete` — with the size and partition
    * values its action recorded (size None for blob dirs and for
    * removes written before sizes were). */
  private final case class Replay(
      kind: String, rel: String, size: Option[Long],
      partitionValues: Map[String, String])

  def changes(
      spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val l = DlvTable.log(path)
    val latest = l.latestVersion
    val to = toVersion.getOrElse(latest)
    require(fromVersion >= 0 && to <= latest && fromVersion <= to,
      s"version range [$fromVersion, $to] outside [0, $latest]")
    // light resolution: the feed needs the range-END schema, never the
    // file list — past the threshold this is two pruned checkpoint
    // scans, not a snapshot materialization
    val meta = DlvTable.lightMetadataAt(spark, l, Some(to))
    import spark.implicits._
    // each commit classifies as it is read, so the range's parsed
    // actions (stats strings included) never sit on the driver at once
    val stamped: Seq[(Replay, Long, Long)] =
      l.commitsIn(fromVersion, to) { (v, actions) =>
        val info = actions.collectFirst { case c: CommitInfo => c }
        val ts = info.map(_.timestamp).getOrElse(l.commitTimestamp(v))
        info.flatMap(_.cdcPath) match {
          case Some(rel) => Seq((Replay("cdc", rel, None, Map.empty), v, ts))
          case None =>
            // deletion-vector guards: a vector-bearing re-add would
            // replay the file's RAW rows (soft-deleted included), and
            // a removed file that CARRIED a vector (RemoveFile.hadDv)
            // can't raw-replay its deletes either — both need the
            // eager CDC blob
            if (actions.exists {
                case a: AddFile => a.dataChange && a.dv.nonEmpty
                case _ => false
              }) throw dvAdd(v)
            if (actions.exists {
                case r: RemoveFile => r.dataChange && r.hadDv
                case _ => false
              }) throw dvRemove(v)
            actions.collect {
              case a: AddFile if a.dataChange =>
                (Replay("insert", a.path, Some(a.size), a.partitionValues),
                  v, ts)
              case r: RemoveFile if r.dataChange =>
                (Replay("delete", r.path, r.size, r.partitionValues), v, ts)
            }
        }
      }.flatten
    assemble(spark, l, meta, stamped.map(_._1), kind =>
      stamped.collect {
        case (r, v, ts) if r.kind == kind => (DlvDv.keyOf(l, r.rel), v, ts)
      }.toDF("__k", "__v", "__ts"))
  }

  private def dvAdd(v: Long) = new IllegalArgumentException(
    s"table_changes: version $v is a deletion-vector commit without a " +
      "CDC blob — enable change data feed alongside deletion vectors")

  private def dvRemove(v: Long) = new IllegalArgumentException(
    s"table_changes: version $v removes a vector-bearing file without " +
      "a CDC blob; the raw replay cannot subtract its soft-deleted " +
      "rows — enable change data feed alongside deletion vectors")

  private def empty(spark: SparkSession, meta: Metadata): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(meta.schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_version", LongType),
        StructField("_commit_timestamp", TimestampType))))

  /** Per change kind, read its distinct files once and stamp them
    * through `mappingOf(kind)` (`(__k, __v, __ts)` rows; a file
    * replayed at several versions — RESTORE re-adds — fans out per
    * version, the per-version replay semantics). Each replayed file is
    * read from an AddFile built from its action: the size any action of
    * the range recorded, or — for a remove written before
    * [[RemoveFile.size]] existed — one size probe. */
  private def assemble(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      files: Seq[Replay], mappingOf: String => DataFrame): DataFrame = {
    val parts = Seq("cdc", "insert", "delete").flatMap { kind =>
      val byRel = files.filter(_.kind == kind).groupBy(_.rel)
      if (byRel.isEmpty) None
      else {
        val rels = byRel.keys.toSeq.sorted
        val read =
          if (kind == "cdc") readCdcBlobs(spark, l, meta, rels)
          else {
            val probed = DriverPar.map(
              rels.filter(byRel(_).forall(_.size.isEmpty)))(rel =>
              rel -> l.io.size(l.resolve(rel))).toMap
            readReplays(spark, l, meta, rels.map { rel =>
              val rs = byRel(rel)
              AddFile(rel, rs.head.partitionValues,
                rs.flatMap(_.size).headOption.getOrElse(probed(rel)), 0L,
                dataChange = false, stats = None)
            }, kind)
          }
        Some(stampJoin(read, mappingOf(kind)))
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse(empty(spark, meta))
  }

  /** Stamp `_commit_version`/`_commit_timestamp` on a read carrying
    * its file key in `__k`, over any `(__k, __v, __ts)` mapping. */
  private def stampJoin(df: DataFrame, mapping: DataFrame): DataFrame =
    df.join(mapping, Seq("__k"), "left")
      // LEFT + loud guard: a scan row whose key matched no mapping row
      // means the stamp table doesn't know a file the scan surfaced —
      // an INNER join would turn exactly that (a key mismatch) into
      // silently-missing change rows; fail the read instead
      .withColumn("_commit_version",
        when(col("__v").isNull, raise_error(concat(
          lit("change-feed stamp miss (scan file key not in commit " +
            "mapping): "), col("__k"))))
          .otherwise(col("__v")))
      .withColumn("_commit_timestamp",
        (col("__ts") / 1000).cast("timestamp"))
      .drop("__k", "__v", "__ts")

  /** All CDC blobs of the range in ONE read, keyed by blob dir (the
    * file key minus its part-file name). The read takes an EXPLICIT
    * schema (the log is authoritative: evolution only adds/drops
    * columns) — no footer sweep at planning time, and a blob written
    * before ADD COLUMNS reads the new columns as typed nulls natively;
    * columns the current schema dropped are simply not requested.
    * Blobs are on-disk bytes → PHYSICAL lexicon ([[DlvColMap]]):
    * request physical names and rename back to logical above the
    * read. */
  private def readCdcBlobs(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      rels: Seq[String]): DataFrame = {
    val schema = StructType(
      meta.schema.fields.map(f =>
        f.copy(name = DlvColMap.physicalOf(meta, f.name))) :+
        StructField("_change_type", StringType))
    val raw = spark.read.schema(schema)
      .parquet(rels.map(l.resolveQualified): _*)
      .withColumn("__k", regexp_replace(
        DlvDv.relFileExpr(l, col("_metadata.file_path")), "/[^/]*$", ""))
    DlvColMap.toLogical(raw, meta)
  }

  /** All add- (or remove-) replay files of the range in ONE read,
    * keyed by file, planned from their AddFiles with zero listing I/O.
    * Historical replays want the files' rows as written, so the
    * AddFiles carry no vector (the vector guards refuse the commits
    * where one would apply). */
  private def readReplays(
      spark: SparkSession, l: DlvLog, meta: Metadata, files: Seq[AddFile],
      changeType: String): DataFrame =
    DlvDml.readFiles(spark, l, meta, files, keepFileKey = true)
      .withColumnRenamed("__src_file", "__k")
      .withColumn("_change_type", lit(changeType))
}
