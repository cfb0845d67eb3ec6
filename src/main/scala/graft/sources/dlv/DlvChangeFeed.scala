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
  * and no listing. Narrow ranges build the mapping on the
  * driver; ranges of [[distributedRangeThreshold]]+ versions classify
  * the commits IN EXECUTORS ([[distributedMapping]]) and the driver
  * holds only the distinct replayed files — the bound the scan's own
  * planning imposes regardless. Both routes call the same readers, and
  * the planner's broadcast threshold picks a broadcast or shuffled
  * stamp join.
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
    if (to - fromVersion + 1 >= distributedRangeThreshold)
      assembleDistributed(spark, l, meta, fromVersion, to)
    else assembleDriver(spark, l, meta, fromVersion, to)
  }

  private def assembleDriver(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      fromVersion: Long, to: Long): DataFrame = {
    import spark.implicits._
    val stamped: Seq[(Replay, Long, Long)] =
      l.commitActionsIn(fromVersion, to).zip(fromVersion to to).flatMap {
        case (actions, v) =>
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
      }
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

  /** The one assembly every route shares: per change kind, read its
    * distinct files once and stamp them through `mappingOf(kind)`
    * (`(__k, __v, __ts)` rows; a file replayed at several versions —
    * RESTORE re-adds — fans out per version, the per-version replay
    * semantics). Each replayed file is read from an AddFile built from
    * its action: the size any action of the range recorded, or — for a
    * remove written before [[RemoveFile.size]] existed — one size
    * probe. */
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

  // ── distributed range assembly ─────────────────────────────────────

  /** Version-range width at or above which the commit range is
    * classified IN EXECUTORS instead of on the driver. Below it, a
    * bounded driver pool reading ≤ a few dozen small objects beats a
    * Spark job's scheduling latency; above it, the driver would hold
    * an O(files changed in range) mapping (a `table_changes(t, 0)`
    * over 10⁶ changed files is ~10² MB of driver case classes) that
    * the distributed route never materializes — it collects only the
    * distinct replayed files, the same driver bound the scan's own
    * planning imposes. Sysprop-overridable so specs can force the
    * distributed route on tiny logs. */
  private[dlv] def distributedRangeThreshold: Long =
    sys.props.get("graft.dlv.cdfDistributedRangeThreshold")
      .map(_.toLong).getOrElse(64L)

  /** One mapping row per replayed file of the range —
    * `(kind, rel, __k, __v, __ts, __size, __pv)` — built by parsing the
    * range's commit JSONs in executors with the SAME
    * [[Actions.fromJson]] parser the driver route uses (one parser, no
    * semantic drift). Lines parse independently; a per-version
    * `flatMapGroups` then applies the cdc-routes-the-whole-version
    * rule. `__ts` is null for a commit with no CommitInfo line
    * (hand-built logs), and `__k` for an external (absolute) path,
    * whose key qualifies through the table's filesystem — the caller
    * patches both on the driver. */
  private[dlv] def distributedMapping(
      spark: SparkSession, l: DlvLog, fromVersion: Long,
      to: Long): DataFrame = {
    import spark.implicits._
    val paths = (fromVersion to to).map(v =>
      l.io.qualified(l.io.child(l.logDir, CommitStore.fileName(v))))
    val lines =
      (try spark.read.text(paths: _*)
       catch {
         // the text source validates paths at plan time — a missing
         // commit below the newest checkpoint is the log retention
         // horizon; name the contract instead of PATH_NOT_FOUND
         case e: org.apache.spark.sql.AnalysisException =>
           val missing = (fromVersion to to).find(v => !l.io.exists(
             l.io.child(l.logDir, CommitStore.fileName(v))))
           missing match {
             case Some(v) => throw new IllegalStateException(
               s"table_changes: version $v of ${l.tablePath} predates " +
                 s"the log retention horizon (commit $v was cleaned " +
                 "up)", e)
             case None => throw e
           }
       })
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
    // line-independent parse: (version, tag, rel, ts, dvFlag, size,
    // partition values) raw units. The version comes from the commit
    // FILE NAME — digits only, immune to the percent-encoding
    // input_file_name applies to parent dirs.
    val raw = lines.mapPartitions { it =>
      it.flatMap { case (f, line) =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        val v = name match {
          case CommitStore.CommitFile(d) => d.toLong
          case _ => throw new IllegalStateException(
            s"change feed read a non-commit object: $f")
        }
        if (line.trim.isEmpty) Iterator.empty
        else Actions.fromJson(line) match {
          case Some(c: CommitInfo) => Iterator.single((v, "info",
            c.cdcPath.orNull, c.timestamp, false, Option.empty[Long],
            Map.empty[String, String]))
          case Some(a: AddFile) if a.dataChange => Iterator.single((v,
            "insert", a.path, -1L, a.dv.nonEmpty, Some(a.size),
            a.partitionValues))
          case Some(r: RemoveFile) if r.dataChange => Iterator.single((v,
            "delete", r.path, -1L, r.hadDv, r.size, r.partitionValues))
          case _ => Iterator.empty
        }
      }
    }
    // per-version classification — identical rule to the driver
    // route: an eager CDC blob supersedes the version's add/remove
    // replays, and the same deletion-vector guards apply. One version
    // groups onto one task; its actions are metadata strings, linear
    // scan.
    raw.groupByKey(_._1).flatMapGroups { (v, it) =>
      val units = it.toVector
      val info = units.find(_._2 == "info")
      val ts = info.map(_._4)
      def row(kind: String, rel: String, size: Option[Long],
          pv: Map[String, String]) = (kind, rel,
        if (DlvLog.isAbsolutePath(rel)) null else DlvDv.encodeRel(rel),
        v, ts, size, pv)
      info.flatMap(u => Option(u._3)) match {
        case Some(cdcRel) =>
          Iterator.single(row("cdc", cdcRel, None, Map.empty))
        case None =>
          val files = units.filter(_._2 != "info")
          if (files.exists(u => u._2 == "insert" && u._5)) throw dvAdd(v)
          if (files.exists(u => u._2 == "delete" && u._5)) throw dvRemove(v)
          files.iterator.map(u => row(u._2, u._3, u._6, u._7))
      }
    }.toDF("kind", "rel", "__k", "__v", "__ts", "__size", "__pv")
  }

  private def assembleDistributed(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      fromVersion: Long, to: Long): DataFrame = {
    import spark.implicits._
    val mapping0 = distributedMapping(spark, l, fromVersion, to)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ts fallback for CommitInfo-less commits: O(infoless versions)
      // driver lookups, patched in with a tiny literal map
      val missing = mapping0.filter(col("__ts").isNull)
        .select("__v").distinct().collect().map(_.getLong(0))
      val withTs =
        if (missing.isEmpty) mapping0
        else {
          val fixes = missing.flatMap(v =>
            Seq(lit(v), lit(l.commitTimestamp(v))))
          mapping0.withColumn("__ts", coalesce(
            col("__ts"), element_at(map(fixes.toSeq: _*), col("__v"))))
        }
      // the distinct replayed files — compact rows, the driver bound
      // the scan's planning holds anyway (a sized and a size-less
      // action of one path may both appear; assemble prefers the size)
      val files = withTs
        .select("kind", "rel", "__size", "__pv")
        .dropDuplicates("kind", "rel", "__size")
        .collect().toSeq.map(r => Replay(r.getString(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getMap[String, String](3).toMap))
      val external = files.map(_.rel).filter(DlvLog.isAbsolutePath).distinct
      val mapping =
        if (external.isEmpty) withTs
        else withTs
          .join(external.map(r => (r, DlvDv.keyOf(l, r))).toDF("rel", "__xk"),
            Seq("rel"), "left")
          .withColumn("__k", coalesce(col("__k"), col("__xk")))
      assemble(spark, l, meta, files, kind =>
        mapping.filter(col("kind") === kind).select("__k", "__v", "__ts"))
    } finally {
      // the result re-derives the mapping when it runs (each action
      // re-reads the commit range, bounded-parallel in executors — the
      // cost delta's CDCReader pays unconditionally on EVERY call);
      // pinning executor memory for a DataFrame the caller may hold
      // indefinitely would be worse. Callers looping actions over a
      // 10⁶-file feed should persist the RESULT.
      mapping0.unpersist(blocking = false)
      ()
    }
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
