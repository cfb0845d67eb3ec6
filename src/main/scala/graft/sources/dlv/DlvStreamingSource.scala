package graft.sources.dlv

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternal
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** A dlv table as a Structured Streaming SOURCE: offsets are commit
  * VERSIONS, each micro-batch is the data of a contiguous commit range
  * — the commit log doubles as the stream's write-ahead log, so the
  * source is exactly-once replayable for free (version ranges are
  * immutable forever).
  *
  *   spark.readStream.format("dlv")
  *     .option("path", tablePath)
  *     [.option("startingVersion", n)]      // default 0: full history
  *     [.option("ignoreChanges", true)]     // tolerate rewrite commits
  *     [.option("ignoreDeletes", true)]     // tolerate PURE delete commits
  *     [.option("readChangeFeed", true)]    // CDF rows instead of data
  *     [.option("maxVersionsPerTrigger", n)] // bound each micro-batch
  *     [.option("maxFilesPerTrigger", n)]    // …by added-file count
  *     [.option("maxBytesPerTrigger", "1g")] // …by added bytes
  *
  * Semantics mirror what delta-spark's streaming read does under the
  * reference's tables: appends stream through as their rows; a commit
  * that REMOVED data (delete/update/merge rewrites) is an error unless
  * `ignoreChanges` (the added files' rows still flow, rewritten rows
  * appear again), and `readChangeFeed` upgrades the stream to typed
  * change rows (`_change_type`/`_commit_version`/`_commit_timestamp`).
  *
  * Scale: getBatch plans ONE scan over the range's added files through
  * the same pruned-read machinery as batch scans; nothing is buffered
  * on the driver but file lists. `maxVersionsPerTrigger` caps how many
  * commits one micro-batch swallows — the backfill knob: starting a
  * stream on a year-old table must not plan the whole history as one
  * giant batch (delta's maxFilesPerTrigger rationale).
  */
class DlvStreamingSource(
    sqlContext: SQLContext,
    path: String,
    startingVersion: Long,
    ignoreChanges: Boolean,
    readChangeFeed: Boolean,
    ignoreDeletes: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    freshStream: Boolean = true) extends Source {

  private val log = DlvTable.log(path)
  private val tableMeta =
    DlvTable.lightMetadata(sqlContext.sparkSession, log)
  private val tableSchema = tableMeta.schema

  override def schema: StructType =
    if (readChangeFeed) DlvStreamingSource.cdfSchema(tableSchema)
    else tableSchema

  /** Latest version with data-relevant commits; None before the first.
    * With `maxVersionsPerTrigger`, the offered offset advances at most
    * that many commits past the highest version a batch has touched —
    * a BEST-EFFORT bound (delta's maxFilesPerTrigger semantics). Until
    * the first getBatch of this process we do NOT know the checkpointed
    * committed offset, so we offer `latest` uncapped: offering a capped
    * value below the committed offset would move the checkpoint offset
    * BACKWARDS and re-deliver every version in between as duplicates.
    * The first post-restart batch is therefore unbounded; every
    * subsequent one is capped. */
  override def getOffset: Option[Offset] = {
    val latest = log.latestVersion
    if (latest < 0) None
    else Some(LongOffset(highestSeenVersion match {
      case Some(floor) if maxVersionsPerTrigger.nonEmpty ||
          maxFilesPerTrigger.nonEmpty || maxBytesPerTrigger.nonEmpty =>
        val versionCap = maxVersionsPerTrigger
          .map(c => math.min(latest, floor + math.max(1L, c)))
          .getOrElse(latest)
        cappedByFilesBytes(floor, versionCap)
      case _ => latest
    }))
  }

  /** Walk versions past `floor` accumulating added-file count/bytes;
    * stop BEFORE the version that would blow `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` — except that a batch always advances at
    * least one version (offsets are version-granular here, so a
    * single commit larger than the cap still ships whole; delta's
    * admit-until-full semantics at version granularity). The walk is
    * bounded by the trigger window, not the table. */
  private def cappedByFilesBytes(floor: Long, versionCap: Long): Long = {
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty)
      return versionCap
    var v = floor
    var files = 0L
    var bytes = 0L
    while (v < versionCap) {
      val adds = log.commitActionsOf(v + 1).collect {
        case a: AddFile if a.dataChange => a
      }
      val wouldF = files + adds.size
      val wouldB = bytes + adds.map(_.size).sum
      val over = maxFilesPerTrigger.exists(wouldF > _) ||
        maxBytesPerTrigger.exists(wouldB > _)
      if (over && v > floor) return v // next version would overflow
      v += 1
      files = wouldF
      bytes = wouldB
      if (over) return v // first version alone exceeds: ship it whole
    }
    v
  }

  // highest version any batch of this process has touched (start OR
  // end). A FRESH stream (no checkpoint — the provider's marker file
  // says so) caps from startingVersion-1; a RESTARTED one starts
  // unknown, because capping below the invisible committed offset
  // would move the checkpoint offset backwards and re-deliver
  // everything in between. An in-flight restart batch replays through
  // getBatch and seeds the floor; a cleanly-committed restart pays one
  // uncapped batch.
  @volatile private var highestSeenVersion: Option[Long] =
    if (freshStream) Some(startingVersion - 1) else None

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(DlvStreamingSource.version)
      .getOrElse(startingVersion - 1)
    val to = DlvStreamingSource.version(end)
    highestSeenVersion = Some(
      (highestSeenVersion.toSeq ++ start.map(DlvStreamingSource.version) :+ to).max)
    val spark = sqlContext.sparkSession
    val out: DataFrame =
      if (readChangeFeed) {
        DlvChangeFeed.changes(spark, path, from + 1, Some(to))
      } else {
        val versions = (from + 1) to to
        val addFiles = versions.flatMap { v =>
          val actions = log.commitActionsOf(v)
          // a vector-bearing re-add can never replay as rows: the
          // file's raw content includes every soft-deleted row.
          // Without ignoreChanges a DV commit fails loudly; WITH it,
          // the vector re-adds are SKIPPED (delta's ignoreChanges
          // contract: deletes are not retracted in an append stream,
          // while a DV UPDATE's staged copies — plain new files —
          // still flow as rows)
          if (!ignoreChanges && actions.exists {
              case a: AddFile => a.dv.nonEmpty
              case _ => false
            })
            throw new IllegalStateException(
              s"version $v of $path is a deletion-vector commit; " +
                "streaming it as rows would resurrect deleted rows — " +
                "use option readChangeFeed=true (exact changes) or " +
                "ignoreChanges=true (vector re-adds skipped: deletes " +
                "are not retracted, updated copies still flow)")
          val removed = actions.exists {
            case r: RemoveFile => r.dataChange
            case _ => false
          }
          // an add PROVABLY carrying zero rows (a full-match delete's
          // empty survivor file) cannot contribute to any stream —
          // the commit is still a pure delete; statless adds count
          // as data conservatively
          val added = actions.exists {
            case a: AddFile if a.dataChange =>
              !a.parsedStats.exists(_.numRecords == 0)
            case _ => false
          }
          // ignoreDeletes (delta's option): a PURE delete commit —
          // removes with no data adds (partition deletes, DELETE
          // without rewrite survivors, remove-all) — passes through
          // silently; deleted rows are NOT retracted from an append
          // stream. A rewrite (remove+add) still needs ignoreChanges.
          if (removed && !ignoreChanges && !(ignoreDeletes && !added))
            throw new IllegalStateException(
              s"version $v of $path removed data mid-stream; streaming a " +
                "table under rewrites requires option ignoreChanges=true " +
                "(rewritten rows will re-appear), ignoreDeletes=true " +
                "(pure delete commits only) or readChangeFeed=true")
          actions.collect {
            case a: AddFile if a.dataChange && a.dv.isEmpty => a
          }
        }
        if (addFiles.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            tableSchema)
        else
          // the scan plans from the AddFiles (no listing job per
          // micro-batch); their dv is empty by the filter above, so no
          // vector filtering engages
          DlvDml.readFiles(spark, log, tableMeta, addFiles)
      }
    GraftInternal.asStreaming(out)
  }

  override def stop(): Unit = ()
}

object DlvStreamingSource {

  def cdfSchema(table: StructType): StructType = StructType(
    table.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType, nullable = false),
      StructField("_commit_timestamp", TimestampType)))

  def version(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }
}

/** The dlv streaming sink: one blind-append commit per micro-batch,
  * idempotent under batch replay (see [[DlvStreamSourceProvider
  * .createSink]]). */
class DlvStreamSink(path: String, appId: String)
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val l = DlvTable.log(path)
    // latest batch this app committed, from the (checkpoint-bounded)
    // history — reverse-chronological, so collectFirst is the newest
    val lastCommitted: Option[Long] =
      if (!l.exists) None
      else l.history.collectFirst {
        case c if c.operationParameters.get("txnAppId").contains(appId) =>
          c.operationParameters("txnBatchId").toLong
      }
    if (lastCommitted.exists(batchId <= _)) return // replay: already in
    val spark = data.sparkSession
    // pin the incremental execution's rows down to a batch DataFrame —
    // the append path must not re-plan a streaming logical plan
    val batch = GraftInternal.asBatch(data)
    DlvTable.append(spark, path, batch, extraOpParams = Map(
      "txnAppId" -> appId, "txnBatchId" -> batchId.toString))
    ()
  }

  override def toString: String = s"DlvStreamSink[$path]"
}

/** `format("dlv")` registration (META-INF/services) — BOTH the batch
  * read (`spark.read.format("dlv").load(path)`, with delta-parity
  * `versionAsOf` / `timestampAsOf` options) and the streaming source.
  * The batch relation is the same pruning [[DlvFileIndex]]-backed
  * HadoopFsRelation every other read path plans through. Column order
  * is the relation's (data ++ partition columns) — identical to the
  * declared order whenever partition columns are declared last; use
  * [[DlvTable.toDF]] when exact declared order matters. */
class DlvStreamSourceProvider
  extends StreamSourceProvider with RelationProvider
  with CreatableRelationProvider
  with org.apache.spark.sql.sources.StreamSinkProvider
  with DataSourceRegister {

  override def shortName(): String = "dlv"

  /** `writeStream.format("dlv").option("path", ..)` — exactly-once
    * streaming SINK: each micro-batch is one blind-append commit
    * stamped with (txnAppId, batchId) in its CommitInfo, and a
    * replayed batch (crash between the commit and the checkpoint
    * write) is recognized from the log and skipped — the dedup
    * ledger IS the table's own commit history, read O(interval) via
    * the checkpoint-embedded history. txnAppId defaults to the
    * query's checkpointLocation (stable across restarts, distinct
    * per query); override with .option("txnAppId", ..) when two
    * queries share a checkpoint layout. */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode ==
      org.apache.spark.sql.streaming.OutputMode.Append(),
      s"dlv sink supports Append output mode only, got $outputMode")
    val path = pathOf(parameters)
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(path)
    new DlvStreamSink(path, appId)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "dlv source requires .option(\"path\", <table dir>) / .load(<table dir>)"))

  private def parseTs(ts: String): Long =
    // epoch millis, 'yyyy-MM-dd' or 'yyyy-MM-dd HH:mm:ss'
    if (ts.forall(_.isDigit)) ts.toLong
    else java.sql.Timestamp.valueOf(
      if (ts.length == 10) ts + " 00:00:00" else ts).getTime

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // delta-parity BATCH change-feed read:
    //   spark.read.format("dlv").option("readChangeFeed", "true")
    //     .option("startingVersion", 0)[.option("endingVersion", 5)]
    // (timestamp variants resolve through the commit history). Without
    // this branch the option would be silently ignored and the read
    // would return plain table rows — a wrong-answer shape, not a
    // missing feature.
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(!parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"),
        "readChangeFeed cannot combine with versionAsOf/timestampAsOf")
      require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
        "specify startingVersion or startingTimestamp, not both")
      require(!(parameters.contains("endingVersion") &&
        parameters.contains("endingTimestamp")),
        "specify endingVersion or endingTimestamp, not both")
      val l = DlvTable.log(path)
      val from = parameters.get("startingVersion").map(_.toLong)
        .orElse(parameters.get("startingTimestamp").map { ts =>
          // at-or-AFTER: changes committed from this instant on — the
          // at-or-before rule belongs to time travel / endingTimestamp
          l.versionAtOrAfterTimestamp(parseTs(ts)).getOrElse(
            throw new IllegalArgumentException(
              s"startingTimestamp $ts is after the latest commit"))
        })
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires startingVersion or startingTimestamp"))
      val to = parameters.get("endingVersion").map(_.toLong)
        .orElse(parameters.get("endingTimestamp")
          .map(ts => l.versionAtTimestamp(parseTs(ts))))
      val df = DlvChangeFeed.changes(spark, path, from, to)
      val outerCtx = sqlContext
      return new BaseRelation
        with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = outerCtx
        override val schema = df.schema
        override def buildScan() = df.rdd
      }
    }
    // change-feed RANGE options without readChangeFeed=true would
    // otherwise be silently ignored and return plain table rows — the
    // same wrong-answer shape the CDF branch's guards reject
    val rangeOnly = Seq("startingVersion", "startingTimestamp",
      "endingVersion", "endingTimestamp").filter(parameters.contains)
    require(rangeOnly.isEmpty,
      s"option(s) ${rangeOnly.mkString(", ")} require " +
        "option(\"readChangeFeed\", \"true\") on a batch read")
    val version = parameters.get("versionAsOf").map(_.toLong)
    val tsMs = parameters.get("timestampAsOf").map(parseTs)
    require(version.isEmpty || tsMs.isEmpty,
      "specify versionAsOf or timestampAsOf, not both")
    val l = DlvTable.log(path)
    val v = version.orElse(tsMs.map(l.versionAtTimestamp))
    val rel = DlvTable.relationForVersion(spark, l, v)._1
    // the V1 relation contract returns the bare file scan — it cannot
    // carry the anti-join a deletion vector needs, and serving it raw
    // would resurrect deleted rows
    val hasDv = rel.location match {
      case i: DlvFileIndex => i.snapshot.files.exists(_.dv.nonEmpty)
      case i: DlvDistributedFileIndex =>
        DlvDv.active(i.metadata, i.protocol) && i.dvSplitSummary._1.nonEmpty
      case _ => false
    }
    require(!hasDv,
      s"format(\"dlv\") batch read of $path: live deletion vectors " +
        "present; read via dlv_table()/DlvTable.toDF (which apply " +
        "them), or OPTIMIZE the table to purge vectors")
    // same contract for renamed columns: the bare V1 relation speaks
    // the on-disk (physical) lexicon and cannot carry the
    // physical→logical projection — serving it raw would expose stale
    // column names
    val renamed = rel.location match {
      case i: DlvFileIndex =>
        DlvColMap.renames(i.snapshot.metadata).nonEmpty
      case i: DlvDistributedFileIndex =>
        DlvColMap.renames(i.metadata).nonEmpty
      case _ => false
    }
    require(!renamed,
      s"format(\"dlv\") batch read of $path: columns were renamed " +
        "(column mapping); read via dlv_table()/DlvTable.toDF, which " +
        "translate physical names to logical")
    rel
  }

  /** `df.write.format("dlv").mode(..).save(path)` — the batch write
    * surface. First write creates the table (honoring
    * `.partitionBy(..)`, which Spark ships to V1 writers as the
    * `__partition_columns` JSON option — the same contract delta's V1
    * writer reads); later writes must agree with the declared
    * partitioning, and commit through the same optimistic transaction
    * as the programmatic API. */
  override def createRelation(
      sqlContext: SQLContext, mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val exists = DlvTable.isDlvTable(path)
    val partCols: Seq[String] =
      parameters.get("__partition_columns").toSeq.flatMap { js =>
        org.json4s.jackson.JsonMethods.parse(js) match {
          case org.json4s.JArray(vs) =>
            vs.collect { case org.json4s.JString(s) => s }
          case _ => Nil
        }
      }
    val skip = mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"$path already holds a dlv table (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => true
      case _ => false
    }
    if (!skip) {
      if (!exists)
        DlvTable.create(spark, path, data.schema.toDDL, partCols)
      else if (partCols.nonEmpty) {
        val declared = DlvTable.lightMetadata(
          spark, DlvTable.log(path)).partitionColumns
        require(declared.map(_.toLowerCase) == partCols.map(_.toLowerCase),
          s"partitionBy(${partCols.mkString(",")}) does not match the " +
            s"table's declared partitioning (${declared.mkString(",")})")
      }
      val mergeSchema =
        parameters.get("mergeSchema").exists(_.equalsIgnoreCase("true"))
      mode match {
        case SaveMode.Overwrite =>
          // delta-parity: .option("replaceWhere", "<predicate>")
          // scopes the overwrite to the predicate's rows — one atomic
          // delete+insert commit instead of a whole-table replace
          parameters.get("replaceWhere") match {
            case Some(p) => DlvDml.overwriteWhere(spark, path, data, expr(p))
            case None => DlvTable.overwrite(spark, path, data)
          }
        case _ => DlvTable.append(spark, path, data, mergeSchema)
      }
    }
    createRelation(sqlContext, Map("path" -> path))
  }

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) = {
    val table = DlvTable.lightMetadata(
      sqlContext.sparkSession, DlvTable.log(pathOf(parameters))).schema
    val s =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        DlvStreamingSource.cdfSchema(table)
      else table
    ("dlv", s)
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    // marker under the per-source checkpoint dir: present → this is a
    // RESTART (a committed offset may exist that we cannot see)
    val fresh = {
      val conf = sqlContext.sparkSession.sessionState.newHadoopConf()
      val marker = new org.apache.hadoop.fs.Path(metadataPath, "dlv-init")
      val fs = marker.getFileSystem(conf)
      if (fs.exists(marker)) false
      else {
        fs.mkdirs(marker.getParent)
        val out = fs.create(marker, false)
        try out.write('1') finally out.close()
        true
      }
    }
    new DlvStreamingSource(
      sqlContext,
      pathOf(parameters),
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      parameters.get("ignoreChanges").exists(_.toBoolean),
      parameters.get("readChangeFeed").exists(_.toBoolean),
      parameters.get("ignoreDeletes").exists(_.toBoolean),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      parameters.get("maxFilesPerTrigger").map(_.toLong),
      parameters.get("maxBytesPerTrigger")
        .map(DlvStreamSourceProvider.parseBytes),
      freshStream = fresh)
  }
}

object DlvStreamSourceProvider {
  /** `maxBytesPerTrigger` accepts a plain byte count or a k/m/g
    * suffixed size ("10g"), matching delta's option shape. */
  private[dlv] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase.stripSuffix("b")
    val (num, mult) = t.lastOption match {
      case Some('k') => (t.dropRight(1), 1L << 10)
      case Some('m') => (t.dropRight(1), 1L << 20)
      case Some('g') => (t.dropRight(1), 1L << 30)
      case _ => (t, 1L)
    }
    val v = num.trim.toLong * mult
    require(v > 0, s"maxBytesPerTrigger must be positive, got $s")
    v
  }
}
