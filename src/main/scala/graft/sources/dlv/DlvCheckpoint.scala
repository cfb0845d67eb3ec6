package graft.sources.dlv

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Columnar (parquet) checkpoint codec — the Delta-checkpoint shape:
  * one row per action, one nullable struct column per action kind
  * (`add` / `remove` / `metaData` / `commitInfo` / `protocol`), maps as
  * real MapType columns. Written and read through Spark, so a 10^6-file
  * checkpoint compresses columnar and scans in parallel instead of
  * being one driver-parsed JSON blob.
  *
  * Two writers use it ([[DlvLog]] picks one per checkpoint):
  *   - the driver writer's CLASSIC checkpoint ([[writeParquet]]): every
  *     action of the replayed snapshot in one dir, for tables past
  *     [[DlvLog.parquetCheckpointThreshold]] (the JSON format remains
  *     the small-table default and the no-session fallback);
  *   - the SHARDED writer's v2 shape ([[writeShards]] +
  *     [[writeManifest]]): AddFiles in immutable per-shard sidecar dirs
  *     and a manifest that references them, for tables past
  *     [[DlvLog.distributedSnapshotThreshold]] — the only at-scale
  *     writer, which never materializes the file list on the driver.
  *
  * Reference behavior anchor: delta-spark writes `.checkpoint.parquet`
  * under `_delta_log` for exactly this reason (the reference suite
  * exercises it implicitly through long DML chains,
  * `validation_suite.py:690-760`).
  */
object DlvCheckpoint {

  private val dvT = StructType(Seq(
    StructField("paths", ArrayType(StringType)),
    StructField("cardinality", LongType)))
  private val addT = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    // nullable tail field: pre-DV checkpoints read as dv = null under
    // the explicit schema every reader passes
    StructField("dv", dvT)))
  private val removeT = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("dataChange", BooleanType),
    StructField("hadDv", BooleanType),
    // nullable tail field: tombstones written before sizes were
    // recorded read as size = null
    StructField("size", LongType)))
  private val metaT = StructType(Seq(
    StructField("id", StringType),
    StructField("schemaDdl", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("properties", MapType(StringType, StringType)),
    StructField("createdTime", LongType)))
  private val infoT = StructType(Seq(
    StructField("version", LongType),
    StructField("timestamp", LongType),
    StructField("operation", StringType),
    StructField("operationParameters", MapType(StringType, StringType)),
    StructField("isBlindAppend", BooleanType),
    StructField("cdcPath", StringType),
    // nullable tail field: pre-metrics checkpoints read as null
    StructField("operationMetrics", MapType(StringType, StringType))))
  private val protoT = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType)))
  private val sidecarT = StructType(Seq(
    StructField("path", StringType),
    StructField("shardId", IntegerType),
    StructField("numShards", IntegerType),
    StructField("numFiles", LongType),
    StructField("sizeBytes", LongType),
    // "add" (AddFile shard; shardId/numShards are the hash-shard
    // coordinates) or "history" (an IMMUTABLE full chunk of H
    // CommitInfos; shardId = chunk index, numShards = H). Nullable
    // tail field: refs written before the kind column read as null →
    // add (history chunks arrived with the column).
    StructField("kind", StringType)))

  val schema: StructType = StructType(Seq(
    StructField("add", addT),
    StructField("remove", removeT),
    StructField("metaData", metaT),
    StructField("commitInfo", infoT),
    StructField("protocol", protoT),
    // v2 (sharded) checkpoints: the manifest holds NO AddFile rows —
    // instead `sidecar` rows reference immutable shard parquet dirs
    // under `_dlv_log/_sidecars/` (delta's v2-checkpoint + sidecar
    // shape). Nullable tail column: pre-sharding checkpoints read as
    // sidecar = null under this schema, and a sharded manifest read
    // by the plain add-filter sees zero adds (readers resolve refs).
    StructField("sidecar", sidecarT)))

  /** One sidecar reference in a sharded-checkpoint manifest. `path`
    * is logDir-relative (`_sidecars/<job>/shard=<k>` for add shards,
    * `_sidecars/<job>/hist=<c>` for history chunks); add-shard counts
    * are accumulated hints (task retries can overcount — they feed
    * `_last_checkpoint` routing, never state). */
  final case class SidecarRef(
      path: String, shardId: Int, numShards: Int,
      numFiles: Long, sizeBytes: Long, kind: String) {
    def isAdd: Boolean = kind == null || kind == "add"
    def isHistory: Boolean = kind == "history"
  }

  /** Stable shard of an [[AddFile.path]] — the SAME function on the
    * driver (dirty-shard computation from tail commits) and executors
    * (shard assignment in the write job); seed-fixed MurmurHash3 is
    * deterministic across JVMs. */
  def shardOf(path: String, numShards: Int): Int =
    math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(path), numShards)

  private def toRow(a: Action): Row = a match {
    case f: AddFile => Row(
      Row(f.path, f.partitionValues, f.size, f.modificationTime,
        f.dataChange, f.stats.orNull,
        f.dv.map(d => Row(d.paths, d.cardinality)).orNull),
      null, null, null, null, null)
    case r: RemoveFile => Row(null,
      Row(r.path, r.deletionTimestamp, r.partitionValues, r.dataChange,
        r.hadDv, r.size.map(Long.box).orNull),
      null, null, null, null)
    case m: graft.sources.dlv.Metadata => Row(null, null,
      Row(m.id, m.schemaDdl, m.partitionColumns, m.properties,
        m.createdTime), null, null, null)
    case c: CommitInfo => Row(null, null, null,
      Row(c.version, c.timestamp, c.operation, c.operationParameters,
        c.isBlindAppend, c.cdcPath.orNull,
        c.operationMetrics.orNull), null, null)
    case p: Protocol => Row(null, null, null, null,
      Row(p.minReaderVersion, p.minWriterVersion), null)
  }

  private def sidecarRow(r: SidecarRef): Row = Row(
    null, null, null, null, null,
    Row(r.path, r.shardId, r.numShards, r.numFiles, r.sizeBytes,
      r.kind))

  private def fromRow(r: Row): Action = {
    def m(x: Row, i: Int): Map[String, String] =
      Option(x.getMap[String, String](i)).map(_.toMap).getOrElse(Map.empty)
    if (!r.isNullAt(0)) {
      val a = r.getStruct(0)
      val dv =
        if (a.size <= 6 || a.isNullAt(6)) None
        else {
          val d = a.getStruct(6)
          Some(DeletionVector(
            Option(d.getSeq[String](0)).map(_.toSeq).getOrElse(Nil),
            d.getLong(1)))
        }
      AddFile(a.getString(0), m(a, 1), a.getLong(2), a.getLong(3),
        a.getBoolean(4), Option(a.getString(5)), dv)
    } else if (!r.isNullAt(1)) {
      val x = r.getStruct(1)
      RemoveFile(x.getString(0), x.getLong(1), m(x, 2), x.getBoolean(3),
        x.size > 4 && !x.isNullAt(4) && x.getBoolean(4),
        if (x.size <= 5 || x.isNullAt(5)) None else Some(x.getLong(5)))
    } else if (!r.isNullAt(2)) {
      val x = r.getStruct(2)
      graft.sources.dlv.Metadata(x.getString(0), x.getString(1),
        Option(x.getSeq[String](2)).map(_.toSeq).getOrElse(Nil),
        m(x, 3), x.getLong(4))
    } else if (!r.isNullAt(3)) {
      val x = r.getStruct(3)
      val metrics =
        if (x.size <= 6 || x.isNullAt(6)) None
        else Some(x.getMap[String, String](6).toMap)
      CommitInfo(x.getLong(0), x.getLong(1), x.getString(2), m(x, 3),
        x.getBoolean(4), Option(x.getString(5)), metrics)
    } else {
      val x = r.getStruct(4)
      Protocol(x.getInt(0), x.getInt(1))
    }
  }

  /** ~200k action rows per output file: parallel read without a file
    * explosion. */
  def writeParquet(
      spark: SparkSession, actions: Seq[Action], dir: String): Unit = {
    val parts = math.max(1, actions.size / 200000)
    spark.createDataFrame(
        spark.sparkContext.parallelize(actions.map(toRow), parts), schema)
      .write.options(LocalWriteFs.writerOptions).mode("overwrite")
      .parquet(dir)
  }

  private def sidecarOf(r: Row): Option[SidecarRef] =
    if (r.isNullAt(5)) None
    else {
      val s = r.getStruct(5)
      Some(SidecarRef(s.getString(0), s.getInt(1), s.getInt(2),
        s.getLong(3), s.getLong(4),
        if (s.size <= 5 || s.isNullAt(5)) null else s.getString(5)))
    }

  /** Just the CommitInfo rows — the isNotNull filter prunes at the
    * parquet row-group level, so history resolution on a 10^6-file
    * table never ships the AddFiles to the driver. ONE scan of the
    * checkpoint dir serves both the inline infos and the sidecar
    * refs (classic checkpoints pay exactly the one job they always
    * did); a sharded manifest's immutable history chunks are then
    * read in a second scan. */
  def readParquetCommitInfos(
      spark: SparkSession, dir: String,
      resolveRef: String => String): Seq[CommitInfo] = {
    import org.apache.spark.sql.functions.col
    val rows = spark.read.schema(schema).parquet(dir)
      .filter(col("commitInfo").isNotNull || col("sidecar").isNotNull)
      .collect().toSeq
    val histDirs = rows.flatMap(sidecarOf).filter(_.isHistory)
      .map(r => resolveRef(r.path))
    val inline = rows.filter(_.isNullAt(5)).map(fromRow)
      .collect { case c: CommitInfo => c }
    if (histDirs.isEmpty) inline
    else inline ++ spark.read.schema(schema).parquet(histDirs: _*)
      .filter(col("commitInfo").isNotNull)
      .collect().toSeq.map(fromRow)
      .collect { case c: CommitInfo => c }
  }

  /** ONLY the manifest's inline CommitInfo rows (the partial tail
    * chunk) — what the incremental history-chunk builder needs without
    * touching the immutable chunks it will carry forward. */
  def readManifestCommitInfos(
      spark: SparkSession, dir: String): Seq[CommitInfo] = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(schema).parquet(dir)
      .filter(col("commitInfo").isNotNull)
      .collect().toSeq.map(fromRow)
      .collect { case c: CommitInfo => c }
  }

  /** Sidecar references of a (possibly sharded) checkpoint manifest —
    * a driver-small pruned read (N-shards rows); empty for classic
    * single-object checkpoints. */
  def sidecarRefs(spark: SparkSession, dir: String): Seq[SidecarRef] = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(schema).parquet(dir)
      .filter(col("sidecar").isNotNull)
      .select(col("sidecar.*"))
      .as[SidecarRef](org.apache.spark.sql.Encoders.product[SidecarRef])
      .collect().toSeq
  }

  /** The checkpoint's AddFiles as a DISTRIBUTED typed Dataset — the
    * file list never materializes on the driver. The scale substrate
    * of [[DlvDistributedFileIndex]]: pruning runs as a filter over
    * this Dataset and only survivors are collected. A sharded
    * manifest's refs resolve through `resolveRef` (logDir-relative →
    * qualified) and the scan reads the shard dirs directly. */
  def addsDataset(
      spark: SparkSession, dir: String,
      resolveRef: String => String)
      : org.apache.spark.sql.Dataset[AddFile] = {
    import org.apache.spark.sql.functions.col
    val addRefs = sidecarRefs(spark, dir).filter(_.isAdd)
    // an all-deleted sharded table has no add shards: the manifest
    // itself (holding zero add rows) is the correct empty scan
    val dirs =
      if (addRefs.isEmpty) Seq(dir)
      else addRefs.map(r => resolveRef(r.path))
    spark.read.schema(schema).parquet(dirs: _*)
      .filter(col("add").isNotNull)
      .select(col("add.*"))
      .as[AddFile](org.apache.spark.sql.Encoders.product[AddFile])
  }

  /** Just the Metadata + Protocol rows — a pruned read (two row-group
    * filtered scans), so light state resolution on a 10^6-file table
    * never ships the AddFiles to the driver. */
  def readParquetMetaProtocol(spark: SparkSession, dir: String)
      : (Option[graft.sources.dlv.Metadata], Option[Protocol]) = {
    import org.apache.spark.sql.functions.col
    val rows = spark.read.schema(schema).parquet(dir)
      .filter(col("metaData").isNotNull || col("protocol").isNotNull)
      .collect().toSeq.map(fromRow)
    (rows.collectFirst { case m: graft.sources.dlv.Metadata => m },
      rows.collectFirst { case p: Protocol => p })
  }

  def readParquet(
      spark: SparkSession, dir: String,
      resolveRef: String => String): Seq[Action] = {
    import org.apache.spark.sql.functions.col
    // driver materializes the action list (the snapshot lives on the
    // driver either way, as in delta-spark's state reconstruction);
    // the heavy parse is distributed and columnar. ONE scan serves
    // both the manifest rows and the sidecar refs — a classic
    // checkpoint pays exactly the one job it always did. Sharded
    // manifests hold no adds and only the tail history chunk — both
    // sidecar kinds are appended so the result is the COMPLETE action
    // set (the checkpoint cache serves history reads from it too).
    val rows = spark.read.schema(schema).parquet(dir).collect().toSeq
    val refs = rows.flatMap(sidecarOf)
    val manifest = rows.filter(_.isNullAt(5)).map(fromRow)
    if (refs.isEmpty) manifest
    else manifest ++ spark.read.schema(schema)
      .parquet(refs.map(r => resolveRef(r.path)): _*)
      .filter(col("add").isNotNull || col("commitInfo").isNotNull)
      .collect().toSeq.map(fromRow)
  }

  /** Write the DIRTY shards of a sharded checkpoint in one job:
    * `adds` (previous dirty-shard contents — or, at conversion or
    * re-shard, the whole previous checkpoint — minus touched paths,
    * plus the tail's final adds) lands under `outDir/shard=<k>/`,
    * repartitioned so each shard is one task → one part file. The file
    * list flows checkpoint-to-checkpoint through executors. Returns
    * per-shard (numFiles, sizeBytes) counted ON the write job — one
    * scan, not a write plus a separate aggregate. */
  def writeShards(
      spark: SparkSession,
      adds: org.apache.spark.sql.Dataset[AddFile],
      numShards: Int, dirty: Set[Int], outDir: String)
      : Map[Int, (Long, Long)] = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    // one scalar accumulator pair per DIRTY shard (bounded by the
    // shard count, never the file count). Task retries can overcount;
    // the values feed the `_last_checkpoint` HINT (routing + planning
    // estimates, never state), where an overestimate only biases toward
    // the distributed path and away from broadcasting — the safe
    // directions
    val accs: Map[Int, (org.apache.spark.util.LongAccumulator,
        org.apache.spark.util.LongAccumulator)] =
      dirty.map(k => k -> (
        spark.sparkContext.longAccumulator(s"dlv.ckpt.shard$k.n"),
        spark.sparkContext.longAccumulator(s"dlv.ckpt.shard$k.b"))).toMap
    val sharded = adds.map { f =>
      val s = shardOf(f.path, numShards)
      accs.get(s).foreach { case (n, b) => n.add(1L); b.add(f.size) }
      (s, f)
    }(org.apache.spark.sql.Encoders.product[(Int, AddFile)])
    sharded
      .repartition(math.max(1, dirty.size), col("_1"))
      .select(
        col("_1").as("shard"),
        struct(col("_2.path"), col("_2.partitionValues"),
          col("_2.size"), col("_2.modificationTime"),
          col("_2.dataChange"), col("_2.stats"), col("_2.dv")).as("add"),
        lit(null).cast(removeT).as("remove"),
        lit(null).cast(metaT).as("metaData"),
        lit(null).cast(infoT).as("commitInfo"),
        lit(null).cast(protoT).as("protocol"),
        lit(null).cast(sidecarT).as("sidecar"))
      .write.options(LocalWriteFs.writerOptions)
      .partitionBy("shard").mode("overwrite").parquet(outDir)
    accs.map { case (k, (n, b)) => k -> (n.value.toLong, b.value.toLong) }
  }

  /** The sharded checkpoint's MANIFEST: protocol/metadata/history
    * rows plus one sidecar row per live shard — driver-small (no
    * AddFiles), written as a single part file. */
  def writeManifest(
      spark: SparkSession, small: Seq[Action],
      refs: Seq[SidecarRef], dir: String): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          small.map(toRow) ++ refs.map(sidecarRow), 1), schema)
      .write.options(LocalWriteFs.writerOptions).mode("overwrite")
      .parquet(dir)
}
