package graft.sources.dlv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, lit, to_json}
import org.apache.spark.sql.graft.GraftInternal
import scala.jdk.CollectionConverters._

/** The dlv table facade: create / append / overwrite / scan (current,
  * VERSION AS OF, TIMESTAMP AS OF). Modeled on what delta-spark does
  * under the reference's tests (`validation_suite.py:268-362`): data
  * lands as hive-partitioned parquet, state lives in the `_dlv_log`
  * commit log, reads plan through [[DlvFileIndex]] so partition
  * pruning, stats skipping and DPP all happen at the metadata seam
  * while the stock vectorized parquet reader does the IO.
  */
object DlvTable {

  val LOG_DIR = "_dlv_log"

  def log(path: String): DlvLog = DlvLog.forTable(path)

  def isDlvTable(path: String): Boolean =
    log(path).exists

  /** Best-effort removal of a committed-but-unwanted table's OWN
    * artifacts (live data files + the log dir) — for aborted staged
    * CTAS/RTAS and lost registration races, where the location may
    * also hold unrelated user files that must survive. Never throws. */
  def dropArtifacts(location: String): Unit =
    try {
      val l = log(location)
      l.snapshot().files.foreach { f =>
        try l.io.deleteRecursive(l.resolve(f.path))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      l.io.deleteRecursive(l.resolve(LOG_DIR))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Property discipline shared by every CREATE surface (DDL, CTAS):
    * managed key families must arrive through their own statements,
    * integer knobs must parse. */
  private def validateCreateProperties(
      properties: Map[String, String]): Unit = {
    // constraints only arrive through ADD CONSTRAINT (which validates
    // existing rows); accepting them here would let the CREATE-on-
    // existing-location property diff smuggle one past validation
    val ck = properties.keys.filter(DlvConstraints.isConstraintKey)
    require(ck.isEmpty,
      s"cannot set ${ck.mkString(", ")} directly — use " +
        "ALTER TABLE .. ADD CONSTRAINT <name> CHECK (<expr>)")
    val mk = properties.keys.filter(DlvColMap.isPhysicalKey)
    require(mk.isEmpty,
      s"cannot set ${mk.mkString(", ")} at create — physical names " +
        "are assigned by ALTER TABLE .. RENAME COLUMN")
    val ik = properties.keys.filter(DlvIdentity.isKey)
    require(ik.isEmpty,
      s"cannot set ${ik.mkString(", ")} directly — identity columns " +
        "are declared in the column list (GENERATED .. AS IDENTITY)")
    // integer-valued tuning knobs fail at CREATE, not inside the
    // best-effort paths that consume them (where a parse error would
    // be swallowed or surface after an unrelated commit)
    validateIntegerProps(properties)
  }

  /** Integer-valued tuning knobs must parse — ONE rule shared by
    * every property-accepting surface (CREATE, SET TBLPROPERTIES). */
  private def validateIntegerProps(props: Map[String, String]): Unit =
    Seq(DATA_SKIP_COLS_PROP, DATA_SKIP_COLS_PROP_DELTA,
        AUTO_COMPACT_MIN_FILES_PROP)
      .flatMap(k => props.get(k).map(k -> _))
      .foreach { case (k, v) => require(
        scala.util.Try(v.trim.toInt).isSuccess,
        s"$k must be an integer, got '$v'") }

  /** Create an empty table (commit v0: protocol + metadata). Returns
    * false if the path already holds a dlv table. */
  def create(
      spark: SparkSession, path: String, schemaDdl: String,
      partitionColumns: Seq[String],
      properties: Map[String, String] = Map.empty): Boolean = {
    val l = log(path)
    if (l.exists) return false
    validateCreateProperties(properties)
    // IDENTITY first (its clause would false-match the generated-
    // expression pattern), then GENERATED ALWAYS AS (..): both strip
    // from the DDL and land as properties, validated while empty
    val (ddl1, idDecls) = DlvIdentity.extractFromDdl(schemaDdl)
    val (cleanDdl, declared) = DlvGenerated.extractFromDdl(ddl1)
    val props =
      properties ++ declared.map { case (c, e) =>
        (DlvGenerated.PREFIX + c) -> e
      } ++ idDecls.map { case (c, d) =>
        (DlvIdentity.PREFIX + c) -> d.encode
      }
    DlvGenerated.validateDecl(spark,
      org.apache.spark.sql.types.StructType.fromDDL(cleanDdl), props)
    DlvIdentity.validateDecl(
      org.apache.spark.sql.types.StructType.fromDDL(cleanDdl),
      partitionColumns, props)
    // CREATE with id-mode mapping: field ids assigned from birth
    val props1 =
      if (DlvColMap.mappingMode(props) == "id")
        props ++ DlvColMap.assignIdsOnEnable(
          org.apache.spark.sql.types.StructType.fromDDL(cleanDdl), props)
      else props
    val meta = Metadata(java.util.UUID.randomUUID().toString, cleanDdl,
      partitionColumns, props1, System.currentTimeMillis())
    l.commit(0, Seq(Protocol(), meta,
      CommitInfo(0, System.currentTimeMillis(), "CREATE TABLE",
        Map("partitionBy" -> partitionColumns.mkString(",")),
        isBlindAppend = false)))
  }

  /** delta's atomic CTAS: create AND populate in ONE version-0 commit
    * — a reader (or a crash) can never observe the table empty, and a
    * lost creation race leaves no half-table behind. The schema comes
    * from the query, so the DDL-list declarations (GENERATED /
    * IDENTITY clauses) don't apply here; properties are validated
    * exactly as CREATE validates them. Returns false when another
    * writer won the version-0 race (the loser's staged files are
    * swept — they'd otherwise squat under the winner's root). */
  def createAsSelect(
      spark: SparkSession, path: String, df: DataFrame,
      partitionColumns: Seq[String],
      properties: Map[String, String] = Map.empty): Boolean = {
    val l = log(path)
    if (l.exists) return false
    validateCreateProperties(properties)
    val props1 =
      if (DlvColMap.mappingMode(properties) == "id")
        properties ++ DlvColMap.assignIdsOnEnable(df.schema, properties)
      else properties
    val meta = Metadata(java.util.UUID.randomUUID().toString,
      df.schema.toDDL, partitionColumns, props1,
      System.currentTimeMillis())
    val adds = stageFiles(spark, l, df, meta, dataChange = true)
    val committed = l.commit(0, Seq(Protocol(), meta,
      CommitInfo(0, System.currentTimeMillis(),
        "CREATE TABLE AS SELECT",
        Map("partitionBy" -> partitionColumns.mkString(",")),
        isBlindAppend = false,
        operationMetrics = Some(CommitInfo.metricsOf(adds)))) ++ adds)
    if (!committed) adds.foreach { a =>
      try l.io.deleteRecursive(l.resolve(a.path))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    committed
  }

  /** Append `df` (blind append — never conflicts with other appends).
    *
    * Schema discipline mirrors delta-spark: columns the table has that
    * `df` lacks are filled with nulls; columns `df` has that the table
    * lacks are an ERROR unless `mergeSchema`, which widens the table
    * schema in the SAME commit (a Metadata action — concurrent
    * transactions then fail MetadataChanged, as they must). */
  def append(
      spark: SparkSession, path: String, df: DataFrame,
      mergeSchema: Boolean = false,
      extraOpParams: Map[String, String] = Map.empty): Long = {
    val l = log(path)
    ensureCreated(spark, l, df)
    val tx = new OptimisticTransaction(l, "WRITE",
      Map("mode" -> "Append") ++ extraOpParams)
    val meta = lightMetadata(spark, l, tx)
    val known = meta.schema.fieldNames.map(_.toLowerCase).toSet
    val extras = df.schema.fields.filterNot(f =>
      known.contains(f.name.toLowerCase))
    val writeMeta =
      if (extras.isEmpty) meta
      else if (!mergeSchema)
        throw new IllegalArgumentException(
          s"append schema has columns the table lacks: " +
            s"${extras.map(_.name).mkString(", ")} — pass " +
            "mergeSchema = true to evolve the table schema")
      else DlvColMap.assignNewColumns(meta, extras.toSeq)
    // id-mode widening diverges physical from logical names — the
    // same commit must carry the column-mapping protocol bump
    val bump: Seq[Action] =
      if (extras.nonEmpty && DlvColMap.idMode(meta)) DlvColMap.cmBump(tx)
      else Nil
    DlvIdentity.checkExplicit(df, writeMeta, "INSERT")
    val adds = stageFiles(spark, l, df, writeMeta, dataChange = true)
    // identity watermark rides the SAME commit (advance on the widened
    // metadata when schema evolution is also in flight)
    val metaFinal: Seq[Action] =
      DlvIdentity.advance(writeMeta, adds).map(Seq[Action](_))
        .getOrElse(if (extras.isEmpty) Nil else Seq(writeMeta))
    val v = tx.commit(bump ++ metaFinal ++ adds,
      isBlindAppend = extras.isEmpty && metaFinal.isEmpty)
    maybeAutoCompact(spark, l, writeMeta, adds)
    v
  }

  /** Overwrite the whole table (logical: removes every live file). */
  def overwrite(
      spark: SparkSession, path: String, df: DataFrame): Long = {
    val l = log(path)
    ensureCreated(spark, l, df)
    val tx = new OptimisticTransaction(l, "WRITE",
      Map("mode" -> "Overwrite"))
    tx.setReadWholeTable()
    tx.setConflictOnAnyRemove() // whole-table dep without the path set
    // the removes inherently enumerate every live file (the commit is
    // O(files) by definition of overwrite); the routed state keeps the
    // AddFile collect off the driver REPLAY path past the threshold
    val st = DlvDml.dmlState(spark, l, tx)
    DlvDml.checkAppendOnly(st.metadata, "INSERT OVERWRITE")
    val now = System.currentTimeMillis()
    val old = st.allFiles
    DlvIdentity.checkExplicit(df, st.metadata, "INSERT OVERWRITE")
    val adds = stageFiles(spark, l, df, st.metadata, dataChange = true)
    // CDF over a plain overwrite resolves by REPLAY (removes as
    // deletes, adds as inserts — no blob cost); once a removed file
    // carries a deletion vector that replay is inexact (raw rows
    // include the soft-deleted), so the commit carries an eager blob:
    // the vector-filtered old content as deletes, the STAGED rows as
    // inserts — read back from the staged files, never a second
    // evaluation of `df` (a non-deterministic source would otherwise
    // record inserts that diverge from the table's actual content)
    val dvCase =
      DlvDml.cdfEnabled(st.metadata) && old.exists(_.dv.nonEmpty)
    val cdc: Option[CommitInfo] =
      if (!dvCase) None
      else {
        val parts = Seq(
          if (old.isEmpty) None
          else Some(DlvDml.readFiles(spark, l, st.metadata, old)
            .withColumn("_change_type", lit("delete"))),
          if (adds.isEmpty) None
          else Some(DlvDml.readFiles(spark, l, st.metadata, adds)
            .withColumn("_change_type", lit("insert")))).flatten
        parts.reduceOption(_ unionByName _)
          .flatMap(DlvDml.writeCdc(spark, l, st.metadata, _))
      }
    // a provably-empty change set (all old rows already soft-deleted,
    // empty new batch) sweeps its blob — mark the removes
    // dataChange=false so the feed correctly reports NOTHING for this
    // version instead of tripping the vector-replay guard
    val dataChange = !(dvCase && cdc.isEmpty)
    val removes = old.map(_.remove(now, dataChange))
    tx.commit(DlvIdentity.advance(st.metadata, adds).toSeq ++
      removes ++ adds ++ cdc, isBlindAppend = false)
  }

  private def ensureCreated(
      spark: SparkSession, l: DlvLog, df: DataFrame): Unit =
    if (!l.exists)
      create(spark, l.tablePath, df.schema.toDDL, Nil)

  /** Table METADATA at the transaction's read version without
    * materializing the file list when the table is past the
    * distributed threshold: appends and ALTERs need schema +
    * properties + the writer gate, never the 10^7 AddFiles the driver
    * snapshot would drag in. Below the threshold (or when the light
    * resolution isn't reachable) this is exactly the old
    * `tx.readSnapshot.get.metadata`. */
  private[dlv] def lightMetadata(
      spark: SparkSession, l: DlvLog,
      tx: OptimisticTransaction): Metadata =
    (if (tx.readVersion >= 0)
       DlvDistributedFileIndex.forVersion(
         spark, l, Some(tx.readVersion), statsSkipping = true)
     else None) match {
      case Some(idx) =>
        tx.protocolOverride = Some(idx.protocol)
        tx.ensureGated() // refuse a too-new writer BEFORE staging work
        idx.metadata
      case None => tx.readSnapshot.get.metadata
    }

  /** Latest-version metadata WITHOUT a transaction or a driver file
    * list — the SQL catalog surface (SHOW TBLPROPERTIES, INSERT/MERGE
    * statement planning, idempotent CREATE property diffing) needs
    * schema + properties, never the AddFiles. */
  private[dlv] def lightMetadata(
      spark: SparkSession, l: DlvLog): Metadata =
    lightMetadataAt(spark, l, None)

  /** [[lightMetadata]] at a pinned version — the change feed resolves
    * its read schema at the range END, streaming sources at their
    * start version. */
  private[dlv] def lightMetadataAt(
      spark: SparkSession, l: DlvLog, v: Option[Long]): Metadata =
    DlvDistributedFileIndex
      .forVersion(spark, l, v, statsSkipping = true)
      .map(_.metadata).getOrElse(l.snapshotAt(v).metadata)

  /** (metadata, protocol, numFiles, sizeBytes, lastCommitTs) at the
    * latest version — DESCRIBE [DETAIL] and command result counts,
    * answered by one distributed aggregate past the threshold instead
    * of a snapshot materialization. */
  private[dlv] def lightDetail(
      spark: SparkSession, l: DlvLog)
      : (Metadata, Protocol, Long, Long, Long) =
    DlvDistributedFileIndex
      .forVersion(spark, l, None, statsSkipping = true) match {
      case Some(idx) =>
        import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
        val r = idx.liveFilesDS
          .agg(count(lit(1)), coalesce(sum("size"), lit(0L))).head()
        (idx.metadata, idx.protocol, r.getLong(0), r.getLong(1),
          l.commitTimestamp(idx.version))
      case None =>
        val s = l.snapshot()
        (s.metadata, s.protocol, s.numFiles.toLong, s.sizeInBytes,
          s.timestamp)
    }

  /** ALTER TABLE .. ADD COLUMNS: a metadata-only commit widening the
    * schema. Existing files simply lack the new columns — the scan
    * fills nulls; no data is rewritten. */
  def addColumns(spark: SparkSession, path: String, ddl: String): Long = {
    val l = log(path)
    val tx = new OptimisticTransaction(l, "ADD COLUMNS",
      Map("columns" -> ddl))
    val meta = lightMetadata(spark, l, tx)
    val newCols = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val clash = newCols.fieldNames.map(_.toLowerCase).toSet
      .intersect(meta.schema.fieldNames.map(_.toLowerCase).toSet)
    require(clash.isEmpty, s"columns already exist: ${clash.mkString(", ")}")
    // a NOT NULL column added to existing rows would be violated the
    // instant it exists (old files read it as null) — delta rejects
    // the same way
    val nn = newCols.fields.filterNot(_.nullable).map(_.name)
    require(nn.isEmpty,
      s"cannot ADD non-nullable column(s) ${nn.mkString(", ")}: " +
        "existing rows would read them as NULL")
    // WITHOUT id mode, re-adding a previously-dropped logical name
    // would resurrect the dropped incarnation's bytes (physical =
    // logical name, still present in old files) — refuse loudly; id
    // mode assigns a fresh col-<id> physical name instead, making the
    // round-trip safe. Best-effort: the drop is looked up in the
    // (checkpoint-bounded) history.
    if (!DlvColMap.idMode(meta)) {
      // both names a drop strands on disk: the logical name at drop
      // time AND the immutable physical (birth) name — either one
      // re-added would read the dropped incarnation's bytes
      val dropped = l.history
        .filter(_.operation == "DROP COLUMN")
        .flatMap(ci => ci.operationParameters.get("column").toSeq ++
          ci.operationParameters.get("physical"))
      val revived = newCols.fieldNames.filter(n =>
        dropped.exists(_.equalsIgnoreCase(n)))
      require(revived.isEmpty,
        s"cannot re-add previously dropped column(s) " +
          s"${revived.mkString(", ")} without id-mode column mapping " +
          "— old files still carry bytes under that name and would " +
          s"resurrect; SET ('${DlvColMap.MODE_PROP}' = 'id') first")
    }
    val widened = DlvColMap.assignNewColumns(meta, newCols.fields)
    val bump =
      if (DlvColMap.idMode(meta)) DlvColMap.cmBump(tx) else Nil
    tx.commit(bump :+ widened, isBlindAppend = false)
  }

  /** ALTER TABLE .. DROP COLUMN: LOGICAL drop — a metadata-only commit
    * narrowing the schema. The bytes stay in the data files until an
    * OPTIMIZE rewrites them (rewrites project the CURRENT schema), the
    * "remove logically dropped columns" behavior the reference's
    * test-10 notes (`validation_suite.py:835-846`). */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    val l = log(path)
    val tx = new OptimisticTransaction(l, "DROP COLUMN",
      Map("column" -> name))
    val meta = lightMetadata(spark, l, tx)
    // record the PHYSICAL name too: the rename-map entry leaves with
    // the column, so the commit history becomes the only witness the
    // re-add guard can consult — without it, rename v→price + drop
    // price + add v would resurrect the column's bytes under its
    // BIRTH name
    tx.params = tx.params +
      ("physical" -> DlvColMap.physicalOf(meta, name))
    require(!meta.partitionColumns.exists(_.equalsIgnoreCase(name)),
      s"cannot drop partition column $name")
    // a constraint still reading the column would make every
    // subsequent write fail analysis — refuse with the dependency
    val dependent = DlvConstraints.of(meta).filter { case (_, sql) =>
      DlvConstraints.referencedColumns(spark, sql)
        .exists(_.equalsIgnoreCase(name))
    }.map(_._1)
    require(dependent.isEmpty,
      s"cannot drop column $name: referenced by CHECK constraint(s) " +
        s"${dependent.mkString(", ")} — drop them first")
    // a generated column READING this column would fail every write
    // after the drop; dropping the GENERATED column itself is fine
    // (its declaration property leaves with it)
    val genDependent = DlvGenerated.of(meta).filter { case (g, sql) =>
      !g.equalsIgnoreCase(name) &&
        DlvConstraints.referencedColumns(spark, sql)
          .exists(_.equalsIgnoreCase(name))
    }.map(_._1)
    require(genDependent.isEmpty,
      s"cannot drop column $name: generated column(s) " +
        s"${genDependent.mkString(", ")} read it")
    val remaining = meta.schema.fields
      .filterNot(_.name.equalsIgnoreCase(name))
    require(remaining.length < meta.schema.fields.length,
      s"no such column: $name")
    require(remaining.nonEmpty, "cannot drop the last column")
    val narrowed = meta.copy(
      schemaDdl = org.apache.spark.sql.types
        .StructType(remaining).toDDL,
      properties = meta.properties.filterNot { case (k, _) =>
        (DlvGenerated.isKey(k) &&
          k.substring(DlvGenerated.PREFIX.length).equalsIgnoreCase(name)) ||
        (DlvColMap.isPhysicalKey(k) &&
          k.substring(DlvColMap.PREFIX.length).equalsIgnoreCase(name)) ||
        (DlvColMap.isIdKey(k) &&
          k.substring(DlvColMap.ID_PREFIX.length).equalsIgnoreCase(name)) ||
        (DlvIdentity.isKey(k) &&
          k.substring(DlvIdentity.PREFIX.length).equalsIgnoreCase(name))
      })
    tx.commit(Seq(narrowed), isBlindAppend = false)
  }

  /** ALTER TABLE .. SET TBLPROPERTIES: a metadata-only commit merging
    * `props` into the table's properties — the retrofit path for
    * feature flags like `dlv.enableChangeDataFeed` on an EXISTING
    * table (reference `enable_change_data_feed`,
    * `validation_suite.py:302-303`). CDF across the boundary needs no
    * special casing: change provenance is per-commit, so versions
    * predating the property replay as add/remove file reads while
    * later DML carries eager CDC blobs. */
  def setProperties(
      spark: SparkSession, path: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES: no properties given")
    // a raw property set would skip the existing-data validation ADD
    // CONSTRAINT performs — reject with the pointer
    val ck = props.keys.filter(DlvConstraints.isConstraintKey)
    require(ck.isEmpty,
      s"cannot set ${ck.mkString(", ")} directly — use " +
        "ALTER TABLE .. ADD CONSTRAINT <name> CHECK (<expr>)")
    // a generated column declared after data exists would make every
    // pre-existing row a silent violation — declarations are a CREATE
    // decision, like delta's
    val gk = props.keys.filter(DlvGenerated.isKey)
    require(gk.isEmpty,
      s"cannot set ${gk.mkString(", ")} after create — generated " +
        "columns are declared at CREATE TABLE (GENERATED ALWAYS AS)")
    // the physical map is maintained by RENAME COLUMN only — a raw set
    // could alias two columns onto one on-disk name
    val mk = props.keys.filter(DlvColMap.isPhysicalKey)
    require(mk.isEmpty,
      s"cannot set ${mk.mkString(", ")} directly — use " +
        "ALTER TABLE .. RENAME COLUMN old TO new")
    val ik = props.keys.filter(DlvIdentity.isKey)
    require(ik.isEmpty,
      s"cannot set ${ik.mkString(", ")} directly — the identity " +
        "watermark is advanced by writes only")
    // integer knobs (data-skip column cap, auto-compact threshold)
    // validated by the same rule CREATE applies — a malformed value
    // would otherwise only surface inside a best-effort consumer,
    // where the failure is swallowed
    validateIntegerProps(props)
    val idk = props.keys.filter(k => DlvColMap.isIdKey(k) ||
      k == DlvColMap.MAX_ID_PROP)
    require(idk.isEmpty,
      s"cannot set ${idk.mkString(", ")} directly — field ids are " +
        "assigned when id-mode column mapping is enabled")
    val modeSet = props.get(DlvColMap.MODE_PROP)
      .orElse(props.get(DlvColMap.MODE_PROP_DELTA))
    modeSet.foreach(v => require(
      v.equalsIgnoreCase("name") || v.equalsIgnoreCase("none") ||
        v.equalsIgnoreCase("id"),
      s"${DlvColMap.MODE_PROP}: unsupported mode '$v' (name | id | none)"))
    val l = log(path)
    val tx = new OptimisticTransaction(l, "SET TBLPROPERTIES", props)
    val meta = lightMetadata(spark, l, tx)
    // id mode is a one-way door: ids and col-<id> physical names are
    // load-bearing for files already written under them
    modeSet.foreach { v =>
      require(!(DlvColMap.idMode(meta) && !v.equalsIgnoreCase("id")),
        s"cannot leave id-mode column mapping (requested '$v'): " +
          "field ids back every file written since it was enabled")
    }
    // flipping id mode ON assigns sequential field ids to every
    // current column in the SAME commit (physical names unchanged —
    // the files on disk already carry them) and bumps the protocol
    val enablingId = modeSet.exists(_.equalsIgnoreCase("id")) &&
      !DlvColMap.idMode(meta)
    val idProps =
      if (enablingId)
        DlvColMap.assignIdsOnEnable(meta.schema, meta.properties)
      else Map.empty[String, String]
    val bump =
      if (enablingId) DlvColMap.cmBump(tx) else Nil
    tx.commit(bump :+ meta.copy(
        properties = meta.properties ++ props ++ idProps),
      isBlindAppend = false)
  }

  /** ALTER TABLE .. UNSET TBLPROPERTIES [IF EXISTS]: metadata-only
    * commit removing keys. Unknown keys error unless `ifExists`. */
  def unsetProperties(
      spark: SparkSession, path: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES: no keys given")
    // the physical map is the durable witness every read translates
    // by — unsetting an entry would misread on-disk names silently
    val mk = keys.filter(DlvColMap.isPhysicalKey)
    require(mk.isEmpty,
      s"cannot unset ${mk.mkString(", ")} — the column-mapping " +
        "physical names are load-bearing for every file already " +
        "written (rename the column back instead)")
    val ik = keys.filter(DlvIdentity.isKey)
    require(ik.isEmpty,
      s"cannot unset ${ik.mkString(", ")} — dropping the identity " +
        "watermark would re-allocate already-issued values")
    val fk = keys.filter(k => DlvColMap.isIdKey(k) ||
      k == DlvColMap.MAX_ID_PROP)
    require(fk.isEmpty,
      s"cannot unset ${fk.mkString(", ")} — field ids (and their " +
        "high-water mark) are load-bearing for files already written")
    val l = log(path)
    val tx = new OptimisticTransaction(l, "UNSET TBLPROPERTIES",
      Map("keys" -> keys.mkString(",")))
    val meta = lightMetadata(spark, l, tx)
    val missing = keys.filterNot(meta.properties.contains)
    require(ifExists || missing.isEmpty,
      s"no such table properties: ${missing.mkString(", ")}")
    tx.commit(Seq(meta.copy(properties = meta.properties -- keys)),
      isBlindAppend = false)
  }

  /** RESTORE TABLE .. TO VERSION AS OF v (delta-parity surface): ONE
    * commit that makes the current state equal the state at `version`
    * — pure log arithmetic (re-add files live at v but not now; remove
    * files live now but not at v; reinstate v's metadata if it
    * changed). Data files are immutable, so nothing is copied; files
    * VACUUM already deleted make the restore refuse up front rather
    * than commit a snapshot that cannot be read. */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val l = log(path)
    val tx = new OptimisticTransaction(l, "RESTORE",
      Map("version" -> version.toString))
    tx.setReadWholeTable()
    DlvDml.checkAppendOnly(lightMetadata(spark, l, tx), "RESTORE")
    val now = System.currentTimeMillis()
    // distributed route when BOTH endpoints resolve through the
    // Dataset-backed index (below-hint time travel included): the
    // two-version diff runs where the state lives and only the CHANGED
    // files land on the driver — the commit is O(diff), so the
    // collect adds no new bound.
    (for {
      cur <- DlvDistributedFileIndex.forVersion(
        spark, l, Some(tx.readVersion).filter(_ >= 0),
        statsSkipping = true)
      tgt <- DlvDistributedFileIndex.forVersion(
        spark, l, Some(version), statsSkipping = true)
    } yield {
      tx.protocolOverride = Some(cur.protocol)
      tx.setConflictOnAnyRemove() // whole-table dep, no path list
      // diff identity is (path, deletion vector): a file live at both
      // versions whose VECTOR changed must still restore — path alone
      // would leave the newer soft-deletes in place
      def keyed(ds: org.apache.spark.sql.Dataset[AddFile]) =
        ds.withColumn("__dvk", coalesce(to_json(col("dv")), lit("")))
      val t = keyed(tgt.liveFilesDS).alias("t")
      val c = keyed(cur.liveFilesDS).alias("c")
      val adds = t.join(c.select(col("path").as("__p"), col("__dvk").as("__k")),
          t("path") === col("__p") && t("__dvk") === col("__k"),
          "left_anti")
        .drop("__dvk")
        .as(org.apache.spark.sql.Encoders.product[AddFile])
        .collect().toSeq.map(_.copy(dataChange = true))
      val removes = c.join(t.select(col("path").as("__p"), col("__dvk").as("__k")),
          c("path") === col("__p") && c("__dvk") === col("__k"),
          "left_anti")
        .drop("__dvk")
        .as(org.apache.spark.sql.Encoders.product[AddFile])
        .collect().toSeq
        .map(_.remove(now, dataChange = true))
      requireRestorable(spark, l, version, adds)
      val metaAction: Seq[Action] =
        if (cur.metadata != tgt.metadata) Seq(tgt.metadata) else Nil
      // removes BEFORE adds: with (path, dv) diff identity the same
      // path can appear on both sides (vector changed) — replay must
      // land on the re-added entry, not the remove
      tx.commit(metaAction ++ removes ++ adds, isBlindAppend = false)
    }).getOrElse {
      val cur = tx.readSnapshot.get
      tx.readFilePaths = cur.files.map(_.path).toSet
      val target = l.snapshotAt(Some(version))
      // diff identity is (path, deletion vector) — path alone would
      // leave a newer vector's soft-deletes in place after restore
      def key(f: AddFile): (String, Option[DeletionVector]) =
        (f.path, f.dv)
      val curKeys = cur.files.map(key).toSet
      val tgtKeys = target.files.map(key).toSet
      val adds = target.files.filterNot(f => curKeys(key(f)))
        .map(_.copy(dataChange = true))
      val removes = cur.files.filterNot(f => tgtKeys(key(f)))
        .map(_.remove(now, dataChange = true))
      requireRestorable(spark, l, version, adds)
      val metaAction: Seq[Action] =
        if (cur.metadata != target.metadata) Seq(target.metadata) else Nil
      // removes BEFORE adds: with (path, dv) diff identity the same
      // path can appear on both sides (vector changed) — replay must
      // land on the re-added entry, not the remove
      tx.commit(metaAction ++ removes ++ adds, isBlindAppend = false)
    }
  }

  /** RESTORE's vacuum guard: refuse up front when a file `adds`
    * re-adds, or a DV sidecar its vector references, is gone —
    * committing it would leave every later read dying on a missing
    * file (a version whose vectors were purged by OPTIMIZE and whose
    * sidecars were then vacuumed, say). Only the re-added entries need
    * probing: a file live at both versions is referenced by the
    * current snapshot, and VACUUM never deletes current-referenced
    * files. Parallel probes with a first-hit exit: a serial per-path
    * HEAD loop on an object store would take minutes at a few
    * thousand files. */
  private def requireRestorable(
      spark: SparkSession, l: DlvLog, version: Long,
      adds: Seq[AddFile]): Unit = {
    val needed = (adds.map(_.path) ++
      adds.flatMap(_.dv).flatMap(_.paths)).distinct
    if (needed.isEmpty) return
    val io = l.io
    val root = l.tablePath
    val missing = spark.sparkContext
      .parallelize(needed, math.min(needed.size, 256))
      .filter(rel => !io.exists(
        if (DlvLog.isAbsolutePath(rel)) rel else io.child(root, rel)))
      .take(1)
    require(missing.isEmpty,
      s"cannot RESTORE to $version: re-added data files were " +
        s"vacuumed (e.g. ${missing.head})")
  }

  def restoreToTimestamp(
      spark: SparkSession, path: String, tsMillis: Long): Long =
    restore(spark, path, log(path).versionAtTimestamp(tsMillis))

  /** CONVERT TO DLV: adopt an existing hive-partitioned parquet
    * directory IN PLACE — no data is rewritten or moved; the commit
    * just enumerates the files with footer stats. Listing and stats
    * collection fan out as a Spark job above
    * [[DlvMaintenance.DISTRIBUTED_LISTING_THRESHOLD]] files (a 100 TB
    * import reads a million footers — the driver reads none of them).
    * Schema (incl. typed partition columns) comes from Spark's own
    * parquet inference over the directory. */
  def convert(
      spark: SparkSession, path: String,
      partitionColumns: Seq[String] = Nil): Long = {
    val l = log(path)
    require(!l.exists, s"$path is already a dlv table")
    val schema = spark.read.parquet(path).schema
    require(partitionColumns.forall(c =>
      schema.fieldNames.exists(_.equalsIgnoreCase(c))),
      s"partition columns $partitionColumns not all present in " +
        s"inferred schema ${schema.fieldNames.mkString(",")}")
    val files = l.io.walkFiles(path).filter(_.name.endsWith(".parquet"))
    // ONE hive-segment parser for every adoption surface
    // ([[DlvDml.hivePartValues]] — %XX-only unescape, '+' preserved)
    def partValsOf(rel: String): Map[String, String] =
      DlvDml.hivePartValues(rel)
    val io = l.io
    val tableRoot = l.tablePath
    val adds: Seq[AddFile] =
      if (files.size <= DlvMaintenance.DISTRIBUTED_LISTING_THRESHOLD) {
        val conf = spark.sparkContext.hadoopConfiguration
        DriverPar.map(files) { e =>
          AddFile(e.name, partValsOf(e.name), e.size, e.mtimeMs,
            dataChange = true,
            stats = Some(ParquetStats.statsJson(conf,
              new org.apache.hadoop.fs.Path(l.resolveQualified(e.name)))))
        }
      } else {
        // Configuration itself doesn't serialize — ship the driver's
        // effective hadoop key/values (spark.hadoop.*, object-store
        // credentials/endpoints) and rebuild on each executor, so
        // footer reads on s3a://gs:// paths see the same wiring the
        // driver does
        val confKVs: Seq[(String, String)] = {
          val it = spark.sparkContext.hadoopConfiguration.iterator()
          val b = Seq.newBuilder[(String, String)]
          while (it.hasNext) {
            val e = it.next(); b += e.getKey -> e.getValue
          }
          b.result()
        }
        spark.sparkContext
          .parallelize(files, math.min(files.size, 256))
          .map { e =>
            val conf = new org.apache.hadoop.conf.Configuration()
            confKVs.foreach { case (k, v) => conf.set(k, v) }
            AddFile(e.name, partValsOf(e.name), e.size, e.mtimeMs,
              dataChange = true,
              stats = Some(ParquetStats.statsJson(conf,
                new org.apache.hadoop.fs.Path(
                  io.qualified(io.child(tableRoot, e.name))))))
          }.collect().toSeq
      }
    val meta = Metadata(java.util.UUID.randomUUID().toString,
      schema.toDDL, partitionColumns, Map.empty,
      System.currentTimeMillis())
    val won = l.commit(0, Seq(Protocol(), meta,
      CommitInfo(0, System.currentTimeMillis(), "CONVERT",
        Map("numFiles" -> adds.size.toString), isBlindAppend = false,
        operationMetrics = Some(CommitInfo.metricsOf(adds))))
      ++ adds)
    // the !l.exists pre-check races with concurrent create/convert —
    // losing version 0 must surface, not silently discard the commit
    require(won, s"CONVERT of $path lost the version-0 race: " +
      "another writer created the table concurrently")
    0L
  }

  val DATA_SKIP_COLS_PROP = "dlv.dataSkippingNumIndexedCols"
  val DATA_SKIP_COLS_PROP_DELTA = "delta.dataSkippingNumIndexedCols"

  val AUTO_COMPACT_PROP = "dlv.autoOptimize.autoCompact"
  val AUTO_COMPACT_PROP_DELTA = "delta.autoOptimize.autoCompact"
  /** Minimum small files in one partition before auto-compact fires
    * (delta's autoCompact.minNumFiles default). */
  val AUTO_COMPACT_MIN_FILES_PROP = "dlv.autoOptimize.minNumFiles"

  /** AUTO COMPACT (delta's `autoOptimize.autoCompact`): after an
    * append lands, bin-pack any partition the append touched that has
    * accumulated ≥ minNumFiles small (< 128 MB) live files — the
    * streaming-ingest fragmentation killer, scoped to exactly the
    * partitions just written (never a table-wide survey at 100 TB;
    * unpartitioned tables compact whole when they qualify).
    * BEST-EFFORT, like delta: a lost race or any failure is swallowed
    * — the appended data is already durable, compaction is hygiene.
    * No recursion: OPTIMIZE commits through its own path and never
    * re-enters append. */
  private def maybeAutoCompact(
      spark: SparkSession, l: DlvLog, meta: Metadata,
      adds: Seq[AddFile]): Unit = {
    val on = meta.properties.get(AUTO_COMPACT_PROP)
      .orElse(meta.properties.get(AUTO_COMPACT_PROP_DELTA))
      .exists(_.equalsIgnoreCase("true"))
    if (!on || adds.isEmpty) return
    // CREATE and SET TBLPROPERTIES both validate this as an integer;
    // a malformed value that slipped in anyway (hand-edited log) must
    // not fail the append the compaction piggybacks on — the data is
    // already durably committed — but must not be invisible either
    val minN = meta.properties.get(AUTO_COMPACT_MIN_FILES_PROP) match {
      case None => 50
      case Some(v) => scala.util.Try(v.trim.toInt).getOrElse {
        Console.err.println(s"[graft] auto-compact disabled: " +
          s"$AUTO_COMPACT_MIN_FILES_PROP must be an integer, got '$v'")
        return
      }
    }
    val smallBytes = 128L << 20
    def partCond(pvs: Seq[Map[String, String]])
        : org.apache.spark.sql.Column =
      pvs.map { pv =>
        meta.partitionColumns.map { c =>
          pv.get(c).filter(_ != null) match {
            case Some(v) => col(c) === lit(v)
            case None => col(c).isNull
          }
        }.reduce(_ && _)
      }.reduce(_ || _)
    try {
      val tx = new OptimisticTransaction(l, "AUTO COMPACT PROBE")
      val st = DlvDml.dmlState(spark, l, tx)
      val touched = adds.map(_.partitionValues).distinct
      val candidates: Seq[AddFile] =
        if (meta.partitionColumns.isEmpty) st.allFiles
        else {
          // the analyzer coerces the string partition literals to the
          // partition schema's types — same seam OPTIMIZE WHERE uses
          val aCond = DlvDml.analyzedCond(st.df, partCond(touched))
          st.filesWherePartition(
            DlvDml.boundPartition(aCond, meta.partitionSchema))
        }
      val qualifying = candidates.groupBy(_.partitionValues)
        .filter { case (_, fs) => fs.count(_.size < smallBytes) >= minN }
        .keys.toSeq
      if (qualifying.isEmpty) return
      val where =
        if (meta.partitionColumns.isEmpty) None
        else Some(partCond(qualifying))
      DlvMaintenance.optimize(spark, l.tablePath, where = where)
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // best-effort is right, invisible is not: a persistently
        // failing compaction should be diagnosable from the console
        Console.err.println(s"[graft] auto-compact skipped on " +
          s"${l.tablePath}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** The PHYSICAL-name column set whose stats the table indexes, or
    * None = all (no cap in effect). delta's
    * `dataSkippingNumIndexedCols` semantics: the FIRST N DATA-schema
    * columns (default 32, -1 = all) — N counts over the non-partition
    * columns, like delta, because partition columns never carry
    * parquet footer stats (their values live in the directory layout;
    * counting them would silently rob trailing data columns of their
    * min/max on partitioned tables); identity columns are ALWAYS
    * included regardless of position — the watermark advance derives
    * from staged-file stats, and a stats-blind identity column would
    * silently re-allocate issued values. */
  private[dlv] def indexedStatsCols(meta: Metadata): Option[Set[String]] = {
    val n = meta.properties.get(DATA_SKIP_COLS_PROP)
      .orElse(meta.properties.get(DATA_SKIP_COLS_PROP_DELTA))
      .map(v => try v.trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$DATA_SKIP_COLS_PROP must be an integer, got '$v'")
      }).getOrElse(32)
    val partLower = meta.partitionColumns.map(_.toLowerCase).toSet
    val dataFields = meta.schema.fields
      .filterNot(f => partLower.contains(f.name.toLowerCase))
    if (n < 0 || dataFields.length <= n) None
    else {
      val first = dataFields.take(n).map(_.name)
      val ids = DlvIdentity.of(meta).map(_._1)
      Some((first ++ ids)
        .map(c => DlvColMap.physicalOf(meta, c).toLowerCase).toSet)
    }
  }

  /** Absent nullable columns land as typed nulls (schema evolution:
    * old writers, widened tables), then the frame takes the table's
    * column order. */
  private def schemaAligned(df: DataFrame, meta: Metadata): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val filled = meta.schema.fields
      .filterNot(f => have.contains(f.name.toLowerCase))
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    filled.select(meta.schema.map(f => col(f.name)): _*)
  }

  /** The WRITE-normalized image of `df` for `meta`: generated columns
    * FIRST (absent → computed from the incoming row, present →
    * row-level validated), identity fill riding the same scan
    * (null/absent values allocate from the watermark; rows carrying
    * values pass through), then null-fill + table column order.
    * [[stageFiles]] commits exactly this frame — so a CDC image
    * pinned BEFORE staging must be built from the SAME normalization
    * or the change feed diverges from the committed rows (the feed
    * would record a generated column absent/NULL while the table
    * holds the computed value). */
  def writeNormalized(df: DataFrame, meta: Metadata): DataFrame =
    schemaAligned(
      DlvIdentity.applied(DlvGenerated.applied(df, meta), meta), meta)

  /** Write `df` as hive-partitioned parquet files at their FINAL paths
    * under the table root and return their AddFiles, sorted by path.
    * One Spark write job does it all ([[DirectCommitProtocol]]): each
    * task names its files, writes them in place and returns their
    * size, mtime and footer stats — no staging dir, no rename, no
    * driver pass over the written files. Nothing is visible until the
    * commit that references it: reads plan from the log, so a file of
    * a failed or never-committed write is an orphan, and VACUUM
    * reclaims it. */
  def stageFiles(
      spark: SparkSession, l: DlvLog, df: DataFrame, meta: Metadata,
      dataChange: Boolean): Seq[AddFile] = {
    // dataChange=false re-arrangements skip generation and identity
    // like they skip the constraints below (values already passed)
    val ordered0 =
      if (dataChange) writeNormalized(df, meta)
      else schemaAligned(df, meta)
    // writer invariants ride the write's own scan (no extra pass): a
    // CHECK-constraint or NOT NULL violation fails the job, and the
    // failed job deletes what its tasks wrote. dataChange=false
    // (OPTIMIZE/Z-ORDER) re-arranges rows that already passed — skip,
    // like delta
    val ordered =
      if (dataChange) DlvConstraints.enforced(ordered0, meta)
      else ordered0
    // ON DISK IS PHYSICAL: renamed columns revert to their immutable
    // birth names at the very last moment, AFTER generation and
    // constraint enforcement (which speak logical) — see [[DlvColMap]]
    val physical = DlvColMap.stampFieldIds(
      DlvColMap.toPhysical(ordered, meta), meta)
    // resolved ONCE per write, before any task runs — a malformed
    // property fails here, not inside the job
    val indexed = indexedStatsCols(meta)
    writeInPlace(l, l.tablePath, physical, meta.partitionColumns,
      indexed, dataChange, "dlv:write")
  }

  /** The one direct write under `dir` (the table root, or a CDC blob
    * dir): [[DirectCommitProtocol]] through Spark's file writer, as the
    * SQL execution `name`, with `file:` on [[LocalWriteFs]]. */
  private[dlv] def writeInPlace(
      l: DlvLog, dir: String, df: DataFrame, partitionColumns: Seq[String],
      indexed: Option[Set[String]], dataChange: Boolean,
      name: String): Seq[AddFile] = {
    val root = l.io.qualified(dir)
    val protocol = new DirectCommitProtocol(root, indexed, dataChange)
    GraftInternal.writeParquet(df, root, partitionColumns, protocol, name,
      LocalWriteFs.writerOptions)
    protocol.committed
  }

  /** Scan: current snapshot, `VERSION AS OF`, or `TIMESTAMP AS OF`. */
  def toDF(
      spark: SparkSession, path: String,
      version: Option[Long] = None,
      timestampMs: Option[Long] = None,
      statsSkipping: Boolean = true): DataFrame = {
    val l = log(path)
    val v = (version, timestampMs) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "specify version or timestamp, not both")
      case (v @ Some(_), None) => v
      case (None, Some(ts)) => Some(l.versionAtTimestamp(ts))
      case (None, None) => None
    }
    dfForVersion(spark, l, v, statsSkipping)
  }

  /** Scan routing: the Dataset-backed [[DlvDistributedFileIndex]] when
    * the table is past [[DlvLog.distributedSnapshotThreshold]] (file
    * list stays distributed; only pruned survivors reach the driver),
    * the driver-side snapshot otherwise. */
  def dfForVersion(
      spark: SparkSession, l: DlvLog, v: Option[Long],
      statsSkipping: Boolean = true): DataFrame =
    DlvDistributedFileIndex.forVersion(spark, l, v, statsSkipping) match {
      case Some(index) => dfForIndex(spark, index)
      case None =>
        dfForSnapshot(spark, l, l.snapshotAt(v), statsSkipping)
    }

  /** The routed relation (see [[dfForVersion]]) plus the table schema
    * in declared column order. */
  def relationForVersion(
      spark: SparkSession, l: DlvLog, v: Option[Long],
      statsSkipping: Boolean = true)
      : (HadoopFsRelation, org.apache.spark.sql.types.StructType) = {
    DlvDistributedFileIndex.forVersion(
        spark, l, v, statsSkipping) match {
      case Some(index) =>
        (relationForIndex(spark, index), index.metadata.schema)
      case None =>
        val snap = l.snapshotAt(v)
        (relationForSnapshot(spark, l, snap, statsSkipping),
          snap.metadata.schema)
    }
  }

  private[dlv] def relationForIndex(
      spark: SparkSession,
      index: DlvDistributedFileIndex): HadoopFsRelation =
    HadoopFsRelation(
      location = index,
      partitionSchema = index.metadata.partitionSchema,
      // PHYSICAL lexicon: parquet matches columns by name, and the
      // on-disk names are the columns' birth names ([[DlvColMap]]);
      // dfForIndex/dfForSnapshot project back to logical just above
      dataSchema = DlvColMap.physicalDataSchema(index.metadata),
      bucketSpec = None,
      fileFormat = new DlvParquetFileFormat,
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  /** Scan planned through an already-resolved distributed index —
    * version-pinned to the index, no further log reads. DV-enabled
    * tables SPLIT the plan: vector-free files scan plain, only the
    * DV-bearing subset enters the dead-set anti-join, and the two
    * branches union — so even when the dead set outgrows the
    * broadcast limit, the shuffled anti-join probes ONLY the files
    * that actually carry a vector, never the whole table (the frozen
    * r14 shape shuffled every row of every file there). Plain tables
    * never pay the summary job. */
  private[dlv] def dfForIndex(
      spark: SparkSession, index: DlvDistributedFileIndex): DataFrame = {
    val cols = index.metadata.schema.map(f =>
      col(DlvColMap.physicalOf(index.metadata, f.name)).as(f.name))
    def planOf(i: DlvDistributedFileIndex): DataFrame =
      GraftInternal.ofRows(spark,
        LogicalRelation(relationForIndex(spark, i)))
    // keyed on active() (property OR protocol witness), not the
    // property alone — UNSETting the property must not skip the
    // anti-join while live files still carry vectors
    if (!DlvDv.active(index.metadata, index.protocol))
      planOf(index).select(cols: _*)
    else {
      val (sidecars, card, plainFiles) = index.dvSplitSummary
      if (sidecars.isEmpty) planOf(index).select(cols: _*)
      else {
        val dvPlan = DlvDv.filterDeletedBy(spark, index.dlvLog,
          planOf(index.restrictedToDv(true)), cols, sidecars, card)
        if (plainFiles == 0L) dvPlan
        else planOf(index.restrictedToDv(false))
          .select(cols: _*).union(dvPlan)
      }
    }
  }

  /** The pruning-FileIndex-backed relation every read path plans
    * through — also what `spark.read.format("dlv")` returns. */
  def relationForSnapshot(
      spark: SparkSession, l: DlvLog, snap: Snapshot,
      statsSkipping: Boolean = true): HadoopFsRelation = {
    val index = new DlvFileIndex(spark, l, snap, statsSkipping)
    HadoopFsRelation(
      location = index,
      partitionSchema = snap.metadata.partitionSchema,
      dataSchema = DlvColMap.physicalDataSchema(snap.metadata),
      bucketSpec = None,
      fileFormat = new DlvParquetFileFormat,
      options = Map.empty)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  def dfForSnapshot(
      spark: SparkSession, l: DlvLog, snap: Snapshot,
      statsSkipping: Boolean = true): DataFrame = {
    def planOf(s: Snapshot): DataFrame =
      GraftInternal.ofRows(spark, LogicalRelation(
        relationForSnapshot(spark, l, s, statsSkipping)))
    // normalize to declared column order (data ++ partition otherwise);
    // vector PRESENCE (not the property) keys the anti-join — UNSET
    // TBLPROPERTIES must not resurrect soft-deleted rows
    val cols = snap.metadata.schema.map(f =>
      col(DlvColMap.physicalOf(snap.metadata, f.name)).as(f.name))
    val (dvFiles, plainFiles) = snap.files.partition(_.dv.nonEmpty)
    if (dvFiles.isEmpty) planOf(snap).select(cols: _*)
    else {
      // split plan: only vector-BEARING files probe the dead-set
      // anti-join; vector-free files scan plain and union in — above
      // the broadcast limit the shuffled join then moves O(dv-bearing
      // bytes), not the whole table
      val dvPlan = DlvDv.filterDeleted(spark, l,
        planOf(snap.copy(files = dvFiles)), snap.metadata,
        dvFiles)
      if (plainFiles.isEmpty) dvPlan
      else planOf(snap.copy(files = plainFiles))
        .select(cols: _*).union(dvPlan)
    }
  }

  /** Recursive delete for dlv-owned scratch/table dirs — guarded: the
    * target must BE a dlv table dir (has the log) or live under one,
    * or be explicitly whitelisted by the caller as a gate scratch
    * root. Absence of proof is refusal (INCIDENT.md). */
  def deleteTableDir(path: String): Unit = {
    val io = DlvIo.forPath(path)
    if (!io.exists(path)) return
    val base = path.stripSuffix("/").split('/').last
    require(io.exists(io.child(path, LOG_DIR)) || base.startsWith("dlv-"),
      s"refusing to delete $path: neither a dlv table (no $LOG_DIR) " +
        "nor a dlv- scratch dir")
    io.deleteRecursive(path)
  }
}
