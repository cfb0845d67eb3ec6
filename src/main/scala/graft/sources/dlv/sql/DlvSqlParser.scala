package graft.sources.dlv.sql

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Statement-level front-end for the dlv SQL surface: recognizes the
  * reference's maintenance/metadata statements (with a quoted table
  * PATH where the reference names a catalog table) and delegates every
  * other statement to Spark's own parser untouched:
  *
  *   VACUUM <ref> [RETAIN <n> HOURS] [DRY RUN]
  *   OPTIMIZE <ref> [WHERE <partition predicate>] [ZORDER BY (c1, ...)]
  *   REORG TABLE <ref> APPLY (PURGE)
  *   ALTER TABLE <ref> ADD CONSTRAINT n CHECK (..) / DROP CONSTRAINT n
  *   DESCRIBE HISTORY / DETAIL / [TABLE] [EXTENDED] <ref>
  *   RESTORE [TABLE] <ref> TO VERSION AS OF v | TO TIMESTAMP AS OF 'ts'
  *   CONVERT TO DLV '<path>' [PARTITIONED BY (c1, ...)]
  *   CREATE TABLE <tgt> SHALLOW CLONE <src> [VERSION/TIMESTAMP AS OF ..]
  *   CREATE TABLE .. USING dlv / DROP TABLE / SHOW DLV TABLES
  *   ALTER TABLE <ref> ADD COLUMNS (..) / DROP COLUMN c
  *
  * (`<ref>` = quoted path or registered name, single- or two-part.)
  *
  * Time travel and change feeds ride through Spark's stock parser as
  * injected table-valued functions (see [[DlvTableFunctions]]):
  * `SELECT .. FROM dlv_table('<path>')`, `dlv_table_at_version`,
  * `dlv_table_at_timestamp`, `table_changes`.
  */
class DlvSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    DlvSqlParser.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object DlvSqlParser {

  // table ref: a quoted path ('...') or a bare registered name
  private val REF = """(?:'([^']+)'|([\w.]+))"""
  private val Vacuum =
    s"""(?is)\\s*VACUUM\\s+$REF(?:\\s+RETAIN\\s+([0-9.]+)\\s+HOURS?)?(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  private val Optimize =
    s"""(?is)\\s*OPTIMIZE\\s+$REF(?:\\s+WHERE\\s+(.+?))?(?:\\s+ZORDER\\s+BY\\s+\\(?\\s*([\\w\\s,`]+?)\\s*\\)?)?\\s*;?\\s*""".r
  private val Reorg =
    s"""(?is)\\s*REORG\\s+TABLE\\s+$REF\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*""".r
  private val Fsck =
    s"""(?is)\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$REF(\\s+DRY\\s+RUN)?\\s*;?\\s*""".r
  private val History =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$REF(?:\\s+LIMIT\\s+(\\d+))?\\s*;?\\s*""".r
  private val Detail =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$REF\\s*;?\\s*""".r
  private val Describe =
    s"""(?is)\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?(EXTENDED\\s+)?$REF\\s*;?\\s*""".r
  // head only — the tail clauses (PARTITIONED BY / LOCATION /
  // TBLPROPERTIES) appear in ANY order: the reference writes
  // `USING DELTA LOCATION '..' PARTITIONED BY (..) TBLPROPERTIES(..)`
  // (validation_suite.py:268-286), delta docs show PARTITIONED BY
  // first — both must parse
  private val CreateDlv =
    """(?is)\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*(?:\((.*?)\)\s*)?USING\s+dlv\b(.*?);?\s*""".r
  private val ReplaceDlv =
    """(?is)\s*(CREATE\s+OR\s+)?REPLACE\s+TABLE\s+([\w.]+)\s*(?:\((.*?)\)\s*)?USING\s+dlv\b(.*?);?\s*""".r
  private val PartByClause =
    """(?is)^PARTITIONED\s+BY\s*\(([^)]*)\)\s*""".r
  private val LocationClause = """(?is)^LOCATION\s+'([^']+)'\s*""".r
  // quote-aware body: a ')' inside a quoted value must not end the
  // clause (TBLPROPERTIES('comment' = 'orders (daily)'))
  private val TblPropsClause =
    """(?is)^TBLPROPERTIES\s*\(((?:[^()'"]|'[^']*'|"[^"]*")*)\)\s*""".r
  // clause heads Spark's own parser handles on a USING-provider CREATE
  // (OPTIONS) — we step aside rather than reject
  private val DelegatedCreateClause =
    """(?is)^(OPTIONS\s*\().*""".r
  // CTAS body: everything after AS is the query (SELECT / WITH cte /
  // VALUES / parenthesized), run natively as one atomic
  // create+populate commit
  private val CreateAsClause =
    """(?is)^AS\s+((?:SELECT\b|WITH\b|VALUES\b|\().*)$""".r

  /** Parse the CREATE tail's order-free clauses. None = a clause we
    * deliberately DELEGATE to Spark (OPTIONS — it worked through the
    * registered V1 provider before this parser grew a CREATE
    * statement, and must keep working). A trailing `AS <query>` makes
    * the statement a CTAS — returned as the fourth element. Anything
    * else unrecognized fails loudly — the statement named our
    * provider, so silently handing a typo to Spark's catalog would
    * create a table with the mistake baked in. */
  private def createTail(tail: String): Option[
      (Seq[String], Option[String], Map[String, String], Option[String])] = {
    var rest = tail.trim
    var partBy: Seq[String] = Nil
    var location: Option[String] = None
    var props: Map[String, String] = Map.empty
    var ctas: Option[String] = None
    while (rest.nonEmpty && ctas.isEmpty) {
      // each clause regex matches a PREFIX of the remaining tail
      val next =
        PartByClause.findPrefixMatchOf(rest).map { m =>
          partBy = cols(m.group(1)); m.end
        }.orElse(LocationClause.findPrefixMatchOf(rest).map { m =>
          location = Some(m.group(1)); m.end
        }).orElse(TblPropsClause.findPrefixMatchOf(rest).map { m =>
          props = parsedProps(m.group(1)); m.end
        })
      next match {
        case Some(end) => rest = rest.substring(end).trim
        case None =>
          CreateAsClause.findPrefixMatchOf(rest) match {
            case Some(m) =>
              ctas = Some(m.group(1).trim.stripSuffix(";").trim)
            case None if DelegatedCreateClause.matches(rest) => return None
            case None => throw new IllegalArgumentException(
              s"CREATE TABLE .. USING dlv: unrecognized clause at: " +
                s"$rest (supported: PARTITIONED BY (..), LOCATION " +
                "'<path>', TBLPROPERTIES (k = v, ..), AS <query>)")
          }
      }
    }
    Some((partBy, location, props, ctas))
  }

  /** propMap with a coverage check: the parsed pairs must SPAN the
    * whole body (only commas/whitespace between them) — a silently
    * dropped or truncated property (malformed value like `team/data`)
    * surfaces much later as e.g. CDF never arming, so reject it here. */
  private def parsedProps(body: String): Map[String, String] = {
    val matches = PropPair.findAllMatchIn(body).toSeq
    val leftover = {
      val sb = new StringBuilder(body)
      matches.reverse.foreach(m => sb.delete(m.start, m.end))
      sb.toString
    }
    require(leftover.forall(c => c == ',' || c.isWhitespace),
      s"TBLPROPERTIES: unparsed content '${leftover.trim}' in ($body) " +
        "— values must be quoted strings or bare [\\w.-]+ tokens")
    matches.map { m =>
      Option(m.group(1)).getOrElse(m.group(2)) ->
        Option(m.group(3)).getOrElse(m.group(4))
    }.toMap
  }
  // target first (path or name), then source (path or name), optional
  // time travel on the SOURCE, optional LOCATION for a named target
  private val CloneStmt =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?$REF\\s+(SHALLOW\\s+|DEEP\\s+)?CLONE\\s+$REF(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)|\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)')?(?:\\s+LOCATION\\s+'([^']+)')?\\s*;?\\s*""".r
  private val DropTable =
    """(?is)\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*""".r
  private val ShowTables =
    """(?is)\s*SHOW\s+DLV\s+TABLES(?:\s+IN\s+([\w.]+))?\s*;?\s*""".r
  private val RestoreV =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$REF\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*""".r
  private val RestoreTs =
    s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$REF\\s+TO\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*""".r
  private val Convert =
    """(?is)\s*CONVERT\s+TO\s+DLV\s+'([^']+)'\s*(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?;?\s*""".r
  private val AlterAdd =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+ADD\\s+COLUMNS?\\s*\\((.*)\\)\\s*;?\\s*""".r
  private val AlterAddConstraint =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+ADD\\s+CONSTRAINT\\s+`?(\\w+)`?\\s+CHECK\\s*\\((.*)\\)\\s*;?\\s*""".r
  private val AlterDropConstraint =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+DROP\\s+CONSTRAINT\\s+(IF\\s+EXISTS\\s+)?`?(\\w+)`?\\s*;?\\s*""".r
  private val AlterDrop =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+DROP\\s+COLUMNS?\\s+`?(\\w+)`?\\s*;?\\s*""".r
  private val AlterRename =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+RENAME\\s+COLUMN\\s+`?(\\w+)`?\\s+TO\\s+`?(\\w+)`?\\s*;?\\s*""".r
  private val ShowProps =
    s"""(?is)\\s*SHOW\\s+TBLPROPERTIES\\s+$REF(?:\\s*\\(\\s*'?([\\w.-]+)'?\\s*\\))?\\s*;?\\s*""".r
  private val AlterSetProps =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+SET\\s+TBLPROPERTIES\\s*\\((.*)\\)\\s*;?\\s*""".r
  private val AlterUnsetProps =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$REF\\s+UNSET\\s+TBLPROPERTIES\\s*(IF\\s+EXISTS\\s+)?\\((.*)\\)\\s*;?\\s*""".r

  // key = value pairs, comma-separated; keys and values may be
  // quoted ('k' = 'v') or bare dotted identifiers — the reference's
  // exact form is UNQUOTED on both sides:
  // `SET TBLPROPERTIES (delta.enableChangeDataFeed = true)`
  // (validation_suite.py:302-303)
  private val PropPair =
    """(?:['"]([^'"]+)['"]|([\w.-]+))\s*=\s*(?:['"]([^'"]*)['"]|([\w.-]+))""".r
  private val PropKey = """['"]([^'"]+)['"]|([\w.-]+)""".r

  // NOTE: the lenient non-span-checked propMap/propKeys variants were
  // deleted — every property body must go through parsedProps/
  // parsedKeys so a malformed pair can never again be silently dropped
  // beside a parseable sibling.

  /** Parsed keys with the same span check as [[parsedProps]]: the
    * parsed keys must cover the whole body (only commas/whitespace
    * between them), so a malformed key is rejected loudly instead of
    * silently dropped while its siblings parse. */
  private def parsedKeys(body: String): Seq[String] = {
    val matches = PropKey.findAllMatchIn(body).toSeq
    val leftover = {
      val sb = new StringBuilder(body)
      matches.reverse.foreach(m => sb.delete(m.start, m.end))
      sb.toString
    }
    require(leftover.forall(c => c == ',' || c.isWhitespace),
      s"UNSET TBLPROPERTIES: unparsed content '${leftover.trim}' " +
        s"in ($body) — keys must be quoted strings or bare [\\w.-]+ " +
        "tokens")
    matches.map(m => Option(m.group(1)).getOrElse(m.group(2))).toSeq
  }

  /** The default retention the reference disables with
    * `retentionDurationCheck.enabled=false` + `RETAIN 0 HOURS`; we take
    * the explicit interval as authoritative (no separate safety conf —
    * the command form is already explicit). */
  val DEFAULT_RETAIN_HOURS = 168.0

  private def ref(path: String, name: String): String =
    Option(path).getOrElse(name)

  private def cols(s: String): Seq[String] =
    Option(s).toSeq.flatMap(_.split(",").toSeq)
      .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)

  /** Is `name` a registered dlv table in the ACTIVE session? Guarded:
    * outside a session (or before one exists) nothing is intercepted. */
  private def registered(name: String): Boolean =
    try {
      org.apache.spark.sql.SparkSession.getActiveSession
        .exists(s => DlvRegistry.lookup(s, name).isDefined)
    } catch { case scala.util.control.NonFatal(_) => false }

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case Vacuum(path, name, retain, dry) =>
      Some(VacuumTableCommand(ref(path, name),
        Option(retain).map(_.toDouble).getOrElse(DEFAULT_RETAIN_HOURS),
        dry != null))
    case Optimize(path, name, where, zorder) =>
      Some(OptimizeTableCommand(ref(path, name), cols(zorder),
        Option(where).map(_.trim).filter(_.nonEmpty)))
    case Reorg(path, name) =>
      Some(ReorgTableCommand(ref(path, name)))
    case Fsck(path, name, dry) =>
      Some(FsckRepairCommand(ref(path, name), dry != null))
    case History(path, name, limit) =>
      // a LIMIT past Int.MaxValue is semantically "no limit" — clamp
      // rather than surface a NumberFormatException from parsePlan
      Some(DescribeHistoryCommand(ref(path, name),
        Option(limit).map(s =>
          s.toLongOption.filter(_ <= Int.MaxValue).map(_.toInt)
            .getOrElse(Int.MaxValue))))
    case Detail(path, name) =>
      Some(DescribeDetailCommand(ref(path, name)))
    case RestoreV(path, name, v) =>
      Some(RestoreTableCommand(ref(path, name), Some(v.toLong), None))
    case RestoreTs(path, name, ts) =>
      Some(RestoreTableCommand(ref(path, name), None,
        Some(java.sql.Timestamp.valueOf(
          if (ts.length == 10) ts + " 00:00:00" else ts).getTime)))
    case Convert(path, partBy) =>
      Some(ConvertToDlvCommand(path, cols(partBy)))
    // before CreateDlv: its head also matches `CREATE TABLE <name>`,
    // and SHALLOW CLONE must not fall through to the USING-dlv error
    case CloneStmt(ifNot, dstPath, dstName, mode, srcPath, srcName,
        v, ts, loc) =>
      // bare CLONE (and explicit DEEP) = full byte copy, delta's
      // default; SHALLOW keeps the zero-copy reference clone
      Some(CloneTableCommand(
        Option(dstPath), Option(dstName), ref(srcPath, srcName),
        Option(v).map(_.toLong),
        Option(ts).map(t => java.sql.Timestamp.valueOf(
          if (t.length == 10) t + " 00:00:00" else t).getTime),
        Option(loc), ifNot != null,
        deep = mode == null || mode.trim.equalsIgnoreCase("deep")))
    // DESCRIBE [TABLE] [EXTENDED] only over a quoted path or OUR
    // registered names — Spark's DESCRIBE on catalog tables untouched
    case Describe(ext, path, name) if path != null || registered(name) =>
      Some(DescribeDlvTableCommand(ref(path, name), ext != null))
    case CreateDlv(ifNot, name, colDefs, tail) =>
      createTail(tail).map {
        case (partBy, location, props, None) =>
          // no LOCATION = managed default under the warehouse,
          // resolved at run time by the command
          CreateDlvTableCommand(name,
            Option(colDefs).map(_.trim).filter(_.nonEmpty),
            partBy, location, ifNot != null, props)
        case (partBy, location, props, Some(query)) =>
          // native CTAS: one atomic create+populate commit
          require(Option(colDefs).forall(_.trim.isEmpty),
            "CREATE TABLE .. USING dlv AS <query>: the schema comes " +
              "from the query — drop the column list")
          CreateDlvTableAsSelectCommand(name, partBy, location,
            ifNot != null, props, query)
      }
    // [CREATE OR] REPLACE TABLE .. USING dlv [AS <query>]: new state
    // at a fresh location, atomic registry flip (Spark's stock RTAS
    // refuses V1 providers under a session-catalog extension)
    case ReplaceDlv(orCreate, name, colDefs, tail) =>
      createTail(tail).map { case (partBy, location, props, query) =>
        ReplaceDlvTableCommand(name,
          Option(colDefs).map(_.trim).filter(_.nonEmpty),
          partBy, location, orCreate != null, props, query)
      }
    // DROP TABLE only when the name is OURS — anything else delegates
    // to Spark's catalog handling untouched
    case DropTable(ifExists, name) if registered(name) =>
      Some(DropDlvTableCommand(name, ifExists != null))
    case ShowTables(db) =>
      Some(ShowDlvTablesCommand(Option(db).map(_.trim).filter(_.nonEmpty)))
    // SHOW TBLPROPERTIES only over a quoted path or OUR registered
    // names — Spark's own statement on catalog tables stays untouched
    case ShowProps(path, name, key)
        if path != null || registered(name) =>
      Some(ShowTblPropertiesCommand(ref(path, name), Option(key)))
    // ALTER TABLE only over a quoted path or OUR registered names —
    // Spark's own ALTER TABLE on catalog tables stays untouched.
    // SET/UNSET TBLPROPERTIES before ADD/DROP COLUMNS: the column
    // patterns' `(.*)` would otherwise swallow a properties list.
    case AlterSetProps(path, name, pairs)
        if path != null || registered(name) =>
      // same span/coverage validation as CREATE's TBLPROPERTIES: a
      // malformed pair (unquoted value with '/': k = team/data) must
      // be rejected loudly, not silently dropped while its siblings
      // parse
      val props = parsedProps(pairs)
      require(props.nonEmpty,
        s"SET TBLPROPERTIES: no 'key' = 'value' pairs in ($pairs)")
      Some(AlterSetPropertiesCommand(ref(path, name), props))
    case AlterUnsetProps(path, name, ifExists, keys)
        if path != null || registered(name) =>
      val ks = parsedKeys(keys)
      require(ks.nonEmpty,
        s"UNSET TBLPROPERTIES: no quoted keys in ($keys)")
      Some(AlterUnsetPropertiesCommand(ref(path, name), ks,
        ifExists != null))
    case AlterAddConstraint(path, name, cname, check)
        if path != null || registered(name) =>
      Some(AddConstraintCommand(ref(path, name), cname, check.trim))
    case AlterDropConstraint(path, name, ifExists, cname)
        if path != null || registered(name) =>
      Some(DropConstraintCommand(ref(path, name), cname,
        ifExists != null))
    case AlterAdd(path, name, ddl) if path != null || registered(name) =>
      Some(AlterAddColumnsCommand(ref(path, name), ddl.trim))
    case AlterDrop(path, name, column)
        if path != null || registered(name) =>
      Some(AlterDropColumnCommand(ref(path, name), column))
    case AlterRename(path, name, from, to)
        if path != null || registered(name) =>
      Some(AlterRenameColumnCommand(ref(path, name), from, to))
    case _ => None
  }
}
