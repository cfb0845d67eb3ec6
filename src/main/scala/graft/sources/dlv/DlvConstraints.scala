package graft.sources.dlv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** CHECK constraints and NOT NULL enforcement — delta's writer
  * invariants (reference context: delta-spark enforces
  * `delta.constraints.*` table properties and schema nullability on
  * every write; validation_suite.py exercises the write surface those
  * invariants guard).
  *
  * Representation: one table property per constraint,
  * `dlv.constraints.<name> = <boolean SQL>` (the `delta.` spelling is
  * honored on read, like the CDF/DV keys). NOT NULL rides the schema
  * itself (`id BIGINT NOT NULL` in the DDL — `StructType` keeps the
  * flag through the log round-trip).
  *
  * Enforcement: [[enforced]] wraps the DataFrame every data-changing
  * write stages ([[DlvTable.stageFiles]] with `dataChange = true` —
  * the single choke point appends, overwrites, DML rewrites, DV
  * updated-copies, MERGE outputs and the streaming sink all funnel
  * through), piggybacking a row-level `assert_true` filter on the
  * write's own scan: NO extra pass over the data, a violating row
  * fails the job before anything is committed (the failed job deletes
  * what its tasks wrote). OPTIMIZE /
  * Z-ORDER (`dataChange = false`) re-arrange rows that already passed
  * — they skip the check, like delta.
  *
  * Semantics: SQL-standard CHECK — a NULL predicate result SATISFIES
  * the constraint (only a provable `false` violates); NOT NULL is
  * strict. ADD CONSTRAINT validates the EXISTING rows with one scan
  * before committing the property (through deletion vectors, so
  * soft-deleted rows can't fail it); adding a constraint bumps
  * `minWriterVersion` to [[DlvLog.CONSTRAINTS_WRITER_VERSION]] so a
  * writer that would not enforce it refuses the table instead of
  * silently breaking the invariant.
  */
object DlvConstraints {

  val PREFIX = "dlv.constraints."
  val PREFIX_DELTA = "delta.constraints."

  /** name → boolean SQL text, both spellings, deterministic order. */
  def of(meta: Metadata): Seq[(String, String)] =
    meta.properties.iterator.collect {
      case (k, v) if k.startsWith(PREFIX) =>
        k.substring(PREFIX.length) -> v
      case (k, v) if k.startsWith(PREFIX_DELTA) =>
        k.substring(PREFIX_DELTA.length) -> v
    }.toSeq.distinct.sortBy(_._1)

  def isConstraintKey(k: String): Boolean =
    k.startsWith(PREFIX) || k.startsWith(PREFIX_DELTA)

  /** The pass-predicate of one CHECK: NULL satisfies (SQL standard),
    * only false violates. */
  private def passes(sql: String): Column =
    coalesce(expr(sql).cast(BooleanType), lit(true))

  /** `df` with every CHECK constraint and NOT NULL column enforced
    * row-level, single-pass: a violating row raises with the
    * constraint's name and expression, a clean frame streams through
    * unchanged. No-op (the same `df`) when the table has neither. */
  def enforced(df: DataFrame, meta: Metadata): DataFrame = {
    val checks = of(meta).map { case (name, sql) =>
      (s"CHECK constraint $name ($sql) violated", passes(sql))
    }
    val notNulls = meta.schema.fields.toSeq.filterNot(_.nullable).map(f =>
      (s"NOT NULL constraint violated for column ${f.name}",
        col(f.name).isNotNull))
    val all = checks ++ notNulls
    if (all.isEmpty) df
    else all.foldLeft(df) { case (d, (msg, pass)) =>
      // assert_true(c) is null when c holds and raises otherwise, so
      // this filter keeps every passing row and fails the write job on
      // the first violation — codegen'd, inside the write's own scan
      d.filter(assert_true(pass, lit(msg)).isNull)
    }
  }

  /** Validate + commit `ADD CONSTRAINT name CHECK (sql)`: the name
    * must be fresh, the expression must resolve against the schema,
    * and every EXISTING live row must satisfy it (one scan through
    * the ROUTED state — version-pinned, vectors applied, and past the
    * distributed threshold the 10^7-file table never materializes on
    * the driver). Bumps the writer gate in the same commit. */
  def add(
      spark: SparkSession, path: String, name: String,
      sql: String): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "ADD CONSTRAINT",
      Map("name" -> name, "expr" -> sql))
    val st = DlvDml.dmlState(spark, l, tx)
    val meta = st.metadata
    require(of(meta).forall(_._1 != name),
      s"constraint $name already exists on $path " +
        s"(${of(meta).toMap.getOrElse(name, "")})")
    // resolution + existing-data validation in one pass; a predicate
    // over columns the schema lacks fails HERE, at add time
    val violations = st.df.filter(!passes(sql)).count()
    require(violations == 0L,
      s"cannot ADD CONSTRAINT $name CHECK ($sql): $violations existing " +
        s"row(s) violate it")
    // any concurrent write could introduce a violating row the scan
    // above never saw — conflict with everything, like a metadata edit
    tx.setReadWholeTable()
    val newMeta = meta.copy(properties =
      meta.properties + (PREFIX + name -> sql))
    val gate: Seq[Action] =
      if (st.protocol.minWriterVersion >=
          DlvLog.CONSTRAINTS_WRITER_VERSION) Nil
      else Seq(Protocol(
        st.protocol.minReaderVersion,
        DlvLog.CONSTRAINTS_WRITER_VERSION))
    tx.commit(gate :+ newMeta, isBlindAppend = false)
  }

  /** `DROP CONSTRAINT name` — removes the property (either spelling);
    * absent + !ifExists is loud. The writer gate stays where it is
    * (version downgrades are never safe against concurrent readers of
    * the protocol). */
  def drop(
      spark: SparkSession, path: String, name: String,
      ifExists: Boolean): Long = {
    val l = DlvTable.log(path)
    val tx = new OptimisticTransaction(l, "DROP CONSTRAINT",
      Map("name" -> name))
    val meta = DlvTable.lightMetadata(spark, l, tx)
    val keys = Seq(PREFIX + name, PREFIX_DELTA + name)
      .filter(meta.properties.contains)
    if (keys.isEmpty) {
      require(ifExists,
        s"constraint $name does not exist on $path " +
          "(use IF EXISTS to make this a no-op)")
      return tx.commit(Nil, isBlindAppend = false)
    }
    val newMeta = meta.copy(properties = meta.properties -- keys)
    tx.commit(Seq(newMeta), isBlindAppend = false)
  }

  /** Column names a constraint's expression references (unresolved,
    * case-insensitive top names) — DROP COLUMN refuses while a
    * constraint still reads the column. */
  def referencedColumns(spark: SparkSession, sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.distinct
}

/** GENERATED columns — delta's `GENERATED ALWAYS AS (expr)`: a column
  * whose value is a function of the row's other columns.
  *
  * Representation: `dlv.generated.<col> = <expr SQL>` table
  * properties, declared at CREATE (either directly in the Scala API's
  * property map or via `GENERATED ALWAYS AS (..)` in the SQL column
  * list, which [[extractFromDdl]] strips before the DDL parser sees
  * it). Declarations are validated at create: the column must exist,
  * the expression must resolve against the schema, and it may not
  * read another generated column.
  *
  * Write semantics (enforced in [[DlvTable.stageFiles]], before the
  * CHECK constraints):
  *   - column ABSENT from the incoming frame → computed (the common
  *     ingest shape: writers supply the natural columns, the table
  *     derives the partition-friendly ones);
  *   - column PRESENT → row-level VALIDATED against the expression
  *     (delta rejects explicit inconsistent values the same way);
  *   - UPDATE recomputes generated columns the SET didn't touch from
  *     the post-update row (both the rewrite and the deletion-vector
  *     route), so `UPDATE t SET ts = ..` keeps `day(ts)` consistent
  *     without the caller spelling it; MERGE clauses must keep them
  *     consistent explicitly (the validation catches drift loudly).
  *
  * A generated column may be a PARTITION column — the classic layout
  * lever (`day GENERATED ALWAYS AS (to_date(ts))` partitioned by
  * `day`): ingest never computes it, the table does. */
object DlvGenerated {

  val PREFIX = "dlv.generated."

  def isKey(k: String): Boolean = k.startsWith(PREFIX)

  /** column → expression SQL, deterministic order. */
  def of(meta: Metadata): Seq[(String, String)] =
    ofProps(meta.properties)

  def ofProps(props: Map[String, String]): Seq[(String, String)] =
    props.iterator.collect {
      case (k, v) if k.startsWith(PREFIX) =>
        k.substring(PREFIX.length) -> v
    }.toSeq.sortBy(_._1)

  /** Fill absent generated columns, validate present ones — row-level,
    * single-pass, ahead of the CHECK constraints in the same write
    * scan. */
  def applied(df: DataFrame, meta: Metadata): DataFrame = {
    val gens = of(meta)
    if (gens.isEmpty) return df
    val have = df.columns.map(_.toLowerCase).toSet
    gens.foldLeft(df) { case (d, (name, sql)) =>
      val target = meta.schema.fields
        .find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"generated column $name is not in the table schema"))
        .dataType
      if (!have.contains(name.toLowerCase))
        d.withColumn(name, expr(sql).cast(target))
      else
        d.filter(assert_true(
          col(name) <=> expr(sql).cast(target),
          lit(s"generated column $name violates its expression " +
            s"($sql)")).isNull)
    }
  }

  /** The post-update recompute map for generated columns a SET left
    * untouched — applied to the POST-update row. */
  def recomputeAfterSet(
      meta: Metadata, set: Map[String, Column]): Seq[(String, Column)] = {
    val setLower = set.keys.map(_.toLowerCase).toSet
    of(meta).collect {
      case (name, sql) if !setLower.contains(name.toLowerCase) =>
        name -> expr(sql).cast(meta.schema.fields
          .find(_.name.equalsIgnoreCase(name)).get.dataType)
    }
  }

  /** `GENERATED ALWAYS AS (expr)` clauses out of a CREATE column
    * list: returns the DDL with the clauses stripped (parseable by
    * `StructType.fromDDL`) plus the column → expression map.
    * Top-level-comma split, paren- and quote-aware. */
  /** Top-level-comma split of a DDL column list — paren- and
    * quote-aware (shared with [[DlvIdentity]]'s clause extraction). */
  private[dlv] def splitTopLevel(ddl: String): Seq[String] = {
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    ddl.foreach { c =>
      if (quote != 0) { if (c == quote) quote = 0; cur += c }
      else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => pieces += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) pieces += cur.toString
    pieces.toSeq
  }

  def extractFromDdl(ddl: String): (String, Map[String, String]) = {
    val pieces = splitTopLevel(ddl)
    val Gen =
      """(?is)(.*?)\s+GENERATED\s+ALWAYS\s+AS\s*\((.*)\)\s*(.*)""".r
    var gens = Map.empty[String, String]
    val clean = pieces.map { piece =>
      piece match {
        case Gen(head, exprSql, tail) =>
          val name = head.trim.split("\\s+").head
            .stripPrefix("`").stripSuffix("`")
          gens += name -> exprSql.trim
          s"${head.trim} ${tail.trim}".trim
        case _ => piece.trim
      }
    }.mkString(", ")
    (clean, gens)
  }

  /** Declaration validation at CREATE: every generated column exists
    * in the schema, its expression resolves against the schema, and
    * it reads only NON-generated columns. */
  def validateDecl(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      props: Map[String, String]): Unit = {
    val gens = ofProps(props)
    if (gens.isEmpty) return
    val genNames = gens.map(_._1.toLowerCase).toSet
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    gens.foreach { case (name, sql) =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"generated column $name is not in the table schema")
      val refs = DlvConstraints.referencedColumns(spark, sql)
      val genRefs = refs.filter(r => genNames.contains(r.toLowerCase))
      require(genRefs.isEmpty,
        s"generated column $name may not read generated column(s) " +
          s"${genRefs.mkString(", ")}")
      // resolution against the schema — unresolvable fails HERE
      empty.select(expr(sql))
      ()
    }
  }
}
