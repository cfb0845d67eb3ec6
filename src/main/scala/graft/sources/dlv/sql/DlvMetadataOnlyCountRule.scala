package graft.sources.dlv.sql

import graft.sources.dlv.{DlvStatsIndex, DvAliveExpr}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.json4s._

/** Answer bare `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)`
  * over a dlv scan
  * from log statistics — zero data files opened (delta's
  * OptimizeMetadataOnlyQuery shape). At 100 TB, `SELECT count(*),
  * max(event_ts) FROM t` is a log read, not a million-file scan.
  *
  * Deliberately strict — anything not PROVABLY answerable falls
  * through to the normal scan:
  *   - ungrouped, unfiltered, no DISTINCT, no FILTER clause;
  *   - every aggregate in the list is count(*) or min/max of a plain
  *     numeric / date / timestamp / boolean column (strings excluded:
  *     engines may truncate binary footer stats — a truncated max is
  *     NOT the max);
  *   - every live file carries numRecords, and for min/max the
  *     column's nullCount plus (when it holds non-null values) its
  *     min and max.
  */
case class DlvMetadataOnlyCountRule(spark: SparkSession)
  extends Rule[LogicalPlan] with PredicateHelper {

  private def dlvIndexOf(plan: LogicalPlan): Option[DlvStatsIndex] =
    plan match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case d: DlvStatsIndex => Some(d)
          case _ => None
        }
        case _ => None
      }
      // column-pruning Projects of plain attributes are value-neutral
      case Project(ps, child)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        dlvIndexOf(child)
      case _ => None
    }

  /** Stats-lexicon JValue → Catalyst internal value for the column
    * type (dates are epoch-day ints, timestamps micros longs — the
    * exact encoding ParquetStats wrote). */
  private def internal(j: JValue, dt: DataType): Option[Any] = (j, dt) match {
    case (JLong(v), LongType) => Some(v)
    case (JInt(v), LongType) => Some(v.toLong)
    case (JLong(v), IntegerType) => Some(v.toInt)
    case (JInt(v), IntegerType) => Some(v.toInt)
    case (JLong(v), ShortType) => Some(v.toShort)
    case (JInt(v), ShortType) => Some(v.toShort)
    case (JDouble(v), DoubleType) => Some(v)
    case (JDouble(v), FloatType) => Some(v.toFloat)
    case (JLong(v), DateType) => Some(v.toInt)
    case (JInt(v), DateType) => Some(v.toInt)
    case (JLong(v), TimestampType) => Some(v)
    case (JInt(v), TimestampType) => Some(v.toLong)
    case (JLong(v), TimestampNTZType) => Some(v)
    case (JInt(v), TimestampNTZType) => Some(v.toLong)
    case (JBool(v), BooleanType) => Some(v)
    case _ => None
  }

  private def answerable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | DoubleType | FloatType |
         DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** The metadata answer for one aggregate expression, or None. */
  private def valueOf(
      e: NamedExpression, idx: DlvStatsIndex): Option[Any] = e match {
    // non-null literal only: COUNT(NULL) — or anything constant-folded
    // to a null literal — counts zero rows, never the table total
    case Alias(
        AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _),
        _) if v != null =>
      idx.metadataRowCount.map(identity[Any])
    // COUNT(col) = rows minus the column's nulls, both in the log
    case Alias(
        AggregateExpression(
          Count(Seq(a: AttributeReference)), _, false, None, _),
        _) =>
      idx.metadataNonNullCount(a.name).map(identity[Any])
    case Alias(
        AggregateExpression(Min(a: AttributeReference), _, false, None, _),
        _) if answerable(a.dataType) =>
      idx.metadataMinMax(a.name).flatMap {
        case (Some(mn), _) => internal(mn, a.dataType)
        case (None, _) => Some(null) // provably all-null
      }
    case Alias(
        AggregateExpression(Max(a: AttributeReference), _, false, None, _),
        _) if answerable(a.dataType) =>
      idx.metadataMinMax(a.name).flatMap {
        case (_, Some(mx)) => internal(mx, a.dataType)
        case (_, None) => Some(null)
      }
    case _ => None
  }

  // ---- COUNT(*) through the split deletion-vector read plan --------

  /** Decompose a DV split read ([[graft.sources.dlv.DlvTable]]
    * `dfForSnapshot`/`dfForIndex`) into its branch stats indexes — for
    * COUNT(*) ONLY. The walk carries the subtree's alias definitions
    * upward and admits exactly the row-count-accountable nodes:
    *
    *   - ANY Project (projections never change row count — the split
    *     branches carry non-attribute `__dv_*` identity columns, so
    *     the min/max path's plain-attribute restriction is wrong
    *     here); its aliases extend the environment the conditions
    *     above it resolve through;
    *   - the per-file reader filter — every conjunct a [[DvAliveExpr]]
    *     (module-constructed only: the class is `private[dlv]`; it
    *     reads each file's sidecar dirs from the row's own
    *     `_metadata`, so it removes exactly that file's vector) or an
    *     IsNotNull that RESOLVES, through the alias environment, to a
    *     provably-non-null `_metadata` probe shape ([[metadataProbe]]
    *     — never a NAME test: a user column or user alias spelled
    *     `__dv_x` must not make a filtered count metadata-answered);
    *   - the broadcast ANTI-join against this branch's own sidecar
    *     scan — right side `_dlv_log/_dv` roots only AND a condition
    *     of exactly the module's shape (equalities pairing `_metadata`
    *     probes with the `dv_file`/`dv_row` sidecar columns): it
    *     removes exactly the rows the branch index's DV-aware
    *     `metadataRowCount` already subtracts;
    *   - Union of accountable branches.
    *
    * Anything else — a user filter pushed into a branch, a user-built
    * anti-join on some other condition, a non-dlv leaf — bails to the
    * scan. */
  private def countIndexes(plan: LogicalPlan)
      : Option[(Seq[DlvStatsIndex], Map[ExprId, Expression])] =
    plan match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case d: DlvStatsIndex => Some((Seq(d), Map.empty))
          case _ => None
        }
        case _ => None
      }
      case Project(ps, child) =>
        countIndexes(child).map { case (idxs, env) =>
          (idxs, env ++ ps.collect { case a: Alias => a.exprId -> a.child })
        }
      case u: Union =>
        val per = u.children.map(countIndexes)
        if (per.forall(_.isDefined)) {
          val resolved = per.flatten
          Some((resolved.flatMap(_._1),
            resolved.map(_._2).foldLeft(
              Map.empty[ExprId, Expression])(_ ++ _)))
        } else None
      case Filter(cond, child) =>
        countIndexes(child).filter { case (_, env) =>
          splitConjunctivePredicates(cond).forall {
            case _: DvAliveExpr => true
            case IsNotNull(e) => metadataProbe(resolveThrough(e, env))
            case _ => false
          }
        }
      case Join(left, right, LeftAnti, cond, _)
          if sidecarScanOnly(right) =>
        countIndexes(left).filter { case (_, env) =>
          antiJoinShapeOk(cond, env, right)
        }
      case _ => None
    }

  /** Substitute attribute references through the alias environment to
    * their defining expressions (alias graphs are DAGs; fuel guards a
    * pathological chain). */
  private def resolveThrough(
      e: Expression, env: Map[ExprId, Expression],
      fuel: Int = 32): Expression = e match {
    case a: AttributeReference if fuel > 0 && env.contains(a.exprId) =>
      resolveThrough(env(a.exprId), env, fuel - 1)
    case _ => e.mapChildren(resolveThrough(_, env, fuel))
  }

  /** Provably row-preserving-under-IsNotNull probe: built ONLY from
    * file-source `_metadata` struct fields — non-null at runtime for
    * every scanned row (dlv's own `dv_dirs` field too: "" for a
    * vector-free file) — via null-preserving extraction / literal-
    * bound substring. Exactly the shapes `DlvDv.filterDeletedBy`
    * generates (`__dv_fp` = substr of file_path, `__dv_ri` =
    * row_index); anything else — a user column, a user alias over a
    * nullable expression — is NOT admitted, whatever its name. */
  private def metadataProbe(e: Expression): Boolean = e match {
    case a: AttributeReference =>
      a.name == "_metadata" && a.metadata.contains("__metadata_col")
    case g: GetStructField => metadataProbe(g.child)
    case Substring(str, Literal(_, _), Literal(_, _)) =>
      metadataProbe(str)
    // the clone-aware vector key (DlvDv.relFileExpr): strip the root
    // prefix when present, pass the full URI through otherwise —
    // exactly ONE literal-prefix branch, every leg a probe (so the
    // value is non-null whenever the underlying `_metadata` field is)
    case CaseWhen(Seq((StartsWith(s, Literal(_, _)), v)), Some(el)) =>
      metadataProbe(s) && metadataProbe(v) && metadataProbe(el)
    case _ => false
  }

  /** The anti-join condition must be EXACTLY the module's dead-set
    * subtraction shape: two equalities, each pairing a `_metadata`
    * probe (left) with a plain `dv_file`/`dv_row` attribute of the
    * sidecar side, covering both columns — anything else (a user
    * anti-join against a sidecar read on some other condition) would
    * remove a different row set than the branch cardinality the index
    * subtracts. */
  private def antiJoinShapeOk(
      cond: Option[Expression], env: Map[ExprId, Expression],
      right: LogicalPlan): Boolean =
    cond.exists { c =>
      val conj = splitConjunctivePredicates(c)
      val pairs = conj.map {
        case EqualTo(x, y) =>
          if (y.references.subsetOf(right.outputSet) &&
              x.references.intersect(right.outputSet).isEmpty)
            Some((x, y))
          else if (x.references.subsetOf(right.outputSet) &&
              y.references.intersect(right.outputSet).isEmpty)
            Some((y, x))
          else None
        case _ => None
      }
      conj.size == 2 && pairs.forall(_.isDefined) && {
        val ps = pairs.flatten
        ps.forall { case (probe, deadKey) =>
          deadKey.isInstanceOf[AttributeReference] &&
            metadataProbe(resolveThrough(probe, env))
        } && ps.map(_._2).collect {
          case a: AttributeReference => a.name
        }.toSet == Set(graft.sources.dlv.DlvDv.FILE_COL,
          graft.sources.dlv.DlvDv.ROW_COL)
      }
    }

  /** True when `p` is (projections/filters over) scans of deletion-
    * vector sidecar parquet only — the anti-join's dead side. */
  private def sidecarScanOnly(p: LogicalPlan): Boolean = {
    val leaves = p.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          val roots = h.location.rootPaths
          roots.nonEmpty &&
            roots.forall(_.toString.contains("/_dlv_log/_dv/"))
        case _ => false
      }
      case _ => false
    }
  }

  private def isCountStar(e: NamedExpression): Boolean = e match {
    case Alias(
        AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _),
        _) => v != null
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case agg @ Aggregate(Nil, exprs, child, _) if exprs.nonEmpty =>
        dlvIndexOf(child) match {
          case Some(idx) =>
            val values = exprs.map(valueOf(_, idx))
            if (values.forall(_.isDefined))
              LocalRelation(
                agg.output, Seq(InternalRow.fromSeq(values.map(_.get))))
            else agg
          case None =>
            // the split DV read: COUNT(*) = Σ branch counts, each
            // branch's index subtracting its own vector cardinality
            countIndexes(child) match {
              case Some((idxs, _)) if exprs.forall(isCountStar) =>
                val counts = idxs.map(_.metadataRowCount)
                if (counts.forall(_.isDefined)) {
                  val total = counts.flatten.sum
                  LocalRelation(agg.output,
                    Seq(InternalRow.fromSeq(exprs.map(_ => total))))
                } else agg
              case _ => agg
            }
        }
    }
}
