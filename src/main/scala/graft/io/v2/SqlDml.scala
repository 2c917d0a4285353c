package graft.io.v2

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  Expression, ExprId, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.{expressions => cexpr}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.{sources => sf}

import graft.io.Snapshot

/** SQL row-level DML for lake tables — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` through the catalog, Delta's own architecture: a
  * post-analysis rule ([[GraftDmlRule]], injected by
  * [[graft.plans.GraftExtensions]]) rewrites the resolved logical
  * commands into runnable commands over the Lake's merge-on-read
  * machinery (`deleteWhere` / `updateWhere` / `merge` —
  * Snapshot.scala), exactly as DeltaAnalysis rewrites them into
  * DeleteCommand/UpdateCommand/MergeIntoCommand.
  *
  * Why not Spark's `SupportsRowLevelOperations`: its group-based path
  * is copy-on-write (the connector must rewrite whole files through a
  * V2 batch write), and its delta-based path needs stable row ids the
  * lake doesn't carry — position-based deletion vectors express the
  * merge-on-read semantics directly, nothing rewrites. Plain
  * filter-shaped DELETE additionally works WITHOUT the extensions
  * through [[GraftSqlTable]]'s `SupportsDelete` (both doors call the
  * same `Lake.deleteWhere`).
  *
  * Expression transport: conditions/assignments arrive RESOLVED
  * against the relation's attributes; the rule rewrites each
  * `AttributeReference` to an unresolved name — target columns plain,
  * source columns `__src_<name>` ([[Snapshot.MergeClause]]'s
  * convention) — and re-wraps as a `Column`, which re-resolves by
  * name against the MOR scan frame inside the Lake. Subqueries in DML
  * conditions refuse loudly (rewrite as MERGE with a source table). */
object GraftDml {

  /** Conjuncts of a catalyst predicate. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The PRUNABLE V1 filters hiding in a resolved DML condition —
    * attr-vs-literal comparisons and null tests (the shapes the
    * manifest tiers reason about). Conservative: anything else
    * contributes no filter, never a wrong one. */
  def pruneFiltersOf(e: Expression,
      tgt: Map[ExprId, String]): Seq[sf.Filter] = {
    def name(x: Expression): Option[String] = x match {
      case a: AttributeReference => tgt.get(a.exprId)
      case _ => None
    }
    def value(x: Expression): Option[Any] = x match {
      case Literal(v, dt) =>
        Option(CatalystTypeConverters.convertToScala(v, dt))
      case _ => None
    }
    conjuncts(e).flatMap {
      case cexpr.EqualTo(l, r) =>
        (for { n <- name(l); v <- value(r) } yield sf.EqualTo(n, v))
          .orElse(for { n <- name(r); v <- value(l) }
            yield sf.EqualTo(n, v))
      case cexpr.GreaterThan(l, r) =>
        (for { n <- name(l); v <- value(r) } yield sf.GreaterThan(n, v))
          .orElse(for { n <- name(r); v <- value(l) }
            yield sf.LessThan(n, v))
      case cexpr.GreaterThanOrEqual(l, r) =>
        (for { n <- name(l); v <- value(r) }
          yield sf.GreaterThanOrEqual(n, v))
          .orElse(for { n <- name(r); v <- value(l) }
            yield sf.LessThanOrEqual(n, v))
      case cexpr.LessThan(l, r) =>
        (for { n <- name(l); v <- value(r) } yield sf.LessThan(n, v))
          .orElse(for { n <- name(r); v <- value(l) }
            yield sf.GreaterThan(n, v))
      case cexpr.LessThanOrEqual(l, r) =>
        (for { n <- name(l); v <- value(r) }
          yield sf.LessThanOrEqual(n, v))
          .orElse(for { n <- name(r); v <- value(l) }
            yield sf.GreaterThanOrEqual(n, v))
      case cexpr.IsNull(a) => name(a).map(sf.IsNull).toSeq
      case cexpr.IsNotNull(a) => name(a).map(sf.IsNotNull).toSeq
      case _ => Nil
    }
  }

  /** Rewrite a resolved expression's attribute references to
    * by-name unresolved ones (target plain, source `__src_`-prefixed)
    * and wrap as a Column for re-resolution inside the Lake. */
  def toColumn(e: Expression, tgt: Map[ExprId, String],
      src: Map[ExprId, String], what: String): Column = {
    e.foreach {
      case _: SubqueryExpression => throw new UnsupportedOperationException(
        s"graft $what: subqueries in DML conditions are not supported " +
          "— rewrite as MERGE INTO with a source table")
      case _ => ()
    }
    ColumnBridge.column(e.transform {
      case a: AttributeReference =>
        src.get(a.exprId)
          .map(n => UnresolvedAttribute(Seq(s"__src_$n")): Expression)
          .orElse(tgt.get(a.exprId)
            .map(n => UnresolvedAttribute(Seq(n)): Expression))
          .getOrElse(throw new UnsupportedOperationException(
            s"graft $what: reference '${a.name}' resolves to neither " +
              "the target table nor the source — metadata columns are " +
              "not supported in DML expressions"))
    })
  }

  /** Assignment list → (column, value) pairs, dropping the trivial
    * self-assignments alignment adds (`c = c` — including the ones it
    * generates for identity columns, which must NOT reach the Lake's
    * identity-SET refusal). Nested-field keys refuse (the lake schema
    * tier is top-level). */
  def setPairs(assignments: Seq[Assignment], tgt: Map[ExprId, String],
      src: Map[ExprId, String], what: String): Seq[(String, Column)] =
    assignments.flatMap { a =>
      val key = a.key match {
        case k: AttributeReference => k
        case other => throw new UnsupportedOperationException(
          s"graft $what: only top-level column assignments are " +
            s"supported, not ${other.sql} — the lake schema tier is " +
            "top-level (nested updates: rewrite the whole column)")
      }
      val name = tgt.getOrElse(key.exprId, throw new
          UnsupportedOperationException(
        s"graft $what: assignment target '${key.name}' is not a " +
          "column of the target table"))
      a.value match {
        case v: AttributeReference if v.exprId == key.exprId =>
          None // alignment's no-op self-assignment
        case v => Some(name -> toColumn(v, tgt, src, what))
      }
    }
}

/** `DELETE FROM <graft table> WHERE cond` — runs
  * [[Snapshot.Lake.deleteWhere]]: matching rows DV-mask, nothing
  * rewrites; the condition's prunable conjuncts ride along as V1
  * filters and the Lake resolves candidate files against its own
  * snapshot (one fold — no window for a concurrent append to slip a
  * matching file between probe and scan). */
case class GraftDeleteCommand(ident: String, root: String, cond: Column,
    prune: Seq[sf.Filter]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshot.Lake(spark, root).deleteWhere(cond, prune)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand $ident"
}

/** `UPDATE <graft table> SET ... WHERE cond` —
  * [[Snapshot.Lake.updateWhere]]: matched rows DV-mask, updated
  * copies append, one commit; prunable conjuncts resolved Lake-side
  * like [[GraftDeleteCommand]]. */
case class GraftUpdateCommand(ident: String, root: String, cond: Column,
    set: Seq[(String, Column)], prune: Seq[sf.Filter])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshot.Lake(spark, root).updateWhere(cond, set, prune)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand $ident"
}

/** A DML statement whose aligned assignments reduced to pure
  * self-assignments (`UPDATE t SET k = k`): no value can change, so
  * nothing scans, masks or rewrites — only the audit-trail no-op
  * version publishes ([[Snapshot.Lake.noopVersion]], the same record
  * the predicate ops leave on zero matches). */
case class GraftNoopDmlCommand(ident: String, root: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshot.Lake(spark, root).noopVersion()
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftNoopDmlCommand $ident"
}

/** `MERGE INTO <graft table> USING src ON cond WHEN ...` —
  * [[Snapshot.Lake.merge]] with the full clause algebra. */
case class GraftMergeCommand(ident: String, root: String,
    source: DataFrame, on: Column,
    matched: Seq[Snapshot.MergeClause],
    notMatched: Seq[Snapshot.MergeClause]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshot.Lake(spark, root).merge(source, on, matched, notMatched)
    Seq.empty
  }
  override def simpleString(maxFields: Int): String =
    s"GraftMergeCommand $ident"
}

/** The post-analysis rewrite (see [[GraftDml]]). Matches only fully
  * resolved commands over graft catalog tables; everything else passes
  * through untouched. */
object GraftDmlRule extends Rule[LogicalPlan] {

  /** The graft table under SubqueryAlias wrappers, if any. */
  private def graftTarget(plan: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftSqlTable)] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable => Some((r, t))
      case _ => None
    }
    case SubqueryAlias(_, child) => graftTarget(child)
    case _ => None
  }

  private def attrMap(output: Seq[cexpr.Attribute]): Map[ExprId, String] =
    output.map(a => a.exprId -> a.name).toMap

  private def requireHead(t: GraftSqlTable, what: String): Unit =
    require(t.pinnedVersion < 0,
      s"cannot $what a time-travel (VERSION/TIMESTAMP AS OF) relation " +
        s"of ${t.name()}")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case d @ DeleteFromTable(target, cond) if d.resolved =>
      graftTarget(target) match {
        case Some((r, t)) =>
          requireHead(t, "DELETE FROM")
          val tgt = attrMap(r.output)
          GraftDeleteCommand(t.name(), t.tableRoot,
            GraftDml.toColumn(cond, tgt, Map.empty, "DELETE"),
            GraftDml.pruneFiltersOf(cond, tgt))
        case None => d
      }

    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      graftTarget(target) match {
        case Some((r, t)) =>
          requireHead(t, "UPDATE")
          val tgt = attrMap(r.output)
          val set = GraftDml.setPairs(assignments, tgt, Map.empty,
            "UPDATE")
          val condExpr = cond.getOrElse(Literal.TrueLiteral)
          if (set.isEmpty) {
            // alignment left only self-assignments — no value can
            // change, so publish only the audit-trail no-op version
            // (never scan/mask/rewrite the matched rows). The WHERE
            // clause still VALIDATES like every other DML path (the
            // discarded toColumn refuses subqueries/metadata columns
            // — a statement the engine documents as unsupported must
            // not start succeeding just because its SET is a no-op).
            GraftDml.toColumn(condExpr, tgt, Map.empty, "UPDATE")
            GraftNoopDmlCommand(t.name(), t.tableRoot)
          } else GraftUpdateCommand(t.name(), t.tableRoot,
            GraftDml.toColumn(condExpr, tgt, Map.empty, "UPDATE"), set,
            GraftDml.pruneFiltersOf(condExpr, tgt))
        case None => u
      }

    case m: MergeIntoTable if m.resolved =>
      graftTarget(m.targetTable) match {
        case Some((r, t)) =>
          requireHead(t, "MERGE INTO")
          require(m.notMatchedBySourceActions.isEmpty,
            s"MERGE INTO ${t.name()}: WHEN NOT MATCHED BY SOURCE is " +
              "not supported — it would scan every target row; use " +
              "DELETE FROM / UPDATE with an anti-join instead")
          require(!m.schemaEvolutionEnabled,
            s"MERGE INTO ${t.name()}: WITH SCHEMA EVOLUTION is not " +
              "supported — ALTER TABLE ... ADD COLUMNS first")
          val tgt = attrMap(r.output)
          val srcOut = m.sourceTable.output
          require(srcOut.map(_.name).distinct.size == srcOut.size,
            s"MERGE INTO ${t.name()}: source columns must have " +
              "distinct names — alias the source projection")
          val src = attrMap(srcOut)
          def clause(act: MergeAction, kind: String): Snapshot.MergeClause =
            act match {
              case DeleteAction(c) => Snapshot.MergeClause(
                c.map(GraftDml.toColumn(_, tgt, src, "MERGE")), None)
              case UpdateAction(c, assigns, _) => Snapshot.MergeClause(
                c.map(GraftDml.toColumn(_, tgt, src, "MERGE")),
                Some(GraftDml.setPairs(assigns, tgt, src, "MERGE")))
              case InsertAction(c, assigns) => Snapshot.MergeClause(
                c.map(GraftDml.toColumn(_, tgt, src, "MERGE")),
                Some(assigns.map { a =>
                  val key = a.key match {
                    case k: AttributeReference => tgt.getOrElse(k.exprId,
                      throw new UnsupportedOperationException(
                        s"MERGE INTO ${t.name()}: INSERT target " +
                          s"'${k.name}' is not a table column"))
                    case other => throw new UnsupportedOperationException(
                      s"MERGE INTO ${t.name()}: INSERT into nested " +
                        s"field ${other.sql} is not supported")
                  }
                  key -> GraftDml.toColumn(a.value, tgt, src, "MERGE")
                }))
              case other => throw new UnsupportedOperationException(
                s"MERGE INTO ${t.name()}: unexpected unresolved " +
                  s"$kind clause ${other.getClass.getSimpleName}")
            }
          // A matched UPDATE whose alignment reduced to pure
          // self-assignments is a keep-as-is clause: it must still WIN
          // for its rows (first-match semantics) without masking them.
          // Model it as an update setting nothing changed — the Lake
          // masks + re-appends identical rows; semantically exact.
          val matched = m.matchedActions.map(clause(_, "matched"))
          val notMatched = m.notMatchedActions.map(clause(_, "not-matched"))
          GraftMergeCommand(t.name(), t.tableRoot,
            PlanBridge.ofRows(SparkSession.active, m.sourceTable),
            GraftDml.toColumn(m.mergeCondition, tgt, src, "MERGE"),
            matched, notMatched)
        case None => m
      }
  }
}
