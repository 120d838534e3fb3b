package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, EqualTo, Expression, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.SnapshotTable
import graft.sources.connector.SnapshotV2Table

/** SQL `UPDATE` and `MERGE INTO` for snapshot-catalog tables.
  *
  * Spark only analyzes these statements for V2 tables implementing
  * `SupportsRowLevelOperations` (the Iceberg copy-on-write /
  * write-delta protocol, which forces the whole touched-file rewrite
  * through Spark's ReplaceData/WriteDelta plans). The snapshot table
  * already owns a cheaper physical strategy — deletion vectors, one
  * sidecar commit, zero data files rewritten — so instead of adopting
  * the heavyweight protocol this post-hoc resolution rule translates
  * the logical command onto the existing merge-on-read ops
  * ([[SnapshotTable.updateVectors]] / [[SnapshotTable.mergeClauses]]),
  * the same route Delta takes with its PreprocessTableUpdate /
  * PreprocessTableMerge analyzer rules. The rule fires after
  * resolution and before CheckAnalysis (which would otherwise reject
  * the commands as unsupported for this table).
  *
  * MERGE arrives UNRESOLVED by design: the table advertises
  * ACCEPT_ANY_SCHEMA (the capability that lets the write builder own
  * INSERT resolution — PLANS.md round-11 wave 3), and for such tables
  * Spark's ResolveReferences deliberately skips the whole statement
  * (`NamedRelation.skipSchemaResolution`), leaving the ON condition,
  * assignments, and `*` actions untouched. So this rule carries its
  * own small resolver: names bind via `LogicalPlan.resolve` against
  * the target/source subtrees (alias qualifiers intact), `SET *` /
  * `INSERT *` expand to by-name target←source assignments, and value
  * types may only differ from the column by a LOSSLESS upcast
  * (`Cast.canUpCast`) — anything lossy demands the explicit cast, the
  * same type-exactness the positional INSERT path pins.
  *
  * Scope is the DV-expressible subset, enforced LOUDLY at analysis
  * time (a silently narrowed DML is a wrong answer, not a missed
  * optimization — same contract as the connector's `canDeleteWhere`):
  *
  *  - `UPDATE t SET c = expr, … [WHERE p]` — any deterministic,
  *    subquery-free assignments/predicate over the table's columns.
  *  - `MERGE INTO t USING s ON t.k = <src expr>` with the FULL
  *    clause surface: multiple conditional WHEN MATCHED clauses
  *    (partial-row UPDATE or DELETE), multiple conditional WHEN NOT
  *    MATCHED INSERT clauses (unassigned columns insert NULL, Delta
  *    semantics), and WHEN NOT MATCHED BY SOURCE (UPDATE/DELETE over
  *    target columns only). `WITH SCHEMA EVOLUTION` (Delta's
  *    autoMerge shape) widens the table with the source columns the
  *    clauses actually assign — untouched rows read them null, the
  *    commit unions the schema. Every shape, the whole-row upsert
  *    (`UPDATE SET * … INSERT *`) included, lowers onto
  *    [[SnapshotTable.mergeClauses]] (one stats-pruned outer join →
  *    O(affected)-row effect frame → one dv commit), so two unmatched
  *    source rows sharing a key each insert, in every shape. Still
  *    outside the surface, loudly: non-equi ON conditions,
  *    subqueries, nondeterminism.
  *
  * Reference behavior this extends: the reference's loader only ever
  * truncate-and-loads (etl/loader.py); row-level SQL DML is part of
  * the engine-grade table surface built on top (SURVEY §2.1+).
  */
case class SnapshotRowLevelSql(session: SparkSession)
  extends Rule[LogicalPlan] {

  import SnapshotDml._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case u @ UpdateTable(table, assignments, condition) if u.resolved =>
        snapshotDir(table) match {
          case None => u
          case Some(dir) =>
            UpdateSnapshotCommand(dir, translateAssignments(assignments),
              condition.map(requireTranslatable(_, "UPDATE WHERE")))
        }
      case m: MergeIntoTable
          if m.targetTable.resolved && m.sourceTable.resolved =>
        snapshotDir(m.targetTable) match {
          case None => m
          case Some(dir) => translateMergeGeneral(dir, m)
        }
    }

  /** The table directory, when (and only when) the DML target is a
    * non-time-traveled snapshot-catalog table. */
  private def snapshotDir(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => snapshotDir(child)
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case t: SnapshotV2Table if t.pinned.isEmpty => Some(t.tableDir)
        case t: SnapshotV2Table =>
          throw new UnsupportedOperationException(
            s"cannot run DML against time-traveled table ${t.name()}")
        case _ => None
      }
    case _ => None
  }

  private def translateAssignments(
      assignments: Seq[Assignment]): Seq[(String, Expression)] =
    assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => throw new UnsupportedOperationException(
          s"only top-level columns can be assigned (got ${other.sql})")
      }
      name -> requireTranslatable(a.value, s"assignment to $name")
    }

  /** Bind the unresolved names in `e` against the given subtrees (the
    * statement's own alias qualifiers apply). Spark never resolved
    * them — ACCEPT_ANY_SCHEMA opts the statement out — so this is the
    * rule's own name resolution, not a re-resolution. */
  private def bind(e: Expression, plans: Seq[LogicalPlan],
                   where: String): Expression = {
    val resolver = session.sessionState.conf.resolver
    val bound = e.transformUp {
      case u: UnresolvedAttribute =>
        val hits: Seq[NamedExpression] =
          plans.flatMap(_.resolve(u.nameParts, resolver))
        hits match {
          case Seq(one) => one
          case Seq() => throw new UnsupportedOperationException(
            s"MERGE INTO snapshot table: cannot resolve ${u.sql} in $where")
          case _ => throw new UnsupportedOperationException(
            s"MERGE INTO snapshot table: ${u.sql} is ambiguous in $where " +
              "(qualify it with the target/source alias)")
        }
    }
    requireTranslatable(bound, where)
  }

  /** Every MERGE lowers onto [[SnapshotTable.mergeClauses]]'s
    * outer-join + effect-frame dv path. Names bind through [[bind]]
    * (ACCEPT_ANY_SCHEMA leaves the statement unresolved); bound
    * target references rewrite to their table column names and bound
    * source references to positional `__merge_src_<i>` aliases — the
    * joined frame the command builds at run time carries both
    * namespaces disjointly, so re-resolution is lossless. */
  private def translateMergeGeneral(dir: String,
                                    m: MergeIntoTable): LogicalPlan = {
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"MERGE INTO snapshot table: $what")
    val target = m.targetTable
    val source = m.sourceTable
    val both = Seq(target, source)
    val targetCols: Seq[Attribute] = {
      def out(p: LogicalPlan): Seq[Attribute] = p match {
        case SubqueryAlias(_, c) => out(c)
        case other => other.output
      }
      out(target)
    }
    val targetByName = targetCols.map(a => a.name -> a).toMap
    // WITH SCHEMA EVOLUTION (Delta's autoMerge shape): source columns
    // absent from the target become assignable — the ones the clauses
    // actually assign widen the table (collected bottom-up after the
    // clause walk; `*` actions assign all of them)
    val evolvable: Map[String, org.apache.spark.sql.catalyst.expressions.Attribute] =
      if (!m.withSchemaEvolution) Map.empty
      else source.output
        .filterNot(a => targetCols.exists(t =>
          session.sessionState.conf.resolver(t.name, a.name)))
        .map(a => a.name -> a).toMap
    val assignedNew = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    val srcNames: Seq[String] =
      source.output.indices.map(i => s"__merge_src_$i")
    val srcRename: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String] =
      source.output.map(_.exprId).zip(srcNames).toMap

    /** Bound expression → joined-frame Column: source attrs take
      * their positional alias, target attrs their table name. Stored
      * as a Column (not an Expression) so the command's held clauses
      * are opaque to CheckAnalysis — they re-resolve against the
      * JOINED frame at run time, which the analyzer never sees. */
    def toJoined(e: Expression): org.apache.spark.sql.Column =
      Bridge.column(e.transform {
        case a: AttributeReference =>
          srcRename.get(a.exprId) match {
            case Some(n) => UnresolvedAttribute.quoted(n)
            case None => UnresolvedAttribute.quoted(a.name)
          }
      })
    /** Lossless-upcast-only typing, the gate the positional INSERT
      * path pins too (the physical layer casts to the column type
      * regardless — this check is what makes a LOSSY implicit cast
      * loud). An evolution column's type IS the source's, recorded on
      * first assignment. */
    def typed(e: Expression, colName: String, what: String): Expression =
      targetByName.get(colName) match {
        case Some(c) =>
          if (e.dataType == c.dataType) e
          else if (Cast.canUpCast(e.dataType, c.dataType)) Cast(e, c.dataType)
          else unsupported(s"assigning ${e.dataType.simpleString} to " +
            s"${c.name}: ${c.dataType.simpleString} (write the cast explicitly)")
        case None if evolvable.contains(colName) =>
          assignedNew.getOrElseUpdate(colName, e.dataType)
          e
        case None => unsupported(s"$what assigns unknown column $colName")
      }
    import SnapshotTable.{MergeInsertClause, MergeRowAction, MergeWhenClause}
    val resolver = session.sessionState.conf.resolver
    def starAssignments(what: String): Seq[(String, org.apache.spark.sql.Column)] = {
      val named = targetCols.map { c =>
        val hit = source.output.filter(a => resolver(a.name, c.name))
        if (hit.length != 1)
          unsupported(s"$what * with no unambiguous source column " +
            s"named ${c.name}")
        c.name -> toJoined(typed(hit.head, c.name, what))
      }
      // under evolution, `*` also assigns every NEW source column
      named ++ evolvable.values.toSeq.map(a =>
        a.name -> toJoined(typed(a, a.name, what)))
    }
    def explicitAssignments(as: Seq[Assignment], scope: Seq[LogicalPlan],
                            what: String): Seq[(String, org.apache.spark.sql.Column)] =
      as.map { a =>
        val name = a.key match {
          // an evolution column doesn't resolve against the target —
          // accept its bare name before binding
          case u: UnresolvedAttribute
              if u.nameParts.length == 1 &&
                evolvable.contains(u.nameParts.head) &&
                target.resolve(u.nameParts,
                  session.sessionState.conf.resolver).isEmpty =>
            u.nameParts.head
          case k => bind(k, Seq(target), s"$what assignment key") match {
            case ar: AttributeReference => ar.name
            case other => unsupported(
              s"assignment to a non-column (${other.sql})")
          }
        }
        name -> toJoined(typed(
          bind(a.value, scope, s"$what assignment to $name"), name, what))
      }
    def cond(c: Option[Expression], scope: Seq[LogicalPlan],
             what: String): Option[org.apache.spark.sql.Column] =
      c.map(e => toJoined(bind(e, scope, what)))

    // WHEN MATCHED: conditions and update values see both sides
    val matched = m.matchedActions.map {
      case DeleteAction(c) =>
        MergeWhenClause(cond(c, both, "WHEN MATCHED DELETE condition"),
          MergeRowAction.Delete)
      case UpdateStarAction(c) =>
        MergeWhenClause(cond(c, both, "WHEN MATCHED condition"),
          MergeRowAction.Update(starAssignments("UPDATE SET")))
      case UpdateAction(c, as, _) =>
        MergeWhenClause(cond(c, both, "WHEN MATCHED condition"),
          MergeRowAction.Update(explicitAssignments(as, both, "UPDATE")))
      case other =>
        unsupported(s"matched action ${other.getClass.getSimpleName}")
    }
    // WHEN NOT MATCHED: no target row exists — conditions and values
    // bind against the SOURCE alone (a target reference fails loudly)
    val notMatched = m.notMatchedActions.map {
      case InsertStarAction(c) =>
        MergeInsertClause(cond(c, Seq(source), "WHEN NOT MATCHED condition"),
          starAssignments("INSERT"))
      case InsertAction(c, as) =>
        MergeInsertClause(cond(c, Seq(source), "WHEN NOT MATCHED condition"),
          explicitAssignments(as, Seq(source), "INSERT"))
      case other =>
        unsupported(s"not-matched action ${other.getClass.getSimpleName}")
    }
    // WHEN NOT MATCHED BY SOURCE: no source row — target columns only
    val bySource = m.notMatchedBySourceActions.map {
      case DeleteAction(c) =>
        MergeWhenClause(
          cond(c, Seq(target), "WHEN NOT MATCHED BY SOURCE DELETE condition"),
          MergeRowAction.Delete)
      case UpdateAction(c, as, _) =>
        MergeWhenClause(
          cond(c, Seq(target), "WHEN NOT MATCHED BY SOURCE condition"),
          MergeRowAction.Update(explicitAssignments(as, Seq(target),
            "NOT MATCHED BY SOURCE UPDATE")))
      case other =>
        unsupported(s"not-matched-by-source action " +
          other.getClass.getSimpleName)
    }
    val targetRefs = target.outputSet
    val sourceRefs = source.outputSet
    val (keyCol, srcKey) =
      bind(m.mergeCondition, both, "ON condition") match {
        case EqualTo(l: AttributeReference, r)
            if targetRefs.contains(l) && r.references.subsetOf(sourceRefs) =>
          (l.name, toJoined(r))
        case EqualTo(l, r: AttributeReference)
            if targetRefs.contains(r) && l.references.subsetOf(sourceRefs) =>
          (r.name, toJoined(l))
        case other =>
          unsupported(s"merge condition ${other.sql} (need target.key = " +
            "<source expression>)")
      }
    MergeClausesCommand(dir, source, srcNames, keyCol, srcKey,
      matched, notMatched, bySource,
      assignedNew.toSeq.map { case (n, dt) =>
        org.apache.spark.sql.types.StructField(n, dt)
      })
  }
}

private[plans] object SnapshotDml {
  /** Loud gate: DV translation evaluates expressions over a fresh scan,
    * so correlated/scalar subqueries and nondeterminism can't ride. */
  def requireTranslatable(e: Expression, where: String): Expression = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"$where: subqueries are not supported in snapshot-table DML")
    if (e.resolved && !e.deterministic)
      throw new UnsupportedOperationException(
        s"$where: nondeterministic expressions are not supported in " +
          "snapshot-table DML")
    e
  }

  /** Re-bind a resolved expression by NAME: the row-level ops evaluate
    * it against their own scan of the table, whose attribute ids are
    * fresh. Table columns are unique by construction, so name-based
    * re-resolution is lossless. */
  def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }
}

/** `UPDATE table SET … WHERE …` → [[SnapshotTable.updateVectors]]: the
  * matched rows' positions land in a deletion vector and their
  * transformed images in fresh files — one commit, no rewrite. */
case class UpdateSnapshotCommand(dir: String,
                                 assignments: Seq[(String, Expression)],
                                 condition: Option[Expression])
  extends LeafRunnableCommand {
  import SnapshotDml._

  override def run(spark: SparkSession): Seq[Row] = {
    val cond = condition
      .map(c => Bridge.column(unresolve(c)))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotTable.updateVectors(spark, dir, cond,
      assignments.map { case (n, e) =>
        n -> Bridge.column(unresolve(e))
      })
    Seq.empty
  }
}

/** General MERGE (conditional / partial / DELETE / BY SOURCE clauses)
  * → [[SnapshotTable.mergeClauses]]: one stats-pruned outer join of
  * target and source, an O(affected)-row effect frame, one dv commit.
  * Clause expressions are stored REWRITTEN to joined-frame names
  * (target columns by table name, source columns by `srcNames`'
  * positional aliases), held as Columns — opaque to CheckAnalysis —
  * and re-resolved against the join at run time, the same name-based
  * re-binding the UPDATE command uses. */
case class MergeClausesCommand(
    dir: String, source: LogicalPlan, srcNames: Seq[String],
    keyCol: String, srcKey: org.apache.spark.sql.Column,
    matched: Seq[SnapshotTable.MergeWhenClause],
    notMatched: Seq[SnapshotTable.MergeInsertClause],
    notMatchedBySource: Seq[SnapshotTable.MergeWhenClause],
    evolution: Seq[org.apache.spark.sql.types.StructField] = Nil)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = Bridge.ofRows(spark, source).toDF(srcNames: _*)
    SnapshotTable.mergeClauses(spark, dir, src, keyCol, srcKey,
      matched, notMatched, notMatchedBySource, extraColumns = evolution)
    Seq.empty
  }
}
