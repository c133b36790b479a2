package graft.catalog

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, Literal, NamedExpression, Not, PlanExpression, And => CAnd}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, Project, SubqueryAlias, Union, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{expr, lit}

/** SQL `MERGE INTO` and `UPDATE` over warehouse tables — the Delta approach
  * (an analyzer extension claiming the `MergeIntoTable` plan), NOT
  * `SupportsRowLevelOperations`: the engine already HAS the file-pruned
  * incremental upsert ([[graft.sinks.MergeTable]] — key-range manifest
  * pruning, schema evolution, CAS retry, the reference's J1
  * semantics), so the SQL surface routes into it instead of teaching
  * Spark's group-based rewrite machinery a second implementation.
  * Registered through `graft.plans.GraftOptimizations`
  * (`spark.sql.extensions`), so plain `spark.sql("MERGE INTO …")`
  * works on any `graft.<cat>.<schema>.<table>` identifier:
  *
  * {{{
  * MERGE INTO graft.silver.facts.orders t
  * USING updates s
  * ON t.o_orderkey = s.o_orderkey
  * WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * SUPPORTED SHAPE (the reference's entire merge surface,
  * /root/reference/lib/ingestors.py:113-126): an equi-join ON clause
  * over same-named key columns, one unconditional
  * `WHEN MATCHED THEN UPDATE SET *` (explicit all-column identity
  * assignments accepted too), one unconditional
  * `WHEN NOT MATCHED THEN INSERT *`, no NOT-MATCHED-BY-SOURCE
  * clauses. Anything else falls through UNTOUCHED to Spark's own
  * row-level machinery, which fails loudly for this table — a merge
  * this rule cannot faithfully route must never be silently
  * approximated.
  */
object SqlMerge {

  def rule(session: SparkSession): Rule[LogicalPlan] = new Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case m: MergeIntoTable if m.childrenResolved =>
        translate(m).getOrElse(plan)
      case u: UpdateTable if u.resolved =>
        translateUpdate(u).orElse(translateSubqueryUpdate(u)).getOrElse(plan)
      case d: DeleteFromTable if d.childrenResolved && d.condition.resolved =>
        translateDelete(d).getOrElse(plan)
      case _ => plan
    }
  }

  /** SQL `UPDATE t SET … WHERE … (subquery …)` — the shape
    * [[translateUpdate]] declines (a plan cannot re-render to SQL
    * text): translated like the subquery DELETE into a
    * snapshot-consistent OVERWRITE whose plan carries the subqueries
    * under Filter/Project (the operator classes CheckAnalysis allows
    * them in): unmatched rows pass through, matched rows re-project
    * with the SET applied. CORRELATED subqueries translate too
    * (round 19): `WHERE EXISTS (… s.k = t.k)` and the IN-correlated
    * form live under the same Filter/Project operators, where Spark's
    * existential-join rewrite plans them as semi/anti/existence joins
    * — the MERGE the old refusal message told the user to write by
    * hand, derived mechanically. O(table) rewrite — the price of an
    * arbitrary subquery predicate (plain-filter updates keep the
    * file-pruned updateWhere path).
    */
  private def translateSubqueryUpdate(u: UpdateTable): Option[LogicalPlan] =
    graftTarget(u.table).flatMap { case (rel, table) =>
      val hasSub = u.condition.exists(
          _.exists(_.isInstanceOf[PlanExpression[_]])) ||
        u.assignments.exists(
          _.value.exists(_.isInstanceOf[PlanExpression[_]]))
      val keysOk = u.assignments.forall(_.key.isInstanceOf[AttributeReference])
      if (!hasSub || !keysOk) None
      else {
        val ids = table.wh.identityColumns(table.snap.ref)
        val idAssigned = u.assignments.map(_.key).collect {
          case k: AttributeReference
              if ids.keys.exists(_.equalsIgnoreCase(k.name)) => k.name
        }
        require(idAssigned.isEmpty,
          s"UPDATE on ${table.snap.ref} cannot SET IDENTITY column(s) " +
            s"${idAssigned.mkString(",")} — engine-assigned values " +
            "never change")
        val matched = EqualNullSafe(
          u.condition.getOrElse(Literal(true)), Literal(true))
        val assigns: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] =
          u.assignments.map(a =>
            a.key.asInstanceOf[AttributeReference].exprId -> a.value).toMap
        val projList: Seq[NamedExpression] = u.table.output.map(a =>
          assigns.get(a.exprId)
            .map(v => Alias(v, a.name)(): NamedExpression).getOrElse(a))
        val pre = Filter(matched, u.table)
        val post = Project(projList, Filter(matched, u.table))
        Some(GraftSubqueryUpdateCommand(table.wh.root, table.snap.ref,
          table.snap.version,
          result = Union(Seq(Filter(Not(matched), u.table), post)),
          pre = pre, post = post))
      }
    }

  /** SQL `DELETE FROM t WHERE … (subquery …)` — the shape the native
    * `SupportsDelete` path cannot carry (V1 filters hold no plans) and
    * Delta refuses outright. Routes to [[GraftSubqueryDeleteCommand]]
    * (snapshot-consistent anti-filter overwrite). CORRELATED
    * subqueries translate too (round 19): the GDPR-time
    * `WHERE EXISTS (… s.k = t.k)` / `NOT EXISTS` / correlated-IN
    * shapes sit under a Filter, where Spark plans them as
    * semi/anti/existence joins — no manual MERGE rewrite needed.
    * Subquery-free deletes stay on the file-pruned `SupportsDelete`
    * path — this rule never touches them.
    */
  private def translateDelete(d: DeleteFromTable): Option[LogicalPlan] =
    graftTarget(d.table).flatMap { case (_, table) =>
      if (!d.condition.exists(_.isInstanceOf[PlanExpression[_]])) None
      else {
        // the subquery condition must live under a FILTER (the one
        // operator class CheckAnalysis allows IN/EXISTS in), never as
        // a command expression — build the keep/deleted plans here
        val matched = EqualNullSafe(d.condition, Literal(true))
        Some(GraftSubqueryDeleteCommand(table.wh.root, table.snap.ref,
          table.snap.version,
          keep = Filter(Not(matched), d.table),
          deleted = Filter(matched, d.table)))
      }
    }

  /** SQL `UPDATE t SET ... WHERE ...` → [[Warehouse.updateWhere]]
    * (file-pruned row-level rewrite). Assignment values and the
    * condition re-render to SQL text (attributes stripped to bare
    * quoted names — the target frame resolves them) so the command
    * holds no bound expression state; subqueries and nondeterministic
    * expressions fall through to Spark's loud unsupported error.
    */
  private def translateUpdate(u: UpdateTable): Option[LogicalPlan] =
    for {
      (rel, table) <- graftTarget(u.table)
      targetIds = rel.output.map(_.exprId).toSet
      if u.condition.forall(renderable) && u.assignments.forall(a =>
        renderable(a.value) && (a.key match {
          case k: AttributeReference => targetIds.contains(k.exprId)
          case _ => false
        }))
    } yield GraftUpdateCommand(table.wh.root, table.snap.ref,
      u.condition.map(render),
      u.assignments.map(a =>
        a.key.asInstanceOf[AttributeReference].name -> render(a.value)))

  private def renderable(e: Expression): Boolean =
    e.resolved && e.deterministic &&
      !e.exists(_.isInstanceOf[PlanExpression[_]])

  /** Expression → re-parseable SQL with attributes as bare quoted
    * names (the rewrite frame carries the same columns).
    */
  private def render(e: Expression): String =
    e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }.sql

  /** Unwrap alias layers to the DSv2 relation over a graft table. */
  /** PRE-ANALYSIS guard, registered in the HINT batch — which runs
    * BEFORE the Resolution batch where Spark's schema-evolution rule
    * widens the target via `alterTable` (a real commit, at analysis
    * time). A `MERGE ... WITH SCHEMA EVOLUTION` onto an
    * IDENTITY-carrying graft table can NEVER run (the merge path
    * refuses identity targets outright), so refusing here keeps the
    * widening atomic with the merge: the table is not left widened by
    * a merge that cannot execute. Runtime clause failures AFTER
    * analysis can still leave a widened schema — that residual
    * non-atomicity is inherent to Spark committing evolution at
    * analysis time and is documented at the capability declaration
    * (SqlCatalog AUTOMATIC_SCHEMA_EVOLUTION); this guard closes the
    * statically-knowable case.
    */
  def preEvolutionGuard(session: SparkSession): Rule[LogicalPlan] =
    new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = {
        plan.foreach {
          case m: MergeIntoTable if m.withSchemaEvolution =>
            namedGraftTable(session, m.targetTable).foreach {
              case (ref, wh) =>
                val ids = wh.identityColumns(ref)
                require(ids.isEmpty,
                  s"MERGE WITH SCHEMA EVOLUTION into $ref: the target " +
                    "carries GENERATED ALWAYS AS IDENTITY column(s) " +
                    s"${ids.keys.mkString(",")} and merge refuses identity " +
                    "targets — refusing BEFORE schema evolution so the " +
                    "table is never widened by a merge that can never run")
            }
          case _ => ()
        }
        plan
      }
    }

  /** Name-based graft-table lookup for the pre-analysis guard: the
    * target is still an [[UnresolvedRelation]] in the hint batch, so
    * the identifier resolves through the session's catalog manager by
    * hand (explicit `graft.cat.schema.tbl` or the current catalog).
    * Best-effort — anything unresolvable returns None and the normal
    * resolution-time refusals still apply.
    */
  private def namedGraftTable(session: SparkSession, plan: LogicalPlan)
      : Option[(TableRef, Warehouse)] = plan match {
    case SubqueryAlias(_, child) => namedGraftTable(session, child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable => Some((t.snap.ref, t.wh))
      case _ => None
    }
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      val cm = session.sessionState.catalogManager
      val (cat, rest) =
        if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
          (cm.catalog(parts.head), parts.tail)
        else (cm.currentCatalog, parts)
      cat match {
        case g: GraftCatalog =>
          // the common unqualified spelling (MERGE INTO tbl under a
          // USE'd graft namespace) arrives with a bare name — resolve
          // it against the session's current namespace, exactly as
          // Spark's analyzer would, so the guard fires there too
          val full =
            if (rest.length >= 2) rest
            else cm.currentNamespace.toSeq ++ rest
          if (full.length < 2) None
          else try g.loadTable(
              Identifier.of(full.init.toArray, full.last)) match {
            case t: GraftSqlTable => Some((t.snap.ref, t.wh))
            case _ => None
          } catch {
            case _: NoSuchTableException | _: NoSuchNamespaceException => None
          }
        case _ => None
      }
    case _ => None
  }

  private def graftTarget(plan: LogicalPlan): Option[(DataSourceV2Relation, GraftSqlTable)] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation =>
        r.table match {
          case t: GraftSqlTable => Some((r, t))
          case _ => None
        }
      case _ => None
    }

  private def translate(m: MergeIntoTable): Option[LogicalPlan] = {
    for {
      (rel, table) <- graftTarget(m.targetTable)
      targetIds = rel.output.map(_.exprId).toSet
      sourceIds = m.sourceTable.output.map(_.exprId).toSet
      keys <- equiKeys(m.mergeCondition, targetIds, sourceIds)
      cmd <- classicShape(m, rel, table, keys, sourceIds)
        .orElse(clauseShape(m, rel, table, keys, sourceIds))
    } yield cmd
  }

  /** The reference's merge shape — unconditional update-all +
    * insert-all, no by-source — keeps its dedicated route
    * ([[graft.sinks.MergeTable.upsert]]: DV-aware merge-on-read,
    * latest-wins, schema evolution).
    */
  private def classicShape(m: MergeIntoTable, rel: DataSourceV2Relation,
                           table: GraftSqlTable, keys: Seq[String],
                           sourceIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : Option[LogicalPlan] =
    for {
      _ <- matchedIsUpdateAll(m.matchedActions, rel.output, sourceIds)
      _ <- notMatchedIsInsertAll(m.notMatchedActions, rel.output, sourceIds)
      if m.notMatchedBySourceActions.isEmpty
    } yield GraftMergeCommand(table.wh.root, table.snap.ref, keys,
      m.sourceTable)

  /** The CLAUSE surface (Delta's conditional/expression/by-source
    * merge): ordered `WHEN MATCHED [AND c] THEN UPDATE SET * |
    * col = expr… | DELETE`, ordered `WHEN NOT MATCHED [AND c] THEN
    * INSERT * | (cols) VALUES (exprs)` (several allowed, first match
    * wins), ordered `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE
    * SET … | DELETE`. Conditions and assignment values re-render to
    * SQL over the classified join's names (target bare, source under
    * the `__src_` prefix). Side discipline is validated here — INSERT
    * values may reference only the source, by-source SET only the
    * target (the other side is NULL there; Delta's rule too). A
    * non-renderable expression or unsupported action shape declines —
    * Spark then fails loudly.
    */
  private def clauseShape(m: MergeIntoTable, rel: DataSourceV2Relation,
                          table: GraftSqlTable, keys: Seq[String],
                          sourceIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
      : Option[LogicalPlan] = {
    val targetIds = rel.output.map(_.exprId).toSet
    def sided(e: Expression): Option[String] =
      if (!renderable(e)) None
      else Some(e.transform {
        case a: AttributeReference if sourceIds.contains(a.exprId) =>
          UnresolvedAttribute.quoted(graft.sinks.Merge.SRC + a.name)
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      }.sql)
    def condOf(c: Option[Expression]): Option[Option[String]] = c match {
      case None => Some(None)
      case Some(e) => sided(e).map(Some(_))
    }
    /** Explicit assignments → rendered `col -> sqlExpr` pairs; every
      * key must be a bare target column and every value's references
      * must stay inside `allowed` (NULL-side discipline).
      */
    def renderSets(as: Seq[Assignment],
                   allowed: Set[org.apache.spark.sql.catalyst.expressions.ExprId])
        : Option[Seq[(String, String)]] = {
      val rendered = as.map {
        case Assignment(k: AttributeReference, v)
            if targetIds.contains(k.exprId) &&
              v.references.forall(r => allowed.contains(r.exprId)) =>
          sided(v).map(k.name -> _)
        case _ => None
      }
      if (rendered.forall(_.isDefined)) Some(rendered.flatten) else None
    }
    val bothSides = targetIds ++ sourceIds
    def matchedClause(a: MergeAction): Option[graft.sinks.Merge.Clause] =
      a match {
        case UpdateStarAction(c) =>
          condOf(c).map(graft.sinks.Merge.Clause(_, "update"))
        case UpdateAction(c, as, _)
            if identityAssignments(as, rel.output, sourceIds) =>
          condOf(c).map(graft.sinks.Merge.Clause(_, "update"))
        case UpdateAction(c, as, _) =>
          for { cc <- condOf(c); sets <- renderSets(as, bothSides) }
            yield graft.sinks.Merge.Clause(cc, "update", Some(sets))
        case DeleteAction(c) =>
          condOf(c).map(graft.sinks.Merge.Clause(_, "delete"))
        case _ => None
      }
    def insertClause(a: MergeAction): Option[graft.sinks.Merge.Clause] =
      a match {
        case InsertStarAction(c) =>
          condOf(c).map(graft.sinks.Merge.Clause(_, "insert"))
        case InsertAction(c, as)
            if identityAssignments(as, rel.output, sourceIds) =>
          condOf(c).map(graft.sinks.Merge.Clause(_, "insert"))
        case InsertAction(c, as) =>
          // INSERT values evaluate where the target side is NULL —
          // only source references are meaningful (Delta's rule)
          for { cc <- condOf(c); sets <- renderSets(as, sourceIds) }
            yield graft.sinks.Merge.Clause(cc, "insert", Some(sets))
        case _ => None
      }
    def bySourceClause(a: MergeAction): Option[graft.sinks.Merge.Clause] =
      a match {
        case DeleteAction(c) =>
          condOf(c).map(graft.sinks.Merge.Clause(_, "delete"))
        case UpdateAction(c, as, _) =>
          // the source side is NULL for by-source rows: SET (and the
          // clause condition) may reference only the target
          for {
            cc <- condOf(c)
            if c.forall(_.references.forall(r => targetIds.contains(r.exprId)))
            sets <- renderSets(as, targetIds)
          } yield graft.sinks.Merge.Clause(cc, "update", Some(sets))
        case _ => None
      }
    val matched = m.matchedActions.map(matchedClause)
    val inserts = m.notMatchedActions.map(insertClause)
    val bySource = m.notMatchedBySourceActions.map(bySourceClause)
    if (matched.exists(_.isEmpty) || inserts.exists(_.isEmpty) ||
        bySource.exists(_.isEmpty) ||
        (matched.isEmpty && inserts.isEmpty && bySource.isEmpty)) None
    else Some(GraftMergeClausesCommand(table.wh.root, table.snap.ref, keys,
      m.sourceTable, graft.sinks.Merge.MergeClauses(
        matched.flatten, inserts.flatten, bySource.flatten)))
  }

  /** ON clause → key column names: every conjunct must be an equality
    * between a target attribute and a same-named source attribute.
    */
  private def equiKeys(cond: Expression, targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId],
                       sourceIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Option[Seq[String]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetIds.contains(a.exprId) && sourceIds.contains(b.exprId) &&
            a.name == b.name => Some(a.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if targetIds.contains(a.exprId) && sourceIds.contains(b.exprId) &&
            a.name == b.name => Some(a.name)
      case _ => None
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.flatten)
    else None
  }

  /** One unconditional UPDATE covering every target column from the
    * same-named source column — `UPDATE SET *` pre- or post-expansion.
    */
  private def matchedIsUpdateAll(actions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
                                 targetOut: Seq[Attribute],
                                 sourceIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Option[Unit] =
    actions match {
      case Seq(UpdateStarAction(None)) => Some(())
      case Seq(UpdateAction(None, assignments, _)) if
          identityAssignments(assignments, targetOut, sourceIds) => Some(())
      case _ => None
    }

  private def notMatchedIsInsertAll(actions: Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction],
                                    targetOut: Seq[Attribute],
                                    sourceIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Option[Unit] =
    actions match {
      case Seq(InsertStarAction(None)) => Some(())
      case Seq(InsertAction(None, assignments)) if
          identityAssignments(assignments, targetOut, sourceIds) => Some(())
      case _ => None
    }

  /** Every target column assigned exactly its same-named source
    * attribute — the expanded form of `SET *` / `INSERT *`.
    */
  private def identityAssignments(assignments: Seq[Assignment],
                                  targetOut: Seq[Attribute],
                                  sourceIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Boolean = {
    val covered = assignments.flatMap {
      case Assignment(t: AttributeReference, v: AttributeReference)
          if sourceIds.contains(v.exprId) && t.name == v.name => Some(t.name)
      case _ => None
    }
    covered.size == assignments.size &&
      covered.toSet == targetOut.map(_.name).toSet
  }
}

/** The routed merge: resolves the analyzed source plan back to a
  * DataFrame at EXECUTION time (EXPLAIN stays side-effect-free) and
  * runs [[graft.sinks.MergeTable.upsert]] — file-pruned incremental
  * rewrite, writer lock, stats maintenance, MERGE commit stamp, all
  * identical to the Scala API.
  */
final case class GraftMergeCommand(root: String, ref: TableRef,
                                   keys: Seq[String], source: LogicalPlan)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override val output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val df = new org.apache.spark.sql.classic.Dataset[Row](classic, source,
      Encoders.row(source.schema))
    val wh = new Warehouse(session, root)
    new graft.sinks.MergeTable(session, wh, ref, keys, None).upsert(df)
    Seq.empty
  }
}

/** The routed UPDATE: [[Warehouse.updateWhere]] at execution time —
  * files without a matching row keep their bytes, matched files
  * rewrite with the SET applied, the commit protocol intact.
  */
final case class GraftUpdateCommand(root: String, ref: TableRef,
                                    condSql: Option[String],
                                    setSql: Seq[(String, String)])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val wh = new Warehouse(session, root)
    wh.updateWhere(ref, condSql.map(expr).getOrElse(lit(true)),
      setSql.map { case (c, s) => c -> expr(s) })
    Seq.empty
  }
}

/** The routed CLAUSE merge — conditions and assignment values already
  * rendered to SQL over the classified join's names; execution
  * resolves the analyzed source plan back to a DataFrame and runs
  * [[graft.sinks.MergeTable.upsertClauses]] (key-range pruned unless a
  * by-source clause forces the full rewrite, merge-on-read in DV mode,
  * writer lock, CDF, the MERGE commit stamp).
  */
final case class GraftMergeClausesCommand(root: String, ref: TableRef,
                                          keys: Seq[String],
                                          source: LogicalPlan,
                                          clauses: graft.sinks.Merge.MergeClauses)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override val output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val df = new org.apache.spark.sql.classic.Dataset[Row](classic, source,
      Encoders.row(source.schema))
    val wh = new Warehouse(session, root)
    new graft.sinks.MergeTable(session, wh, ref, keys, None)
      .upsertClauses(df, clauses)
    Seq.empty
  }
}

/** The routed subquery UPDATE: kept rows union SET-projected matched
  * rows, committed as one snapshot-consistent full rewrite
  * ([[Warehouse.rewriteTable]]: layout and stats carried, the
  * analysis-time version CAS'd); CDF pre/postimage pairs commit
  * atomically when the feed is on.
  */
final case class GraftSubqueryUpdateCommand(root: String, ref: TableRef,
                                            plannedVersion: Long,
                                            result: LogicalPlan,
                                            pre: LogicalPlan,
                                            post: LogicalPlan)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(result)

  override val output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val wh = new Warehouse(session, root)
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def rows(p: LogicalPlan) =
      new org.apache.spark.sql.classic.Dataset[Row](classic, p,
        Encoders.row(p.schema))
    val ct = Warehouse.ChangeTypeCol
    val changes =
      if (!wh.cdfEnabled(ref)) None
      else Some(rows(pre).withColumn(ct, lit("update_preimage"))
        .unionByName(rows(post).withColumn(ct, lit("update_postimage"))))
    wh.rewriteTable(ref, Some(plannedVersion), rows(result),
      Map(Warehouse.OpMeta -> "UPDATE"), changes, Nil)
    Seq.empty
  }
}

/** The routed subquery DELETE: a snapshot-consistent anti-filter full
  * rewrite ([[Warehouse.rewriteTable]]) at execution time — read the
  * target (deletion vectors and foreign entries applied), keep every
  * row the condition does NOT match (three-valued logic: a NULL
  * predicate keeps the row), commit with the partition layout and
  * stats columns carried and the planned version CAS'd. The analyzed
  * condition re-binds to the read plan's attributes BY NAME (its
  * subquery plans ride along untouched — the optimizer's DV rewrite
  * covers relations inside them). O(table) rewrite — the honest price
  * of an arbitrary subquery predicate; filter-only deletes keep the
  * pruned `SupportsDelete` path.
  */
final case class GraftSubqueryDeleteCommand(root: String, ref: TableRef,
                                            plannedVersion: Long,
                                            keep: LogicalPlan,
                                            deleted: LogicalPlan)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(keep)

  override val output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val wh = new Warehouse(session, root)
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def rows(p: LogicalPlan) =
      new org.apache.spark.sql.classic.Dataset[Row](classic, p,
        Encoders.row(p.schema))
    val changes =
      if (!wh.cdfEnabled(ref)) None
      else Some(rows(deleted)
        .withColumn(Warehouse.ChangeTypeCol, lit("delete")))
    // CAS on the ANALYSIS-time version: the relation inside `keep` is
    // pinned to that snapshot, so a concurrent commit must conflict
    // loudly rather than be silently overwritten
    wh.rewriteTable(ref, Some(plannedVersion), rows(keep),
      Map(Warehouse.OpMeta -> "DELETE"), changes, Nil)
    Seq.empty
  }
}
