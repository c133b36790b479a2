package graft.catalog

import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL reads of tables with LIVE deletion vectors: rewrite the DSv2
  * relation into the warehouse's DV-applying read plan (clean-file
  * scan unioned with the dv'd-file scan under its bitmap keep-filter
  * — exactly [[Warehouse.readSnapshot]]), so
  * `SELECT * FROM graft...` agrees with the Scala surface while
  * vectors are unmaterialized. Registered by
  * `graft.plans.GraftOptimizations`; sessions without the extensions
  * hit the loud reader-gating refusal in the scan builder instead
  * (Delta's reader-protocol-version model: never silently resurrect
  * deleted rows).
  *
  * Scope: READ positions only. Row-level DML keeps its TARGET relation
  * — the DELETE/UPDATE/MERGE target dispatches through
  * `SupportsDelete` / the warehouse entry points, which are DV-aware
  * themselves — but everything the DML *reads* rewrites: a MERGE
  * source, and any subquery in a DELETE/UPDATE condition or SET value
  * (`DELETE ... WHERE k IN (SELECT k FROM dv_table)` must see the
  * DV-applied rows, not the physical scan's refusal).
  */
object DvReadRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable =>
      d.copy(condition = rewriteReads(d.condition))
    case u: UpdateTable =>
      u.copy(condition = u.condition.map(rewriteReads),
        assignments = u.assignments.map(a =>
          a.copy(value = rewriteReads(a.value))))
    case m: MergeIntoTable => m.copy(sourceTable = apply(m.sourceTable))
    case _ => plan.transformDownWithSubqueries {
      case r: DataSourceV2Relation if needsDv(r) => rewrite(r)
    }
  }

  /** Rewrite DV'd/foreign relations inside an expression's subquery
    * plans (a DML condition or SET value) — the TARGET relation is not
    * under these expressions, so it stays untouched.
    */
  private def rewriteReads(e: Expression): Expression = e.transform {
    case s: SubqueryExpression => s.withNewPlan(apply(s.plan))
  }

  private def needsDv(r: DataSourceV2Relation): Boolean = r.table match {
    // live deletion vectors OR shallow-clone foreign entries: either
    // way the plain file-index scan would lie, and readSnapshot is
    // the plan that tells the truth
    case t: GraftSqlTable => t.snap.dvMap.nonEmpty || t.hasForeign
    case _ => false
  }

  private def rewrite(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftSqlTable]
    val resolved = t.wh.readSnapshot(t.snap).queryExecution.analyzed
    val byName = resolved.output.map(a => a.name.toLowerCase -> a).toMap
    // re-expose the substituted plan under the RELATION's attribute ids
    // (and its column order / partition-value types — the file index
    // may have inferred a different partition type than the committed
    // schema declares)
    val projs: Seq[NamedExpression] = r.output.map { old =>
      val n = byName.getOrElse(old.name.toLowerCase,
        throw new IllegalStateException(
          s"DvReadRewrite: ${t.snap.ref} read plan lacks column " +
            s"'${old.name}' (has ${resolved.output.map(_.name).mkString(",")})"))
      val e = if (n.dataType == old.dataType) n else Cast(n, old.dataType)
      Alias(e, old.name)(exprId = old.exprId, qualifier = old.qualifier)
    }
    Project(projs, resolved)
  }
}
