package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.DvMarkedTable

/** Analyzer rule serving SQL reads of DELETION-VECTOR-carrying
  * [[graft.ops.Manifest]] versions — the Delta-style pattern where the
  * catalog resolves the table and a session extension rewrites its
  * relation into the real read plan.
  *
  * [[graft.sources.GraftCatalog]] returns a [[DvMarkedTable]] for any
  * version whose manifest carries `dv.*` lines, holding the snapshot
  * `loadTable` resolved; this rule replaces that relation with that
  * snapshot's DV-APPLIED read (`Snapshot.read` — the pinned file list,
  * recorded schema, and the in-scan position filter over driver-read
  * bitmaps, a shuffle anti-join past `Manifest.DvBroadcastLimit`
  * positions) — no second resolution of the version — aliased
  * back onto the relation's exact output attributes so references
  * resolved against the catalog table stay valid. DV-less versions
  * never see a [[DvMarkedTable]], so their plan is untouched — the
  * native parquet v2 scan with full pushdown.
  *
  * Runs up-the-tree INCLUDING subquery expressions
  * (`resolveOperatorsUpWithSubqueriesAndPruning`), so a DV'd table
  * inside `IN (SELECT …)` rewrites too. Defense in depth: any path
  * that escapes this rule (extensions not installed) hits
  * [[DvMarkedTable]]'s loud scan refusal instead of silently
  * resurrecting deleted rows — resurrection is the one unacceptable
  * behavior. The rewritten subplan is freshly analyzed, so the
  * optimizer still pushes filters/pruning into its inner parquet scan
  * (ExtensionsSpec pins PushedFilters under the DV). */
case class DvReadRewrite(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // never dissolve a relation that is a DML TARGET: GraftSqlDml owns
    // those (it may still be waiting for its condition to resolve in a
    // later fixed-point iteration, and rewriting the target into a read
    // plan here would strand the statement). A DV'd graft table in a
    // MERGE SOURCE (or any read position) still rewrites normally.
    import org.apache.spark.sql.catalyst.plans.logical.{AppendData,
      DeleteFromTable, InsertIntoStatement, MergeIntoTable,
      OverwriteByExpression, UpdateTable}
    val dmlTargets =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case d: DeleteFromTable => d.table.foreach(dmlTargets.add)
      case u: UpdateTable => u.table.foreach(dmlTargets.add)
      case m: MergeIntoTable => m.targetTable.foreach(dmlTargets.add)
      case i: InsertIntoStatement => i.table.foreach(dmlTargets.add)
      case a: AppendData => a.table.foreach(dmlTargets.add)
      case o: OverwriteByExpression => o.table.foreach(dmlTargets.add)
      case _ => ()
    }
    plan.resolveOperatorsUpWithSubqueriesAndPruning(_ => true) {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[DvMarkedTable] &&
            !dmlTargets.contains(r) =>
        val t = r.table.asInstanceOf[DvMarkedTable]
        // nested analysis of the DV-applied frame (view-resolution
        // shape: AnalysisContext brackets restore the outer context)
        val applied = t.snapshot.read(session).queryExecution.analyzed
        val byName = applied.output.map(a => a.name -> a).toMap
        Project(r.output.map { a =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)
        }, applied)
    }
  }
}
