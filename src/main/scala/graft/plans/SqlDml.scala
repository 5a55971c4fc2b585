package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, EqualTo, Expression, InSubquery, ListQuery,
  SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData,
  Assignment, CreateTable, CreateTableAsSelect, DeleteAction,
  DeleteFromTable, Distinct, InsertAction, InsertIntoStatement,
  LogicalPlan, MergeIntoTable, OverwriteByExpression, Project,
  ReplaceTableAsSelect, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.{Manifest, Merge}
import graft.sources.GraftCatalog

/** SQL DML/DDL over governed [[graft.ops.Manifest]] tables — the write
  * half of the `graft.` catalog surface (reads were done:
  * VERSION/TIMESTAMP AS OF, `.history`/`.files`/`.tags`/`.detail`):
  *
  *   DELETE FROM graft.t WHERE id = 3
  *   UPDATE graft.t SET v = v + 100 WHERE id = 5
  *   MERGE INTO graft.t USING src ON t.id = src.id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *   MERGE INTO graft.t USING req ON t.id = req.id
  *     WHEN MATCHED THEN DELETE
  *   INSERT INTO graft.t [(cols…)] SELECT … / INSERT OVERWRITE …
  *   CREATE [OR REPLACE] TABLE graft.t [(cols…)] [AS SELECT …]
  *
  * All route through the SAME engine as the Scala API (the merge-on-
  * read DELETE/UPDATE/erasure, the COW keyed MERGE, `Manifest.commit`'s
  * governed append/replace) under the full optimistic-concurrency
  * protocol — CDC-visible, time-travel exact, CHECK-constraint gated.
  * This is the Delta pattern: the catalog resolves the relation, an
  * analyzer rule swaps the unsupported-by-DSv2 node for a runnable
  * command that drives the table-format write path.
  *
  * Every KEYED form — `DELETE FROM t WHERE k IN (SELECT …)`, `UPDATE t
  * SET … WHERE k IN (SELECT …)` and `MERGE … WHEN MATCHED [AND cond]
  * THEN DELETE | UPDATE SET …` — is one command,
  * [[GraftMergeMatchedCommand]] → [[Merge.mergeMatchedDv]]: the IN
  * forms and the unconditional MERGE-DELETE pass the DISTINCT key
  * projection of their source ([[keySet]]; duplicate request keys
  * dedupe), and the engine materializes its source once, so the
  * commit protocol's read-set re-validation holds.
  *
  * Scope: conditions and SET values must be plain expressions over the
  * table's columns, with the IN-subquery carve-out above (an
  * uncorrelated deterministic subquery over a plain key column).
  * Every other subquery shape (correlated, non-deterministic, SET
  * values, MERGE conditions, NOT IN) fails loudly naming the Scala
  * API rather than resolving against a snapshot the commit protocol
  * can't re-check.
  * Destructive/un-governed DDL (DROP, RENAME) keeps the catalog's
  * loud read-only refusal. */
case class GraftSqlDml(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[String] = {
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => unwrap(child)
      case other => other
    }
    unwrap(plan) match {
      case r: DataSourceV2Relation =>
        (r.catalog, r.identifier) match {
          case (Some(c: GraftCatalog), Some(ident: Identifier)) =>
            val path = c.pathOf(ident)
            if (Manifest.version(path) > 0) Some(path) else None
          case _ => None
        }
      // INSERT targets arrive as a V1 relation: the catalog's table is
      // a FileTable, so Spark's FallBackFileSourceV2 dissolves the DSv2
      // relation (catalog identity and all) into a LogicalRelation over
      // the version's exact file list BEFORE extension rules run. The
      // table path is recovered from the fixed <table>/data/bNNNNNN/
      // layout and VALIDATED: every relation path must be a live file
      // of the recovered table's head — a plain parquet-directory
      // insert can never satisfy that shape.
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation =>
            val roots = h.location.rootPaths.map(_.toUri.getPath)
            if (roots.isEmpty || roots.exists(_ == null)) None
            else GraftSqlDml.recoverInsertTarget(roots)
          case _ => None
        }
      case _ => None
    }
  }

  /** Every expression anywhere in the subquery plan is deterministic —
    * a rand()-bearing key set would erase a different population than
    * any later audit of the same statement reproduces, so it keeps the
    * loud refusal. */
  private def deterministicPlan(p: LogicalPlan): Boolean =
    p.collect { case n => n }.forall(_.expressions.forall(
      _.deterministic))

  private def noSubquery(verb: String, es: Seq[Expression]): Unit =
    if (es.exists(_.exists(_.isInstanceOf[SubqueryExpression])))
      throw new UnsupportedOperationException(
        s"graft SQL $verb does not support this subquery shape — the " +
          "commit protocol re-validates its read-set on rebase, which " +
          "an embedded query result defeats. Supported: DELETE FROM t " +
          "WHERE k IN (SELECT …) with an uncorrelated deterministic " +
          "subquery over a plain key column. Otherwise use the Scala " +
          "API (Merge.deleteKeysDv for set-shaped erasure, " +
          "Merge.upsert for merges).")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case d @ DeleteFromTable(target, cond) if d.resolved =>
        graftTarget(target) match {
          case Some(path) =>
            cond match {
              // `DELETE FROM t WHERE k IN (SELECT …)` — the GDPR verb
              // users actually type — lowers to the keyed merge-on-read
              // command when the subquery is the WHOLE condition, names
              // a plain table column, and is uncorrelated +
              // deterministic (the engine materializes its result ONCE
              // via an eager checkpoint, so the commit protocol's read-set
              // re-validation holds — re-executing a changed subquery on
              // rebase would validate a different key set than the one
              // the DVs were computed from)
              case InSubquery(Seq(a: AttributeReference), l: ListQuery)
                  if l.outerAttrs.isEmpty && deterministicPlan(l.plan) =>
                GraftMergeMatchedCommand(path,
                  keySet(l.plan, Seq(l.plan.output.head -> a.name)),
                  Seq(a.name), Nil, None)
              case _ =>
                noSubquery("DELETE", Seq(cond))
                GraftDeleteCommand(path, cond)
            }
          case None => d
        }
      case u @ UpdateTable(target, assignments, cond) if u.resolved =>
        graftTarget(target) match {
          case Some(path) =>
            val sets = assignments.map { a =>
              a.key match {
                case attr: AttributeReference => attr.name -> a.value
                case other => throw new UnsupportedOperationException(
                  s"graft SQL UPDATE: unsupported SET target '$other' " +
                    "(only plain table columns)")
              }
            }
            cond match {
              // `UPDATE t SET … WHERE k IN (SELECT …)` — the DELETE-IN
              // carve-out applied to UPDATE: the key set materializes
              // once (deduplicated — a pure key set makes duplicates
              // harmless, unlike a MERGE source) and the update lowers
              // to the keyed matched-action engine; SET values must be
              // subquery-free expressions over the table's columns
              case Some(InSubquery(Seq(a: AttributeReference),
                  l: ListQuery))
                  if l.outerAttrs.isEmpty && deterministicPlan(l.plan) =>
                noSubquery("UPDATE", sets.map(_._2))
                GraftMergeMatchedCommand(path,
                  keySet(l.plan, Seq(l.plan.output.head -> a.name)),
                  Seq(a.name), sets, None)
              case _ =>
                noSubquery("UPDATE",
                  cond.toSeq ++ assignments.map(_.value))
                GraftUpdateCommand(path, sets, cond)
            }
          case None => u
        }
      case m: MergeIntoTable if m.resolved =>
        graftTarget(m.targetTable) match {
          case Some(path) =>
            matchedOnlyForm(m) match {
              case Some((None, Seq())) =>
                // the unconditional keyed DELETE needs no source column
                // but the keys: it probes their distinct projection
                val keys = mergeConditionKeys(m)
                GraftMergeMatchedCommand(path, keySet(m.sourceTable,
                  keys.map(k => m.sourceTable.output
                    .find(_.name.equalsIgnoreCase(k)).get -> k)),
                  keys, Nil, None)
              case Some((condOpt, sets)) =>
                noSubquery("MERGE", condOpt.toSeq ++ sets.map(_._2))
                GraftMergeMatchedCommand(path, m.sourceTable,
                  mergeConditionKeys(m), sets, condOpt)
              case None =>
                GraftMergeCommand(path, m.sourceTable,
                  mergeKeys(m), m.targetTable.output.map(_.name))
            }
          case None => m
        }
      // SQL INSERT INTO / INSERT OVERWRITE — intercepted at the
      // statement when our rule wins the fixed-point race, and at the
      // already-converted AppendData otherwise (whichever arrives, the
      // command is the same append/replace through Manifest.commit)
      case i: InsertIntoStatement
          if i.table.resolved && i.query.resolved =>
        graftTarget(i.table) match {
          case Some(path) =>
            if (i.partitionSpec.nonEmpty || i.ifPartitionNotExists)
              throw new UnsupportedOperationException(
                "graft SQL INSERT takes no PARTITION clause — the " +
                  "manifest (and its per-file stats) is the layout")
            GraftInsertCommand(path, i.query, i.userSpecifiedCols,
              overwrite = i.overwrite, byName = i.byName)
          case None => i
        }
      case a @ AppendData(r: DataSourceV2Relation, query, _, isByName, _, _)
          if query.resolved =>
        graftTarget(r) match {
          case Some(path) =>
            GraftInsertCommand(path, query, Nil,
              overwrite = false, byName = isByName)
          case None => a
        }
      // the DSv2 overwrite twin (a DV-marked target is not a FileTable,
      // so its INSERT OVERWRITE converts here instead of falling back):
      // only the whole-table TRUE delete expression maps onto the
      // replace commit
      case o @ OverwriteByExpression(r: DataSourceV2Relation, deleteExpr,
          query, _, isByName, _, _) if query.resolved =>
        graftTarget(r) match {
          case Some(path) =>
            deleteExpr match {
              case org.apache.spark.sql.catalyst.expressions
                  .Literal(true, _) => ()
              case other => throw new UnsupportedOperationException(
                "graft SQL INSERT OVERWRITE replaces the WHOLE table " +
                  s"(got overwrite condition '$other') — use SQL " +
                  "DELETE + INSERT, or Merge/Layout for partial " +
                  "rewrites")
            }
            GraftInsertCommand(path, query, Nil,
              overwrite = true, byName = isByName)
          case None => o
        }
      // SQL DDL that maps onto the governed commit: CREATE TABLE
      // (empty schema-bearing v1), CTAS, and [CREATE OR] REPLACE TABLE
      // AS SELECT (the replace commit). Everything else (DROP, ALTER,
      // RENAME — destructive or un-governed) keeps the loud refusal.
      case c: CreateTableAsSelect
          if c.resolved && graftDdlTarget(c.name).isDefined =>
        val path = graftDdlTarget(c.name).get
        refuseDdlExtras("CREATE TABLE ... AS SELECT",
          c.partitioning, c.tableSpec)
        GraftCreateTableCommand(path, Some(c.query), None,
          replace = false, ifNotExists = c.ignoreIfExists,
          orCreate = true)
      case r: ReplaceTableAsSelect
          if r.resolved && graftDdlTarget(r.name).isDefined =>
        val path = graftDdlTarget(r.name).get
        refuseDdlExtras("REPLACE TABLE ... AS SELECT",
          r.partitioning, r.tableSpec)
        GraftCreateTableCommand(path, Some(r.query), None,
          replace = true, ifNotExists = false, orCreate = r.orCreate)
      case ct: CreateTable
          if ct.name.resolved && graftDdlTarget(ct.name).isDefined =>
        val path = graftDdlTarget(ct.name).get
        refuseDdlExtras("CREATE TABLE", ct.partitioning, ct.tableSpec)
        GraftCreateTableCommand(path, None, Some(ct.tableSchema),
          replace = false, ifNotExists = ct.ignoreIfExists,
          orCreate = true)
    }

  /** The DISTINCT key set a keyed command probes: `cols` of `source`,
    * each aliased to its table key name — duplicate request keys
    * dedupe, so a pure key set never trips the engine's key-unique
    * source rule. */
  private def keySet(source: LogicalPlan,
      cols: Seq[(Attribute, String)]): LogicalPlan =
    Distinct(Project(cols.map { case (a, k) => Alias(a, k)() }, source))

  /** Resolve a DDL statement's name to a graft table path (None when
    * the identifier belongs to another catalog). Unlike
    * [[graftTarget]], the table need not exist yet. */
  private def graftDdlTarget(name: LogicalPlan): Option[String] =
    name match {
      case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier =>
        r.catalog match {
          case c: GraftCatalog => Some(c.pathOf(r.identifier))
          case _ => None
        }
      case _ => None
    }

  private def refuseDdlExtras(verb: String,
      partitioning: Seq[org.apache.spark.sql.connector.expressions
        .Transform],
      spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase)
      : Unit = {
    if (partitioning.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft SQL $verb takes no PARTITIONED BY/CLUSTER BY — the " +
          "manifest (and its per-file stats) is the layout; cluster " +
          "with Layout.zOrderWrite / optimizeWhere instead")
    spec match {
      case t: org.apache.spark.sql.catalyst.plans.logical.TableSpec =>
        if (t.properties.nonEmpty || t.options.nonEmpty)
          throw new UnsupportedOperationException(
            s"graft SQL $verb takes no TBLPROPERTIES/OPTIONS — table " +
              "invariants are CHECK constraints (Manifest.addConstraint)")
        t.provider.foreach(p =>
          require(p.equalsIgnoreCase("parquet"),
            s"graft tables are parquet-backed; got USING $p"))
        // anything the manifest would silently DROP refuses instead:
        // a user who declared it must not believe it took effect
        if (t.location.isDefined || t.external)
          throw new UnsupportedOperationException(
            s"graft SQL $verb takes no LOCATION/EXTERNAL — the " +
              "identifier IS the location (graft.`/abs/path` or a " +
              "name under the catalog root)")
        if (t.comment.isDefined || t.collation.isDefined ||
            t.serde.isDefined || t.constraints.nonEmpty)
          throw new UnsupportedOperationException(
            s"graft SQL $verb cannot record COMMENT/COLLATION/SERDE/" +
              "inline constraints — declare CHECK constraints with " +
              "Manifest.addConstraint after creation")
      case _ => ()
    }
  }

  /** The supported MERGE shape is the upsert-by-key Delta idiom:
    *
    *   MERGE INTO graft.t USING src ON t.k = src.k
    *   WHEN MATCHED THEN UPDATE SET *
    *   WHEN NOT MATCHED THEN INSERT *
    *
    * (the star actions arrive here pre-expanded by the analyzer into
    * straight by-name assignments). Matched-ONLY forms — conditional
    * or partial UPDATE/DELETE actions — route through
    * [[matchedOnlyForm]] before this check; what remains here must be
    * the exact upsert idiom, and anything else (a partial or
    * conditional action COMBINED with INSERT, NOT MATCHED BY SOURCE)
    * refuses loudly naming the Scala API, whose explicit forms cover
    * them. Returns the equi-join key column names. */
  private def mergeKeys(m: MergeIntoTable): Seq[String] = {
    def refuse(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft SQL MERGE supports exactly 'WHEN MATCHED THEN UPDATE " +
          "SET *' + 'WHEN NOT MATCHED THEN INSERT *' on a conjunction " +
          s"of same-name key equalities; got $what. Use the Scala API " +
          "(Merge.upsert / deleteWhereDv / updateWhereDv) for other " +
          "shapes.")
    val tgtCols = m.targetTable.output.map(_.name)
    def identityAssignments(as: Seq[Assignment]): Boolean =
      as.length == tgtCols.length && as.forall { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference) =>
            k.name.equalsIgnoreCase(v.name)
          case _ => false
        }
      }
    m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) if identityAssignments(as) => ()
      case other => refuse(s"matched actions $other")
    }
    m.notMatchedActions match {
      case Seq(InsertAction(None, as)) if identityAssignments(as) => ()
      case other => refuse(s"not-matched actions $other")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      refuse("NOT MATCHED BY SOURCE actions")
    mergeConditionKeys(m)
  }

  /** Classify a MATCHED-ONLY merge (no NOT MATCHED / BY SOURCE
    * clauses): Some((condition, partial SET list)) for
    *
    *   WHEN MATCHED [AND cond] THEN DELETE          → (cond, Nil)
    *   WHEN MATCHED [AND cond] THEN UPDATE SET …    → (cond, sets)
    *
    * — both route to the merge-on-read matched-action engine,
    * [[Merge.mergeMatchedDv]] (the bare DELETE over the distinct key
    * projection of the source, [[keySet]]). A SET on a merge-key column
    * refuses (updating the match identity is not a keyed update) —
    * except the identity no-op `k = src.k` the analyzer's `SET *`
    * expansion produces, which drops out. None = not matched-only
    * (the upsert form, or an unsupported shape [[mergeKeys]] names
    * loudly). */
  private def matchedOnlyForm(m: MergeIntoTable)
      : Option[(Option[Expression], Seq[(String, Expression)])] = {
    if (m.notMatchedActions.nonEmpty ||
        m.notMatchedBySourceActions.nonEmpty) return None
    val keys = mergeConditionKeys(m).map(_.toLowerCase).toSet
    val srcSet = m.sourceTable.outputSet
    m.matchedActions match {
      case Seq(DeleteAction(cond)) => Some((cond, Seq.empty))
      case Seq(UpdateAction(cond, as, _)) =>
        val sets = as.flatMap { a =>
          val name = a.key match {
            case attr: AttributeReference => attr.name
            case other => throw new UnsupportedOperationException(
              s"graft SQL MERGE: unsupported SET target '$other' " +
                "(only plain table columns)")
          }
          (a.value, keys.contains(name.toLowerCase)) match {
            // `SET k = src.k` on a merge key: the join makes it a
            // no-op — drop it (the SET * expansion emits these)
            case (v: AttributeReference, true)
                if v.name.equalsIgnoreCase(name) &&
                  srcSet.contains(v) => None
            case (_, true) => throw new UnsupportedOperationException(
              s"graft SQL MERGE: SET on merge-key column '$name' — " +
                "updating the match identity is not a keyed update; " +
                "use UPDATE/Merge.updateWhereDv")
            case (v, false) => Some(name -> v)
          }
        }
        Some((cond, sets))
      case _ => None
    }
  }

  /** Equi-join key column names from the merge condition: a conjunction
    * of same-name target-to-source equalities; anything else refuses
    * loudly naming the Scala API. */
  private def mergeConditionKeys(m: MergeIntoTable): Seq[String] = {
    def refuse(what: String): Nothing =
      throw new UnsupportedOperationException(
        "graft SQL MERGE needs a conjunction of same-name key " +
          s"equalities in its ON clause; got $what. Use the Scala API " +
          "(Merge.upsert / deleteKeysDv / deleteWhereDv / " +
          "updateWhereDv) for other shapes.")
    val tgtSet = m.targetTable.outputSet
    val srcSet = m.sourceTable.outputSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            ((tgtSet.contains(a) && srcSet.contains(b)) ||
              (tgtSet.contains(b) && srcSet.contains(a))) => a.name
      case other => refuse(s"merge condition conjunct '$other'")
    }
  }
}

object GraftSqlDml {

  /** Recover a governed table path from a V1 relation's root paths (the
    * INSERT-target shape after FallBackFileSourceV2 — see the rule's
    * LogicalRelation case). The first root must have the fixed
    * `<tbl>/data/bNNNNNN/<file>` layout; then either EVERY root is a
    * live file of the recovered table's head (→ the governed target),
    * or — when a committed manifest exists at the recovered path but the
    * live-set check fails — the relation was pinned against a version a
    * concurrent replace/rewrite has since retired: REFUSE loudly rather
    * than return None, because None falls through to Spark's ungoverned
    * raw-path parquet insert, which would land files no manifest ever
    * lists (today that path only fails by accident — a multi-path
    * relation hits Spark's single-path error, a single-file root
    * collides with an existing file). None only for shapes that are
    * genuinely not a graft table (no manifest at the recovered path, or
    * not the batch-dir layout at all). */
  private[plans] def recoverInsertTarget(
      roots: Seq[String]): Option[String] = {
    val p = java.nio.file.Paths.get(roots.head)
    if (p.getNameCount < 4) return None
    val batch = p.getName(p.getNameCount - 2).toString
    val dataSeg = p.getName(p.getNameCount - 3).toString
    val shaped = dataSeg == "data" && batch.length > 1 &&
      batch.head == 'b' && batch.tail.forall(_.isDigit)
    if (!shaped) return None
    val tbl = "/" + p.subpath(0, p.getNameCount - 3).toString
    if (Manifest.version(tbl) == 0) None
    else {
      val live = Manifest.at(tbl).files.map(rel =>
        java.nio.file.Paths.get(tbl).resolve(rel)
          .toAbsolutePath.normalize.toString).toSet
      val stale = roots.filterNot(r => live.contains(
        java.nio.file.Paths.get(r).toAbsolutePath.normalize.toString))
      if (stale.isEmpty) Some(tbl)
      else throw new IllegalStateException(
        s"stale relation over governed table $tbl: the INSERT target " +
          "was resolved against a version whose file(s) " +
          s"${stale.mkString(", ")} a concurrent replace/rewrite has " +
          "since retired — re-run the statement so it re-resolves " +
          "against the new head (refusing the ungoverned raw-path " +
          "insert this would otherwise fall through to)")
    }
  }

  /** Rebind a condition/value expression parsed against the CATALOG
    * relation's attributes onto the fresh frame the merge engine scans:
    * resolved attribute references become by-name lookups (the
    * expression tree itself — literals, functions, casts — carries
    * over verbatim). */
  def rebind(e: Expression): Column = Bridge.column(e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  })

  val output: Seq[Attribute] =
    Seq(AttributeReference("num_affected_rows", LongType,
      nullable = false)())
}

/** `DELETE FROM graft.t WHERE …` → [[Merge.deleteWhereDv]]: publishes
  * deletion vectors (merge-on-read), returns the hidden-position count. */
case class GraftDeleteCommand(tablePath: String, cond: Expression)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.output
  override def run(session: SparkSession): Seq[Row] = {
    val stats = Merge.deleteWhereDv(session, tablePath,
      GraftSqlDml.rebind(cond))
    Seq(Row(stats.positionsAdded))
  }
}

/** `MERGE INTO graft.t USING src ON <keys> WHEN MATCHED THEN UPDATE
  * SET * WHEN NOT MATCHED THEN INSERT *` → [[Merge.upsert]]: the
  * copy-on-write keyed merge (only files containing a matched key
  * rewrite; insert-only degenerates to a pure append), duplicate-key
  * sources refused before anything writes, broadcast-vs-shuffle key
  * probing size-gated. The source executes ONCE inside the merge
  * engine (its checkpointed snapshot), which also reports
  * num_affected_rows = source rows merged — a non-deterministic source
  * can never report a count inconsistent with what actually merged. */
case class GraftMergeCommand(tablePath: String, source: LogicalPlan,
    keyCols: Seq[String], targetCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.output
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = Bridge.ofRows(session, source)
      .select(targetCols.map(org.apache.spark.sql.functions.col): _*)
    val stats = Merge.upsert(session, tablePath, src, keyCols)
    Seq(Row(stats.sourceRows))
  }
}

/** Every keyed SQL DML form → [[Merge.mergeMatchedDv]]: `MERGE INTO
  * graft.t USING src ON <keys> WHEN MATCHED [AND cond] THEN UPDATE SET
  * <partial> | DELETE` (matched-only, no INSERT clause), and — over
  * the distinct key projection of their source — `DELETE FROM graft.t
  * WHERE k IN (SELECT …)`, `UPDATE graft.t SET … WHERE k IN (SELECT …)`
  * and the unconditional MERGE-DELETE. ONE merge-on-read commit —
  * matched rows (key tuple in source, condition satisfied) hide
  * behind deletion vectors; a partial UPDATE's images (named columns
  * replaced from the rebound expressions, the rest carried) commit
  * atomically with the DV lines. Set values and the condition may
  * reference both sides: target columns rebind by name, source
  * columns to their `__src_`-prefixed twins on the matched frame
  * (unambiguous under name collisions), values cast onto the
  * column's recorded type. The source executes once and must be
  * key-unique. Returns num_affected_rows = positions newly hidden
  * (= rows updated/deleted). */
case class GraftMergeMatchedCommand(tablePath: String,
    source: LogicalPlan, keyCols: Seq[String],
    sets: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.output
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val srcAttrs = source.outputSet
    def rb(e: Expression): Column = Bridge.column(e.transform {
      case a: AttributeReference if srcAttrs.contains(a) =>
        UnresolvedAttribute.quoted(s"__src_${a.name}")
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
    val snap = Manifest.at(tablePath)
    val setCols = sets.map { case (c, e) =>
      c -> rb(e).cast(snap.schema(c).dataType) }
    val src = Bridge.ofRows(session, source)
    val stats = Merge.mergeMatchedDv(session, snap, src, keyCols,
      setCols, cond.map(rb), Map.empty, Merge.DefaultBroadcastKeyLimit)
    Seq(Row(stats.positionsAdded))
  }
}

/** `INSERT INTO graft.t [(cols…)] SELECT …` / `INSERT OVERWRITE` →
  * [[Manifest.commit]]'s governed append (replace for OVERWRITE): the
  * full commit protocol — optimistic concurrency, CHECK-constraint
  * validation over the WRITTEN batch, append-compatible schema
  * evolution, per-file stats harvest. Column alignment:
  *
  *   - plain `INSERT INTO t SELECT …` with matching arity: by POSITION
  *     (standard SQL), values cast onto the table's recorded types;
  *   - an explicit column list (`INSERT INTO t (a, c) …`) or `BY NAME`:
  *     named columns land by name, unnamed table columns read as null
  *     (the append-compatible diagonal), and names NOT in the table
  *     schema append as NEW columns — the schema-evolving insert;
  *   - anything else (arity mismatch without names) refuses loudly.
  *
  * Returns num_affected_rows = the committed batch's recorded row count
  * (pure manifest metadata — no second scan of the source). */
case class GraftInsertCommand(tablePath: String, source: LogicalPlan,
    userCols: Seq[String], overwrite: Boolean, byName: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.output
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val df0 = Bridge.ofRows(session, source)
    val head = Manifest.at(tablePath)
    val schema = head.schema
    val tcols = schema.fieldNames.toSeq
    val named =
      if (userCols.nonEmpty) {
        require(userCols.size == df0.columns.length,
          s"INSERT column list names ${userCols.size} column(s) but the " +
            s"query produces ${df0.columns.length}")
        df0.toDF(userCols: _*)
      } else if (byName) {
        // BY NAME: table columns land by name, genuinely new names
        // evolve the schema, unnamed table columns read as null
        df0
      } else if (df0.columns.length == tcols.length) {
        df0.toDF(tcols: _*) // standard SQL: by position
      } else
        // plain INSERT never evolves or drops columns implicitly: an
        // arity mismatch is an error, exactly as in standard SQL —
        // schema changes need the EXPLICIT opt-ins
        throw new UnsupportedOperationException(
          s"graft SQL INSERT: the query produces ${df0.columns.length} " +
            s"column(s) for a ${tcols.length}-column table — match the " +
            "arity by position, or opt in by naming columns (INSERT " +
            "INTO t (a, b, …) — unknown names evolve the schema) or " +
            "BY NAME")
    // cast columns that exist in the table onto their RECORDED types
    // (an int literal must not fail a bigint column's evolve check);
    // new columns keep the query's types and evolve the schema
    val byLower = schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val aligned = named.select(named.columns.toSeq.map { c =>
      byLower.get(c.toLowerCase) match {
        case Some(f) => col(c).cast(f.dataType).as(f.name)
        case None => col(c)
      }
    }: _*)
    val v = Manifest.commit(aligned, tablePath, replace = overwrite,
      base = head)
    // the commit recorded its own fresh files' row counts — the
    // inserted-row count is their sum, pure driver-side metadata
    val n = Manifest.delta(tablePath, v).meta.collect {
      case (k, rows) if k.startsWith(Manifest.FileRowsPrefix) =>
        rows.toLong }.sum
    Seq(Row(n))
  }
}

/** `CREATE TABLE graft.t (cols…)` / `CREATE TABLE … AS SELECT` /
  * `[CREATE OR] REPLACE TABLE … AS SELECT` → [[Manifest.commit]]: the
  * creating commit is v1 with the declared (or query) schema — an
  * empty CREATE publishes a schema-bearing empty version that INSERT
  * and the streaming source can immediately build on; REPLACE is the
  * replace commit (prior versions keep time-traveling) and a table
  * REDEFINITION: the replaced table's CHECK constraints do NOT carry
  * into the new definition (fresh slate — the Delta REPLACE contract;
  * the API's content-preserving replace keeps inheriting). IF NOT
  * EXISTS on an existing table is the standard silent no-op; a bare
  * CREATE on an existing table refuses loudly. */
case class GraftCreateTableCommand(tablePath: String,
    query: Option[LogicalPlan], declaredSchema: Option[StructType],
    replace: Boolean, ifNotExists: Boolean, orCreate: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def innerChildren: Seq[LogicalPlan] = query.toSeq
  override def run(session: SparkSession): Seq[Row] = {
    val exists = Manifest.version(tablePath) > 0
    if (!replace && exists) {
      if (ifNotExists) return Seq.empty
      throw new IllegalArgumentException(
        s"table already exists at $tablePath — use CREATE OR REPLACE " +
          "to rewrite it, or INSERT INTO to append")
    }
    if (replace && !exists && !orCreate)
      throw new IllegalArgumentException(
        s"REPLACE TABLE: no committed table at $tablePath — use " +
          "CREATE OR REPLACE")
    val df = query match {
      case Some(q) => Bridge.ofRows(session, q)
      case None => session.createDataFrame(
        session.sparkContext.emptyRDD[Row], declaredSchema.get)
    }
    // the creating/replacing commit carries the replace flag, which
    // NEVER rebases: the loser of two racing CREATEs aborts loudly
    // (Delta's create protocol) instead of silently appending its rows
    // onto the winner's table through the optimistic append-rebase.
    // SQL [CREATE OR] REPLACE is a table REDEFINITION, so it starts
    // from a FRESH constraint slate (the Delta contract) — unlike the
    // API's content-preserving replace (OPTIMIZE/restore), which
    // inherits; a dropped-column redefinition would otherwise abort on
    // the old constraint's unresolved column, and a compatible-schema
    // one would keep gating inserts with constraints the user believes
    // gone
    try Manifest.commit(df, tablePath, replace = true,
      inheritConstraints = false)
    catch {
      case e: IllegalStateException
          if !replace && e.getMessage != null &&
            e.getMessage.contains("concurrent commit") =>
        if (ifNotExists) return Seq.empty
        throw new IllegalArgumentException(
          s"table already exists at $tablePath (a concurrent CREATE " +
            "won the race) — use CREATE OR REPLACE to rewrite it, or " +
            "INSERT INTO to append", e)
    }
    Seq.empty
  }
}

/** `UPDATE graft.t SET … WHERE …` → [[Merge.updateWhereDv]]: one atomic
  * commit hiding the old positions and adding the updated images. */
case class GraftUpdateCommand(tablePath: String,
    sets: Seq[(String, Expression)], cond: Option[Expression])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.output
  override def run(session: SparkSession): Seq[Row] = {
    val snap = Manifest.at(tablePath)
    val setCols = sets.map { case (c, e) =>
      // cast SQL-typed values onto the column's recorded type, the way
      // the UPDATE alignment rules would (an int literal must not fail
      // a bigint column's append-compatible schema check)
      c -> GraftSqlDml.rebind(e).cast(snap.schema(c).dataType)
    }
    val pred = cond.map(GraftSqlDml.rebind).getOrElse(
      org.apache.spark.sql.functions.lit(true))
    val stats = Merge.updateWhereDv(session, snap, pred, setCols,
      Map.empty, None, Seq.empty)
    Seq(Row(stats.positionsAdded))
  }
}
