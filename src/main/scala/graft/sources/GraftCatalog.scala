package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Manifest

/** SQL surface for [[graft.ops.Manifest]] tables — the way every
  * lakehouse exposes time travel: a DataSource V2 `TableCatalog` that
  * resolves `graft.<name>` to a manifest table under the catalog root
  * and serves `SELECT ... FROM graft.t VERSION AS OF 3` through Spark's
  * native time-travel syntax (the SQL twin of `Manifest.read(path, v)`).
  *
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/warehouse")
  *   spark.sql("SELECT * FROM graft.events_t VERSION AS OF 3")
  *
  * Identifier → path: namespace segments are subdirectories
  * (`graft.a.b.t` → `<root>/a/b/t`); a backtick-quoted absolute path
  * works without a root (`` graft.`/tmp/tbl` `` — the `delta.`/path``
  * convention). Each load resolves the version's EXACT file list and
  * recorded schema from the manifest (one driver-side metadata read)
  * and hands them to Spark's own parquet v2 table, so pushdown, column
  * pruning and vectorized reads are exactly the native scan's — the
  * catalog adds resolution, not a read path. The resolved table is
  * PINNED like `Manifest.read`: later commits cannot change what a
  * resolved query reads.
  *
  * Writes: the [[graft.plans.GraftSqlDml]] extension rule routes the
  * full verb set through the governed engines — DELETE/UPDATE
  * (merge-on-read deletion vectors + update images), MERGE upsert and
  * MERGE-DELETE (COW keyed merge / keyed erasure), INSERT INTO /
  * OVERWRITE (governed append/replace with append-compatible schema
  * evolution), CREATE TABLE / CTAS / CREATE OR REPLACE (the creating
  * commit; races abort loudly). This catalog itself additionally
  * serves the governable ALTERs as metadata-only commits: `ADD
  * COLUMNS` (evolving), `ALTER COLUMN … TYPE` (lossless widening),
  * `ADD CONSTRAINT … CHECK` / `DROP CONSTRAINT` (the commit gate).
  * Destructive or un-governed DDL (`DROP`, `RENAME`, every other
  * ALTER) fails loudly rather than bypass `Manifest.commit`'s
  * optimistic-concurrency and constraint contracts.
  *
  * Versions carrying DELETION VECTORS resolve to a [[DvMarkedTable]]
  * that [[graft.plans.DvReadRewrite]] (injected by
  * `graft.GraftExtensions`) rewrites into the DV-applied read during
  * analysis — so SQL over an erasure-workload table (st32's steady
  * state) just works, with the same size-gated in-scan position filter
  * and pushdown as `Manifest.read`. Without the extension installed the
  * marked table REFUSES its scan loudly: silently resurrecting deleted
  * rows is the one unacceptable behavior. DV-less versions keep the
  * join-free native plan (ExtensionsSpec pins both).
  *
  * `graft.<t>.history` serves DESCRIBE HISTORY as a metadata table
  * (the Delta/Iceberg convention): one row per committed version from
  * [[graft.ops.Manifest.history]] — pure manifest metadata, matching
  * the API rows exactly, merge-on-read deletes included.
  * `graft.<t>.tags` lists the table's named refs, and
  * `VERSION AS OF '<tag>'` (a non-numeric version string) resolves
  * through them — the Iceberg ref convention. */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  /** The catalog root, read from the LIVE session conf at every
    * resolution: Spark caches the catalog instance per session, so a
    * root captured at [[initialize]] would silently ignore a later
    * `spark.sql.catalog.<name>.root` change. */
  private def root: Option[String] = Option(SQLConf.get.getConfString(
    s"spark.sql.catalog.$catalogName.root", null))

  override def name(): String = catalogName

  /** Identifier → table path (the DML rule [[graft.plans.GraftSqlDml]]
    * resolves its write target through the same mapping reads use). */
  def pathOf(ident: Identifier): String = tablePath(ident)

  private def tablePath(ident: Identifier): String = {
    val joined = (ident.namespace().toSeq :+ ident.name()).mkString("/")
    if (joined.startsWith("/")) joined
    else root.map(r => s"$r/$joined").getOrElse(throw new
      IllegalArgumentException(s"catalog '$catalogName' has no root " +
        s"(set spark.sql.catalog.$catalogName.root) and " +
        s"'$joined' is not an absolute path"))
  }

  override def loadTable(ident: Identifier): Table =
    load(ident, -1L)

  /** Spark's `VERSION AS OF <v>` time-travel hook. A non-numeric
    * version string resolves as a TAG name ([[Manifest.resolveRef]] —
    * `VERSION AS OF 'audit-2026Q3'`, the Iceberg ref convention), loud
    * when no such tag exists. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, try version.toLong catch {
      case _: NumberFormatException =>
        Manifest.resolveRef(tablePath(ident), version)
    })

  /** Spark's `TIMESTAMP AS OF <ts>` time-travel hook (micros since
    * epoch): resolves the newest version committed at or before the
    * timestamp via the manifests' recorded commit times
    * ([[Manifest.versionAsOf]] — running-max adjusted, loud before the
    * first retained commit), then serves it exactly like VERSION AS
    * OF. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident,
      Manifest.versionAsOf(tablePath(ident), timestamp / 1000L))

  private def load(ident: Identifier, asOf: Long): Table = {
    val path = tablePath(ident)
    val spark = SparkSession.active
    if (Manifest.version(path) == 0L &&
        (ident.name().equalsIgnoreCase("history") ||
          ident.name().equalsIgnoreCase("files") ||
          ident.name().equalsIgnoreCase("tags") ||
          ident.name().equalsIgnoreCase("detail")) &&
        ident.namespace().nonEmpty) {
      // graft.<t>.history / .files / .tags / .detail — the
      // metadata-table convention: the name resolves only when <t> IS
      // a manifest table and no real table shadows it (checked above),
      // so a data table named "history"/"files"/"tags"/"detail" wins.
      // `.files`/`.detail` also serve VERSION AS OF (the Iceberg
      // per-snapshot metadata convention — the manifest resolves any
      // version); history and tags are whole-table surfaces.
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      val parentPath = tablePath(parent)
      if (Manifest.version(parentPath) > 0L) {
        if (ident.name().equalsIgnoreCase("files"))
          return filesTable(s"$catalogName.${ident.toString}",
            parentPath, asOf)
        if (ident.name().equalsIgnoreCase("detail"))
          return detailTable(s"$catalogName.${ident.toString}",
            parentPath, asOf)
        if (asOf >= 0)
          throw new UnsupportedOperationException(
            s"graft.<t>.${ident.name().toLowerCase} does not support " +
              "AS OF — history and tags already describe every version")
        return (if (ident.name().equalsIgnoreCase("history"))
          historyTable(spark, s"$catalogName.${ident.toString}",
            parentPath)
        else tagsTable(s"$catalogName.${ident.toString}", parentPath))
      }
    }
    // ONE snapshot resolution serves the file list, the schema and the
    // DV check — and, for a DV'd version, the rewritten read itself
    val snap = Manifest.at(path, asOf)
    require(snap.version > 0, s"no committed version at $path")
    val files = snap.files.map(rel =>
      java.nio.file.Paths.get(path).resolve(rel).toString)
    val table = ParquetTable(
      s"$catalogName.${ident.toString}@v${snap.version}", spark,
      CaseInsensitiveStringMap.empty(), files.toIndexedSeq,
      Some(snap.schema), classOf[ParquetFileFormat])
    // a DV-carrying version cannot be served by the raw scan (it would
    // resurrect deleted rows): mark it for the analysis-time rewrite
    // (graft.plans.DvReadRewrite applies the position filter); the
    // marker's scan refusal catches any path the rewrite missed
    if (snap.dv.isEmpty) table
    else new DvMarkedTable(table.name, snap)
  }

  /** `graft.<t>.files [VERSION AS OF v]` rows — [[Manifest
    * .Snapshot.fileInventory]] rendered as a DSv2 metadata table (the Iceberg
    * `.files` convention, per snapshot): one row per LIVE file of the
    * requested version (head when unversioned) with its adding version,
    * recorded row count (null for pre-stats writers) and DV'd position
    * count. Pure manifest metadata — zero data/footer I/O. */
  private def filesTable(name: String, path: String,
      asOf: Long = -1L): Table = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("added_version", LongType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("dv_positions", LongType, nullable = false)))
    val rows = Manifest.at(path, asOf).fileInventory
      .map { case (f, av, n, dv) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(f), av,
          n.map(Long.box).orNull, dv))
          : org.apache.spark.sql.catalyst.InternalRow
      }.toArray
    new MetadataRowsTable(name, schema, rows)
  }

  /** `graft.<t>.detail [VERSION AS OF v]` — the DESCRIBE DETAIL
    * convention: ONE row of table-level facts at the requested version
    * (head when unversioned), every one answered from commit metadata
    * alone (version, live file count, metadata-only row count — null
    * for pre-stats writers, positions hidden by deletion vectors, tag
    * count, CHECK-constraint count). Zero data/footer I/O at any
    * table size. */
  private def detailTable(name: String, path: String,
      asOf: Long = -1L): Table = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    val snap = Manifest.at(path, asOf)
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("num_rows", LongType, nullable = true),
      StructField("dv_positions", LongType, nullable = false),
      StructField("num_tags", LongType, nullable = false),
      StructField("num_constraints", LongType, nullable = false)))
    val rows = Array(new GenericInternalRow(Array[Any](
      snap.version,
      snap.files.size.toLong,
      snap.rowCount.map(Long.box).orNull,
      snap.dv.values.map(_._2).sum,
      Manifest.tags(path).size.toLong,
      snap.constraints.size.toLong))
      : org.apache.spark.sql.catalyst.InternalRow)
    new MetadataRowsTable(name, schema, rows)
  }

  /** `graft.<t>.tags` rows — the table's named refs ([[Manifest.tags]])
    * as a metadata table: one (tag, version) row per pinned ref. */
  private def tagsTable(name: String, path: String): Table = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    val rows = Manifest.tags(path).toSeq.sortBy(_._1).map { case (t, v) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(t), v))
        : org.apache.spark.sql.catalyst.InternalRow
    }.toArray
    new MetadataRowsTable(name, schema, rows)
  }

  /** DESCRIBE HISTORY rows as a tiny DSv2 metadata table — identical
    * to [[Manifest.history]] (same driver-side metadata walk). */
  private def historyTable(spark: SparkSession, name: String,
      path: String): Table = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("change_type", StringType, nullable = false),
      StructField("files_added", LongType, nullable = false),
      StructField("files_removed", LongType, nullable = false),
      StructField("rows_added", LongType, nullable = false),
      StructField("rows_removed", LongType, nullable = false),
      StructField("data_change", BooleanType, nullable = false),
      StructField("commit_ts", TimestampType, nullable = false)))
    val rows = Manifest.history(spark, path).map { c =>
      new GenericInternalRow(Array[Any](c.version,
        UTF8String.fromString(c.change_type), c.files_added,
        c.files_removed, c.rows_added, c.rows_removed,
        c.data_change, c.commit_ts * 1000L /* millis -> micros */))
        : org.apache.spark.sql.catalyst.InternalRow
    }.toArray
    new MetadataRowsTable(name, schema, rows)
  }

  override def tableExists(ident: Identifier): Boolean =
    Manifest.version(tablePath(ident)) > 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = root.map(r =>
        java.nio.file.Paths.get((r +: namespace.toSeq).mkString("/")))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog '$catalogName' has no root to list"))
    if (!java.nio.file.Files.isDirectory(base)) Array.empty
    else {
      val s = java.nio.file.Files.list(base)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(
          p.resolve("_manifests")))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog is read-only for $op: supported SQL writes " +
        "(INSERT/CTAS/DELETE/UPDATE/MERGE, ALTER TABLE ADD COLUMNS) " +
        "route through the graft.GraftExtensions rules and this " +
        "catalog's governed commit protocol; everything else is " +
        "destructive or un-governed — use Manifest.commit / Merge / " +
        "vacuum from the Scala API")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    readOnly("CREATE TABLE")

  /** Declares [[TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT]] so
    * Spark's native `ALTER TABLE ADD/DROP CONSTRAINT` analysis routes
    * here instead of refusing upstream. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** The ALTERs that map onto the governed contract — each one a
    * METADATA-ONLY commit under the full optimistic protocol;
    * everything else keeps the loud refusal:
    *
    *   - `ADD COLUMNS (c TYPE, …)` — evolving commit (zero data files;
    *     old rows read the new columns as null — the same
    *     append-compatible evolve every commit runs). Columns must be
    *     top-level, nullable (old files cannot backfill a NOT NULL),
    *     default-positioned.
    *   - `ALTER COLUMN c TYPE t` — WIDENING commit riding the
    *     `allowTypeWidening` opt-in: lossless promotions only
    *     (int→bigint, float→double, int→double); anything lossy
    *     refuses loudly from the evolve gate, old files read through
    *     the widened schema with no rewrite.
    *   - `ADD CONSTRAINT n CHECK (expr)` → [[Manifest.addConstraint]]:
    *     existing rows validate first (Spark's own AddCheckConstraint
    *     scan already did exactly that when `validatedTableVersion` is
    *     stamped — then the gate records without a second scan), and
    *     every later commit is gated. Only ENFORCED CHECK constraints:
    *     PK/FK/UNIQUE or NOT ENFORCED would record a promise nothing
    *     enforces.
    *   - `DROP CONSTRAINT [IF EXISTS] n [RESTRICT]` →
    *     [[Manifest.dropConstraint]] (CASCADE refuses — nothing
    *     depends on a CHECK constraint, so accepting it would imply a
    *     dependency graph this catalog does not keep). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val path = tablePath(ident)
    // one resolution serves the statement: schema, constraints, base
    val head = Manifest.at(path)
    require(head.version > 0, s"no committed version at $path")
    val spark = SparkSession.active
    def emptyOf(s: StructType) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    changes.toList match {
      case List(ac: TableChange.AddConstraint) =>
        ac.constraint match {
          case c: org.apache.spark.sql.connector.catalog.constraints
              .Check =>
            if (!c.enforced)
              throw new IllegalArgumentException(
                "graft CHECK constraints are always ENFORCED (every " +
                  "commit validates against them) — NOT ENFORCED " +
                  "would record a promise nothing keeps")
            if (ac.validatedTableVersion != null)
              // Spark's AddCheckConstraint plan already scanned the
              // existing rows; record the gate metadata-only
              Manifest.commit(emptyOf(head.schema), path, meta = Map(
                s"${Manifest.ConstraintPrefix}${c.name}" ->
                  c.predicateSql), base = head)
            else
              Manifest.addConstraint(spark, path, c.name, c.predicateSql)
          case other => readOnly(
            s"ALTER TABLE ADD ${other.getClass.getSimpleName} — only " +
              "ENFORCED CHECK constraints are enforceable by the " +
              "commit gate")
        }
      case List(dc: TableChange.DropConstraint) =>
        if (dc.mode == TableChange.DropConstraint.Mode.CASCADE)
          readOnly("DROP CONSTRAINT CASCADE (no dependency graph to " +
            "cascade through — use plain DROP CONSTRAINT)")
        if (head.constraints.contains(dc.name))
          Manifest.dropConstraint(spark, path, dc.name)
        else if (!dc.ifExists)
          throw new IllegalArgumentException(
            s"no constraint '${dc.name}' at $path")
      case cs if cs.nonEmpty &&
          cs.forall(_.isInstanceOf[TableChange.UpdateColumnType]) =>
        val widened = cs.map(_.asInstanceOf[TableChange.UpdateColumnType])
          .foldLeft(head.schema) { (acc, u) =>
            if (u.fieldNames.length != 1)
              readOnly(s"ALTER nested column " +
                u.fieldNames.mkString("."))
            val name = u.fieldNames.head
            require(acc.fieldNames.exists(_.equalsIgnoreCase(name)),
              s"no column '$name' at $path")
            StructType(acc.fields.map(f =>
              if (f.name.equalsIgnoreCase(name))
                f.copy(dataType = u.newDataType) else f))
          }
        // the evolve gate decides losslessness: a non-widening change
        // refuses loudly from inside the commit, nothing published
        Manifest.commit(emptyOf(widened), path,
          allowTypeWidening = true, base = head)
      case cs if cs.nonEmpty &&
          cs.forall(_.isInstanceOf[TableChange.AddColumn]) =>
        val adds = cs.map {
          case a: TableChange.AddColumn =>
            if (a.fieldNames.length != 1)
              readOnly(s"ALTER TABLE ADD nested column " +
                a.fieldNames.mkString("."))
            if (a.position != null)
              readOnly("ALTER TABLE ADD COLUMN with FIRST/AFTER " +
                "(columns append at the end)")
            if (!a.isNullable)
              throw new IllegalArgumentException(
                "ALTER TABLE ADD COLUMN: new columns must be " +
                  "nullable — existing files cannot backfill a NOT " +
                  "NULL column; add it nullable and enforce with a " +
                  "CHECK constraint on future writes if needed")
            StructField(a.fieldNames.head, a.dataType, nullable = true)
        }
        val s0 = head.schema
        adds.foreach(f => require(
          !s0.fieldNames.exists(_.equalsIgnoreCase(f.name)),
          s"column '${f.name}' already exists"))
        // a metadata-only evolving commit: zero rows, zero data
        // files — the appended columns ride the recorded schema like
        // any evolution
        Manifest.commit(emptyOf(StructType(s0.fields ++ adds)), path,
          base = head)
      case other => readOnly(s"ALTER TABLE (${other.mkString(", ")})")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    readOnly("DROP TABLE")

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")
}
