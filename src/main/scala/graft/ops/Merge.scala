package graft.ops

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Row-level MERGE / DELETE on [[Manifest]] tables as COPY-ON-WRITE file
  * rewrites — the Delta `MERGE INTO` / `DELETE FROM` shape, and the reason
  * table formats track files instead of directories: a row-level change
  * must not rewrite a 100 TB table. Each operation identifies the files
  * that actually CONTAIN affected keys (one semi-join against the source
  * key set — broadcast while it fits, a shuffle semi-join past the size
  * gate, so a CDC backfill degrades instead of crashing the driver),
  * rewrites ONLY those files (carried rows keep their
  * values, matched rows update/drop, source-only rows insert), and
  * publishes atomically through [[Manifest.commit]]'s `removeFiles` mode —
  * the remove/add action pair. Untouched files are carried by REFERENCE:
  * their bytes are never read, moved, or rewritten, which is the entire
  * scale story (rewrite cost ∝ touched files, not table size). Removed
  * files stay on disk, so every earlier version keeps time-traveling, and
  * a merge commit reads as a row-level snapshot diff in
  * [[ChangeFeed.changes]] (insert/delete/update images by key — it IS a
  * row-level change, unlike the flagged-compaction replace).
  *
  * The touched-file list is a driver-side collect of FILE PATHS — the
  * commit-coordinator metadata action every table format performs (Delta's
  * matched-file listing), bounded by the table's file count, never data
  * rows. CHECK constraints in force gate the REWRITTEN rows exactly like
  * any commit: a violating source aborts the merge and publishes nothing.
  */
object Merge {

  /** Earned file accounting of one copy-on-write commit: what the table
    * held, what was rewritten, what was carried untouched (by reference —
    * the scale claim queries surface as flags). `filesCandidates` is the
    * file count the TOUCH-DETECTION scan actually read: when the
    * manifest carries [[Manifest.FileStatsPrefix]] bounds for the merge
    * keys (or the delete's `pruneRange` column), files whose recorded
    * range cannot intersect the source's are excluded from the scan
    * before any byte is read — the Delta data-skipping-in-MERGE shape
    * (equals `filesBefore` when no stats prune). `sourceRows` is the
    * MERGE source's row count (the SQL `num_affected_rows`), taken from
    * the same snapshot the merge actually applied — never a second
    * source execution; -1 for operations without a row-counted source
    * (the plain COW delete path). */
  case class CowStats(version: Long, filesBefore: Int, filesRewritten: Int,
      filesCarried: Int, filesCandidates: Int, sourceRows: Long = -1L)

  /** Above this many distinct source keys the key set is NOT broadcast-
    * hinted: a hint overrides Spark's size threshold, so an unbounded
    * CDC-backfill source would OOM the driver instead of degrading.
    * 4M ~int64-tuple keys is comfortably inside the executor/driver
    * broadcast budget; past it the semi/anti joins fall back to shuffle
    * joins (AQE may still pick broadcast from the measured size). */
  val DefaultBroadcastKeyLimit: Long = 4L * 1000 * 1000

  /** MERGE upsert: rows of `source` whose `keyCols` match an existing row
    * REPLACE it (update); unmatched source rows INSERT. Only files
    * containing a matched key are rewritten; an insert-only merge
    * degenerates to a pure append (zero files rewritten). `source` must
    * carry exactly the table's columns (unionByName — loud on mismatch)
    * and at most one row per key — ENFORCED: a duplicate-key source
    * fails before anything is written (the Delta multiple-match error;
    * two source rows on one key would corrupt last-writer-wins
    * consumers like st29). The check shares one aggregate job with the
    * broadcast sizing: when the source holds at most
    * `broadcastKeyLimit` distinct keys the touch/rewrite joins probe a
    * BROADCAST key set (scan never shuffles); a larger source degrades
    * to shuffle semi/anti joins instead of crashing the driver —
    * MergeSpec proves the two paths produce identical results. */
  def upsert(spark: SparkSession, tablePath: String, source: DataFrame,
      keyCols: Seq[String],
      meta: Map[String, String] = Map.empty,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): CowStats = {
    require(keyCols.nonEmpty, "merge needs key columns")
    // ONE resolution serves the whole statement: candidate files, their
    // stats, the DV'd scans and the commit's conflict base
    val snap = Manifest.at(tablePath)
    // the rewrite commit records key-column stats for ITS fresh files,
    // so rewritten files stay prunable by later merges (a non-numeric
    // key column yields all-null bounds and is dropped)
    val statsCols = keyCols.filterNot(c => c.contains(":") || c.contains("|"))
    // MERGE into a not-yet-existing table creates it (the CREATE OR
    // MERGE shape streaming sinks need for their first micro-batch)
    if (snap.version == 0L) {
      val v = Manifest.commit(source, tablePath, meta = meta,
        statsCols = statsCols, base = snap)
      // the creating commit recorded its files' row counts — the source
      // row count is their sum, pure metadata (no second source pass)
      return CowStats(v, 0, 0, 0, 0,
        sourceRows = Manifest.at(tablePath, v).rowCount.getOrElse(-1L))
    }
    // SNAPSHOT the source before anything reads it: the guard below, the
    // key set, and the rewrite union must all see the SAME rows, or a
    // non-deterministic / concurrently-changing source could pass the
    // duplicate-key check (and the stats bounds) yet merge different
    // rows — the same read-twice race [[Manifest.commit]] closes by
    // validating the written batch. The checkpoint ([[Checkpoints]]:
    // local, or reliable under its configured dir) materializes ONE
    // eager evaluation (bounded: a MERGE source is a CDC batch, not the
    // table) and every later reference replays the stored partitions.
    val src = Checkpoints.checkpoint(source)
    // ONE bounded aggregate over the source keys ([[keyGuard]]) serves
    // all three guards: the duplicate-key precondition check, the
    // broadcast gate, and the file-skipping bounds — a file whose
    // recorded range is disjoint from the source's on ANY key column
    // cannot contain a matched key, so the touch-detection scan skips
    // it from pure manifest metadata.
    val (keyCount, maxPerKey, srcBounds) = keyGuard(src, keyCols)
    require(maxPerKey <= 1L,
      s"MERGE source has duplicate keys on (${keyCols.mkString(", ")}): " +
        s"up to $maxPerKey source rows share one key; a MERGE source " +
        "must carry at most one row per key")
    // the guard proved at most one source row per key (nulls included),
    // so the key projection is already distinct
    val srcKeys = src.select(keyCols.map(col): _*)
    val keys =
      if (keyCount <= broadcastKeyLimit) broadcast(srcKeys) else srcKeys
    cowRewrite(spark, snap,
      touches = _.join(keys, keyCols, "left_semi"),
      rewrite = touched =>
        touched.join(keys, keyCols, "left_anti")
          .unionByName(src),
      meta, srcBounds, statsCols)
      // duplicate-key guard passed ⇒ every key has exactly one source
      // row, so the guard's distinct-key count IS the source row count
      .copy(sourceRows = keyCount)
  }

  /** THE key guard: ONE bounded aggregate over the key tuples of
    * `df` — group by `keyCols`, then (distinct key tuples, max rows per
    * tuple, per-NUMERIC-key-column min/max ulp-widened like the
    * recorded file stats). A null tuple is one group; an all-null or
    * NaN column yields no bound. Each caller reads its own decisions
    * from the one job: a duplicate refusal (max rows > 1), the no-op
    * (0 keys), the broadcast gate (keys vs `broadcastKeyLimit`) and the
    * stats prune ([[Manifest.Snapshot.filesWithin]]). Under ANSI mode
    * (the Spark 4 default) a string key's double cast would THROW, not
    * null out — non-numeric keys (a string/UUID user id, the common
    * GDPR key shape) just don't prune, exactly like the recorded file
    * stats, which exist only for numeric columns. */
  private def keyGuard(df: DataFrame, keyCols: Seq[String])
      : (Long, Long, Map[String, (Double, Double)]) = {
    val num = keyCols.filter(c =>
      df.schema(c).dataType.isInstanceOf[NumericType])
    val g = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("__k"), max(col("__n")).as("__m") +:
        num.flatMap(c => Seq(min(col(c)).cast("double"),
          max(col(c)).cast("double"))): _*).head()
    val bounds = num.zipWithIndex.flatMap { case (c, i) =>
      val (mnI, mxI) = (2 + 2 * i, 3 + 2 * i)
      if (g.isNullAt(mnI) || g.isNullAt(mxI) ||
          g.getDouble(mnI).isNaN || g.getDouble(mxI).isNaN) None
      else Some(c -> (Math.nextDown(g.getDouble(mnI)),
        Math.nextUp(g.getDouble(mxI))))
    }.toMap
    (g.getLong(0), if (g.isNullAt(1)) 0L else g.getLong(1), bounds)
  }

  /** A declared `pruneRange` as stats-prune bounds. */
  private def within(r: Option[(String, Double, Double)])
      : Map[String, (Double, Double)] =
    r.map { case (c, lo, hi) => c -> (lo, hi) }.toMap

  /** Idempotent [[upsert]] for replayable writers (the streaming MERGE
    * sink): the (appId, txnVersion) stamp publishes atomically with the
    * merge version ([[Manifest.lastTxn]]), and a replayed txnVersion
    * merges NOTHING — None. The [[Manifest.commitOnce]] contract applied
    * to the copy-on-write path. */
  def upsertOnce(spark: SparkSession, tablePath: String, source: DataFrame,
      keyCols: Seq[String], appId: String, txnVersion: Long,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit)
      : Option[CowStats] = {
    require(appId.nonEmpty && !appId.contains("=") && !appId.contains("\n"),
      s"invalid txn appId '$appId'")
    if (Manifest.lastTxn(tablePath, appId) >= txnVersion) None
    else Some(upsert(spark, tablePath, source, keyCols,
      meta = Map(s"${Manifest.TxnPrefix}$appId" -> txnVersion.toString),
      broadcastKeyLimit = broadcastKeyLimit))
  }

  /** DELETE FROM ... WHERE `pred`: rows matching `pred` drop; only files
    * CONTAINING a matching row are rewritten (with the survivors of those
    * files), everything else is carried by reference. A predicate that
    * matches nothing publishes nothing (returns the no-op stats with the
    * current version). `pruneRange = Some((column, lo, hi))` declares a
    * numeric range the predicate implies (every matching row has
    * `column` in [lo, hi]): files whose recorded
    * [[Manifest.FileStatsPrefix]] bounds cannot intersect it are skipped
    * from the touch scan via pure manifest metadata — the caller's
    * EXACT predicate still decides every row, the range only bounds. */
  def deleteWhere(spark: SparkSession, tablePath: String, pred: Column,
      meta: Map[String, String] = Map.empty,
      pruneRange: Option[(String, Double, Double)] = None): CowStats = {
    val snap = Manifest.at(tablePath)
    cowRewrite(spark, snap,
      touches = _.filter(pred),
      rewrite = touched => touched.filter(!pred),
      meta, within(pruneRange),
      // survivors keep their range column's stats prunable
      statsCols = pruneRange.map(_._1).toSeq, skipWhenUntouched = true)
  }

  /** Accounting of one merge-on-read DELETE: no data file is read-
    * modified-written — the commit publishes ONLY deletion vectors.
    * `filesBefore` data files, `filesWithDv` now carrying a (possibly
    * grown) DV, `positionsAdded` newly-hidden rows, `filesCandidates`
    * the files the match scan actually read (stats-pruned like the COW
    * paths). */
  case class DvStats(version: Long, filesBefore: Int, filesWithDv: Int,
      positionsAdded: Long, filesCandidates: Int)

  /** The stats of a merge-on-read statement that publishes nothing. */
  private def noop(snap: Manifest.Snapshot): DvStats =
    DvStats(snap.version, snap.files.size, snap.dv.size, 0L, 0)

  /** DELETE FROM ... WHERE `pred` as MERGE-ON-READ (the Delta deletion-
    * vector / Iceberg v2 position-delete shape): instead of rewriting
    * every file that contains a matching row ([[deleteWhere]], the
    * copy-on-write path), publish a DELETION VECTOR — the matching
    * rows' positions per file — and let readers hide them. Write cost
    * is ∝ MATCHED ROWS, not touched-file bytes: the single-key GDPR
    * erasure on a 100 TB table publishes a few positions and zero data
    * files. Reads of DV'd files pay a (size-gated) in-scan position
    * filter until maintenance ([[deleteWhere]]-style rewrites,
    * [[Layout.optimizeWhere]], compaction) materializes the DV away —
    * exactly the COW/MoR trade every lakehouse exposes. Deletes stack:
    * a new DV carries the file's existing positions forward, and
    * already-hidden rows can never re-match (the match scan reads the
    * DV-applied view). Time travel sees each version's exact DV state;
    * [[ChangeFeed.changes]] emits the hidden rows as delete images.
    * `pruneRange` bounds the match scan from file stats exactly like
    * [[deleteWhere]]. A predicate matching nothing publishes nothing. */
  def deleteWhereDv(spark: SparkSession, tablePath: String, pred: Column,
      meta: Map[String, String] = Map.empty,
      pruneRange: Option[(String, Double, Double)] = None): DvStats =
    deleteDv(spark, Manifest.at(tablePath), _.filter(pred), meta,
      within(pruneRange))

  /** Keyed MERGE-ON-READ DELETE — the literal GDPR erasure shape:
    * every row whose `keyCol` appears in `keys` (a DataFrame — the
    * erasure-request set, never collected to the driver) hides behind
    * a deletion vector. The one [[keyGuard]] aggregate over the request
    * set yields the distinct key-tuple count (a null tuple counts as
    * one: the no-op when 0, and the broadcast gate — past
    * `broadcastKeyLimit` the membership semi-join degrades to shuffle
    * instead of flooding the driver, [[DefaultBroadcastKeyLimit]]) and
    * the key bounds (stats-pruning the match scan to candidate files,
    * like [[upsert]]); duplicate request keys are harmless to a
    * membership probe, so they are not refused. Idempotent by MoR
    * construction: a replayed request set finds its rows already
    * hidden, matches nothing, and publishes nothing — which is what
    * makes the streaming erasure sink exactly-once without a txn
    * stamp. */
  def deleteKeysDv(spark: SparkSession, tablePath: String,
      keys: DataFrame, keyCol: String,
      meta: Map[String, String] = Map.empty,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): DvStats =
    deleteKeysDvCols(spark, tablePath, keys, Seq(keyCol), meta,
      broadcastKeyLimit)

  /** COMPOSITE-key twin of [[deleteKeysDv]]: matched rows are those
    * whose whole key TUPLE appears in `keys` (the multi-column GDPR
    * request shape — e.g. (tenant_id, user_id)). Same MoR semantics:
    * positions hide behind deletion vectors, zero files rewritten,
    * idempotent replay. Every NUMERIC key column contributes a
    * min/max range to the structural file pruning (the match scan
    * reads only files whose recorded stats intersect ALL bounds);
    * non-numeric columns simply do not prune. The key-set probe is a
    * left-semi join, broadcast when the distinct tuple count fits
    * `broadcastKeyLimit`. */
  def deleteKeysDvCols(spark: SparkSession, tablePath: String,
      keys: DataFrame, keyCols: Seq[String],
      meta: Map[String, String] = Map.empty,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): DvStats = {
    require(keyCols.nonEmpty, "at least one key column")
    val snap = Manifest.at(tablePath)
    val (n, _, bounds) = keyGuard(keys, keyCols)
    if (n == 0L) return noop(snap)
    val keySet = keys.select(keyCols.map(col): _*).distinct()
    val hinted =
      if (n <= broadcastKeyLimit) broadcast(keySet) else keySet
    deleteDv(spark, snap,
      _.join(hinted, keyCols, "left_semi"), meta, bounds)
  }

  /** A SOURCE column as seen inside [[mergeMatchedDv]]'s set/condition
    * expressions: the matched frame joins the source with its columns
    * renamed `__src_<name>` (keys stay bare for the join), so
    * `srcCol("v")` is "the source's v" and plain `col("v")` is the
    * target row's v — unambiguous even when both sides share names. */
  def srcCol(name: String): Column = col(s"__src_$name")

  /** MERGE … WHEN MATCHED [AND cond] THEN UPDATE SET <partial> /
    * DELETE — the conditional/partial matched-action merge as ONE
    * merge-on-read commit: target rows whose key tuple appears in
    * `source` (and that pass `cond`) hide behind deletion vectors;
    * with `sets` nonempty their updated images (named columns replaced,
    * everything else carried) commit atomically with the DV lines —
    * [[updateWhereDv]]'s shape driven by a KEYED source instead of a
    * predicate. `sets` values and `cond` are expressions over the
    * MATCHED frame: target columns by name, source columns via
    * [[srcCol]]. Empty `sets` = conditional keyed DELETE. The source
    * executes ONCE (an eager checkpoint) and must be key-unique —
    * duplicate key tuples are an ambiguous per-row update and refuse
    * before anything writes, checked in the same [[keyGuard]] job that
    * sizes the broadcast and bounds the prune. Every keyed SQL form
    * (DELETE/UPDATE … WHERE k IN (SELECT …), MERGE … WHEN MATCHED
    * THEN DELETE/UPDATE) lowers here. Numeric key columns bound the
    * structural file pruning exactly like [[deleteKeysDvCols]].
    * Idempotent for
    * DELETE by MoR construction; an UPDATE replay re-matches the
    * updated images only if they still satisfy `cond` (standard MERGE
    * semantics). */
  def mergeMatchedDv(spark: SparkSession, tablePath: String,
      source: DataFrame, keyCols: Seq[String],
      sets: Seq[(String, Column)] = Seq.empty,
      cond: Option[Column] = None,
      meta: Map[String, String] = Map.empty,
      broadcastKeyLimit: Long = DefaultBroadcastKeyLimit): DvStats =
    mergeMatchedDv(spark, Manifest.at(tablePath), source, keyCols, sets,
      cond, meta, broadcastKeyLimit)

  /** [[mergeMatchedDv]] against a snapshot the caller already resolved
    * (the SQL command, which casts SET values onto its schema). */
  private[graft] def mergeMatchedDv(spark: SparkSession,
      snap: Manifest.Snapshot, source: DataFrame, keyCols: Seq[String],
      sets: Seq[(String, Column)], cond: Option[Column],
      meta: Map[String, String], broadcastKeyLimit: Long): DvStats = {
    require(keyCols.nonEmpty, "at least one key column")
    val cols = snap.schema.fieldNames.toSeq
    sets.foreach { case (c, _) =>
      require(cols.contains(c),
        s"SET column '$c' is not a table column (${cols.mkString(", ")})")
      require(!keyCols.contains(c),
        s"SET column '$c' is a merge key — updating the match identity " +
          "is not a keyed update; use updateWhereDv")
    }
    // ONE source execution: the matched set, the images, and any
    // commit-protocol retry all see the same rows
    val src0 = Checkpoints.checkpoint(source)
    keyCols.foreach(k => require(src0.columns.contains(k),
      s"source has no key column '$k'"))
    val (n, maxPerKey, bounds) = keyGuard(src0, keyCols)
    require(maxPerKey <= 1L,
      "merge source has duplicate key tuples — an ambiguous per-row " +
        "update; de-duplicate the source first")
    if (n == 0L) return noop(snap)
    // keys stay bare (the join columns); EVERY source column also
    // rides prefixed, so set/cond expressions can name source keys too
    val renamed = src0.select(
      keyCols.map(col) ++
        src0.columns.toSeq.map(c => col(c).as(s"__src_$c")): _*)
    val hinted =
      if (n <= broadcastKeyLimit) broadcast(renamed) else renamed
    deleteDv(spark, snap,
      m => {
        val joined = m.join(hinted, keyCols)
        cond.map(joined.filter).getOrElse(joined)
      },
      meta, bounds,
      mkImages =
        if (sets.isEmpty) None
        else Some { matched =>
          sets.foldLeft(matched) { case (df, (c, e)) =>
            df.withColumn(c, e) }
            .select(cols.map(col): _*)
        })
  }

  /** Shared MERGE-ON-READ write skeleton: `matches` names the affected
    * rows over the DV-applied candidate scan; their positions publish
    * as per-file deletion vectors, and `mkImages` (None for DELETE,
    * the updated-row builder for UPDATE) supplies replacement rows that
    * commit ATOMICALLY with the DV lines — one version hides the old
    * positions and adds the new images, so a reader can never observe
    * the update half-applied. */
  private def deleteDv(spark: SparkSession, snap: Manifest.Snapshot,
      matches: DataFrame => DataFrame, meta: Map[String, String],
      bounds: Map[String, (Double, Double)],
      mkImages: Option[DataFrame => DataFrame] = None,
      statsCols: Seq[String] = Seq.empty): DvStats = {
    val tablePath = snap.tablePath
    val dvs = snap.dv
    val cand = snap.filesWithin(bounds)
    if (cand.isEmpty) return noop(snap)
    // match against the LIVE view (positions already hidden by an
    // in-force DV are excluded — idempotent re-deletes add nothing),
    // with the scan built from candidate paths (structural stats prune)
    val matchedRows =
      matches(snap.applyDv(spark, snap.scan(spark, cand), keepPos = true))
    val matched = matchedRows
      .select(col("__dv_f").as("file"), col("__dv_p").as("pos"))
    // per-file match counts: the commit-coordinator metadata action,
    // bounded by the candidate FILE count (rows stay executor-side)
    val perFile = matched.groupBy(col("file"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (perFile.isEmpty) return noop(snap)
    // claim a fresh DV directory atomically (the batch-dir discipline:
    // a crashed delete's orphan dir is unreferenced debris vacuum
    // sweeps, never a correctness hazard)
    val dvDir = Manifest.claimDir(Paths.get(tablePath, "dv"), "d",
      snap.version + 1)
    // the new DV for each touched file = its fresh matches plus its
    // existing positions carried forward (supersede-by-containment:
    // stale rows in older shared dirs stay harmless subsets)
    val carried = dvs.filter { case (f, _) => perFile.contains(f) }
    val allPos =
      if (carried.isEmpty) matched
      else matched.unionByName(
        Manifest.dvPositions(spark, tablePath, carried))
    allPos.select(Manifest.DvSchema.map(f =>
        col(f.name).cast(f.dataType)): _*)
      .coalesce(1).write.mode("append").parquet(dvDir.toString)
    val dvRel = Paths.get(tablePath).relativize(dvDir).toString
    val dvLines = perFile.map { case (f, n) =>
      s"${Manifest.DvPrefix}$f" ->
        s"$dvRel:${n + dvs.get(f).map(_._2).getOrElse(0L)}"
    }
    // The publish: DELETE commits an empty payload (metadata-only —
    // the earned MoR flag); UPDATE commits the updated images, atomic
    // with the DV lines. The optype stamp keeps the audit surface
    // truthful: a DV commit's file diff is indistinguishable from a
    // (possibly empty) append, so without it [[Manifest.history]]
    // would read a GDPR erasure as "append, +0 files" — the one thing
    // a compliance review must not see.
    val payload = mkImages match {
      case Some(images) => images(matchedRows)
      case None => snap.scan(spark, Nil)
    }
    val op = if (mkImages.isDefined) "update" else "delete"
    val v = Manifest.commit(payload, tablePath,
      meta = meta ++ dvLines + (Manifest.OpTypeKey -> op),
      statsCols = statsCols,
      // positions were resolved against snap: a rewrite of a touched
      // file landing before this publish must conflict, not strand the
      // positions on a dead file
      base = snap)
    DvStats(v, snap.files.size,
      (dvs.keySet ++ perFile.keySet).size,
      perFile.values.sum, cand.size)
  }

  /** UPDATE ... SET as MERGE-ON-READ (the Delta DV-update shape):
    * matched rows' positions hide behind a deletion vector while their
    * UPDATED images append as fresh files — ONE atomic commit, so a
    * reader sees either the old rows or the new ones, never both and
    * never neither. Write cost ∝ MATCHED ROWS (old files are neither
    * read-modified-written nor rewritten — the copy-on-write
    * alternative pays whole-file rewrites for a one-column touch-up).
    * `sets` are (column → new-value expression) pairs evaluated over
    * the matched rows; every other column carries its value. The
    * updated images pass the table's CHECK constraints like any commit
    * (a violating update aborts with nothing published), re-record
    * `statsCols` stats so they stay prunable, and read back through
    * the normal MoR read. In the change feed the step emits the old
    * rows as `delete` images (the DV delta) and the new rows as
    * `insert`s — the net row-level truth of an update without
    * write-time change recording. `pruneRange` bounds the match scan
    * exactly like [[deleteWhere]]. A predicate matching nothing
    * publishes nothing. */
  def updateWhereDv(spark: SparkSession, tablePath: String, pred: Column,
      sets: Seq[(String, Column)],
      meta: Map[String, String] = Map.empty,
      pruneRange: Option[(String, Double, Double)] = None,
      statsCols: Seq[String] = Seq.empty): DvStats =
    updateWhereDv(spark, Manifest.at(tablePath), pred, sets, meta,
      pruneRange, statsCols)

  /** [[updateWhereDv]] against a snapshot the caller already resolved
    * (the SQL command, which casts SET values onto its schema). */
  private[graft] def updateWhereDv(spark: SparkSession,
      snap: Manifest.Snapshot, pred: Column, sets: Seq[(String, Column)],
      meta: Map[String, String],
      pruneRange: Option[(String, Double, Double)],
      statsCols: Seq[String]): DvStats = {
    require(sets.nonEmpty, "UPDATE needs at least one SET column")
    val cols = snap.schema.fieldNames.toSeq
    sets.foreach { case (c, _) => require(cols.contains(c),
      s"SET column '$c' is not a table column (${cols.mkString(", ")})") }
    deleteDv(spark, snap, _.filter(pred), meta, within(pruneRange),
      mkImages = Some { matched =>
        val updated = sets.foldLeft(matched) { case (df, (c, e)) =>
          df.withColumn(c, e) }
        updated.select(cols.map(col): _*) // helper cols off, order kept
      },
      statsCols = statsCols)
  }

  /** The shared copy-on-write skeleton: locate the files of `snap`
    * that `touches` hits (scanning only the stats-pruned candidates of
    * `bounds`), re-emit them through `rewrite`, publish through
    * [[rewriteFiles]]. */
  private def cowRewrite(spark: SparkSession, snap: Manifest.Snapshot,
      touches: DataFrame => DataFrame, rewrite: DataFrame => DataFrame,
      meta: Map[String, String], bounds: Map[String, (Double, Double)],
      statsCols: Seq[String],
      skipWhenUntouched: Boolean = false): CowStats = {
    val before = snap.files
    val cand = snap.filesWithin(bounds)
    // The touch scan reads ONLY the candidate files — built from their
    // explicit paths, so the stats prune is structural (a skipped
    // file's bytes cannot be read), not a filter Spark may or may not
    // push. A file outside the candidate set provably holds no match.
    // The scan is the DV-APPLIED view: a position a deletion vector
    // hides cannot count as a match.
    // Driver-side FILE-KEY listing ([[Manifest.relPathCol]]) — the
    // commit coordinator's matched-file metadata action (bounded by the
    // table's file count, no data rows cross the driver); the data
    // itself moves executor-side in the rewrite.
    val touched =
      if (cand.isEmpty) Seq.empty[String] // no candidate can match
      else touches(snap.applyDv(spark, snap.scan(spark, cand)
          .withColumn("__f", Manifest.relPathCol)))
        .select(col("__f")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    if (touched.isEmpty && skipWhenUntouched)
      return CowStats(snap.version, before.size, 0, before.size, cand.size)
    val v = rewriteFiles(spark, snap, touched, statsCols, meta)(rewrite)
    CowStats(v, before.size, touched.size,
      before.size - touched.size, cand.size)
  }

  /** THE copy-on-write publish: `targets` of `snap` read DV-APPLIED,
    * reshaped by `shape`, committed with `removeFiles = targets` on
    * `snap` as the conflict base. The DV-applied read is what makes a
    * rewrite sound — the commit drops the removed files' DV mappings,
    * so a raw read would resurrect deleted rows — and the base makes a
    * DV or rewrite that lands on a target before this publish conflict
    * instead of being silently absorbed or lost. [[cowRewrite]] and
    * the [[Layout]] compactions publish here. */
  private[ops] def rewriteFiles(spark: SparkSession,
      snap: Manifest.Snapshot, targets: Seq[String],
      statsCols: Seq[String], meta: Map[String, String])(
      shape: DataFrame => DataFrame): Long =
    Manifest.commit(shape(snap.applyDv(spark, snap.scan(spark, targets))),
      snap.tablePath, meta = meta, removeFiles = targets,
      statsCols = statsCols, base = snap)
}
