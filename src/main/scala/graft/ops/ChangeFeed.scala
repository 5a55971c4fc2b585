package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CHANGE DATA FEED over [[Manifest]] tables — the row-level twin of
  * [[Materialize]]'s file-level incrementality, and the contract every
  * table format exposes for downstream consumers (Delta CDF / Iceberg
  * changelog shape): "give me what changed between version v0 and v1"
  * as tagged row images, so a downstream table can stay in sync at a
  * cost proportional to the CHANGES, not the snapshot.
  *
  * Two regimes, picked per version step from the manifest file lists
  * alone (driver-side metadata, no data read):
  *
  *  - APPEND commit (previous file list ⊆ current): the feed is exactly
  *    the added files read as `insert` rows — scan ∝ arrivals, no join,
  *    no key required. At 100 TB this is the hot path: ingest commits
  *    are appends, and their CDC is free.
  *  - REPLACE commit (lineage severed): the general row-level diff of
  *    the two snapshots by primary key — one full-outer shuffle join
  *    ([[snapshotDiff]]). That is the unavoidable price of snapshot-diff
  *    CDC without write-time change recording; the payoff is that a
  *    pure compaction (same rows, new layout — [[Layout.zOrderWrite]] /
  *    s17) diffs to an EMPTY feed, which is semantically exactly right:
  *    OPTIMIZE changes no data, so consumers see nothing.
  *
  * Change types follow the Delta CDF vocabulary: `insert`, `delete`,
  * `update_preimage`, `update_postimage` (an updated key emits both
  * images). Unchanged rows emit nothing.
  */
object ChangeFeed {

  /** Commit-metadata key a writer sets to `"false"` on a LAYOUT-ONLY
    * replace (compaction / re-clustering: same rows, new files) — the
    * Delta `dataChange=false` contract. Flagged commits are skipped by
    * [[changes]] and [[syncReplica]] without reading any data; an
    * UNFLAGGED replace still self-identifies as a no-op through the
    * snapshot diff, just at the price of the join. */
  val DataChangeKey = "data_change"

  /** Change-type tag column added to every feed row. */
  val TypeCol = "_change_type"

  /** Committed version a feed row belongs to. */
  val VersionCol = "_commit_version"

  /** Row-level diff of two same-schema snapshots by primary key —
    * ONE full-outer join on `keyCols` (null-safe), one pass, codegen:
    * key only in `nu` → `insert` (new image); key only in `old` →
    * `delete` (old image); key in both with any non-key column
    * differing (null-safe compare) → `update_preimage` (old image) +
    * `update_postimage` (new image); identical rows emit nothing.
    * Returns ([[TypeCol]], table columns…). */
  def snapshotDiff(old: DataFrame, nu: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    val cols = nu.columns.toSeq
    require(old.columns.sorted.toSeq == cols.sorted,
      s"snapshot schemas differ: [${old.columns.sorted.mkString(",")}] " +
        s"vs [${cols.sorted.mkString(",")}]")
    keyCols.foreach(k => require(cols.contains(k), s"missing key col $k"))
    val dataCols = cols.filterNot(keyCols.contains)
    val o = old.select(cols.map(col): _*)
      .withColumn("_o_present", lit(true)).alias("o")
    val n = nu.withColumn("_n_present", lit(true)).alias("n")
    val onKeys = keyCols.map(k => col(s"o.$k") <=> col(s"n.$k"))
      .reduce(_ && _)
    val oldP = col("o._o_present").isNotNull
    val newP = col("n._n_present").isNotNull
    val changed = dataCols.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .foldLeft(lit(false))(_ || _)
    val oRow = struct(cols.map(c => col(s"o.$c").as(c)): _*)
    val nRow = struct(cols.map(c => col(s"n.$c").as(c)): _*)
    def tag(t: String, row: Column): Column =
      struct(lit(t).as(TypeCol), row.as("row"))
    // when-chain with no otherwise: identical rows fall through to NULL,
    // and explode(NULL) emits zero rows — the unchanged case costs nothing
    // downstream of the join.
    o.join(n, onKeys, "full_outer")
      .select(explode(
        when(!oldP, array(tag("insert", nRow)))
          .when(!newP, array(tag("delete", oRow)))
          .when(changed, array(tag("update_preimage", oRow),
            tag("update_postimage", nRow)))).as("c"))
      .select((col(s"c.$TypeCol") +: cols.map(c => col(s"c.row.$c"))): _*)
  }

  /** The change feed of `tablePath` for versions (`sinceVersion`,
    * `toVersion`] (newest when omitted): one tagged frame
    * ([[VersionCol]], [[TypeCol]], table columns…). Append steps read
    * only their added files and need no key; a replace step requires
    * `keyCols` for the row-level diff and fails loudly without them.
    *
    * Schema-evolution safe: each append step reads its files under the
    * schema its version RECORDED (so a step predating an appended column
    * never mis-infers from footers), and steps combine with null padding
    * — a feed range spanning an s23-style evolution commit emits change
    * rows in the FINAL version's column set, with columns a step's
    * schema lacked read as null (exactly how [[Manifest.read]] shows
    * those rows at the newest version). A replace step whose diff
    * would span a TYPE change still fails loudly inside
    * [[snapshotDiff]] — that rewrite severed row identity, so row-level
    * CDC across it is not well-defined. */
  def changes(spark: SparkSession, tablePath: String, sinceVersion: Long,
      toVersion: Long = -1L, keyCols: Seq[String] = Seq.empty): DataFrame = {
    val v1 = if (toVersion >= 0) toVersion else Manifest.version(tablePath)
    require(sinceVersion >= 0 && sinceVersion < v1,
      s"need 0 <= since < to; got since=$sinceVersion to=$v1 at $tablePath")
    // INCREMENTAL WALK over the delta log: ONE snapshot resolution at
    // the range start, then one small delta manifest per version —
    // metadata cost ∝ changes, never ∝ versions × table file count
    var running = Manifest.at(tablePath, sinceVersion)
    val steps = ((sinceVersion + 1) to v1).flatMap { v =>
      val d = Manifest.delta(tablePath, v)
      val prevSnap = running
      running = Manifest.applySnapDelta(prevSnap, d)
      val prev = prevSnap.files.toSet
      val layoutOnly = d.meta.get(DataChangeKey).contains("false")
      val feed =
        if (layoutOnly) None // writer-flagged compaction: no changes
        else if (prev.subsetOf(running.files.toSet)) {
          // append: feed = added files
          val added = running.files.filterNot(prev.contains)
          val inserts =
            if (added.isEmpty) None
            else Some(running.scan(spark, added)
              .withColumn(TypeCol, lit("insert")))
          val deletes = dvDeltaImages(spark, prevSnap, running)
          (inserts, deletes) match {
            case (Some(i), Some(de)) => Some(i.unionByName(de))
            case (i, de) => i.orElse(de)
          }
        } else { // replace: row-level snapshot diff
          require(keyCols.nonEmpty, s"version $v of $tablePath is a " +
            "replace commit — row-level CDC needs keyCols")
          Some(snapshotDiff(prevSnap.read(spark), running.read(spark),
            keyCols))
        }
      feed.map(_.withColumn(VersionCol, lit(v)))
    }
    // a range holding only flagged compactions / empty appends is a
    // legitimate EMPTY feed, not an error. allowMissingColumns pads a
    // pre-evolution step's absent columns with nulls instead of throwing.
    val f = steps
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(
        running.read(spark).limit(0)
          .withColumn(TypeCol, lit("insert"))
          .withColumn(VersionCol, lit(v1)))
    f.select((col(VersionCol) +: col(TypeCol) +:
      f.columns.filterNot(Set(VersionCol, TypeCol)).map(col).toSeq): _*)
  }

  /** Rows version `cur` hid behind DELETION-VECTOR growth over `prev`,
    * tagged [[TypeCol]] = `delete` — a merge-on-read DELETE changes no
    * files, so its change IS the DV delta: positions this version hides
    * that the previous one did not are exactly the deleted rows (a new
    * DV always CONTAINS the old positions, so the delta is a per-file
    * anti-join of current minus previous). None when no DV grew — the
    * overwhelmingly common case, decided from manifest metadata alone.
    * Shared by [[changes]] and [[syncReplica]], so every feed consumer
    * sees MoR deletes (the r13 gap: syncReplica's append branch used to
    * drop them silently — permanent replica divergence for exactly the
    * GDPR-erasure commits that must propagate). */
  private def dvDeltaImages(spark: SparkSession, prev: Manifest.Snapshot,
      cur: Manifest.Snapshot): Option[DataFrame] = {
    val (tablePath, dvPrev) = (cur.tablePath, prev.dv)
    val grown = cur.dv.filter { case (f, m) => !dvPrev.get(f).contains(m) }
    if (grown.isEmpty) None
    else {
      val newPos = {
        val cu = Manifest.dvPositions(spark, tablePath, grown)
          .select(col("file").as("__dv_f"), col("pos").as("__dv_p"))
        val pv = dvPrev.filter { case (f, _) => grown.contains(f) }
        if (pv.isEmpty) cu
        else cu.join(
          Manifest.dvPositions(spark, tablePath, pv)
            .select(col("file").as("__dv_f"), col("pos").as("__dv_p")),
          Seq("__dv_f", "__dv_p"), "left_anti")
      }
      // this step's delete volume, free from the mappings — the same
      // size gate as the read-side DV filter
      val delta = grown.map { case (f, (_, n)) =>
        n - dvPrev.get(f).map(_._2).getOrElse(0L) }.sum
      val hinted =
        if (delta <= Manifest.DvBroadcastLimit) broadcast(newPos)
        else newPos
      Some(Manifest.withPos(cur.scan(spark, grown.keys.toSeq.sorted))
        .join(hinted, Seq("__dv_f", "__dv_p"), "left_semi")
        .drop("__dv_f", "__dv_p")
        .withColumn(TypeCol, lit("delete")))
    }
  }

  /** Source version the newest replica commit has applied through;
    * 0 when the replica has never been synced. */
  def replicaSourceVersion(replicaPath: String): Long =
    Manifest.at(replicaPath).meta.getOrElse("source_version", "0").toLong

  /** Keep a DERIVED downstream table in sync with a source [[Manifest]]
    * table by applying its change feed — the production shape for
    * "maintain `clicks_only` next to `events` at 100 TB": each source
    * append applies as an append of `transform`(added rows) (scan ∝
    * arrivals, no join); a source step that grew DELETION VECTORS (a
    * merge-on-read DELETE — file list unchanged) applies its delete
    * images as a keyed anti-join replace, so GDPR erasures propagate
    * to replicas; a source replace applies as one key-based
    * merge (anti-join out deleted/updated keys, union in transformed
    * inserts/postimages) — unless the replace diffs to an EMPTY feed
    * (a pure compaction), which advances the watermark with a
    * zero-row append so routine upstream OPTIMIZE never rewrites the
    * replica. `transform` must be ROW-WISE (filter /
    * project) and must retain `keyCols`, so it commutes with the
    * key-based merge. One replica commit per source version, with the
    * applied source version as commit metadata — the same atomic
    * watermark contract as [[Materialize.refresh]], so an interrupted
    * sync resumes at the exact version it reached, never half- or
    * double-applying a step. Returns (replica version, steps applied);
    * idle sync is a no-op returning 0 steps. */
  def syncReplica(spark: SparkSession, sourcePath: String,
      replicaPath: String, keyCols: Seq[String],
      transform: DataFrame => DataFrame = identity): (Long, Int) = {
    val v0 = replicaSourceVersion(replicaPath)
    val v1 = Manifest.version(sourcePath)
    require(v1 > 0, s"no committed version at $sourcePath")
    var applied = 0
    // same incremental delta walk as [[changes]]: one snapshot at the
    // watermark, one small manifest read per source version
    var running = Manifest.at(sourcePath, v0)
    for (v <- (v0 + 1) to v1) {
      val d = Manifest.delta(sourcePath, v)
      val prevSnap = running
      running = Manifest.applySnapDelta(prevSnap, d)
      val prev = prevSnap.files.toSet
      val cur = running.files
      val meta = Map("source_version" -> v.toString)
      val layoutOnly = d.meta.get(DataChangeKey).contains("false")
      if (layoutOnly) {
        // writer-flagged compaction: trust the flag — advance the
        // watermark with a zero-row append; no diff, no row data read
        Manifest.commit(transform(running.read(spark)).limit(0),
          replicaPath, meta = meta)
      } else if (prev.subsetOf(cur.toSet)) {
        val added = cur.filterNot(prev.contains)
        // added files under the version's RECORDED schema, so a sync
        // spanning an s23-style evolution commit sees the appended
        // columns (and pre-evolution ancestors as null) instead of
        // mis-inferring from footers; the replica commit then evolves its
        // own schema append-compatibly through Manifest.commit.
        val ins = transform(running.scan(spark, added))
        dvDeltaImages(spark, prevSnap, running) match {
          case None => Manifest.commit(ins, replicaPath, meta = meta)
          case Some(images) =>
            // a merge-on-read DELETE hid rows without changing any file
            // (the GDPR-erasure commit shape) — the step is a keyed
            // delete, applied exactly like a replace step's delete
            // images: anti-join the deleted keys out of the replica,
            // union in whatever the step also appended. Dropping it
            // (the pre-r14 behavior) diverged the replica FOREVER: the
            // eventual DV-absorbing rewrite diffs two already-applied
            // snapshots to an empty feed, so the erased rows would
            // never leave. keyCols are required here for the same
            // reason a replace step requires them.
            require(keyCols.nonEmpty, s"version $v of $sourcePath grew " +
              "deletion vectors (a merge-on-read DELETE) — applying it " +
              "to the replica needs keyCols")
            val delKeys = images.select(keyCols.map(col): _*).distinct()
            val replica = Manifest.at(replicaPath)
            val kept = replica.read(spark)
              .join(delKeys, keyCols, "left_anti")
            Manifest.commit(
              kept.unionByName(ins, allowMissingColumns = true),
              replicaPath, replace = true, meta = meta, base = replica)
        }
      } else {
        val feed = snapshotDiff(prevSnap.read(spark), running.read(spark),
          keyCols).persist()
        try {
          if (feed.isEmpty) {
            // pure compaction upstream (OPTIMIZE: same rows, new
            // layout) — the routine replace at 100 TB. Nothing
            // changed, so advance the watermark with a zero-row
            // APPEND, leaving the replica's files untouched instead
            // of rewriting the whole replica.
            Manifest.commit(transform(running.read(spark)).limit(0),
              replicaPath, meta = meta)
          } else {
            val removed = feed
              .where(col(TypeCol).isin("delete", "update_preimage"))
              .select(keyCols.map(col): _*)
            val upserts = transform(feed
              .where(col(TypeCol).isin("insert", "update_postimage"))
              .drop(TypeCol))
            val replica = Manifest.at(replicaPath)
            val kept = replica.read(spark)
              .join(removed, keyCols, "left_anti")
            Manifest.commit(
              kept.unionByName(upserts, allowMissingColumns = true),
              replicaPath, replace = true, meta = meta, base = replica)
          }
        } finally { feed.unpersist(); () }
      }
      applied += 1
    }
    (Manifest.version(replicaPath), applied)
  }
}
