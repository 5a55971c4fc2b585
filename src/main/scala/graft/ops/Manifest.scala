package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Minimal versioned-table commits — the lakehouse primitive (the
  * Delta/Iceberg shape) that belongs under every incremental structure this
  * library maintains (the d12 dedup index, the x9 IVF index, the j8
  * dimension): data files are immutable parquet, a tiny per-version
  * manifest records the DELTA ACTIONS of its commit (files added, files
  * removed, deletion-vector mappings set — the Delta-log shape), a
  * periodic checkpoint pins the resolved state so reads stay bounded,
  * and the newest version's resolved state is the current table. A pure
  * append's commit metadata is O(files added) at ANY table size — the
  * property that keeps per-micro-batch streaming commits viable on a
  * 10⁶-file table.
  *
  * The isolation argument is structural, not locked: a commit first writes
  * its data files into a freshly CLAIMED subdirectory nobody references
  * (an atomic createDirectory — two writers can never share a batch dir),
  * then publishes the next manifest via an atomic-exclusive hard link —
  * so a reader that resolved version N keeps reading N's exact file list
  * forever (immutability = time travel for free), no reader can observe a
  * half-written version (the manifest appears only after its files are
  * complete), and a writer losing the version race either REBASES (pure
  * appends: disjoint fresh files re-publish onto the new head — the
  * Delta/Iceberg optimistic-commit retry) or fails loudly
  * (replace/copy-on-write/constraint commits, whose correctness was
  * resolved against a now-stale base). Manifest I/O is driver-side
  * METADATA work — a few KB per commit, the same coordinator role every
  * table format gives the commit path — while all DATA moves through
  * executors untouched.
  *
  * `replace = true` publishes a manifest listing ONLY the new files — the
  * compaction/OPTIMIZE commit (e.g. re-clustering via
  * [[Layout.zOrderWrite]]): the table's content is rewritten, yet every
  * pre-compaction version stays readable because the old files are never
  * deleted (vacuuming is a separate, explicitly destructive step this
  * minimal core omits).
  */
object Manifest {

  private def manifestDir(tablePath: String): Path =
    Paths.get(tablePath, "_manifests")

  private def manifestFile(tablePath: String, v: Long): Path =
    manifestDir(tablePath).resolve(f"v$v%06d.txt")

  private def ls(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.toString).toSeq finally s.close()
  }

  /** Recursive delete (deepest-first), tolerating concurrently-vanishing
    * entries — the shape debris takes after a crash mid-`df.write` is a
    * NESTED `_temporary/` task tree, which a flat list+delete cannot
    * reclaim. */
  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  /** THE atomic-exclusive file write — every manifest, checkpoint, WAP
    * stage, branch and tag file lands through it (only the advisory
    * `_head`/`_gapceil` hints are replaced in place instead, see
    * [[writeLongFile]]): `body` goes to a writer-unique tmp
    * file in `target`'s directory (concurrent writers of one target never
    * share a staging file), which is hard-linked into place — link()
    * appears fully formed or not at all and, unlike rename(), fails with
    * EEXIST when the target exists, so a racing writer can never
    * silently replace the winner. The tmp is always deleted. False when
    * `target` already exists. */
  private def linkNew(target: Path, body: Seq[String]): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent,
      s".${target.getFileName}-", ".tmp")
    try {
      Files.write(tmp, body.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** CLAIM a fresh `<prefix>NNNNNN` directory under `root` atomically,
    * numbering upward from `from` (createDirectory fails on EEXIST, so
    * two writers never share one): a dir left by a CRASHED writer is
    * simply skipped — never reclaimed, so a claim can never destroy a
    * concurrent writer's in-flight data — and a later vacuum sweeps it
    * (it is unreferenced by construction). Claimed numbers are storage
    * addresses, not version numbers. */
  private[ops] def claimDir(root: Path, prefix: String, from: Long): Path = {
    Files.createDirectories(root)
    @annotation.tailrec def claim(n: Long): Path = {
      val cand = root.resolve(f"$prefix$n%06d")
      val won = try { Files.createDirectory(cand); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (won) cand else claim(n + 1)
    }
    claim(from)
  }

  /** Test seam: invoked immediately before each manifest-publish attempt
    * (ManifestSpec injects a competing commit here to exercise the
    * optimistic-rebase path deterministically). No-op in production. */
  private[ops] var beforePublish: () => Unit = () => ()

  /** Test seam: invoked with the manifest directory whenever head/
    * version resolution falls back to LISTING it (ManifestSpec asserts
    * the hinted steady state never lists — at 100 TB with long
    * retention, the listing is the dominant metadata term). No-op in
    * production. */
  private[ops] var onDirList: Path => Unit = _ => ()

  private[graft] def committedVersions(tablePath: String): Seq[Long] = {
    val dir = manifestDir(tablePath)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      onDirList(dir)
      ls(dir)
        .map(p => Paths.get(p).getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".txt") =>
          s.stripPrefix("v").stripSuffix(".txt").toLong }
        .sorted
    }
  }

  // ——— HEAD HINT (the Delta `_last_checkpoint` idea, applied to head
  // discovery): every publish best-effort records its version in
  // `_manifests/_head`, so the steady-state `version()` is O(1) tiny
  // reads + a short forward existence-probe instead of LISTING the
  // manifest directory (O(retained history) names — at long retention
  // the dominant planning term). SOUNDNESS: versions are allocated
  // contiguously upward (every publish claims head+1), so existence
  // above any version is contiguous UNLESS vacuum dropped versions —
  // and vacuum records `_gapceil` (= the newest version at vacuum
  // start, strictly above every version it drops) BEFORE dropping
  // anything. A hint at or above the gap ceiling therefore has no
  // vacuum gap above it, and the forward probe provably finds the true
  // head; a hint below it (a crashed/slow writer's stale value) falls
  // back to the listing. Both files are advisory accelerators: garbage,
  // absence, or a failed write only cost the fallback listing, never
  // correctness. Concurrent VACUUMS are outside the contract (vacuum
  // already documents single-maintenance operation) — two racing
  // gap-ceiling writers could regress the ceiling. ———

  private def headHintFile(tablePath: String): Path =
    manifestDir(tablePath).resolve("_head")

  private def gapCeilFile(tablePath: String): Path =
    manifestDir(tablePath).resolve("_gapceil")

  private def readLongFile(p: Path): Option[Long] =
    if (!Files.exists(p)) None
    else scala.util.Try(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8).trim.toLong).toOption

  private def writeLongFile(p: Path, v: Long): Unit = {
    val tmp = Files.createTempFile(p.getParent,
      s".${p.getFileName}-", ".tmp")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    finally Files.deleteIfExists(tmp)
  }

  /** Best-effort monotone-max write of a tiny advisory long file
    * (atomic replace; failures are swallowed — the value is an
    * accelerator, the listing fallback owns correctness). */
  private def advisoryMax(p: Path, v: Long): Unit = scala.util.Try {
    if (readLongFile(p).forall(_ < v)) writeLongFile(p, v)
  }

  private[ops] def writeHeadHint(tablePath: String, v: Long): Unit =
    advisoryMax(headHintFile(tablePath), v)

  /** Head via the hint when sound (see the block comment above):
    * hint exists, its manifest exists, and it sits at or above the
    * vacuum gap ceiling — then forward-probe to the true head. None
    * means "fall back to the listing". */
  private def headByHint(tablePath: String): Option[Long] =
    readLongFile(headHintFile(tablePath)).flatMap { h =>
      if (h < readLongFile(gapCeilFile(tablePath)).getOrElse(0L)) None
      else if (!Files.exists(manifestFile(tablePath, h))) None
      else {
        var v = h
        while (Files.exists(manifestFile(tablePath, v + 1))) v += 1
        Some(v)
      }
    }

  /** Newest committed version, 0 when the table does not exist yet.
    * Steady state is hint-served — O(1) metadata I/O with NO directory
    * listing; tables without a (sound) hint pay one listing and then
    * SELF-HEAL: the fallback force-repairs the hint to the listed head
    * (monotone-max can't — a too-large garbage value wins every max),
    * so a corrupted hint costs exactly one listing, not one per read.
    * A publish racing the repair can only make the repaired value LAG
    * the true head, which the forward probe absorbs. */
  def version(tablePath: String): Long =
    headByHint(tablePath).getOrElse {
      val vs = committedVersions(tablePath)
      val head = if (vs.isEmpty) 0L else vs.max
      if (head > 0L)
        scala.util.Try(writeLongFile(headHintFile(tablePath), head))
      head
    }

  /** Test seam: invoked with the path of every manifest/checkpoint file
    * read (ManifestSpec counts reads to PROVE metadata resolution is
    * bounded — the O(checkpoint + ≤interval deltas) contract). No-op in
    * production. */
  private[ops] var onMetaRead: Path => Unit = _ => ()

  /** STRUCTURED meta prefixes must parse, or they must not publish:
    * the [[Snapshot]] fold runs `toLong`/spec parsing on every resolution,
    * so one commit carrying a malformed `txn.*`/`filerows.*`/
    * `filebytes.*`/`dv.*`/`filestats.*` value would brick every later
    * read of the table. Validated at the one write gate, [[checkMeta]]
    * — loud before anything publishes. */
  private def validateStructuredMeta(meta: Map[String, String]): Unit =
    meta.foreach { case (k, v) =>
      // validate by ACTUAL parse: a digit/length scan admits 19-digit
      // values above Long.MaxValue ('9999999999999999999'), which pass
      // the gate yet make every later Snapshot-fold `toLong` throw — the
      // exact bricked resolution this gate exists to prevent. Digits-only
      // additionally rejects sign forms ('+5', '-1'): txn versions share
      // the policy because lastTxn's never-wrote sentinel is -1, so a
      // recorded negative stamp would be indistinguishable from "never
      // wrote" (and '+n' would parse but re-serialize differently).
      def num(what: String): Unit = require(
        v.nonEmpty && v.forall(_.isDigit) &&
          scala.util.Try(v.toLong).isSuccess,
        s"'$k' must carry a non-negative integer $what within Long " +
          s"range, got '$v' — a malformed structured value would break " +
          "every later snapshot resolution")
      if (k.startsWith(TxnPrefix)) num("transaction version")
      else if (k.startsWith(FileRowsPrefix)) num("row count")
      else if (k.startsWith(FileBytesPrefix)) num("byte size")
      else if (k.startsWith(DvPrefix)) {
        val i = v.lastIndexOf(':')
        require(i > 0 && i < v.length - 1 &&
          scala.util.Try(v.substring(i + 1).toLong).isSuccess,
          s"'$k' must carry '<dvDirRel>:<positions>', got '$v'")
      }
      else if (k.startsWith(FileStatsPrefix))
        require(scala.util.Try(parseStatsSpec(v)).isSuccess,
          s"'$k' must carry 'col:min:max|…', got '$v'")
    }

  /** THE write gate for caller meta — every path that publishes a
    * caller's `meta` ([[commit]], [[stageCommit]], [[commitBranch]],
    * [[restore]]) passes it here first: the reserved keys each publish
    * writes itself, keys that would break the `#key=value` line shape,
    * values spanning lines (a '\n' would inject arbitrary manifest
    * lines — forged txn./dv./constraint entries, bogus file paths), and
    * malformed structured values ([[validateStructuredMeta]]). */
  private def checkMeta(meta: Map[String, String]): Unit = {
    Seq(SchemaKey, CommitTsKey, ReplaceKey, LogFormatKey, FeaturesKey,
      MaxTsKey).foreach(k => require(!meta.contains(k), s"'$k' is reserved"))
    meta.keys.foreach(k => require(!k.contains("=") && !k.contains("\n"),
      s"invalid meta key '$k'"))
    meta.values.foreach(v => require(!v.contains("\n"),
      s"meta value may not span lines: '$v'"))
    validateStructuredMeta(meta)
  }

  /** Parse one recorded `col:min:max|…` per-file stats spec — the ONE
    * owner of the format ([[Snapshot.fileStats]] and [[readPruned]] both
    * consume it). */
  private def parseStatsSpec(spec: String)
      : Map[String, (Double, Double)] =
    spec.split('|').map { part =>
      val Array(c, lo, hi) = part.split(':')
      c -> (lo.toDouble, hi.toDouble)
    }.toMap

  /** A decoded manifest-format file (version, checkpoint, WAP stage or
    * branch commit): `#key=value` meta, `-path` removals, add lines. */
  private final case class ManifestLines(meta: Map[String, String],
      removed: Vector[String], added: Vector[String])

  /** THE manifest-line decoder: one read of `f`, empty lines skipped.
    * Callers own the existence checks, refusals and [[onMetaRead]]. */
  private def decodeLines(f: Path): ManifestLines = {
    val meta = Map.newBuilder[String, String]
    val removed = Vector.newBuilder[String]
    val added = Vector.newBuilder[String]
    Files.readAllLines(f).forEach { l =>
      if (l.isEmpty) ()
      else if (l.startsWith("#")) l.substring(1).split("=", 2) match {
        case Array(k, value) => meta += k -> value
        case _ => ()
      }
      else if (l.startsWith("-")) removed += l.substring(1)
      else added += l
    }
    ManifestLines(meta.result(), removed.result(), added.result())
  }

  /** THE manifest-line encoder (checkpoints keep their grouped layout):
    * sorted `#key=value` meta lines, then `-` removals, then adds. */
  private def encodeLines(meta: Map[String, String], removed: Seq[String],
      added: Seq[String]): Seq[String] =
    meta.toSeq.sorted.map { case (k, v) => s"#$k=$v" } ++
      removed.map("-" + _) ++ added

  /** `(key minus prefix) -> value` for the meta keys under `prefix`. */
  private def tagged(meta: Map[String, String],
      prefix: String): Map[String, String] = meta.collect {
    case (k, value) if k.startsWith(prefix) => k.stripPrefix(prefix) -> value
  }

  /** Version `v`'s manifest, decoded — loud when it is not committed. */
  private def readManifest(tablePath: String, v: Long): ManifestLines = {
    val f = manifestFile(tablePath, v)
    require(Files.exists(f), s"version $v is not committed at $tablePath")
    onMetaRead(f)
    decodeLines(f)
  }

  // ——— DELTA-ACTION LOG (the Delta-log shape). Each version's manifest
  // records only what the commit CHANGED: `#key=value` meta lines (the
  // version's own metadata, plus the always-small carried state — schema
  // and constraints), `-relpath` lines for files the commit removed, and
  // plain lines for files it added. `#replace=true` marks a commit that
  // drops all prior state (replace/restore). The version's FULL state —
  // file list and deletion-vector mappings — is RESOLVED: start from the
  // nearest checkpoint at or below the version (or from empty at version
  // 1 / a replace commit, which is its own full state) and apply deltas
  // forward. Every [[CheckpointInterval]]-th commit writes a sidecar
  // checkpoint (`vNNNNNN.ckpt`: resolved `#dv.*` lines + file list), so
  // resolution reads a BOUNDED number of small files no matter how long
  // the history — and a pure append's commit metadata is O(files added),
  // not O(table file count): at 10⁶-file scale a streaming micro-batch
  // commit writes bytes, not the hundreds of MB a full re-listing
  // costs. ———

  /** Reserved meta key marking a commit that drops all prior state
    * (replace / restore): its own added files and `dv.*` lines ARE the
    * version's full state. */
  val ReplaceKey = "replace"

  /** Reserved meta key stamping every manifest with its LOG FORMAT
    * (`#log=delta`). [[delta]] REQUIRES it: a pre-delta-log manifest
    * (the full-carry format, which re-listed every live file each
    * version) would otherwise parse as a delta whose `added` is the
    * whole table — resolution would silently duplicate files across
    * versions and double-read rows. Loud refusal over silent
    * double-counting. */
  val LogFormatKey = "log"
  private val LogFormatValue = "delta"

  /** Reserved meta key listing the LOG FEATURES a manifest's writer
    * used (`#features=a,b,…`) — the Delta reader/writer protocol
    * contract, generalized: a reader REFUSES any manifest or
    * checkpoint carrying a feature token it does not implement,
    * NAMING the feature. The point is the NEXT format evolution: the
    * r15 delta-log and r16 marker migrations were each a bespoke hard
    * wall; with this gate a future writer adds its token to the list
    * and every older reader degrades to one loud, self-describing
    * "reader lacks feature X" instead of a silent misread or a
    * per-change refusal. An ABSENT features line = the baseline set
    * (everything written before this key existed is exactly
    * baseline). */
  val FeaturesKey = "features"

  /** Every log feature THIS reader implements. A table stamped with a
    * strict subset reads fine; any token outside this set refuses. */
  private[ops] val SupportedFeatures: Set[String] =
    Set("delta-log", "ckpt-v2", "dv", "txn-fold", "branch-refs")
  private val FeaturesValue = SupportedFeatures.toSeq.sorted.mkString(",")

  private def checkFeatures(what: String, recorded: Option[String]): Unit =
    recorded.foreach { fs =>
      val unknown = fs.split(',').map(_.trim).filter(_.nonEmpty)
        .filterNot(SupportedFeatures.contains)
      if (unknown.nonEmpty) throw new IllegalStateException(
        s"$what requires log feature(s) ${unknown.mkString(", ")} this " +
          "reader does not implement (supported: " +
          s"${SupportedFeatures.toSeq.sorted.mkString(", ")}) — " +
          "upgrade the library to read this table")
    }

  private[ops] val formatMeta = Map(LogFormatKey -> LogFormatValue,
    FeaturesKey -> FeaturesValue)

  /** Versions between full checkpoints: state resolution reads at most
    * this many delta manifests past a checkpoint. Small enough that a
    * read is a handful of driver-side KB-reads; large enough that
    * checkpoint writes (O(table files) text) stay rare. */
  private[ops] val CheckpointInterval = 10

  private def ckptFile(tablePath: String, v: Long): Path =
    manifestDir(tablePath).resolve(f"v$v%06d.ckpt")

  private def parseDv(value: String): (String, Long) = {
    val i = value.lastIndexOf(':')
    (value.substring(0, i), value.substring(i + 1).toLong)
  }

  /** One version's recorded delta actions — a single small manifest
    * read, the unit incremental consumers ([[ChangeFeed]], the
    * commit-log stream source, [[history]]) walk instead of re-resolving
    * full snapshots per version. */
  private[graft] case class CommitDelta(version: Long,
      added: Seq[String], removed: Seq[String], replace: Boolean,
      dvSet: Map[String, (String, Long)], meta: Map[String, String])

  /** Parse version `v`'s delta manifest (one read; loud if vacuumed or
    * written by a pre-delta-log library version — see
    * [[LogFormatKey]]). */
  private[graft] def delta(tablePath: String, v: Long): CommitDelta = {
    val m = readManifest(tablePath, v)
    val meta = m.meta
    if (!meta.get(LogFormatKey).contains(LogFormatValue))
      throw new IllegalStateException(
        s"manifest v$v at $tablePath carries no '#$LogFormatKey=" +
          s"$LogFormatValue' marker — it was written by a pre-delta-log " +
          "library version (full-carry format), whose file list this " +
          "reader would silently double-count as delta adds. Re-create " +
          "the table (or re-commit its content) with the current library.")
    checkFeatures(s"manifest v$v at $tablePath", meta.get(FeaturesKey))
    if (!meta.contains(SchemaKey))
      throw new IllegalStateException(
        s"manifest v$v at $tablePath records no '#$SchemaKey=' line — " +
          "every publish path writes the table schema, so this manifest " +
          "was written by a pre-schema-tracking library version. " +
          "Re-create the table (or re-commit its content) with the " +
          "current library.")
    CommitDelta(v, added = m.added, removed = m.removed,
      replace = meta.get(ReplaceKey).contains("true"),
      dvSet = tagged(meta, DvPrefix).map { case (f, value) =>
        f -> parseDv(value) },
      meta = meta)
  }

  /** TABLE STATE AS A VALUE — version `version` of `tablePath`,
    * resolved once ([[at]]) and passed down: the Delta/Iceberg snapshot
    * handle. A statement or a drain batch resolves ONE snapshot and
    * every part of it (candidate files, stats, DV application, the
    * commit's conflict base) reads this value, so no part can see a
    * different head than another.
    *
    * Carries the version's own manifest meta (`versionMeta`, the
    * `#key=value` lines — [[schema]], [[constraints]], user [[meta]]
    * and [[commitTime]] derive from it) and the resolved state: live
    * files (in commit order), the deletion-vector mappings in force,
    * the live files' recorded per-file row counts / min-max stats /
    * byte sizes / adding version (each written once by the file's
    * adding commit, carried here while the file lives), and the
    * per-appId TRANSACTION state (appId → (txnVersion, table version
    * that recorded it) — overwrite-on-commit, surviving replace/restore
    * like Delta's SetTransaction actions). Everything resolves from the
    * SAME bounded checkpoint+delta read as the file list, so every
    * derived answer is O(interval) metadata reads at any history
    * length, and all survive vacuum through the checkpoints (a txn
    * stamp or a WAP publish marker can never be silently lost to
    * retention).
    *
    * A snapshot lives for one statement or one drain batch. It is
    * NEVER cached or keyed on (path, version): a dropped and re-created
    * table repeats version numbers with new content, and a held-over
    * value would serve deleted files. Version 0 is the empty state of a
    * table with no commit yet (no files, empty schema). */
  final case class Snapshot(tablePath: String, version: Long,
      versionMeta: Map[String, String],
      files: Vector[String],
      dv: Map[String, (String, Long)],
      rows: Map[String, Long] = Map.empty,
      stats: Map[String, String] = Map.empty,
      bytes: Map[String, Long] = Map.empty,
      addedIn: Map[String, Long] = Map.empty,
      txns: Map[String, (Long, Long)] = Map.empty) {

    /** The recorded table schema ([[SchemaKey]]) — every publish path
      * writes one and [[delta]] refuses a manifest without it. */
    lazy val schema: StructType = versionMeta.get(SchemaKey)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new StructType())

    /** CHECK constraints in force, by name. */
    def constraints: Map[String, String] = versionMeta.collect {
      case (k, expr) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> expr
    }

    /** Commit metadata recorded with the version: the `#key=value`
      * manifest lines minus reserved internal keys ([[SchemaKey]] →
      * [[schema]]; `constraint.*` → [[constraints]]; `txn.*` →
      * [[lastTxn]]). Published atomically WITH the version — a reader
      * can never observe the version without its metadata (the
      * property [[Materialize.refresh]]'s source watermark rides on). */
    def meta: Map[String, String] = versionMeta.filterNot { case (k, _) =>
      Seq(ConstraintPrefix, TxnPrefix, FileStatsPrefix, FileRowsPrefix,
        FileBytesPrefix, DvPrefix).exists(k.startsWith) ||
        Set(SchemaKey, OpTypeKey, CommitTsKey, ReplaceKey, LogFormatKey,
          FeaturesKey, MaxTsKey).contains(k)
    }

    /** Publish time, epoch millis: the recorded [[CommitTsKey]] stamp,
      * or the manifest file's mtime for pre-stamp manifests. */
    def commitTime: Long = stampOf(tablePath, version, versionMeta)

    /** Exact LOGICAL row count from COMMIT METADATA alone — the
      * metadata-only `SELECT count(*)` every table format serves: the
      * [[FileRowsPrefix]] counts of the live files, each recorded by the
      * version that added the file, MINUS the positions hidden by the
      * deletion vectors (each `dv.*` line carries its position count,
      * so a merge-on-read DELETE keeps this exact with zero extra I/O —
      * the count always equals what [[read]] returns). None if any live
      * file predates row-count recording (the caller falls back to a
      * data read) and at version 0. */
    def rowCount: Option[Long] =
      if (version > 0 && rows.keySet == files.toSet)
        Some(rows.values.sum - dv.values.map(_._2).sum)
      else None

    /** Per-file inventory — the `graft.<t>.files` metadata-table
      * surface (Iceberg's `.files` convention): (relpath, version that
      * added the file, recorded row count if the adding commit recorded
      * one, positions hidden by the file's deletion vector). Exact even
      * after vacuum (attribution survives through the checkpoints; a
      * replace/restore attributes its re-listed files to itself, since
      * it is their full state). Zero data or footer I/O. */
    def fileInventory: Seq[(String, Long, Option[Long], Long)] =
      files.map(f => (f, addedIn(f), rows.get(f),
        dv.get(f).map(_._2).getOrElse(0L)))

    /** Per-file numeric (min, max) stats: relpath → col → (min, max)
      * as doubles. Recorded bounds are WIDENED by one ulp per side
      * ([[commit]]), so they are conservative even for BIGINT values
      * above 2^53 whose double image rounds — a file can never be
      * falsely pruned by cast rounding. Files committed without stats
      * are absent — readers must treat them as unprunable. */
    def fileStats: Map[String, Map[String, (Double, Double)]] =
      stats.map { case (f, spec) => f -> parseStatsSpec(spec) }

    /** THE stats prune: the live files whose recorded [[fileStats]]
      * bounds intersect `bounds` on every bounded column — the
      * candidate set of a touch or match scan, the OPTIMIZE WHERE
      * targets, the [[readPruned]] file set. A file without stats for
      * a bounded column is kept (stats only bound, they never prove a
      * match absent). Pure driver-side metadata. */
    private[ops] def filesWithin(
        bounds: Map[String, (Double, Double)]): Vector[String] =
      if (bounds.isEmpty) files
      else {
        val st = fileStats
        files.filter(f => st.get(f).forall(cs =>
          bounds.forall { case (c, (lo, hi)) =>
            cs.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
          }))
      }

    /** The RAW parquet scan of `rels` (table-relative; every live file
      * by default) under the recorded schema — no footer inference, no
      * deletion vectors applied ([[applyDv]] does that). An empty
      * `rels` is an empty frame of the schema. */
    def scan(spark: SparkSession, rels: Seq[String] = files): DataFrame =
      spark.read.schema(schema).parquet(
        rels.map(r => Paths.get(tablePath).resolve(r).toString): _*)

    /** Hide every position this version's deletion vectors delete from
      * `df`, a direct [[scan]] of this version's files ([[dvJoin]]).
      * `keepPos` keeps the `__dv_f`/`__dv_p` helper columns ([[withPos]]
      * — the `(file, position)` of every surviving row) for callers
      * that still need them, and adds them even when the version has
      * no DVs; without it a DV-less version returns `df` unchanged. */
    def applyDv(spark: SparkSession, df: DataFrame,
        keepPos: Boolean = false): DataFrame =
      if (keepPos) dvJoin(spark, tablePath, dv, withPos(df))
      else if (dv.isEmpty) df
      else dvJoin(spark, tablePath, dv, withPos(df))
        .drop("__dv_f", "__dv_p")

    /** Read the table as of this version. The file list is pinned — later
      * commits cannot change what this frame reads. The RECORDED schema
      * drives the scan (no footer merge): files predating an appended
      * column read it as null, and time travel sees exactly the schema
      * the version published. Merge-on-read: deletion vectors apply
      * inside the scan (no-op — the plain scan — without them). */
    def read(spark: SparkSession): DataFrame = {
      require(version > 0, s"no committed version at $tablePath")
      applyDv(spark, scan(spark))
    }
  }

  /** The state of `tablePath` before its first commit. */
  private def emptySnapshot(tablePath: String): Snapshot =
    Snapshot(tablePath, 0L, Map.empty, Vector.empty, Map.empty)

  /** Apply one commit's delta actions to the predecessor state. */
  private[graft] def applySnapDelta(s: Snapshot,
      d: CommitDelta): Snapshot = {
    val base =
      if (d.replace) emptySnapshot(s.tablePath).copy(txns = s.txns)
      else if (d.removed.isEmpty) s
      else {
        val rm = d.removed.toSet
        s.copy(files = s.files.filterNot(rm), dv = s.dv -- rm,
          rows = s.rows -- rm, stats = s.stats -- rm,
          bytes = s.bytes -- rm, addedIn = s.addedIn -- rm)
      }
    Snapshot(s.tablePath, d.version, d.meta,
      base.files ++ d.added, base.dv ++ d.dvSet,
      base.rows ++ tagged(d.meta, FileRowsPrefix).map { case (f, n) =>
        f -> n.toLong },
      base.stats ++ tagged(d.meta, FileStatsPrefix),
      base.bytes ++ tagged(d.meta, FileBytesPrefix).map { case (f, n) =>
        f -> n.toLong },
      base.addedIn ++ d.added.map(_ -> d.version),
      base.txns ++ tagged(d.meta, TxnPrefix).map { case (app, n) =>
        app -> (n.toLong, d.version) })
  }

  /** Checkpoint format marker. v2 checkpoints carry the FULL [[Snapshot]]
    * (txn state, adding versions, byte sizes); a v1 checkpoint lacks
    * them, so resolving from it would silently forget txn stamps —
    * refuse loudly instead (same posture as [[delta]]'s log marker). */
  private val CkptVerKey = "ckptver"
  private val CkptVerLine = s"#$CkptVerKey=2"
  private val TxnStatePrefix = "txnstate."
  private val AddedInPrefix = "addedin."

  private def readCkpt(tablePath: String, v: Long): Snapshot = {
    onMetaRead(ckptFile(tablePath, v))
    val ck = decodeLines(ckptFile(tablePath, v))
    if (!ck.meta.get(CkptVerKey).contains("2"))
      throw new IllegalStateException(
        s"checkpoint v$v at $tablePath predates the v2 checkpoint " +
          "format (no '" + CkptVerLine + "' line) — it carries no txn " +
          "state, so resolving from it would silently forget recorded " +
          "transactions. Re-create the table with the current library.")
    checkFeatures(s"checkpoint v$v at $tablePath", ck.meta.get(FeaturesKey))
    // the version's own meta is its manifest's: [[snapshot]] reads it
    // when the resolution starts AND ends at this checkpoint
    def longs(prefix: String) =
      tagged(ck.meta, prefix).map { case (f, n) => f -> n.toLong }
    Snapshot(tablePath, v, Map.empty, ck.added,
      tagged(ck.meta, DvPrefix).map { case (f, value) => f -> parseDv(value) },
      longs(FileRowsPrefix), tagged(ck.meta, FileStatsPrefix),
      longs(FileBytesPrefix), longs(AddedInPrefix),
      tagged(ck.meta, TxnStatePrefix).map { case (app, value) =>
        val i = value.lastIndexOf(':')
        app -> (value.substring(0, i).toLong,
          value.substring(i + 1).toLong) })
  }

  /** Resolve version `v`'s full state: nearest checkpoint / replace
    * commit / version 1 at or below it, plus the delta chain up to `v` —
    * at most [[CheckpointInterval]] + 1 small driver-side metadata
    * reads, at any table size or history length. Deliberately
    * UNCACHED: a (path, version) cache would serve stale state when a
    * table path is dropped and re-created (version numbers repeat with
    * new content — the scratch-table pattern every test and many batch
    * jobs have); the bounded read is cheap enough that correctness
    * wins. Loud when `v` itself was vacuumed; names the broken link
    * when an INTERMEDIATE manifest is gone without a covering
    * checkpoint. */
  private def snapshot(tablePath: String, v: Long): Snapshot = {
    require(v > 0 && Files.exists(manifestFile(tablePath, v)),
      s"version $v is not committed at $tablePath")
    var w = v
    var acc = List.empty[CommitDelta]
    var base: Snapshot = null
    while (base == null) {
      if (Files.exists(ckptFile(tablePath, w))) base = readCkpt(tablePath, w)
      else if (!Files.exists(manifestFile(tablePath, w)))
        throw new IllegalStateException(
          s"cannot resolve version $v of $tablePath: version $w's " +
            "manifest was vacuumed without a covering checkpoint — " +
            "the delta chain is broken")
      else {
        val d = delta(tablePath, w)
        acc = d :: acc
        // a REPLACE is its own full FILE state, but the chain continues
        // below it: txn stamps survive replace/restore walls (the Delta
        // SetTransaction contract), so resolution must reach the nearest
        // checkpoint (or v1) to carry them — still <= interval reads
        if (w == 1) base = emptySnapshot(tablePath) else w -= 1
      }
    }
    if (acc.isEmpty) base.copy(versionMeta = delta(tablePath, v).meta)
    else acc.foldLeft(base)(applySnapDelta)
  }

  /** THE resolution verb: version `v` of `tablePath` (the head when
    * omitted) as a [[Snapshot]] value — one head read plus one bounded
    * checkpoint+delta fold ([[snapshot]]). Version 0 (a table with no
    * commit yet) is the empty snapshot; a version that was never
    * committed or was vacuumed refuses loudly. Callers resolve once per
    * statement or drain batch and pass the value down. */
  def at(tablePath: String, v: Long = -1L): Snapshot = {
    val vv = if (v >= 0) v else version(tablePath)
    if (vv == 0L) emptySnapshot(tablePath) else snapshot(tablePath, vv)
  }

  /** Write the resolved-state checkpoint for `v` (idempotent; racing
    * writers tolerate each other — content is deterministic). Called by
    * every publish path on [[CheckpointInterval]] boundaries and by
    * [[vacuum]] before it breaks a delta chain. */
  private[ops] def writeCheckpoint(tablePath: String, v: Long): Unit = {
    if (Files.exists(ckptFile(tablePath, v))) return
    val snap = snapshot(tablePath, v)
    val body = (Seq(CkptVerLine, s"#$FeaturesKey=$FeaturesValue") ++
      (snap.dv.toSeq.sortBy(_._1).map { case (f, (d, n)) =>
        s"#$DvPrefix$f=$d:$n" } ++
      snap.rows.toSeq.sortBy(_._1).map { case (f, n) =>
        s"#$FileRowsPrefix$f=$n" } ++
      snap.stats.toSeq.sortBy(_._1).map { case (f, spec) =>
        s"#$FileStatsPrefix$f=$spec" } ++
      snap.bytes.toSeq.sortBy(_._1).map { case (f, n) =>
        s"#$FileBytesPrefix$f=$n" } ++
      snap.addedIn.toSeq.sortBy(_._1).map { case (f, n) =>
        s"#$AddedInPrefix$f=$n" } ++
      snap.txns.toSeq.sortBy(_._1).map { case (app, (tv, av)) =>
        s"#$TxnStatePrefix$app=$tv:$av" } ++
      snap.files))
    linkNew(ckptFile(tablePath, v), body)
  }

  private def maybeCheckpoint(tablePath: String, v: Long): Unit =
    if (v % CheckpointInterval == 0) writeCheckpoint(tablePath, v)

  /** THE main-chain publish: version `base.version + 1` as `base`'s
    * successor. The manifest is the caller's `meta` plus the format
    * stamp ([[formatMeta]]), the running-max stamp ([[maxTsMeta]]), the
    * schema and the commit time, as sorted `#key=value` lines, then the
    * `-` removals, then the adds. Publishes through [[linkNew]] right
    * after the [[beforePublish]] seam; a winner writes its interval
    * checkpoint and the head hint. None when another writer took the
    * version — the caller decides whether to rebase, surrender or
    * refuse. */
  private def publishVersion(tablePath: String, base: Snapshot,
      meta: Map[String, String], schema: StructType,
      removed: Seq[String], added: Seq[String]): Option[Long] = {
    val next = base.version + 1
    val now = System.currentTimeMillis
    val lines = encodeLines(meta ++ formatMeta ++ maxTsMeta(base, now) +
      (SchemaKey -> schema.json) + (CommitTsKey -> now.toString),
      removed, added)
    beforePublish()
    if (!linkNew(manifestFile(tablePath, next), lines)) None
    else {
      maybeCheckpoint(tablePath, next)
      writeHeadHint(tablePath, next)
      Some(next)
    }
  }

  /** Prefix of metadata keys recording per-file column min/max — the
    * Iceberg/Delta data-skipping stats, in the LOG where a reader finds
    * them without opening a single footer (at 100 TB, footer fetches
    * ARE the planning cost). Each commit records stats only for its own
    * fresh files (`filestats.<relpath>=col:min:max|…`); a file's stats
    * live in its adding version's manifest and follow it for life. */
  val FileStatsPrefix = "filestats."

  /** Prefix of metadata keys recording per-file ROW COUNTS
    * (`filerows.<relpath>=n`) — recorded by EVERY commit for its own
    * fresh files, from the same one-pass executor-side aggregate that
    * collects [[FileStatsPrefix]] bounds. [[history]] consumes them, so
    * the audit surface is pure driver metadata (production table
    * formats keep exactly these counts as commit stats); files
    * committed by pre-stats writers fall back to one read. */
  val FileRowsPrefix = "filerows."

  /** Prefix of metadata keys recording per-file BYTE SIZES
    * (`filebytes.<relpath>=n`) — recorded by every commit for its own
    * fresh files (one driver-side stat per just-written file, bounded
    * by the batch). The commit-log stream source serves
    * `maxBytesPerTrigger` admission from these instead of stat-ing
    * each backlog file (on an object store that walk is one HEAD
    * request per file); files committed by pre-recording writers fall
    * back to the stat. */
  val FileBytesPrefix = "filebytes."

  /** MIN/MAX FILE SKIPPING — read only the files whose recorded
    * [min, max] for `column` intersects [`lo`, `hi`]; files without
    * stats are conservatively kept. Returns (frame over the kept files,
    * kept count, skipped count). The pruning decision is pure manifest
    * metadata ([[Snapshot.filesWithin]]) — zero data or footer I/O —
    * which is the entire point:
    * combined with clustering ([[Layout.zOrderWrite]] / range-batched
    * ingest), a selective predicate plans in O(files) driver work and
    * reads O(matching files) bytes. Callers apply the EXACT predicate
    * on the returned frame (stats only bound, never filter rows).
    * Recorded bounds are ulp-widened (see [[Snapshot.fileStats]]) so cast
    * rounding can never skip a matching file; `lo`/`hi` live in double
    * space, so for BIGINT probes above 2^53 pass bounds that are
    * conservative under double rounding (e.g. widen the same way). */
  def readPruned(spark: SparkSession, tablePath: String, column: String,
      lo: Double, hi: Double): (DataFrame, Int, Int) = {
    // one resolution serves the file list, the stats AND the DV state
    val snap = at(tablePath)
    val kept = snap.filesWithin(Map(column -> (lo, hi)))
    (snap.applyDv(spark, snap.scan(spark, kept)), kept.size,
      snap.files.size - kept.size)
  }

  /** Reserved metadata key recording the commit's wall-clock publish
    * time (epoch millis) — what `TIMESTAMP AS OF` resolves against
    * (the Delta/Iceberg convention: every commit carries its time).
    * Written fresh by every main-chain publish attempt
    * ([[publishVersion]]) and every branch commit, so a rebase
    * re-stamps. Clock skew between writers is tolerated the
    * way Delta tolerates it: [[versionAsOf]] resolves on the RUNNING
    * MAX of the per-version stamps, so the version order always wins
    * over a regressing clock. Pre-stamp manifests fall back to the
    * manifest file's mtime. */
  val CommitTsKey = "committs"

  /** Publish time of version `v` with raw meta `meta`, epoch millis:
    * the recorded [[CommitTsKey]] stamp, or the manifest file's mtime
    * for pre-stamp manifests. */
  private def stampOf(tablePath: String, v: Long,
      meta: Map[String, String]): Long =
    meta.get(CommitTsKey).map(_.toLong).getOrElse(
      Files.getLastModifiedTime(manifestFile(tablePath, v)).toMillis)

  /** Reserved metadata key recording the RUNNING MAX of commit times
    * (`#maxts=<millis>`, = max(own [[CommitTsKey]], predecessor's
    * maxts)) — written by every publish path so [[versionAsOf]] can
    * BINARY-SEARCH the monotone adjusted-time sequence instead of
    * walking every retained manifest: O(log n) small reads at any
    * history length, immune to vacuum gaps (each version carries the
    * whole prefix's max, whether or not the prefix survived). */
  val MaxTsKey = "maxts"

  /** The `#maxts` line a publish writes: max(now, the base version's
    * recorded running max). A base without one (pre-recording writer)
    * degrades to max(now, base's own commit time) — still monotone
    * over the recorded suffix. */
  private def maxTsMeta(base: Snapshot,
      nowMillis: Long): Map[String, String] = {
    val prev =
      if (base.version <= 0) Long.MinValue
      else base.versionMeta.get(MaxTsKey).map(_.toLong)
        .getOrElse(base.commitTime)
    Map(MaxTsKey -> math.max(nowMillis, prev).toString)
  }

  /** Monotonically-ADJUSTED commit time of version `v`: the recorded
    * running max, or (pre-recording manifests) the max of the raw
    * stamps over the retained prefix. The binary search over these
    * values assumes every recorded `#maxts` genuinely covers its whole
    * prefix — true for any table written by this library (every publish
    * path seeds from the base's stamp, and PRE-recording tables refuse
    * wholesale at [[delta]]'s format marker before a mixed history
    * could exist). */
  private def adjustedTimeAt(tablePath: String, v: Long): Long =
    readManifest(tablePath, v).meta.get(MaxTsKey).map(_.toLong).getOrElse(
      (1L to v).filter(w => Files.exists(manifestFile(tablePath, w)))
        .map(w => stampOf(tablePath, w, readManifest(tablePath, w).meta)).max)

  /** TIMESTAMP AS OF resolution: the newest version whose
    * monotonically-ADJUSTED commit time is <= `tsMillis` (each
    * version's effective time is the max of its own stamp and every
    * predecessor's — the Delta adjustment that keeps time travel
    * well-defined under writer clock skew). The adjusted sequence is
    * nondecreasing over version NUMBERS, so resolution binary-searches
    * number space [1, head] directly — O(log history) small manifest
    * reads, NO listing of the manifest directory (head comes from the
    * hint; a vacuumed probe slides down to the nearest retained
    * manifest with pure existence checks). Fails loudly for a
    * timestamp before the first retained commit — never silently
    * serves a different state than asked for. */
  def versionAsOf(tablePath: String, tsMillis: Long): Long = {
    val head = version(tablePath)
    require(head > 0, s"no committed version at $tablePath")
    def existingAtOrBelow(v0: Long, floor: Long): Long = {
      var v = v0
      while (v >= floor && !Files.exists(manifestFile(tablePath, v)))
        v -= 1
      if (v >= floor) v else -1L
    }
    var lo = 1L
    var hi = head
    var hit = -1L
    while (lo <= hi) {
      val mid = lo + ((hi - lo) >>> 1)
      existingAtOrBelow(mid, lo) match {
        case -1L => lo = mid + 1 // [lo, mid] entirely vacuumed
        case m =>
          if (adjustedTimeAt(tablePath, m) <= tsMillis) {
            hit = m; lo = mid + 1
          } else hi = m - 1
      }
    }
    require(hit > 0,
      s"no version of $tablePath at or before timestamp $tsMillis " +
        "(every retained commit is newer)")
    hit
  }

  /** TAGS — immutable NAMED REFS to table versions (the Iceberg tag /
    * Delta named-snapshot shape): `tag("audit-2026Q3", v)` pins version
    * `v` under a name that [[resolveRef]] (and SQL
    * `VERSION AS OF 'audit-2026Q3'` through the catalog) serves, and
    * that [[vacuum]] RETAINS — a tagged version's manifest, data files
    * and DV state survive any retention window until the tag is
    * deleted. Refs are driver-side metadata (one tiny file per tag
    * under `_refs/`, atomic-exclusive publish like manifests), so
    * pinning a compliance audit point on a 100 TB table costs bytes.
    * Tags are IMMUTABLE: re-tagging an existing name fails loudly
    * (delete first) — a name that silently moved between audits is the
    * failure mode refs exist to prevent. */
  private def refsDir(tablePath: String): Path =
    Paths.get(tablePath, "_refs")

  private def validRefName(name: String): Boolean =
    name.nonEmpty && name.length <= 255 &&
      name.head.isLetterOrDigit &&
      name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
        c == '-') &&
      // all-digit names are reserved for VERSION numbers (the Iceberg
      // convention): SQL `VERSION AS OF '2026'` resolves numerically
      // first, so a tag named '2026' could silently shadow — or be
      // shadowed by — a real version
      !name.forall(_.isDigit)

  /** Pin `v` (the head when omitted) under `name`. Returns the tagged
    * version. Fails loudly on an invalid name, an uncommitted (or
    * vacuumed) version, or an existing tag. */
  def tag(tablePath: String, name: String, v: Long = -1L): Long = {
    require(validRefName(name),
      s"invalid tag name '$name' (letters/digits/._- only, must start " +
        "alphanumeric)")
    val vv = if (v >= 0) v else version(tablePath)
    require(vv > 0 && Files.exists(manifestFile(tablePath, vv)),
      s"version $vv is not committed at $tablePath")
    if (!linkNew(refsDir(tablePath).resolve(name), Seq(vv.toString)))
      throw new IllegalArgumentException(
        s"tag '$name' already exists at $tablePath (version " +
          s"${resolveRef(tablePath, name)}) — tags are immutable; " +
          "deleteTag first")
    vv
  }

  /** Drop tag `name`; false if it did not exist. The versions it
    * pinned become reclaimable by the NEXT vacuum. */
  def deleteTag(tablePath: String, name: String): Boolean =
    Files.deleteIfExists(refsDir(tablePath).resolve(name))

  /** All tags of the table: name → pinned version. */
  def tags(tablePath: String): Map[String, Long] = {
    val d = refsDir(tablePath)
    if (!Files.isDirectory(d)) Map.empty
    else ls(d).map(Paths.get(_))
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString ->
        new String(Files.readAllBytes(p),
          StandardCharsets.UTF_8).trim.toLong)
      .toMap
  }

  /** Resolve tag `name` to its version; loud when absent. */
  def resolveRef(tablePath: String, name: String): Long =
    tags(tablePath).getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' at $tablePath (tags: " +
        s"${tags(tablePath).keys.toSeq.sorted.mkString(", ")})"))

  // ——— OFF-CHAIN STAGES: a WAP stage (`wap-<id>.txt`) or a branch
  // (ref `branch-<name>.txt` + commits `branch-<name>-cNNNNNN.txt`) is
  // manifest-format files no version lists, over normally-claimed batch
  // dirs — invisible to every main-chain reader. Both run one lifecycle,
  // one helper per step: [[stages]] lists, [[writeStage]] writes,
  // [[stageView]] reads, [[publishStage]] publishes one metadata-only
  // version (idempotent through a `txn.<stage>` stamp, `<stage>` =
  // `wap-<id>` or `branch-<name>`) and [[retireStage]] retires or drops.
  // Each verb keeps its own policy: WAP reads over and rebases onto the
  // HEAD and checks constraints at publish; a branch reads over its
  // FORK, checks fork-frozen constraints at commit and refuses to
  // publish on divergence. At 100 TB this is how risky ingest ships:
  // the expensive writes happen once, quarantined; the promote/abandon
  // decision costs metadata. ———

  private def wapFile(tablePath: String, id: String): Path =
    manifestDir(tablePath).resolve(s"wap-$id.txt")

  private def branchRefFile(tablePath: String, name: String): Path =
    manifestDir(tablePath).resolve(s"branch-$name.txt")

  private def branchCommitFile(tablePath: String, name: String,
      c: Long): Path =
    manifestDir(tablePath).resolve(f"branch-$name-c$c%06d.txt")

  private val WapFileName = """wap-(.+)\.txt""".r
  private val BranchRefName = """branch-(.+)\.txt""".r

  /** No branch name ends in a commit-file suffix (see [[branch]]). */
  private val BranchCommitSuffix = ".*-c\\d{6}"

  /** Staged WAP ids and live branches' commit numbers, sorted. */
  private final case class Stages(wapIds: Seq[String],
      branches: Map[String, Seq[Long]])

  /** THE stage listing: ONE listing of `_manifests/`, matched by exact
    * file name. A branch's commits are exactly the files
    * `branch-<name>-cNNNNNN.txt` — branches named `x-c5` or `x-cab`
    * beside `x` are other branches, never commits of `x`. */
  private def stages(tablePath: String): Stages = {
    val dir = manifestDir(tablePath)
    val names =
      if (!Files.isDirectory(dir)) Seq.empty[String]
      else ls(dir).map(p => Paths.get(p).getFileName.toString)
    val refs = names.collect {
      case BranchRefName(n) if !n.matches(BranchCommitSuffix) => n }
    Stages(names.collect { case WapFileName(id) => id }.sorted,
      refs.map { n =>
        val commit = s"branch-${Pattern.quote(n)}-c(\\d{6})\\.txt".r
        n -> names.collect { case commit(c) => c.toLong }.sorted
      }.toMap)
  }

  /** THE stage write: [[checkMeta]], [[writeBatch]] (gated by
    * `constraints`), then the encoded stage body — caller meta, the
    * batch's row/stats/byte meta, `schema` and `stamp` (taken after the
    * write), the fresh files as adds. The caller links it. */
  private def writeStage(df: DataFrame, tablePath: String,
      meta: Map[String, String], statsCols: Seq[String], schema: StructType,
      constraints: Map[String, String] = Map.empty,
      refusal: String => String = identity,
      stamp: => Map[String, String] = Map.empty): (Batch, Seq[String]) = {
    checkMeta(meta)
    val batch = writeBatch(df, tablePath, version(tablePath) + 1, statsCols,
      constraints, refusal)
    (batch, encodeLines(meta ++ batch.rowsMeta ++ batch.statsMeta ++
      freshBytesMeta(tablePath, batch.fresh) ++ stamp +
      (SchemaKey -> schema.json), Nil, batch.fresh))
  }

  /** THE stage view: `snap`'s live rows (deletion vectors applied) plus
    * the stage's `files`, read under `schema`. */
  private def stageView(spark: SparkSession, snap: Snapshot,
      files: Seq[String], schema: StructType): DataFrame =
    snap.applyDv(spark, spark.read.schema(schema).parquet(
      (snap.files ++ files)
        .map(rel => Paths.get(snap.tablePath).resolve(rel).toString): _*))

  /** THE stage publish: `files` as `base`'s successor, metadata-only
    * and O(staged) (resolution inherits `base`'s files and DVs), with
    * the stage's `meta`, `base`'s CHECK constraints and the
    * `txn.<stage>` stamp [[publishedAt]] finds. None = lost the race. */
  private def publishStage(tablePath: String, base: Snapshot, stage: String,
      meta: Map[String, String], schema: StructType,
      files: Seq[String]): Option[Long] =
    publishVersion(tablePath, base, meta ++ base.constraints.map {
      case (n, ex) => s"$ConstraintPrefix$n" -> ex } +
      (s"$TxnPrefix$stage" -> "0"), schema, Nil, files)

  /** The version that published `stage`, if one did: the bounded
    * [[txnState]] probe, vacuum-proof (the stamp rides checkpoints). */
  private def publishedAt(tablePath: String, stage: String): Option[Long] =
    txnState(tablePath, stage).map(_._2)

  /** THE stage retire/drop: delete the stage manifests `files` (a
    * branch's ref last), then — unless `published` made its adds live —
    * reclaim their batch dirs, unreferenced by construction. */
  private def retireStage(tablePath: String, files: Seq[Path],
      published: Boolean): Unit = {
    val dirs =
      if (published) Nil
      else files.flatMap(f => decodeLines(f).added)
        .map(rel => Paths.get(tablePath).resolve(rel).getParent).distinct
    files.foreach(Files.deleteIfExists(_))
    dirs.foreach(rmTree)
  }

  // ——— WRITE-AUDIT-PUBLISH (the Iceberg WAP pattern): stage one
  // commit, audit the would-be table, then publish or drop it. ———

  /** Stage `df` as WAP id `id`: files are written (and their stats
    * harvested) exactly like a commit's, but NO version publishes —
    * readers cannot see staged rows, and [[vacuum]] protects the
    * staged files until the stage is published or dropped. Constraint
    * validation is DEFERRED to [[publishStaged]] (auditing the staged
    * state is the point of the pattern). Loud on a duplicate id. */
  def stageCommit(df: DataFrame, tablePath: String, id: String,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty): Unit = {
    require(validRefName(id), s"invalid WAP id '$id'")
    require(!Files.exists(wapFile(tablePath, id)),
      s"WAP id '$id' is already staged at $tablePath")
    val (batch, lines) = writeStage(df, tablePath, meta, statsCols, df.schema)
    if (!linkNew(wapFile(tablePath, id), lines)) {
      rmTree(batch.dir)
      throw new IllegalArgumentException(
        s"WAP id '$id' is already staged at $tablePath")
    }
  }

  /** Staged WAP ids, oldest-named first. */
  def stagedIds(tablePath: String): Seq[String] = stages(tablePath).wapIds

  private def readStageFile(f: Path, missing: => String): ManifestLines = {
    require(Files.exists(f), missing)
    decodeLines(f)
  }

  private def readStage(tablePath: String, id: String): ManifestLines =
    readStageFile(wapFile(tablePath, id), s"no staged WAP id '$id' at " +
      s"$tablePath (staged: ${stagedIds(tablePath).mkString(", ")})")

  /** The schema a staged manifest recorded — [[stageCommit]] always
    * writes one; a stage without it refuses. */
  private def stagedSchema(tablePath: String, id: String,
      staged: ManifestLines): StructType =
    staged.meta.get(SchemaKey)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"staged WAP id '$id' at $tablePath records no schema"))

  /** The schema publishing a batch recorded as `batch` onto `head`
    * yields: the head schema evolved append-compatibly by the batch's
    * (the batch's own on an empty table). */
  private def publishedSchema(head: Snapshot, batch: StructType)
      : StructType =
    if (head.version == 0) batch else evolve(head.schema, batch)

  /** The AUDIT view: the table as it WOULD read after publishing `id` —
    * the current head's live rows (deletion vectors applied) plus the
    * staged files, under the head schema evolved by the staged one.
    * This is a plain read; audits run whatever checks they want on it
    * (row counts, invariants, model-side evals) before deciding. */
  def readStaged(spark: SparkSession, tablePath: String,
      id: String): DataFrame = {
    val staged = readStage(tablePath, id)
    val head = at(tablePath)
    stageView(spark, head, staged.added,
      publishedSchema(head, stagedSchema(tablePath, id, staged)))
  }

  /** PUBLISH staged `id` as the next version — metadata-only: no data
    * file moves. The staged batch is append-shaped, so it fast-forwards
    * onto the PUBLISH-TIME head (interim appends rebase for free, via
    * the same optimistic link-retry as [[commit]]); the head's CHECK
    * constraints are validated over ONLY the staged files first (one
    * bounded read — the declared gate holds even when the audit was
    * lax), and a violation aborts with the stage INTACT (drop it or fix
    * the table's constraints and retry). IDEMPOTENT: the published
    * manifest carries a `txn.wap-<id>` stamp, so a replay after the
    * link-then-cleanup crash window (or the loser of two concurrent
    * publishers of the same stage) finishes the cleanup and returns the
    * already-published version instead of listing the staged files
    * twice. Returns the published version. */
  def publishStaged(spark: SparkSession, tablePath: String,
      id: String): Long = {
    val stage = s"wap-$id"
    def retired(v: Long): Long = {
      retireStage(tablePath, Seq(wapFile(tablePath, id)), published = true)
      v
    }
    publishedAt(tablePath, stage) match {
      case Some(v) => return retired(v)
      case None => ()
    }
    val staged = readStage(tablePath, id)
    val batchSchema = stagedSchema(tablePath, id, staged)
    var head = at(tablePath)
    // validate the head's constraints over ONLY the staged files; the
    // retry loop re-validates if the head's constraint set changes
    var validatedAgainst: Option[Map[String, String]] = None
    var attempts = 0
    while (true) {
      val constraints = head.constraints
      if (!validatedAgainst.contains(constraints) &&
          constraints.nonEmpty && staged.added.nonEmpty) {
        val paths = staged.added.map(rel =>
          Paths.get(tablePath).resolve(rel).toString)
        constraintAggregate(
          spark.read.schema(batchSchema).parquet(paths: _*), constraints,
          Seq.empty)._2.foreach(bad => throw new IllegalArgumentException(
            "requirement failed: staged WAP id '" + id + "' violates " +
              s"CHECK constraint(s) $bad — nothing was published (the " +
              "stage is intact)"))
      }
      validatedAgainst = Some(constraints)
      publishStage(tablePath, head, stage, staged.meta,
        publishedSchema(head, batchSchema), staged.added) match {
        case Some(next) => return retired(next)
        case None =>
          // the winner may have been ANOTHER publisher of this very
          // stage: surrender to its version instead of double-listing
          publishedAt(tablePath, stage) match {
            case Some(v) => return retired(v)
            case None => ()
          }
          attempts += 1
          if (attempts > 20) throw new IllegalStateException(
            s"WAP publish of '$id' at $tablePath: still losing the " +
              s"publish race after $attempts rebases — giving up " +
              "(the stage is intact)")
          head = at(tablePath)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Abandon staged `id`: the staged manifest is deleted, then the
    * claimed batch dir. The batch files are unreferenced by
    * construction (no version ever listed them) — EXCEPT in
    * [[publishStaged]]'s link-then-cleanup crash window, where the wap
    * file still exists but the staged files ARE the just-published
    * head: the publish probe runs first (vacuum-safe — the stamp
    * persists in the checkpoints, so files live in retained snapshots
    * are never reclaimed as unpublished), and a published stage drops
    * only the wap file. False when no such stage exists. */
  def dropStaged(tablePath: String, id: String): Boolean = {
    val f = wapFile(tablePath, id)
    if (!Files.exists(f)) return false
    retireStage(tablePath, Seq(f),
      published = publishedAt(tablePath, s"wap-$id").isDefined)
    true
  }

  // ——— WRITABLE BRANCH REFS (the Iceberg branch shape, generalizing
  // WAP from one staged commit to a CHAIN of them): [[branch]] forks,
  // [[commitBranch]] appends, [[readBranch]] reads pinned at the fork,
  // [[fastForward]] publishes the net state iff main has not moved,
  // [[dropBranch]] abandons; [[vacuum]] pins every branch's base. ———

  private def branchFiles(tablePath: String, name: String): Seq[Path] =
    branchCommits(tablePath, name).map(branchCommitFile(tablePath, name, _)) :+
      branchRefFile(tablePath, name)

  /** Fork a branch named `name` at `from` (the head when omitted).
    * Loud on an invalid name, an uncommitted base, or an existing
    * branch. Returns the base version the branch builds on. */
  def branch(tablePath: String, name: String, from: Long = -1L): Long = {
    require(validRefName(name),
      s"invalid branch name '$name' (letters/digits/._- only, must " +
        "start alphanumeric)")
    // a name shaped like a branch COMMIT file suffix would make
    // branch-<name>.txt ambiguous with another branch's commit
    require(!name.matches(BranchCommitSuffix),
      s"invalid branch name '$name' (the '-cNNNNNN' suffix is " +
        "reserved for branch commit numbering)")
    val base = if (from >= 0) from else version(tablePath)
    require(base > 0 && Files.exists(manifestFile(tablePath, base)),
      s"version $base is not committed at $tablePath")
    if (!linkNew(branchRefFile(tablePath, name),
        encodeLines(Map("base" -> base.toString), Nil, Nil)))
      throw new IllegalArgumentException(
        s"branch '$name' already exists at $tablePath — " +
          "fastForward or dropBranch first")
    base
  }

  /** Live branches: name → (base version, branch commit count). */
  def branches(tablePath: String): Map[String, (Long, Long)] =
    stages(tablePath).branches.map { case (n, cs) =>
      n -> (branchBase(tablePath, n), cs.size.toLong) }

  private def branchBase(tablePath: String, name: String): Long = {
    val f = branchRefFile(tablePath, name)
    require(Files.exists(f), s"no branch '$name' at $tablePath")
    decodeLines(f).meta("base").toLong
  }

  private def branchCommits(tablePath: String, name: String): Seq[Long] =
    stages(tablePath).branches.getOrElse(name, Nil)

  private def readBranchCommit(tablePath: String, name: String,
      c: Long): ManifestLines =
    readStageFile(branchCommitFile(tablePath, name, c),
      s"branch '$name' commit $c is missing at $tablePath")

  /** The branch's resolved (base snapshot, schema, all added files,
    * merged meta): base state folded through the branch commits in
    * order. Constraints are the BASE's — frozen at fork (constraint
    * changes refuse on branches). */
  private def branchState(tablePath: String, name: String)
      : (Snapshot, StructType, Seq[String], Map[String, String]) = {
    val base = at(tablePath, branchBase(tablePath, name))
    var schema = base.schema
    val files = Seq.newBuilder[String]
    var meta = Map.empty[String, String]
    branchCommits(tablePath, name).foreach { c =>
      val bc = readBranchCommit(tablePath, name, c)
      bc.meta.get(SchemaKey).foreach(j => schema = evolve(schema,
        DataType.fromJson(j).asInstanceOf[StructType]))
      files ++= bc.added
      meta ++= bc.meta
    }
    (base, schema, files.result(), meta)
  }

  /** Commit `df` onto branch `name` — the append-shaped branch commit:
    * data files land in a normally-claimed batch dir (stats/bytes
    * harvested from footers like any commit), the batch validates
    * against the branch's CHECK constraints NOW (the fork-frozen set —
    * a violating branch commit aborts with nothing staged), the schema
    * evolves append-compatibly from the branch head, and the branch
    * manifest publishes under the same atomic link-retry as [[commit]]
    * (two branch writers race the commit number; the loser re-resolves
    * and relinks — appends are disjoint by the batch-dir claim). NO
    * main-chain version moves. Returns the branch commit number. */
  def commitBranch(df: DataFrame, tablePath: String, name: String,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty): Long =
    commitBranchImpl(df, tablePath, name, meta, statsCols, None)

  /** `appId`'s newest transaction version recorded ON the branch
    * (None when it never wrote there) — bounded by the branch's own
    * commit count, which is short by construction. After a
    * fast-forward the stamps ride the published manifest into the
    * MAIN txn fold (newest branch stamp wins — the SetTransaction
    * overwrite), so [[lastTxn]] keeps answering downstream. */
  def branchTxn(tablePath: String, name: String,
      appId: String): Option[Long] =
    branchCommits(tablePath, name).flatMap(c =>
      readBranchCommit(tablePath, name, c).meta.get(s"$TxnPrefix$appId")
        .map(_.toLong)).maxOption

  /** Idempotent [[commitBranch]] for replayable writers — the
    * [[commitOnce]] contract applied to a BRANCH: the (appId,
    * txnVersion) stamp publishes atomically with the branch commit
    * manifest, a replayed txnVersion commits NOTHING (None), and the
    * link-retry loop re-probes the stamp so two writers replaying the
    * same micro-batch cannot both land it (the zombie-driver race).
    * This is what makes a streaming `foreachBatch` sink onto a branch
    * exactly-once — the quarantined-ingest stream. */
  def commitBranchOnce(df: DataFrame, tablePath: String, name: String,
      appId: String, txnVersion: Long,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty): Option[Long] = {
    require(!meta.keys.exists(_.startsWith(TxnPrefix)),
      s"'$TxnPrefix*' meta is reserved for the txn stamp")
    if (branchTxn(tablePath, name, appId).exists(_ >= txnVersion))
      return None
    try Some(commitBranchImpl(df, tablePath, name,
      meta + (s"$TxnPrefix$appId" -> txnVersion.toString), statsCols,
      Some((appId, txnVersion))))
    catch { case _: TxnAlreadyApplied => None }
  }

  private def commitBranchImpl(df: DataFrame, tablePath: String,
      name: String, meta: Map[String, String],
      statsCols: Seq[String],
      txnGate: Option[(String, Long)]): Long = {
    val (base, headSchema, _, _) = branchState(tablePath, name)
    // append-compatible evolution gate BEFORE writing (loud on type
    // changes; new columns ride), then the fork-frozen constraint gate
    // over the WRITTEN rows
    val (batch, lines) = writeStage(df, tablePath, meta, statsCols,
      evolve(headSchema, df.schema), base.constraints,
      bad => s"requirement failed: branch '$name' commit violates CHECK " +
        s"constraint(s) $bad — nothing landed on the branch",
      Map(CommitTsKey -> System.currentTimeMillis.toString))
    // optimistic link-retry on the branch commit number; a txn-gated
    // commit RE-PROBES its stamp after every lost race — the loser of
    // two writers replaying the same micro-batch surrenders instead
    // of landing the batch twice (commit's TxnAlreadyApplied contract)
    var next = branchCommits(tablePath, name).lastOption
      .getOrElse(0L) + 1
    while (!linkNew(branchCommitFile(tablePath, name, next), lines)) {
      txnGate.foreach { case (app, tv) =>
        if (branchTxn(tablePath, name, app).exists(_ >= tv)) {
          rmTree(batch.dir)
          throw new TxnAlreadyApplied(tablePath, app, tv)
        }
      }
      next += 1
    }
    next
  }

  /** The branch view: the BASE version's state (deletion vectors
    * applied) plus every branch commit's files, under the branch's
    * evolved schema. Pinned at the FORK — main-chain commits after the
    * fork are invisible here, exactly as branch commits are invisible
    * to main readers (the isolation contract both directions). */
  def readBranch(spark: SparkSession, tablePath: String,
      name: String): DataFrame = {
    val (base, schema, files, _) = branchState(tablePath, name)
    stageView(spark, base, files, schema)
  }

  /** Publish branch `name` back onto the main chain as ONE
    * metadata-only commit (the squash fast-forward): all branch files
    * become the next version's adds, the base's DV/file state is
    * inherited by delta resolution, the branch's evolved schema and
    * the fork-frozen constraints record, and the branch refs delete.
    * REFUSES on divergence — any main commit since the fork means the
    * branch's constraint validation and isolation story no longer
    * describe the published chain; re-branch from the new head and
    * replay instead (the atomic-exclusive link makes the check
    * race-free: a main commit sneaking in between the head check and
    * the link turns the link into a loud EEXIST, nothing published).
    * IDEMPOTENT through the `txn.branch-<name>` stamp: a replay after
    * the link-then-cleanup crash window returns the already-published
    * version. Returns the published main version. */
  def fastForward(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val stage = s"branch-$name"
    publishedAt(tablePath, stage) match {
      case Some(v) =>
        // already published (crash-window replay): finish the cleanup
        retireStage(tablePath, branchFiles(tablePath, name), published = true)
        return v
      case None => ()
    }
    val (base, schema, files, meta) = branchState(tablePath, name)
    val head = version(tablePath)
    if (head != base.version)
      throw new IllegalStateException(
        s"cannot fast-forward branch '$name' at $tablePath: main is at " +
          s"version $head but the branch forked at ${base.version} — " +
          "the chains have diverged. Re-branch from the head and replay the " +
          "branch's commits (append-shaped work is re-commitable), or " +
          "drop the branch")
    val next = publishStage(tablePath, base, stage, meta, schema, files)
      .getOrElse(throw new IllegalStateException(
        s"cannot fast-forward branch '$name' at $tablePath: a main " +
          s"commit won the race for version ${base.version + 1} — the " +
          "chains have diverged. Re-branch from the new head and replay"))
    retireStage(tablePath, branchFiles(tablePath, name), published = true)
    next
  }

  /** Abandon branch `name`: its manifests delete, and its data files —
    * unreferenced by construction unless the branch was already
    * published (then only the refs clean up, exactly like
    * [[dropStaged]]'s crash-window case) — reclaim immediately.
    * Returns false if the branch did not exist. */
  def dropBranch(tablePath: String, name: String): Boolean = {
    if (!Files.exists(branchRefFile(tablePath, name))) return false
    retireStage(tablePath, branchFiles(tablePath, name),
      published = publishedAt(tablePath, s"branch-$name").isDefined)
    true
  }

  /** Internal metadata key recording a commit's OPERATION when the
    * file-list diff alone cannot classify it: a copy-on-write rewrite
    * that touches EVERY live file lists all-new files — exactly a
    * replace's shape — so [[commit]] stamps removeFiles-bearing commits
    * `optype=rewrite` and [[history]] prefers the recorded operation
    * over inference (pre-recording manifests still infer). */
  val OpTypeKey = "optype"

  /** Prefix of metadata keys recording idempotent-writer transactions —
    * the Delta `txn` (appId, version) contract that makes streaming
    * `foreachBatch` sinks exactly-once: a writer stamps each commit with
    * its application id and a monotonically increasing transaction
    * version (the micro-batch id), and [[commitOnce]] refuses to re-apply
    * a transaction the table has already recorded. The stamp is a
    * manifest line of the version itself, so "the data landed" and "the
    * transaction is recorded" are ONE atomic event — the property a
    * sink-side marker file cannot give. */
  val TxnPrefix = "txn."

  /** Thrown INSIDE the commit retry loop when a rebase discovers the
    * new head already covers this commit's (appId, txnVersion) stamp —
    * the zombie-writer replay race ([[commitOnce]] converts it into its
    * idempotent `None`; any caller that commits txn-stamped metadata
    * directly through [[commit]] sees it loudly instead of
    * double-applying). */
  private[graft] final class TxnAlreadyApplied(
      val tablePath: String, val appId: String, val txnVersion: Long)
    extends IllegalStateException(
      s"transaction ($appId, $txnVersion) was committed to $tablePath " +
        "by a concurrent writer while this commit was rebasing — " +
        "dropping the replay instead of double-applying it")

  /** `appId`'s recorded transaction state at the head: (txnVersion,
    * table version that recorded it), None when the app never wrote.
    * Resolution is BOUNDED at any history length: the head manifest's
    * own stamp answers directly when present (the steady streaming
    * writer, whose stamp is on every commit — one read), else the
    * checkpoint+delta [[Snapshot]] fold (≤ [[CheckpointInterval]]+1 reads;
    * txn state rides the checkpoints, so a stamp survives vacuum and
    * replace/restore — the Delta SetTransaction contract). */
  private[graft] def txnState(tablePath: String,
      appId: String): Option[(Long, Long)] = {
    val head = version(tablePath)
    if (head <= 0) None
    else readManifest(tablePath, head).meta.get(s"$TxnPrefix$appId") match {
      case Some(n) => Some((n.toLong, head))
      case None => snapshot(tablePath, head).txns.get(appId)
    }
  }

  /** Highest transaction version `appId` has committed to `tablePath`
    * (-1 when the app never wrote). Bounded driver-side metadata
    * resolution — see [[txnState]]. */
  def lastTxn(tablePath: String, appId: String): Long =
    txnState(tablePath, appId).map(_._1).getOrElse(-1L)

  /** Idempotent commit — the exactly-once primitive for replayable
    * writers (Structured Streaming `foreachBatch` is documented
    * at-least-once: a crash between the sink commit and the streaming
    * commit-log write replays the batch with the same `batchId`).
    * Commits `df` stamped with (`appId`, `txnVersion`) unless the table
    * has already recorded a transaction >= `txnVersion` for `appId`, in
    * which case NOTHING happens and None is returned — the replayed
    * batch is dropped instead of double-applied. Returns Some(version)
    * when the commit happened. */
  def commitOnce(df: DataFrame, tablePath: String, appId: String,
      txnVersion: Long, replace: Boolean = false,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty): Option[Long] = {
    require(appId.nonEmpty && !appId.contains("=") && !appId.contains("\n"),
      s"invalid txn appId '$appId'")
    // one resolution serves the txn probe and the commit's base
    val head = at(tablePath)
    if (head.txns.get(appId).exists(_._1 >= txnVersion)) None
    else
      try Some(commit(df, tablePath, replace,
        meta + (s"$TxnPrefix$appId" -> txnVersion.toString),
        statsCols = statsCols, base = head))
      catch {
        // lost the publish race to a concurrent writer that landed this
        // very transaction (the commit retry loop's txn conflict
        // check): the batch IS applied — exactly once, by the winner —
        // so the idempotent contract is None, same as the pre-check.
        case _: TxnAlreadyApplied => None
      }
  }

  /** Prefix of metadata keys mapping a live data file to its DELETION
    * VECTOR (`dv.<fileRel>=<dvDirRel>:<positions>`) — the merge-on-read
    * DELETE the Delta DV / Iceberg v2 position-delete shape: a row-level
    * delete publishes positions-to-hide for the files it touches instead
    * of rewriting them (at 100 TB, GDPR single-key erasure must not pay
    * a file rewrite). Readers drop the `(file, row position)` pairs of
    * the referenced DV parquet ([[dvJoin]]); a file without a mapping reads
    * untouched, so DV-less tables pay nothing. The in-force DV state
    * RESOLVES from the delta log exactly like the file list: a commit
    * records only the mappings it SET, appends inherit the base's,
    * copy-on-write rewrites drop the mappings of the files they remove
    * (their rewrite applied the DV, materializing it away), replaces
    * drop everything, restore re-lists the target's resolved mappings
    * under its replace flag — so resolving a version's DVs is a bounded
    * checkpoint+delta read, vacuum checkpoints before dropping old
    * manifests so it never resurrects deleted rows, and time travel
    * sees each version's exact DV state. A newer DV for a file always
    * CONTAINS its older
    * positions (the delete op carries them forward), which keeps stale
    * rows in shared DV directories harmless. */
  val DvPrefix = "dv."

  /** Ceiling for the in-scan DV filter, in total deleted positions
    * (known for free from the mapping metadata): up to it the positions
    * are read on the driver into per-file bitmaps shipped as one
    * broadcast variable; past it DV application falls back to a
    * shuffle anti-join instead of flooding the driver — the same
    * degrade-don't-crash gate as Merge's key set. */
  val DvBroadcastLimit: Long = 4L * 1000 * 1000

  /** The on-disk shape of a DV directory, one row per deleted position:
    * written by [[Merge]]'s DV publish, read back under this declared
    * schema (no schema-inference job). */
  val DvSchema: StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    StructType(Seq(StructField("file", StringType),
      StructField("pos", LongType)))
  }

  /** The table-relative path of the file a scanned row came from, as a
    * plain codegen'd expression over `_metadata.file_path` (last three
    * path segments — the fixed `data/bNNNNNN/<file>` layout, so no
    * driver-side URI decoding): THE file key. DV application matches
    * on it; the copy-on-write touched-file list, the constraint
    * aggregate and [[history]]'s row-count fallback group by it. */
  private[ops] def relPathCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat_ws("/", slice(split(col("_metadata.file_path"), "/"), -3, 3))
  }

  /** `df` (a direct parquet scan of this table's files) with the DV
    * join-key columns materialized from the scan's metadata — must run
    * BEFORE any join, while `_metadata` is unambiguous. */
  private[ops] def withPos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__dv_f", relPathCol)
      .withColumn("__dv_p", col("_metadata.row_index"))
  }

  /** The DV directories `dvs` references, absolute, in path order. */
  private def dvDirs(tablePath: String,
      dvs: Map[String, (String, Long)]): Seq[Path] =
    dvs.values.map(_._1).toSeq.distinct.sorted
      .map(r => Paths.get(tablePath).resolve(r))

  /** All deleted `(file, pos)` positions of `dvs`, as a distributed
    * frame: reads the referenced DV directories under [[DvSchema]],
    * restricted to mapped files (a shared directory may hold stale rows
    * for files whose mapping moved on — always position-subsets, but
    * files with NO mapping must contribute nothing). */
  private[ops] def dvPositions(spark: SparkSession, tablePath: String,
      dvs: Map[String, (String, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(DvSchema)
      .parquet(dvDirs(tablePath, dvs).map(_.toString): _*)
      .filter(col("file").isInCollection(dvs.keys.toSeq))
  }

  /** The positions of [[dvPositions]] read on the DRIVER with
    * parquet-mr (no Spark job), one bitmap per mapped file, under the
    * same mapped-files rule. Bounded by [[DvBroadcastLimit]]: these are
    * the bytes a broadcast anti-join would collect to the driver too. */
  private def dvBitmaps(spark: SparkSession, tablePath: String,
      dvs: Map[String, (String, Long)])
      : java.util.HashMap[String, Roaring64NavigableMap] = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val opts = HadoopReadOptions.builder(conf).build()
    val out = new java.util.HashMap[String, Roaring64NavigableMap]()
    def parts(dir: Path): Seq[Path] = {
      val ls = Files.list(dir)
      try ls.iterator.asScala.toSeq.filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }.sortBy(_.toString)
      finally ls.close()
    }
    for (dir <- dvDirs(tablePath, dvs); part <- parts(dir)) {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toString), conf), opts)
      try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(rd.readNextRowGroup()).takeWhile(_ != null)
          .foreach { rows =>
            val rec = io.getRecordReader(rows, new GroupRecordConverter(schema))
            for (_ <- 0L until rows.getRowCount) {
              val g = rec.read()
              val f = g.getString("file", 0)
              if (dvs.contains(f))
                out.computeIfAbsent(f, _ => new Roaring64NavigableMap())
                  .addLong(g.getLong("pos", 0))
            }
          }
      } finally rd.close()
    }
    out.values.forEach(_.runOptimize())
    out
  }

  /** The ONE owner of DV application over a [[withPos]]-prepared frame,
    * helper columns kept. Up to `limit` total positions (default
    * [[DvBroadcastLimit]]) it is a filter INSIDE the scan's stage: the
    * positions are read on the driver ([[dvBitmaps]]), shipped as one
    * broadcast variable, and tested per row by the deterministic
    * `graft_dv_live` UDF — no join, no exchange, no extra Spark job.
    * Past `limit` it is a shuffle `(file, pos)` anti-join against
    * [[dvPositions]]. The bitmaps are built per call, never cached. */
  private[ops] def dvJoin(spark: SparkSession, tablePath: String,
      dvs: Map[String, (String, Long)],
      dfWithPos: DataFrame, limit: Long = DvBroadcastLimit): DataFrame = {
    import org.apache.spark.sql.functions.{col, udf}
    if (dvs.isEmpty) dfWithPos
    else if (dvs.values.map(_._2).sum <= limit) {
      val bc = spark.sparkContext.broadcast(
        dvBitmaps(spark, tablePath, dvs))
      val live = udf { (f: String, p: Long) =>
        val deleted = bc.value.get(f)
        deleted == null || !deleted.contains(p)
      }.withName("graft_dv_live")
      dfWithPos.filter(live(col("__dv_f"), col("__dv_p")))
    } else {
      val dv = dvPositions(spark, tablePath, dvs)
        .select(col("file").as("__dv_f"), col("pos").as("__dv_p"))
      dfWithPos.join(dv, Seq("__dv_f", "__dv_p"), "left_anti")
    }
  }

  /** Reserved metadata key holding the table schema at a version, as
    * single-line Spark JSON. The schema lives in the LOG, not in file
    * footers — the Delta/Iceberg contract: a read never lists or opens
    * footers to discover columns (at 100 TB that is thousands of
    * driver-side footer fetches), and schema EVOLUTION is a metadata
    * event, checked and published atomically with the commit. */
  val SchemaKey = "schema"

  /** The widening-promotion lattice the parquet readers serve natively
    * (Spark 4's widening type promotions: an INT32 file column reads
    * correctly under a LongType read schema, FLOAT under DOUBLE): the
    * wider of two types when one safely widens to the other, None
    * otherwise. Deliberately conservative — only the lossless
    * integral chain and float→double. */
  private def widerOf(a: DataType, b: DataType): Option[DataType] = {
    import org.apache.spark.sql.types._
    val intChain: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    val floatChain: Seq[DataType] = Seq(FloatType, DoubleType)
    def rank(chain: Seq[DataType]): Option[DataType] = {
      val (ia, ib) = (chain.indexOf(a), chain.indexOf(b))
      if (ia >= 0 && ib >= 0) Some(chain(math.max(ia, ib))) else None
    }
    rank(intChain).orElse(rank(floatChain))
  }

  /** Append-compatible evolution of `prev` by `next`: columns shared by
    * both must keep their exact type; columns only in `next` append to
    * the end (new files carry them, old files read as null); columns
    * only in `prev` are retained (the new files read as null — the
    * diagonal-union semantics). Incompatible type changes fail loudly —
    * rewrite via `replace = true` instead. `widen = true` (the
    * EXPLICIT opt-in [[commit]]'s `allowTypeWidening` passes — the
    * Delta declared-upcast shape) additionally accepts LOSSLESS
    * widenings ([[widerOf]]): the merged column takes the wider type,
    * and every file generation reads correctly under it via the
    * parquet readers' native widening promotion — no file is ever
    * rewritten for a type migration. Anything outside the lattice
    * (string→int, long→int, …) still refuses loudly. */
  private def evolve(prev: StructType, next: StructType,
      widen: Boolean = false): StructType = {
    val prevTypes = prev.fields.map(f => f.name -> f.dataType).toMap
    val merged = next.fields.flatMap { f =>
      prevTypes.get(f.name).map { t =>
        if (t == f.dataType) f.name -> t
        else {
          val w = if (widen) widerOf(t, f.dataType) else None
          require(w.isDefined,
            s"schema evolution cannot change column '${f.name}' from $t " +
              s"to ${f.dataType}; " +
              (if (!widen && widerOf(t, f.dataType).isDefined)
                "pass allowTypeWidening = true to accept this lossless " +
                  "widening, or "
               else "") +
              "commit with replace = true to rewrite")
          f.name -> w.get
        }
      }
    }.toMap
    val nextNames = next.fieldNames.toSet
    // nullability relaxes to the union's (a column absent from any
    // file generation is nullable in the merged view)
    StructType(
      prev.fields.map { f =>
        val t = merged.getOrElse(f.name, f.dataType)
        if (nextNames.contains(f.name)) f.copy(dataType = t)
        else f.copy(nullable = true)
      } ++
        next.fields.filterNot(f => prevTypes.contains(f.name))
          .map(_.copy(nullable = true)))
  }

  /** Prefix of metadata keys holding table CHECK constraints — the
    * Delta constraints contract: an invariant recorded ONCE in the log
    * (`#constraint.<name>=<sql-expr>`) gates EVERY later commit. */
  val ConstraintPrefix = "constraint."

  /** Record a CHECK constraint as a METADATA-ONLY commit (zero-row
    * append): every subsequent commit validates its rows against the
    * expression and ABORTS — nothing written, no version published — if
    * any row violates it. The expression must also hold on the current
    * table content, else this call itself fails (the Delta `ADD
    * CONSTRAINT` contract: you cannot declare an invariant the table
    * already breaks). Constraints carry forward through appends AND
    * replaces until [[dropConstraint]]. */
  def addConstraint(spark: SparkSession, tablePath: String, name: String,
      expression: String): Long = {
    require(name.nonEmpty && !name.contains("=") && !name.contains("\n"),
      s"invalid constraint name '$name'")
    val head = at(tablePath)
    val existing = head.read(spark)
    val bad = existing
      .filter(!org.apache.spark.sql.functions.expr(expression)).count()
    require(bad == 0L, s"cannot add constraint '$name': $bad existing " +
      s"rows violate ($expression)")
    commit(existing.limit(0), tablePath,
      meta = Map(s"$ConstraintPrefix$name" -> expression), base = head)
  }

  /** Remove a constraint via a metadata-only commit. Later commits stop
    * validating it; history keeps showing it in force for the versions
    * it gated. */
  def dropConstraint(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val head = at(tablePath)
    require(head.constraints.contains(name),
      s"no constraint '$name' at $tablePath")
    commit(head.read(spark).limit(0), tablePath,
      excludeConstraint = Some(name), base = head)
  }

  /** Batch commit stats (per-file row counts + min/max bounds) read from
    * the just-written parquet FOOTERS — the ~free path a constraint-less
    * commit takes instead of launching a Spark job that re-reads the
    * batch's data. The parquet writer already recorded exactly these
    * numbers (block row counts, per-chunk column statistics) while the
    * write job produced the files; harvesting them is driver-side
    * metadata I/O, a few KB per fresh file, bounded by the BATCH's file
    * count — never the table's, never its bytes. Commits with CHECK
    * constraints keep the fused validation pass (they must read the
    * rows anyway, and stats fall out of the same aggregate).
    *
    * Semantics match the data-pass exactly where it matters: row counts
    * are exact; bounds are the native min/max cast to double and then
    * ulp-widened (the same long→double rounding, the same widening, so
    * the published `#filestats.` lines are identical). Conservative
    * degradations only: a stats column whose SPARK type is not plain
    * integral/floating (timestamp, decimal, string…) or whose footer
    * statistics are absent/NaN records NO bound — the file reads as
    * unprunable, which can never skip a matching file. */
  /** The stats columns a commit actually records bounds for: plain
    * integral/floating Spark types only, resolved against the batch's
    * schema. Shared by BOTH stats paths so they publish identical
    * lines — and so a string/timestamp/decimal stats column degrades to
    * "no bound, unprunable" instead of the data pass throwing on an
    * ANSI string→double cast. */
  private def numericStatsCols(schema: StructType,
      statsCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types._
    statsCols.filter(c =>
      schema.fields.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      })
  }

  /** `#filebytes.` metadata for a commit's own just-written files: one
    * driver-side stat per fresh file, bounded by the BATCH — recorded
    * once here so later consumers (streaming bytes admission) never
    * stat storage again. */
  private def freshBytesMeta(tablePath: String,
      fresh: Seq[String]): Map[String, String] =
    fresh.map(f => s"$FileBytesPrefix$f" ->
      Files.size(Paths.get(tablePath).resolve(f)).toString).toMap

  private def footerBatchStats(spark: SparkSession, tablePath: String,
      fresh: Seq[String], statsCols: Seq[String], schema: StructType)
      : (Map[String, String], Map[String, String]) = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val numericCols = numericStatsCols(schema, statsCols)
    val conf = spark.sessionState.newHadoopConf()
    // read options built once per commit: the one-argument open builds
    // a fresh Hadoop Configuration per footer
    val opts = HadoopReadOptions.builder(conf).build()
    def asDouble(v: AnyRef): Option[Double] = v match {
      case l: java.lang.Long => Some(l.toDouble)
      case i: java.lang.Integer => Some(i.toDouble)
      case f: java.lang.Float => Some(f.toDouble)
      case d: java.lang.Double => Some(d.toDouble)
      case _ => None
    }
    val perFile = fresh.map { rel =>
      val abs = Paths.get(tablePath).resolve(rel).toString
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs), conf), opts)
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val spec = numericCols.flatMap { c =>
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == c))
          // every block must carry recorded, non-empty statistics for
          // the column, or the footer cannot BOUND the file — record
          // nothing (unprunable) rather than guess. Chunks that are
          // entirely null contribute no bound but don't spoil the rest.
          if (chunks.exists(_.isEmpty)) None
          else {
            val stats = chunks.flatten.map(_.getStatistics)
            if (stats.exists(s => s == null || s.isEmpty)) None
            else {
              val bounds = stats.filter(_.hasNonNullValue).flatMap(s =>
                for (mn <- asDouble(s.genericGetMin()
                             .asInstanceOf[AnyRef]);
                     mx <- asDouble(s.genericGetMax()
                             .asInstanceOf[AnyRef])) yield (mn, mx))
              if (bounds.size !=
                    stats.count(_.hasNonNullValue) ||
                  bounds.isEmpty ||
                  bounds.exists(b => b._1.isNaN || b._2.isNaN)) None
              else Some(s"$c:${Math.nextDown(bounds.map(_._1).min)}:" +
                s"${Math.nextUp(bounds.map(_._2).max)}")
            }
          }
        }.mkString("|")
        (rel, rows, spec)
      } finally rd.close()
    }
    (perFile.map(t => s"$FileRowsPrefix${t._1}" -> t._2.toString).toMap,
     perFile.collect { case (f, _, spec) if spec.nonEmpty =>
       s"$FileStatsPrefix$f" -> spec }.toMap)
  }

  /** THE constraint aggregate: ONE bounded executor-side pass over
    * `scan` (a batch's written files) grouped by file, yielding each
    * file's row count and min/max for `numCols`, plus the formatted
    * CHECK-constraint violations (`'name' (n rows: expr), …`, None when
    * every row holds) — fused into a single job so a constraint-gated
    * stats-bearing commit reads its batch once, not three times. Min/max
    * are widened one ulp per side so a lossy long→double cast (values
    * past 2^53, e.g. nanosecond timestamps) can only LOOSEN a bound,
    * never falsely prune a matching file. A file with zero rows emits
    * no group. */
  private def constraintAggregate(scan: DataFrame,
      constraints: Map[String, String], numCols: Seq[String])
      : (Map[String, (Long, String)], Option[String]) = {
    import org.apache.spark.sql.functions.{col, count, expr, lit,
      sum, when, max => fmax, min => fmin}
    val cNames = constraints.keys.toSeq.sorted
    val aggs = count(lit(1L)).as("__rows") +:
      (cNames.map(n => sum(when(
         !expr(constraints(n)), lit(1L)).otherwise(lit(0L)))
         .as(s"__viol_$n")) ++
       numCols.flatMap(c => Seq(
         fmin(col(c)).cast("double").as(s"__mn_$c"),
         fmax(col(c)).cast("double").as(s"__mx_$c"))))
    val statsBase = 2 + cNames.size
    val perFile = scan
      .groupBy(relPathCol.as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val viols = cNames.zipWithIndex.map { case (n, i) =>
          n -> (if (r.isNullAt(2 + i)) 0L else r.getLong(2 + i))
        }
        val spec = numCols.zipWithIndex.flatMap { case (c, i) =>
          (Option(r.get(statsBase + 2 * i)),
           Option(r.get(statsBase + 1 + 2 * i))) match {
            case (Some(mn), Some(mx))
                if !mn.asInstanceOf[Double].isNaN &&
                  !mx.asInstanceOf[Double].isNaN =>
              Some(s"$c:${Math.nextDown(mn.asInstanceOf[Double])}:" +
                s"${Math.nextUp(mx.asInstanceOf[Double])}")
            case _ => None // all-null or NaN column: unprunable
          }
        }.mkString("|")
        (r.getString(0), r.getLong(1), viols, spec)
      }
    val bad = cNames.map(n =>
        n -> perFile.map(_._3.toMap.getOrElse(n, 0L)).sum)
      .filter(_._2 > 0)
    (perFile.map(t => t._1 -> (t._2, t._4)).toMap,
     if (bad.isEmpty) None
     else Some(bad.map { case (n, c) =>
       s"'$n' ($c rows: ${constraints(n)})" }.mkString(", ")))
  }

  /** A written batch: its claimed dir, its fresh files (table-relative,
    * sorted) and their `#filerows.`/`#filestats.` meta. */
  private case class Batch(dir: Path, fresh: Seq[String],
      rowsMeta: Map[String, String], statsMeta: Map[String, String])

  /** THE batch writer: claims a fresh `data/bNNNNNN` dir ([[claimDir]],
    * from `from`), writes `df` into it (append into the just-claimed
    * empty dir ≡ a fresh write, without overwrite's delete-and-recreate
    * window that would drop the claim) and lists the fresh files. Their
    * per-file row counts (the audit stats [[history]]/
    * [[Snapshot.rowCount]] answer from without touching data) and
    * min/max for `statsCols` (the data-skipping stats [[readPruned]]
    * consumes) come from the batch's own footers — nothing forces a data
    * re-read — or, when `constraints` are in force, from the one
    * [[constraintAggregate]] over the WRITTEN files, which validates
    * them in the same job. A violation deletes the batch dir and aborts
    * with `refusal(violations)`. An EMPTY batch skips both. */
  private def writeBatch(df: DataFrame, tablePath: String, from: Long,
      statsCols: Seq[String], constraints: Map[String, String] = Map.empty,
      refusal: String => String = identity): Batch = {
    val dir = claimDir(Paths.get(tablePath, "data"), "b", from)
    df.write.mode("append").parquet(dir.toString)
    val fresh = ls(dir)
      .filter(_.endsWith(".parquet")).sorted
      .map(p => Paths.get(tablePath).relativize(Paths.get(p)).toString)
    if (fresh.isEmpty) Batch(dir, fresh, Map.empty, Map.empty)
    else if (constraints.isEmpty) {
      val (rows, stats) = footerBatchStats(df.sparkSession, tablePath,
        fresh, statsCols, df.schema)
      Batch(dir, fresh, rows, stats)
    } else {
      val (perFile, bad) = constraintAggregate(
        df.sparkSession.read.schema(df.schema).parquet(dir.toString),
        constraints, numericStatsCols(df.schema, statsCols))
      bad.foreach { b =>
        rmTree(dir)
        throw new IllegalArgumentException(refusal(b))
      }
      // a fresh file can hold zero rows (empty partition) and then
      // emits no group — record it explicitly as 0
      Batch(dir, fresh,
        fresh.map(f => s"$FileRowsPrefix$f" ->
          perFile.get(f).map(_._1).getOrElse(0L).toString).toMap,
        perFile.collect { case (f, (_, spec)) if spec.nonEmpty =>
          s"$FileStatsPrefix$f" -> spec })
    }
  }

  /** Commit `df` as the next version. Append commits carry the previous
    * version's files plus the new ones; `replace = true` carries only the
    * new ones; `removeFiles` (with `replace = false`) carries the previous
    * list MINUS those paths plus the new ones — the copy-on-write rewrite
    * [[Merge]] publishes (Delta's remove/add actions; removed files stay
    * on disk, so older versions keep time-traveling).
    * `meta` entries publish as `#key=value` manifest lines —
    * atomic with the version itself. The version's schema is recorded as
    * [[SchemaKey]] metadata: appends evolve the previous schema
    * append-compatibly ([[evolve]] — new columns allowed, type changes
    * loud), replaces reset it to `df`'s. CHECK constraints in force
    * ([[addConstraint]]) carry forward and gate the commit from ONE
    * materialization: the batch files are written first, the WRITTEN
    * rows are validated in one aggregate pass, and only then does the
    * manifest publish — a violating commit deletes its batch files and
    * aborts with per-constraint counts, publishing nothing.
    *
    * CONCURRENCY: batch dirs are claimed atomically ([[claimDir]] — two
    * writers never share one) and the publish is [[publishVersion]]'s
    * atomic-exclusive link with the
    * table-format optimistic retry — a pure append losing the version
    * race rebases onto the new head (disjoint files, schema and
    * constraints re-resolved; aborts loudly if the head's constraint
    * set changed after validation); a deletion-vector or copy-on-write
    * commit rebases iff its read-set anchor — the files it removes or
    * DVs — survived the window with unchanged DV mappings (erasure-
    * and compaction-under-ingest liveness — see the retry loop);
    * replace and constraint-changing commits abort loudly on any
    * conflict. Callers that RESOLVE work against a snapshot before
    * committing (matched files, DV positions, rewrite content) pass
    * that snapshot as `base` so commits landing between their resolve
    * and this call are conflict-checked too — the Delta transaction
    * read-version; the base's files, constraints, schema and anchor
    * DVs come from the value, not from a fresh resolution. Without a
    * `base` (null) the commit resolves the head once itself. Returns
    * the committed version number. */
  def commit(df: DataFrame, tablePath: String,
      replace: Boolean = false,
      meta: Map[String, String] = Map.empty,
      excludeConstraint: Option[String] = None,
      removeFiles: Seq[String] = Seq.empty,
      statsCols: Seq[String] = Seq.empty,
      base: Snapshot = null,
      allowTypeWidening: Boolean = false,
      inheritConstraints: Boolean = true): Long = {
    // `inheritConstraints = false` is the SQL REPLACE TABLE semantic —
    // a table REDEFINITION starts from a fresh constraint slate (the
    // Delta contract), unlike the API's content-preserving replace (the
    // OPTIMIZE/restore shape), which keeps inheriting. Only a replace
    // can redefine; an append dropping its constraints silently would
    // be an un-audited enforcement hole.
    require(inheritConstraints || replace,
      "inheritConstraints = false requires replace = true (only a " +
        "table REDEFINITION starts from a fresh constraint slate; use " +
        "dropConstraint to remove one from a live table)")
    statsCols.foreach(c => require(!c.contains(":") && !c.contains("|"),
      s"invalid stats column name '$c'"))
    checkMeta(meta)
    require(removeFiles.isEmpty || !replace,
      "removeFiles is meaningless with replace (replace drops everything)")
    // `base` is the Delta transaction read-version: the snapshot the
    // CALLER resolved its work against (matched files, DV positions,
    // rewrite content). Without it, a conflicting commit landing
    // between the caller's resolve and this entry would be invisible
    // to the retry loop's anchor checks (the loop compares against the
    // version IT saw first) — a compaction in that window could
    // silently strand a racing DV delete's positions on a dead file.
    // With it, the loop starts at the CURRENT head and the very first
    // iteration runs the full conflict/rebase analysis against the
    // caller's true baseline.
    require(base == null || base.tablePath == tablePath,
      s"base snapshot of ${base.tablePath} passed to a commit of " +
        tablePath)
    val snap0 = if (base == null) at(tablePath) else base
    val prev0 = snap0.version
    // the COPY-ON-WRITE commit shape (Delta remove/add actions): the new
    // manifest carries the previous file list MINUS `removeFiles` plus
    // this commit's files — the surgical rewrite MERGE/DELETE publish.
    // Every removed path must be live at the previous version; old
    // versions keep reading the removed files (never deleted here).
    if (removeFiles.nonEmpty) {
      val live = snap0.files.toSet
      val dead = removeFiles.filterNot(live.contains)
      require(dead.isEmpty,
        s"removeFiles not in version $prev0: ${dead.mkString(", ")}")
    }
    // constraints in force = inherited (minus `excludeConstraint`, the
    // [[dropConstraint]] carve-out; none at all for a fresh-slate SQL
    // REPLACE) plus any recorded by this commit
    val inherited0 =
      if (!inheritConstraints) Map.empty[String, String]
      else snap0.constraints -- excludeConstraint.toSeq
    val passed = meta.collect {
      case (k, ex) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> ex
    }
    val constraints = inherited0 ++ passed
    // Write FIRST, then validate the WRITTEN files ([[writeBatch]]):
    // `df` is executed exactly once, so a non-deterministic or
    // concurrently-changing input can never pass validation yet land
    // different (violating) rows — what it wrote is literally what was
    // checked. A violation deletes the batch dir and aborts; no manifest
    // was published, so readers never saw anything.
    val batch = writeBatch(df, tablePath, prev0 + 1, statsCols, constraints,
      bad => s"requirement failed: commit violates CHECK constraint(s) " +
        s"$bad — nothing was published")
    // ZERO-ROW batch files drop from the listing (Delta never publishes
    // an empty add action): a metadata-only commit — ADD CONSTRAINT,
    // a DV delete, an empty micro-batch — stays truly metadata-only
    // instead of growing every later scan, prune and merge candidate
    // set by one stat-less, unprunable empty file per commit. The file
    // stays on disk unreferenced; vacuum sweeps it. Kept only when
    // dropping would leave the version with no listed file at all (the
    // first or replace commit of an empty frame — readers resolve their
    // empty scan from the file's footer).
    val freshKept = {
      val nonEmpty = batch.fresh.filter(f =>
        batch.rowsMeta.get(s"$FileRowsPrefix$f").forall(_ != "0"))
      if (nonEmpty.nonEmpty || (!replace && prev0 > 0)) nonEmpty
      else batch.fresh
    }
    val keptKeys = freshKept.map(f => s"$FileRowsPrefix$f").toSet
    val rowsMetaKept =
      batch.rowsMeta.filter(kv => keptKeys.contains(kv._1))
    val bytesMetaKept = freshBytesMeta(tablePath, freshKept)
    // PUBLISH with optimistic concurrency (the table-format retry):
    // each attempt builds the manifest against the CURRENT head and
    // claims the next version through [[publishVersion]] (None when the
    // version landed in the meantime). Losing the race is terminal only when rebasing is unsound: a PURE APPEND
    // always rebases onto the new head (fresh files disjoint by the
    // batch-dir claim, head's file list re-carried, schema and
    // constraints re-resolved), and a DV or copy-on-write commit
    // rebases when its read-set anchor survived (see `rebasable` /
    // `anchorFiles` below) — exactly the Delta/Iceberg commit-retry
    // loop. Replaces, constraint changes, anchor conflicts, and
    // appends whose head grew a DIFFERENT constraint set than they
    // validated against abort loudly instead (their correctness was
    // resolved against a now-stale base).
    //
    // REBASE ELIGIBILITY (the liveness half of optimistic concurrency;
    // the loop below enforces the safety half per attempt). A commit's
    // correctness was resolved against `prev0` through its READ-SET
    // ANCHOR — the files it rewrites away (`removeFiles`) plus the
    // files it publishes deletion vectors for (their positions, and
    // the carried-forward old positions, bind to those exact files).
    // Everything ELSE re-resolves against the rebased head each
    // attempt: fresh files are disjoint by the batch-dir claim, the
    // head's file list re-carries, schema re-evolves, untouched DV
    // mappings re-inherit. So ANY non-replace, non-constraint commit
    // may rebase — a pure append always (empty anchor), a merge-on-
    // read DELETE/UPDATE or a copy-on-write rewrite/compaction exactly
    // when its anchor survived the window untouched. This is what
    // keeps continuous erasure and routine compaction from STARVING
    // behind continuous ingest at scale (every append winning the
    // publish race would otherwise abort them); genuine conflicts —
    // an anchor file rewritten away (positions/rewrite now bind to a
    // dead file) or re-DV'd mid-window (this commit would resurrect
    // the winner's deletes) — still abort loudly. Replaces resolve
    // the WHOLE table state and constraint changes alter the write
    // gate itself: never rebased.
    val rebasable = !replace && passed.isEmpty && excludeConstraint.isEmpty
    val anchorFiles = meta.keys.filter(_.startsWith(DvPrefix))
      .map(_.stripPrefix(DvPrefix)).toSet ++ removeFiles
    val anchorDvAtPrev0 =
      snap0.dv.filter { case (f, _) => anchorFiles.contains(f) }
    var head = math.max(prev0, version(tablePath))
    var attempts = 0
    while (true) {
      // ONE resolution of the attempt's base serves the whole attempt:
      // conflict checks, schema evolution, inherited constraints and the
      // running-max stamp all derive from it (none when the caller's
      // base is still the head)
      val baseSnap = if (head == prev0) snap0 else at(tablePath, head)
      if (head != prev0) {
        if (!rebasable) {
          rmTree(batch.dir)
          throw new IllegalStateException(
            s"concurrent commit detected at $tablePath: version " +
              s"$head was published by another writer after this " +
              "commit resolved its base, and a " +
              "replace/constraint commit cannot rebase — " +
              "retry on the new head")
        }
        if (anchorFiles.nonEmpty) {
          val headFiles = baseSnap.files.toSet
          val gone = anchorFiles.filterNot(headFiles.contains)
          val anchorDvAtHead = baseSnap.dv
            .filter { case (f, _) => anchorFiles.contains(f) }
          if (gone.nonEmpty || anchorDvAtHead != anchorDvAtPrev0) {
            rmTree(batch.dir)
            throw new IllegalStateException(
              s"concurrent commit detected at $tablePath: a file this " +
                "commit rewrites or deletes from was " +
                (if (gone.nonEmpty) s"rewritten away (${gone.mkString(", ")})"
                 else "deleted-from by another deletion-vector writer") +
                " after this commit resolved against it — retry on " +
                "the new head")
          }
        }
        if (baseSnap.constraints != inherited0) {
          rmTree(batch.dir)
          throw new IllegalStateException(
            s"concurrent commit detected at $tablePath: the table's " +
              "CHECK constraints changed after this commit validated " +
              "its rows — retry on the new head")
        }
        // TXN CONFLICT CHECK (Delta's retry-loop guard): [[commitOnce]]
        // pre-checks `lastTxn` ONCE, against the head it resolved.
        // Losing the publish race means the head moved — and the new
        // head may ALREADY carry this (appId, txnVersion): two writers
        // replaying the same micro-batch (the zombie-driver case
        // streaming checkpoints exist for) both pass the pre-check and
        // claim disjoint batch dirs; without this re-check the loser
        // would rebase onto the winner and land the SAME transaction
        // twice — duplicated rows that `lastTxn` reports as
        // applied-once. Re-check every stamp against the rebased head
        // and surrender the replay instead.
        meta.foreach { case (k, v) =>
          if (k.startsWith(TxnPrefix) &&
              baseSnap.txns.get(k.stripPrefix(TxnPrefix))
                .exists(_._1 >= v.toLong)) {
            rmTree(batch.dir)
            throw new TxnAlreadyApplied(tablePath,
              k.stripPrefix(TxnPrefix), v.toLong)
          }
        }
      }
      val schema =
        if (replace || head == 0) df.schema
        else evolve(baseSnap.schema, df.schema, widen = allowTypeWidening)
      val inherited =
        if (!inheritConstraints) Map.empty[String, String]
        else baseSnap.constraints -- excludeConstraint.toSeq
      val constraintMeta = (inherited ++ passed)
        .map { case (n, ex) => s"$ConstraintPrefix$n" -> ex }
      val opMeta =
        if (removeFiles.nonEmpty) Map(OpTypeKey -> "rewrite")
        else Map.empty[String, String]
      // DELTA manifest: this commit's own meta (incl. its own dv.*
      // overrides — the base's untouched DV mappings and file list are
      // NOT re-listed; resolution inherits them), `-` lines for the
      // copy-on-write removals, plain lines for the fresh files. A pure
      // append's manifest is O(files added) bytes at any table size.
      val replaceMeta =
        if (replace) Map(ReplaceKey -> "true")
        else Map.empty[String, String]
      publishVersion(tablePath, baseSnap,
        meta ++ constraintMeta ++ opMeta ++ replaceMeta ++ rowsMetaKept ++
          batch.statsMeta ++ bytesMetaKept,
        schema, removeFiles, freshKept) match {
        case Some(next) => return next
        case None =>
          attempts += 1
          if (attempts > 20) {
            rmTree(batch.dir)
            throw new IllegalStateException(
              s"concurrent commit detected at $tablePath: still losing " +
                s"the publish race after $attempts rebases — giving up")
          }
          head = version(tablePath)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** RESTORE — roll the table back to `toVersion` as a METADATA-ONLY
    * commit (the Delta `RESTORE TABLE ... TO VERSION` shape): publishes
    * a NEW version listing exactly `toVersion`'s files, with its schema
    * and its constraints — the whole snapshot state returns, while
    * history keeps every intervening version readable (a restore never
    * rewinds the log; it appends to it, so a bad restore is itself
    * restorable). No data is read, copied, or rewritten — immutable
    * files make rollback a driver-side manifest write at any table
    * size. The restored version records its provenance as
    * `restore.of=<v>` metadata. Fails loudly if `toVersion` was
    * vacuumed, and on a concurrent-commit conflict (a restore resolves
    * the whole table state, so it can never rebase). */
  def restore(tablePath: String, toVersion: Long,
      meta: Map[String, String] = Map.empty): Long = {
    val head = at(tablePath)
    require(toVersion >= 1 && toVersion <= head.version,
      s"cannot restore $tablePath to $toVersion (head is ${head.version})")
    checkMeta(meta)
    val snap = at(tablePath, toVersion) // throws if vacuumed
    val restoredMeta =
      snap.constraints
        .map { case (n, e) => s"$ConstraintPrefix$n" -> e } ++
      // the target's RESOLVED DV state returns with its files (a DV
      // added after the target must NOT survive the rollback; one the
      // target had must); the restore is a replace-flagged full-state
      // delta, so later resolution never looks past it — which is why
      // it also re-carries the live files' row counts and stats (their
      // adding manifests are behind the replace wall)
      snap.dv.map { case (f, (d, n)) => s"$DvPrefix$f" -> s"$d:$n" } ++
      snap.rows.map { case (f, n) => s"$FileRowsPrefix$f" -> n.toString } ++
      snap.stats.map { case (f, spec) => s"$FileStatsPrefix$f" -> spec } ++
      snap.bytes.map { case (f, n) =>
        s"$FileBytesPrefix$f" -> n.toString } +
      (ReplaceKey -> "true")
    publishVersion(tablePath, head,
      meta ++ restoredMeta + ("restore.of" -> toVersion.toString),
      snap.schema, Nil, snap.files).getOrElse(
      throw new IllegalStateException(
        s"concurrent commit detected at $tablePath: version " +
          s"${head.version + 1} was published by another writer — a " +
          "restore resolves the whole table state and cannot rebase; " +
          "retry on the new head"))
  }

  /** VACUUM — the explicitly destructive maintenance half the commit path
    * deliberately omits (every table format separates them: commits only
    * ever add, retention only ever removes, so a commit bug can never eat
    * data and a vacuum bug can never corrupt a retained version). Keeps
    * the newest `retainLast` committed versions — plus every TAGGED
    * version ([[tag]]) — readable and reclaims everything else: older
    * manifests are dropped, then data files that NO
    * retained manifest references are deleted. A file shared between a
    * dropped and a retained version survives — append commits carry their
    * ancestors' files forward, so vacuuming history under an append chain
    * reclaims nothing until a `replace` commit (compaction) severs the
    * lineage; that is correct, not a missed delete.
    *
    * Deletion order is the crash-safety argument: manifests go first, data
    * files second, so an interrupted vacuum can strand unreferenced data
    * files but can never leave a readable manifest pointing at deleted
    * files. Stray reclamation is a data-dir SWEEP, not a dropped-manifest
    * walk: any parquet in a batch directory at-or-below the newest
    * committed version that no retained manifest references is garbage —
    * whether it came from a version this call drops, a previously
    * interrupted vacuum whose manifests are already gone, or a crashed
    * commit's claimed-but-never-published batch (commits skip debris
    * rather than reclaim it; vacuum is the reclaimer, nested
    * `_temporary/` trees included). Batch directories ABOVE the newest
    * committed version belong to an in-flight commit (data lands before
    * its manifest publishes) and are never touched; do NOT run vacuum
    * concurrently with in-flight commits on a multi-writer table — an
    * unpublished claimed batch numbered at-or-below the head is
    * indistinguishable from debris — nor concurrently with another
    * vacuum (two racing gap-ceiling writers could regress the head
    * hint's soundness bound; maintenance is single-operator). Reading a vacuumed version fails
    * loudly ("version v is not committed") — exactly [[read]]'s existing
    * missing-manifest check.
    *
    * Like all manifest I/O this is driver-side metadata work plus file
    * deletes; at cluster scale the deletes fan out through the same
    * filesystem client the commit path writes through. Returns the dropped
    * versions and the deleted table-relative parquet paths. */
  def vacuum(tablePath: String, retainLast: Int): (Seq[Long], Seq[String]) = {
    require(retainLast >= 1, "must retain at least the newest version")
    val all = committedVersions(tablePath)
    if (all.isEmpty) return (Seq.empty, Seq.empty)
    val newest = all.max
    // TAGGED versions are pinned OUTSIDE the retention window ([[tag]]),
    // and so is every live BRANCH's base version ([[branch]] — the fork
    // point must stay resolvable for the branch view and a future
    // fast-forward): their manifests, data files and DV dirs all
    // survive until the tag/branch is deleted — the audit-point
    // contract
    val st = stages(tablePath)
    val pinned = tags(tablePath).values.toSet ++
      st.branches.keys.map(branchBase(tablePath, _))
    val retained = (all.takeRight(retainLast) ++
      all.filter(pinned.contains)).distinct.sorted
    val droppedSet = all.toSet -- retained
    val dropped = all.filter(droppedSet.contains)
    // staged-but-undecided WAP batches ([[stageCommit]]) and live
    // branches' commits are referenced by their stage/branch manifests,
    // not by any version — protect their files like retained versions'
    // until publish/drop decides
    val stagedKeep = (st.wapIds.map(wapFile(tablePath, _)) ++
      st.branches.toSeq.flatMap { case (n, cs) =>
        cs.map(branchCommitFile(tablePath, n, _)) })
      .flatMap(f => decodeLines(f).added)
    // resolve retained state BEFORE any deletion (also warms the work
    // below), and MATERIALIZE A CHECKPOINT at every retained version
    // whose delta chain would cross a dropped manifest — dropping the
    // manifests first would leave a readable version unresolvable.
    // Checkpoints go first, manifests second, data last: an interrupted
    // vacuum can strand extra checkpoints or data files, never break a
    // retained version.
    val snaps = retained.map(v => v -> snapshot(tablePath, v)).toMap
    val willCkpt = scala.collection.mutable.Set.empty[Long]
    retained.foreach { r =>
      var w = r
      var resolved = false
      while (!resolved) {
        // mirrors [[snapshot]]'s stopping rule EXACTLY: resolution
        // continues below replace walls (txn state lives across them),
        // so a replace does not terminate the chain here either
        if (willCkpt.contains(w) || Files.exists(ckptFile(tablePath, w)))
          resolved = true
        else if (w == 1) resolved = true
        else if (droppedSet.contains(w - 1)) {
          willCkpt += r; resolved = true
        } else w -= 1
      }
    }
    willCkpt.toSeq.sorted.foreach(writeCheckpoint(tablePath, _))
    // record the GAP CEILING before dropping anything (crash-ordered:
    // an interrupted vacuum leaves the ceiling written and some drops
    // undone — the ceiling is then conservative, which only costs hint
    // fallback listings, never correctness). Every dropped version is
    // strictly below `newest`, so a head hint at or above the ceiling
    // provably has no vacuum gap above it — the invariant
    // [[headByHint]]'s forward probe rides. The hint itself advances to
    // `newest` too, so the steady state right after a vacuum is
    // hint-served.
    if (dropped.nonEmpty) {
      advisoryMax(gapCeilFile(tablePath), newest)
      writeHeadHint(tablePath, newest)
    }
    dropped.foreach { v =>
      Files.delete(manifestFile(tablePath, v))
      Files.deleteIfExists(ckptFile(tablePath, v))
    }
    val keep = (retained.flatMap(v => snaps(v).files) ++ stagedKeep).toSet
    val dataDir = Paths.get(tablePath, "data")
    val sweepDirs =
      if (!Files.isDirectory(dataDir)) Seq.empty[Path]
      else ls(dataDir).map(Paths.get(_)).filter { d =>
        val name = d.getFileName.toString
        Files.isDirectory(d) && name.startsWith("b") &&
          name.drop(1).nonEmpty && name.drop(1).forall(_.isDigit) &&
          name.drop(1).toLong <= newest
      }
    val gone = Seq.newBuilder[String]
    sweepDirs.foreach { d =>
      ls(d).filter(_.endsWith(".parquet")).foreach { p =>
        val rel = Paths.get(tablePath).relativize(Paths.get(p)).toString
        if (!keep.contains(rel)) {
          Files.deleteIfExists(Paths.get(p))
          gone += rel
        }
      }
      // a batch dir with no retained parquet left holds only write-time
      // sidecars (_SUCCESS, .crc) or crash debris — including the NESTED
      // `_temporary/` task tree a commit interrupted mid-df.write leaves
      // behind, which a flat delete cannot reclaim — so the sweep is
      // recursive; a concurrent commit racing files in between the check
      // and the delete just means "others remain", not a failure
      if (!ls(d).exists(_.endsWith(".parquet"))) {
        try rmTree(d)
        catch { case _: java.nio.file.DirectoryNotEmptyException => () }
      }
    }
    // DV sweep, same shape as the data sweep: a deletion-vector
    // directory survives iff some RETAINED version's resolved state
    // still references it; orphans — from dropped history,
    // materialized-away DVs, or a crashed delete that never published —
    // reclaim here
    val dvKeep = retained.flatMap(v =>
      snaps(v).dv.values.map(_._1)).toSet
    val dvRoot = Paths.get(tablePath, "dv")
    if (Files.isDirectory(dvRoot))
      ls(dvRoot).map(Paths.get(_)).filter(Files.isDirectory(_)).foreach {
        d =>
          val rel = Paths.get(tablePath).relativize(d).toString
          if (!dvKeep.contains(rel)) {
            try rmTree(d)
            catch { case _: java.nio.file.DirectoryNotEmptyException => () }
          }
      }
    (dropped, gone.result().sorted)
  }

  /** Per-version commit info for [[history]]. `change_type`: `append`
    * (previous files all carried), `replace` (nothing carried — the
    * compaction/OPTIMIZE shape), `rewrite` (the copy-on-write
    * [[Merge]] shape: some carried, some removed), `delete` (a
    * merge-on-read DV commit — recorded by the writer, since its file
    * diff is indistinguishable from an empty append). `rows_removed`
    * counts removed files' rows PLUS the positions newly hidden by
    * deletion-vector growth on surviving files, so a GDPR erasure
    * commit reads as the deletion event it is — the audit surface a
    * compliance reviewer needs. `data_change` is false only for
    * commits flagged with the writer's `data_change=false` metadata
    * (OPTIMIZE traffic CDC consumers skip). */
  case class CommitInfo(version: Long, change_type: String,
      files_added: Long, files_removed: Long, rows_added: Long,
      rows_removed: Long, data_change: Boolean,
      commit_ts: Long = 0L)

  /** DESCRIBE HISTORY — one row per committed version, answered from
    * COMMIT METADATA ALONE on stats-bearing tables: every commit records
    * its fresh files' row counts as [[FileRowsPrefix]] manifest lines,
    * and the counts of every live file ride the [[Snapshot]] fold and
    * the checkpoints, so the per-version row deltas are a driver-side
    * metadata walk with ZERO data or footer I/O — also after vacuum
    * dropped the adding manifests (the production-format contract — at
    * 100 TB an audit query must not read the table; ManifestSpec proves
    * history still answers with the data directory renamed away). Files
    * with no recorded count anywhere (PRE-STATS writers) fall back to
    * one read of exactly those files, under the version's recorded
    * schema. Removed-row counts reuse the adding version's counts — a
    * removed file was added earlier. */
  def history(spark: SparkSession, tablePath: String): Seq[CommitInfo] = {
    val vs = committedVersions(tablePath)
    val fileRows = scala.collection.mutable.Map.empty[String, Long]
    // INCREMENTAL WALK over the delta log: each contiguous step applies
    // ONE small delta manifest to the running snapshot — O(changes)
    // total metadata I/O, never O(versions × table files). Versions are
    // paired with their PREDECESSOR IN THE SURVIVING CHAIN (a vacuumed
    // table has gaps; the oldest retained version reads as the append
    // that created its whole file set — its carried files' counts come
    // from its checkpoint); a step after a gap re-resolves from its
    // checkpoint. Each version's meta is read once, with its delta.
    val empty = emptySnapshot(tablePath)
    var running = empty
    vs.zip(None +: vs.init.map(Some(_))).map { case (v, prevV) =>
      val prevSnap = if (prevV.isEmpty) empty else running
      val prev: Set[String] = prevSnap.files.toSet
      val curSnap =
        if (prevV.contains(v - 1)) applySnapDelta(running, delta(tablePath, v))
        else snapshot(tablePath, v)
      running = curSnap
      val cur = curSnap.files
      val added = cur.filterNot(prev.contains)
      val removed = prev -- cur
      // recorded counts first: every live file's, from the fold
      curSnap.rows.foreach { case (f, n) => fileRows.getOrElseUpdate(f, n) }
      val uncovered = added.filterNot(fileRows.contains)
      if (uncovered.nonEmpty) {
        import org.apache.spark.sql.functions.{count, lit}
        curSnap.scan(spark, uncovered)
          .groupBy(relPathCol.as("__f"))
          .agg(count(lit(1)).as("__n"))
          .collect().foreach(r => fileRows(r.getString(0)) = r.getLong(1))
        // a file can hold zero rows (empty append/metadata commit) and
        // then emits no group — record it explicitly
        uncovered.foreach(f => fileRows.getOrElseUpdate(f, 0L))
      }
      val meta = curSnap.versionMeta
      val changeType = meta.getOrElse(OpTypeKey,
        if (removed.isEmpty) "append"
        else if (cur.forall(!prev.contains(_))) "replace"
        else "rewrite")
      // merge-on-read deletes change no files — their row effect is the
      // DV GROWTH on surviving files (a new DV always contains the old
      // positions, so the per-file count delta IS the rows hidden this
      // version); still pure manifest metadata, zero data I/O
      val dvPrev = prevSnap.dv
      val dvGrowth = curSnap.dv.map { case (f, (_, n)) =>
        (n - dvPrev.get(f).map(_._2).getOrElse(0L)).max(0L) }.sum
      CommitInfo(v, changeType, added.size.toLong, removed.size.toLong,
        added.map(fileRows.getOrElse(_, 0L)).sum,
        removed.toSeq.map(fileRows.getOrElse(_, 0L)).sum + dvGrowth,
        meta.get(ChangeFeed.DataChangeKey).forall(_ != "false"),
        curSnap.commitTime)
    }
  }

  /** Read the table at `asOf` (default: the newest version) — the
    * public read verb, `at(tablePath, asOf).read(spark)`
    * ([[Snapshot.read]]). */
  def read(spark: SparkSession, tablePath: String,
      asOf: Long = -1L): DataFrame =
    at(tablePath, asOf).read(spark)
}
