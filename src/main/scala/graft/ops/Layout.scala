package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan pruning — the write-side half of the
  * 100 TB story: parquet keeps per-file/row-group min-max stats, but they
  * only prune when the data is CLUSTERED so each file covers a narrow
  * value box. A single-column sort clusters one dimension and shreds the
  * rest; Morton (z-order) interleaving clusters ALL participating
  * dimensions at once (the Delta/Iceberg `OPTIMIZE ZORDER BY` idea), so a
  * conjunctive box predicate overlaps few files however it mixes the
  * dimensions. LayoutSpec measures exactly that: a 2-D box query touches
  * ~1/8 of z-ordered files vs. every file of an unclustered layout.
  * The [[Manifest]]-table compactions ([[optimizeWhere]], [[compact]],
  * [[optimizeZOrder]]) each pick their target files
  * ([[Manifest.Snapshot.filesWithin]] for a range) and a shape; the
  * DV-applied read and the `removeFiles` publish are
  * [[Merge.rewriteFiles]], the one copy-on-write rewrite.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of two NON-NEGATIVE
    * columns (a's bit i lands at position 2i+1, b's at 2i). Pure
    * codegen'd shift/mask math — no UDF, no shuffle; callers clamp their
    * dimensions into the domain first (e.g. `pmod(k, 2^bits)` for keys,
    * a range-quantized bucket for continuous values). */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(
          shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }

  /** DuckDB twin of [[zValue]] over two integer expressions. */
  def sqlZValue(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(((($a) >> $i) & 1) << ${2 * i + 1}) | (((($b) >> $i) & 1) << ${2 * i})"
    }.mkString("(", ") | (", ")")

  /** Rewrite `df` as `numFiles` z-clustered parquet files: range-partition
    * on the z-value, sort within each partition, drop the helper column.
    * The range exchange is the one-time clustering cost (sampled
    * boundaries, not a full global sort of the payload) — the same price
    * `OPTIMIZE ZORDER` pays, amortized over every pruned scan after it.
    * Rows are only reordered, never changed: any aggregate over the
    * written table equals the same aggregate over `df`. */
  def zOrderWrite(df: DataFrame, a: Column, b: Column, bits: Int,
      numFiles: Int, path: String): Unit =
    df.withColumn("__z", zValue(a, b, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction (plain OPTIMIZE, z-order's sibling): rewrite a
    * Hive-partitioned table so every partition directory collapses to ONE
    * data file — `repartition` on the partition column routes each value
    * to exactly one task, and the partitioned writer emits one file per
    * value a task holds. An append-per-commit table (streaming sinks,
    * daily ingest) accumulates one file per batch — the classic
    * small-files tax, paid on every scan as per-file open/footer/seek
    * overhead. Compaction is pure rewrite: content provably unchanged
    * (s17's oracle hash-matches the compacted read-back against the
    * SOURCE rows), only the layout improves. Hash collisions mapping two
    * partition values to one task still yield one file per value. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession,
      inPath: String, outPath: String, partitionCol: String): Unit =
    spark.read.parquet(inPath)
      .repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(outPath)

  /** The commit meta of every layout rewrite: the `data_change=false`
    * writer flag (content unchanged; CDC consumers skip the commit). */
  private val layoutMeta = Map(ChangeFeed.DataChangeKey -> "false")

  /** OPTIMIZE WHERE — SELECTIVE compaction of a [[Manifest]] table (the
    * Delta `OPTIMIZE ... WHERE` shape): only the files whose recorded
    * `#filestats.` range intersects [`lo`, `hi`] on `column` rewrite —
    * coalesced to `numFiles` range-partitioned, sorted files, so their
    * re-recorded stats come out TIGHT and later range probes keep
    * pruning — while every other file carries by reference. Files
    * WITHOUT stats are included: they are exactly the unclustered
    * small-file accumulation the maintenance pass exists to absorb,
    * and absorbing them makes the whole targeted range stats-bearing.
    * Publishes with the `data_change=false` writer flag (a layout
    * commit; CDC consumers skip it with no diff). Maintenance cost ∝
    * the targeted slice, never the table. Returns (version,
    * filesRewritten, filesCarried); a table with no targeted files
    * publishes nothing. */
  def optimizeWhere(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, column: String, lo: Double, hi: Double,
      numFiles: Int = 1): (Long, Int, Int) = {
    // one resolution: targets, stats, DV'd content and conflict base
    val snap = Manifest.at(tablePath)
    val targets = snap.filesWithin(Map(column -> (lo, hi)))
    if (targets.isEmpty) return (snap.version, 0, snap.files.size)
    // a targeted file's deletion vector is materialized away here, so
    // maintenance is what retires the merge-on-read read-side tax
    // (still data_change=false: the hidden rows were already invisible)
    val v = Merge.rewriteFiles(spark, snap, targets, Seq(column),
      layoutMeta)(_.repartitionByRange(numFiles, col(column))
        .sortWithinPartitions(col(column)))
    (v, targets.size, snap.files.size - targets.size)
  }

  /** OPTIMIZE (bare) — whole-table BIN-PACK compaction of a
    * [[Manifest]] table: every live file rewrites into `numFiles`
    * coalesced files (no shuffle — coalesce merges input splits), with
    * deletion vectors materialized away (the read-side MoR tax
    * retires) and every PREVIOUSLY stats-bearing column's bounds
    * re-harvested, so the compacted files keep pruning where the
    * fragmented ones did. Publishes ONE `data_change=false` layout
    * commit (CDC consumers skip it; content provably unchanged).
    * Returns (version, filesRewritten, filesCarried=0); an empty table
    * publishes nothing. For a targeted slice use [[optimizeWhere]] —
    * whole-table compaction cost is ∝ the table, which is exactly why
    * the SQL verb takes a WHERE. */
  def compact(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, numFiles: Int = 1): (Long, Int, Int) =
    compact(spark, Manifest.at(tablePath), numFiles)

  private def compact(spark: org.apache.spark.sql.SparkSession,
      snap: Manifest.Snapshot, numFiles: Int): (Long, Int, Int) = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val all = snap.files
    if (all.isEmpty) return (snap.version, 0, 0)
    val statsCols = snap.fileStats.values
      .flatMap(_.keys).toSeq.distinct.sorted
    // shrinking merges input splits shuffle-free (coalesce); GROWING
    // the file count — re-splitting oversized files — cannot (coalesce
    // only reduces), so it pays the one round-robin shuffle
    val v = Merge.rewriteFiles(spark, snap, all, statsCols, layoutMeta)(
      applied =>
        if (numFiles <= all.size) applied.coalesce(numFiles)
        else applied.repartition(numFiles))
    (v, all.size, 0)
  }

  /** OPTIMIZE … ZORDER BY — CLUSTERING compaction of a [[Manifest]]
    * table (the Delta shape): every live file rewrites into `numFiles`
    * files clustered on `cols`, deletion vectors materialized away,
    * the clustered columns' stats re-harvested TIGHT so box predicates
    * prune afterwards. One column = a plain range-sort (each file
    * covers a narrow value range); two columns = the Morton
    * z-interleave ([[zValue]] — each file covers a narrow value BOX,
    * however a conjunctive predicate mixes the dimensions; dimensions
    * clamp into the `2^bits` domain via `pmod`, the s15 contract —
    * pick `bits` so the real domain fits or wraparound shreds
    * locality). Three or more refuse loudly (the pairwise interleave
    * is the honest contract; compose hierarchically via the API if
    * you must). Publishes ONE `data_change=false` layout commit;
    * content provably unchanged. The range exchange is the one-time
    * clustering cost — sampled boundaries, not a global sort —
    * amortized over every pruned scan after it. */
  def optimizeZOrder(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, cols: Seq[String], numFiles: Int = 1,
      bits: Int = 20): (Long, Int, Int) = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(cols.nonEmpty && cols.size <= 2,
      s"ZORDER BY takes one column (range clustering) or two (Morton " +
        s"interleave), got ${cols.size}")
    val snap = Manifest.at(tablePath)
    val all = snap.files
    if (all.isEmpty) return (snap.version, 0, 0)
    val v = Merge.rewriteFiles(spark, snap, all, cols, layoutMeta)(
      applied => cols match {
        case Seq(a) =>
          applied.repartitionByRange(numFiles, col(a))
            .sortWithinPartitions(col(a))
        case Seq(a, b) =>
          val dom = lit(1L << bits)
          applied.withColumn("__z", zValue(
              pmod(col(a).cast("long"), dom),
              pmod(col(b).cast("long"), dom), bits))
            .repartitionByRange(numFiles, col("__z"))
            .sortWithinPartitions(col("__z"))
            .drop("__z")
      })
    (v, all.size, 0)
  }

  /** Size-targeted [[compact]] (the Delta OPTIMIZE sizing contract):
    * the output file count comes from the table's RECORDED byte
    * inventory — ceil(live bytes / `targetFileBytes`) — so the
    * maintenance pass bin-packs toward a stable file size instead of
    * a caller-guessed count. Pure metadata planning: the
    * `#filebytes.` lines answer from the bounded checkpoint+delta
    * resolution, no filesystem stat per file (at 10⁶-file scale the
    * stat storm IS the planning cost). Files written by pre-recording
    * writers count as `targetFileBytes` each (conservative: never
    * under-provisions the output count). Default 128 MiB — the
    * parquet split size readers plan around. */
  def compactAuto(spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Long, Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val snap = Manifest.at(tablePath)
    if (snap.files.isEmpty) return (snap.version, 0, 0)
    val bytes = snap.files.map(f =>
      snap.bytes.getOrElse(f, targetFileBytes)).sum
    val n = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes)
    compact(spark, snap, math.min(n, Int.MaxValue.toLong).toInt)
  }

  /** Data files per partition directory (spec/observability helper). */
  def filesPerPartition(path: String,
      partitionCol: String): Map[String, Int] = {
    val root = new java.io.File(path)
    root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(partitionCol + "="))
      .map(d => d.getName ->
        d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap
  }
}
