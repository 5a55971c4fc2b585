package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental MATERIALIZED-AGGREGATE maintenance over [[Manifest]]
  * tables — the refresh loop every warehouse dashboard at 100 TB needs:
  * when new data commits to a source table, fold ONLY the newly-added
  * files into the materialized aggregate instead of rescanning the
  * corpus. At a 1000-executor scale the difference is a full-table scan
  * per refresh versus a scan proportional to the day's arrivals.
  *
  * The contract is the map-side-combine law the caller's two functions
  * must satisfy: `merge(partial(A) ∪ partial(B)) == merge(partial(A ∪
  * B))` for disjoint slices A, B — counts, sums (DECIMAL for
  * cross-engine exactness), min/max and any mergeable sketch qualify;
  * averages and distincts do NOT unless carried as (sum, count) /
  * sketch partials. ManifestSpec asserts the law on the instance it
  * drives and that a refresh equals a from-scratch recompute.
  *
  * Crash safety rides on [[Manifest]]'s atomic manifest publish: the
  * source-version watermark is commit METADATA of the aggregate version
  * itself (a `#source_version=` manifest line), so the fold and the
  * watermark advance are ONE atomic event — an interrupted refresh
  * leaves the previous aggregate version (and its watermark) intact,
  * and a retry re-folds exactly the same delta. There is no state in
  * which the delta is half-applied or double-applied.
  */
object Materialize {

  /** Source version the newest committed aggregate version has folded
    * through; 0 when the aggregate has never been materialized. */
  def sourceVersion(aggPath: String): Long =
    watermark(Manifest.at(aggPath))

  private def watermark(agg: Manifest.Snapshot): Long =
    agg.meta.getOrElse("source_version", "0").toLong

  /** Table-relative parquet paths added to `sourcePath` after version
    * `v0` (exclusive) up to `v1` (inclusive), under an APPEND lineage.
    * Fails loudly if the lineage was severed — a replace commit
    * (compaction) rewrote files `v0` listed, so folding "new" files
    * would double-count rewritten rows; the caller must recompute from
    * scratch instead. Also fails loudly if the DELETION-VECTOR state
    * changed across the range: a merge-on-read DELETE changes no files,
    * so the file diff alone would read as "nothing new" and the
    * aggregate would keep the erased rows' contribution FOREVER (the
    * silent-divergence failure a GDPR erasure must not have) —
    * subtracting partials is not possible under the merge law, so the
    * caller must recompute. */
  def filesAdded(sourcePath: String, v0: Long, v1: Long): Seq[String] =
    added(Manifest.at(sourcePath, v0), Manifest.at(sourcePath, v1))

  /** [[filesAdded]] between two resolved snapshots of one table. */
  private def added(s0: Manifest.Snapshot,
      s1: Manifest.Snapshot): Seq[String] = {
    val (sourcePath, v0, v1, after) =
      (s1.tablePath, s0.version, s1.version, s1.files)
    require(v0 <= v1, s"watermark v$v0 is ahead of source v$v1")
    if (v0 == 0) after
    else {
      val before = s0.files
      val afterSet = after.toSet
      require(before.forall(afterSet.contains),
        s"append lineage severed between v$v0 and v$v1 at $sourcePath " +
          "(a replace commit rewrote files) — incremental refresh would " +
          "double-count; recompute the aggregate from scratch")
      require(s0.dv == s1.dv,
        s"deletion vectors changed between v$v0 and v$v1 at " +
          s"$sourcePath (a merge-on-read DELETE hid rows already " +
          "folded into the aggregate) — incremental refresh cannot " +
          "subtract them; recompute the aggregate from scratch")
      val beforeSet = before.toSet
      after.filterNot(beforeSet.contains)
    }
  }

  /** Fold source commits past the aggregate's watermark into the
    * materialized aggregate: read ONLY the delta files, `partial` them,
    * union with the current aggregate rows, `merge`, and commit the
    * result as a replace version of `aggPath` whose metadata records
    * the new watermark. No-op (returns delta count 0) when the source
    * has no new commits. Returns (aggregate version, delta file
    * count). */
  def refresh(spark: SparkSession, sourcePath: String, aggPath: String,
      partial: DataFrame => DataFrame,
      merge: DataFrame => DataFrame): (Long, Int) = {
    // one resolution per table (plus the watermark version's state)
    val agg = Manifest.at(aggPath)
    val v0 = watermark(agg)
    val src = Manifest.at(sourcePath)
    val v1 = src.version
    require(v1 > 0, s"no committed version at $sourcePath")
    if (v1 == v0) return (agg.version, 0)
    val delta = added(Manifest.at(sourcePath, v0), src)
    // the from-scratch fold (v0 == 0) reads the WHOLE snapshot, so it
    // must be the DV-applied view — a source carrying deletion vectors
    // would otherwise fold erased rows into the fresh aggregate. The
    // incremental path needs no DV handling: filesAdded proved the DV
    // state unchanged, so added files provably carry no DV.
    val deltaRows =
      if (v0 == 0) src.read(spark) else src.scan(spark, delta)
    val deltaPartial = partial(deltaRows)
    val folded =
      if (agg.version == 0) merge(deltaPartial)
      else merge(agg.read(spark).unionByName(deltaPartial))
    val v = Manifest.commit(folded, aggPath, replace = true,
      meta = Map("source_version" -> v1.toString), base = agg)
    (v, delta.size)
  }
}
