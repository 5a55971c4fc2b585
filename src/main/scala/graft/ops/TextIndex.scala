package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.textstats

/** Persisted BM25 inverted index — build-once/probe-many keyword retrieval,
  * the text twin of [[Similarity.buildIvfIndex]]/[[DedupIndex]] (north-star
  * extension; the reference's only search is the BCRP API's server-side
  * series search, `perustats/bcrp/core.py`).
  *
  * [[TextSearch.bm25]] recomputes corpus df/tf statistics inside every
  * query — two full corpus scans per term set. At 100 TB the corpus scan IS
  * the cost, and retrieval workloads ask many term sets against the same
  * snapshot, so the classic answer is an inverted index: pay the scan once,
  * then answer each probe from the (tiny) slice of the index its terms
  * touch. Three persisted tables:
  *
  *   - `<prefix>_postings` (token, tf, id, dl, passthrough...) — one row
  *     per (token, document), BUCKETED + sorted BY TOKEN, so a probe's
  *     `token IN (...)` filter prunes to its terms' buckets (bucket pruning
  *     shows as `SelectedBucketsCount` in the scan) and never touches the
  *     rest of the index. `dl` and the passthrough columns ride on the
  *     posting rows (the standard impact-ordered-postings denormalization:
  *     joins back to a doc table would need an id-keyed shuffle that
  *     bucketing by token can't serve).
  *   - `<prefix>_termstats` (token, df) — bucketed by token with the same
  *     bucket count, so the df join is shuffle-free.
  *   - `<prefix>_corpusstats` (n, dlsum) — ONE row (broadcast at probe).
  *
  * Probe cost is bounded by the probed terms' posting lists (+ one
  * per-matching-doc aggregate), independent of corpus size. Scores are
  * IEEE-identical to the inline [[TextSearch.bm25TopK]]: the contribution
  * expression reuses the same constants and shape, per-term partial sums
  * collapse to at most one row each (postings are (token, id)-distinct),
  * and the final score adds the per-term partials in fixed term order with
  * the same 0.0 fill for absent terms. TextIndexSpec asserts probe ≡ inline
  * on the real corpus and that the probe plan never reads the corpus file.
  *
  * Contract: a probe ranks only documents containing ≥ 1 probed term.
  * Inline BM25 ranks zero-score documents too, so parity needs ≥ k matching
  * documents — true for any real retrieval query; a term set matching < k
  * docs returns the complete matching set.
  */
object TextIndex {

  def postingsTable(prefix: String): String = s"${prefix}_postings"
  def termStatsTable(prefix: String): String = s"${prefix}_termstats"
  def corpusStatsTable(prefix: String): String = s"${prefix}_corpusstats"

  /** Tokenized projection shared by build and append: all non-text
    * columns, `__toks`, `dl`. */
  private def tokenized(corpus: DataFrame, textCol: String): DataFrame = {
    val keep = corpus.columns.filterNot(_ == textCol)
    corpus.select(keep.map(col) :+
      textstats.tokens(col(textCol)).as("__toks"): _*)
      .withColumn("dl", size(col("__toks")))
  }

  /** One posting row per (token, document) — grouped by (token, idCol),
    * which is the uniqueness df counting and the probe's partial-sum
    * collapse depend on; `dl` and the metadata columns ride along via ONE
    * min(struct(...)) so every carried field comes from the same source
    * row (deterministic even if a contract-violating duplicate id slips
    * in). ONE definition shared by build and append so the posting shape
    * cannot drift between them. */
  private def postingRows(base: DataFrame, idCol: String): DataFrame = {
    val metaCols = base.columns
      .filterNot(Set(idCol, "__toks", "dl").contains).toSeq
    base.select(col(idCol) +: metaCols.map(col) :+ col("dl") :+
        posexplode(col("__toks")).as(Seq("pos", "token")): _*)
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("tf"),
        // positional postings (the Lucene shape): each (token, doc)
        // row carries the token's sorted in-document positions, sized
        // by tf — what phraseProbe intersects; BM25 probes ignore it
        sort_array(collect_list(col("pos"))).as("positions"),
        min(struct(col("dl") +: metaCols.map(col): _*)).as("__m"))
      .select(Seq(col("token"), col(idCol), col("tf"), col("positions"),
        col("__m.dl").as("dl")) ++
        metaCols.map(m => col(s"__m.$m").as(m)): _*)
  }

  /** Build and persist the index for `corpus` under `path`, registering
    * `<prefix>_postings` / `<prefix>_termstats` / `<prefix>_corpusstats`.
    * Two corpus scans, both build-time-only: one for the exploded postings,
    * one for the corpus stats (which must count zero-token documents that
    * emit no posting rows). Columns other than `textCol` and `idCol` are
    * metadata carried onto the posting rows. */
  def buildIndex(spark: SparkSession, corpus: DataFrame, idCol: String,
      textCol: String, path: String, prefix: String,
      buckets: Int = 0): Unit = {
    val b = Buckets.resolve(spark, buckets)
    Seq(postingsTable(prefix), termStatsTable(prefix),
      corpusStatsTable(prefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val base = tokenized(corpus, textCol)
    // Cluster by token before the bucketed write (murmur3-aligned with
    // bucketBy): one file per bucket; the posting rows' (token, id)
    // grouping would otherwise scatter tasks×buckets files — see
    // DedupIndex.buildIndex.
    postingRows(base, idCol)
      .repartition(b, col("token"))
      .write.mode("overwrite").bucketBy(b, "token").sortBy("token")
      .option("path", s"$path/postings").saveAsTable(postingsTable(prefix))
    // df from the persisted postings (one row per (token, id) by the
    // groupBy above, so count(*) IS the document frequency) — scan-only,
    // no third corpus pass.
    spark.table(postingsTable(prefix))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      // same murmur3-aligned clustering as the postings write: without it
      // the groupBy's shuffle-partition count scatters tasks×buckets files
      // whenever it differs from b (the conf-set knob)
      .repartition(b, col("token"))
      .write.mode("overwrite").bucketBy(b, "token")
      .option("path", s"$path/termstats").saveAsTable(termStatsTable(prefix))
    // coalesce: an EMPTY corpus (the streaming-ingest seed, st21) sums
    // dl to NULL, and NULL must not poison later incremental folds
    base.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("dlsum"))
      .write.mode("overwrite")
      .option("path", s"$path/corpusstats")
      .saveAsTable(corpusStatsTable(prefix))
  }

  /** Fold NEW documents into the index — the append step that completes
    * the build-once/probe-many lifecycle for text, symmetric with
    * [[Similarity.appendToIvfIndex]] (x9) and [[DedupIndex.appendBatch]]
    * (d12): the new documents' posting rows append as additional
    * per-bucket files (the bucket layout, and with it the probe's bucket
    * pruning, is preserved — same mechanism as DedupIndex), while the
    * derived statistics fold INCREMENTALLY with no corpus or postings
    * re-scan: df' = df ⊎ df(new) (full-outer merge of the vocab-sized
    * termstats table), (n, dlsum)' = (n + |new|, dlsum + Σ dl(new)) on
    * the 1-row corpus stats. Merged tables are checkpointed before the
    * overwrite so the old version is never read and rewritten in the
    * same plan.
    *
    * Contract (shared with every append in this library): `newDocs` ids
    * must be documents the index has not seen — re-appending an indexed
    * id would double-count its tf/df mass. After appendDocs, probes are
    * bit-identical to a fresh [[buildIndex]] over the union corpus
    * (TextIndexSpec asserts this). */
  def appendDocs(spark: SparkSession, newDocs: DataFrame, idCol: String,
      textCol: String, path: String, prefix: String,
      buckets: Int = 0): Unit = {
    // appends must match the LIVE layout, not the environment (Buckets)
    val b = Buckets.ofTable(spark, postingsTable(prefix), buckets)
    val base = tokenized(newDocs, textCol)
    val posts = Checkpoints.checkpoint(postingRows(base, idCol))
    posts.repartition(b, col("token"))
      .write.mode("append").bucketBy(b, "token").sortBy("token")
      .saveAsTable(postingsTable(prefix))
    val delta = posts.groupBy(col("token")).agg(count(lit(1)).as("__ddf"))
    val mergedDf = Checkpoints.checkpoint(
      spark.table(termStatsTable(prefix))
        .join(delta, Seq("token"), "full_outer")
        .select(col("token"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("__ddf"), lit(0L)))
            .as("df")))
    mergedDf.repartition(b, col("token")) // one file per bucket, as above
      .write.mode("overwrite").bucketBy(b, "token")
      .option("path", s"$path/termstats").saveAsTable(termStatsTable(prefix))
    val mergedStats = Checkpoints.checkpoint(
      spark.table(corpusStatsTable(prefix))
        .unionByName(base.agg(count(lit(1)).as("n"),
          // coalesce: an empty append's sum is NULL, and NULL must not
          // poison the folded corpus total
          coalesce(sum(col("dl")), lit(0L)).as("dlsum")))
        .agg(sum(col("n")).as("n"), sum(col("dlsum")).as("dlsum")))
    mergedStats.write.mode("overwrite")
      .option("path", s"$path/corpusstats")
      .saveAsTable(corpusStatsTable(prefix))
    refresh(spark, prefix)
  }

  /** REBUILD the index from a governed upstream table's HEAD — the
    * recovery the commit-log tail's loud non-append refusal names
    * (st36): a fold cannot un-fold, so an upstream rewrite / delete /
    * restore invalidates folded postings; this re-derives the whole
    * index in place from the head's RESOLVED state (`Manifest.read` —
    * deletion vectors applied, so erased documents drop out of the
    * rebuilt postings) and voids the old fold generation's txn markers
    * (a stale batchId marker must not suppress the first post-rebuild
    * fold). Returns the upstream version the rebuild captured: resume
    * the tail with a FRESH checkpoint, `seed = false`, and
    * `startAfterVersion = <returned version>` — the resumed stream
    * folds only commits AFTER the rebuild, never re-folding the
    * captured state and never gapping
    * ([[graft.streaming.Streams.tableIndexIngestStreaming]]). */
  def rebuildFromTable(spark: SparkSession, upstreamPath: String,
      idCol: String, textCol: String, indexPath: String, prefix: String,
      buckets: Int = 0): Long = {
    val v = Manifest.version(upstreamPath)
    buildIndex(spark, Manifest.read(spark, upstreamPath, v), idCol,
      textCol, indexPath, prefix, buckets)
    graft.streaming.Streams.Txn.clear(indexPath)
    v
  }

  /** STAGE an [[appendDocs]] fold into `stagingDir` without touching the
    * live tables — phase 1 of the commit-atomic streaming fold (st21;
    * [[graft.streaming.Streams]] Txn.foldOnce): the batch's posting
    * rows (bucketed, append-shaped) plus the MERGED termstats and
    * corpusstats (computed against the current — pre-fold — tables, so
    * a pre-freeze replay re-stages identically). */
  def stageDocs(spark: SparkSession, newDocs: DataFrame, idCol: String,
      textCol: String, stagingDir: String, prefix: String,
      buckets: Int = 0): Unit = {
    // staged files publish by link into the live dirs: resolve the count
    // from the live table's spec or the linked layout is silently torn
    val b = Buckets.ofTable(spark, postingsTable(prefix), buckets)
    val base = tokenized(newDocs, textCol)
    val posts = Checkpoints.checkpoint(postingRows(base, idCol))
    FoldFiles.writeBucketed(posts, Seq("token"), Seq("token"), b,
      s"$stagingDir/postings", s"${prefix}_stage_p")
    val delta = posts.groupBy(col("token")).agg(count(lit(1)).as("__ddf"))
    FoldFiles.writeBucketed(
      spark.table(termStatsTable(prefix))
        .join(delta, Seq("token"), "full_outer")
        .select(col("token"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("__ddf"), lit(0L)))
            .as("df")),
      Seq("token"), Seq.empty, b, s"$stagingDir/termstats",
      s"${prefix}_stage_t")
    spark.table(corpusStatsTable(prefix))
      .unionByName(base.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("dlsum")))
      .agg(sum(col("n")).as("n"), sum(col("dlsum")).as("dlsum"))
      .write.mode("overwrite").parquet(s"$stagingDir/corpusstats")
  }

  /** PUBLISH a [[stageDocs]]-frozen fold — phase 3: postings link in as
    * a batch-tagged APPEND; termstats/corpusstats publish as tagged
    * generation REPLACES (the staged merge supersedes the old rows).
    * Every step is idempotent under replay, so there is no point where
    * the statistics are half-folded and unrecoverable. */
  def publishStagedDocs(spark: SparkSession, stagingDir: String,
      path: String, prefix: String, tag: String): Unit = {
    FoldFiles.linkAppend(s"$stagingDir/postings", s"$path/postings", tag)
    FoldFiles.linkReplace(s"$stagingDir/termstats", s"$path/termstats",
      tag)
    FoldFiles.linkReplace(s"$stagingDir/corpusstats",
      s"$path/corpusstats", tag)
    refresh(spark, prefix)
  }

  /** Invalidate cached file listings for the index tables in `spark`.
    * Table relation caches are PER SESSION: a probe session that read the
    * index before another session's [[appendDocs]]/[[compact]] overwrote
    * the statistics tables would otherwise resolve dropped files
    * (FAILED_READ_FILE). Writers refresh their own session automatically;
    * call this in any OTHER long-lived session before re-probing. */
  def refresh(spark: SparkSession, prefix: String): Unit =
    Seq(postingsTable(prefix), termStatsTable(prefix),
      corpusStatsTable(prefix)).foreach(spark.catalog.refreshTable)

  /** COMPACTION — rewrite the postings and termstats tables from their
    * CURRENT contents (one scan each, no corpus access), collapsing the
    * per-append file accumulation back to one file per bucket: the input
    * is repartitioned on the bucket column with the bucket count, so each
    * write task holds exactly one bucket's rows (repartition and bucketBy
    * share murmur3 hash partitioning). Probes are unchanged — same rows,
    * same bucketing, same pruning — only the file layout improves; the
    * [[DedupIndex.compact]] contract applied to text. Checkpointed before
    * the overwrite (never read-and-rewrite in one plan). */
  def compact(spark: SparkSession, path: String, prefix: String,
      buckets: Int = 0): Unit = {
    // keep the index's existing layout; explicit `buckets` re-buckets
    val b = Buckets.ofTable(spark, postingsTable(prefix), buckets)
    val posts = Checkpoints.checkpoint(spark.table(postingsTable(prefix)))
    posts.repartition(b, col("token"))
      .write.mode("overwrite").bucketBy(b, "token").sortBy("token")
      .option("path", s"$path/postings").saveAsTable(postingsTable(prefix))
    val ts = Checkpoints.checkpoint(spark.table(termStatsTable(prefix)))
    ts.repartition(b, col("token"))
      .write.mode("overwrite").bucketBy(b, "token")
      .option("path", s"$path/termstats").saveAsTable(termStatsTable(prefix))
    refresh(spark, prefix)
  }

  /** Top-k BM25 over the persisted index: reads ONLY the probed terms'
    * postings (bucket-pruned) + df rows + the 1-row corpus stats — never
    * the corpus. Output: the postings' passthrough columns (id, metadata)
    * plus `score` rounded to 4, ordered score desc / id asc, limited to k
    * via TakeOrderedAndProject. */
  def bm25Probe(spark: SparkSession, prefix: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val posts = spark.table(postingsTable(prefix))
      .filter(col("token").isin(terms: _*))
    val dfs = spark.table(termStatsTable(prefix))
      .filter(col("token").isin(terms: _*))
    val stats = spark.table(corpusStatsTable(prefix))
    val keep = posts.columns
      .filterNot(Set("token", "tf", "positions").contains)
    val contrib = TextSearch.bm25Term(col("tf"), col("df"))
    val partials = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("token") === lit(t), col("__c"))).as(s"__c$i")
    }
    val score = terms.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0))).reduce(_ + _)
    posts.join(dfs, Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("__c", contrib)
      .groupBy(keep.map(col): _*)
      .agg(partials.head, partials.tail: _*)
      .withColumn("score", round(score, 4))
      .drop(terms.indices.map(i => s"__c$i"): _*)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** EXACT PHRASE search from the positional postings — the query BM25's
    * bag-of-words cannot express ("table scan" as an adjacent pair, not
    * two independent terms). Each term's postings read bucket-pruned
    * (`token = t` hits one bucket), the m lists join by document id, and
    * the match count is the positional intersection
    * `|{p ∈ pos(t₀) : p+i ∈ pos(tᵢ) ∀i}|` — row-local array work sized
    * by term frequency, the Lucene positions-intersection algorithm as
    * codegen'd higher-order functions. Probe cost is bounded by the
    * probed terms' posting lists, independent of corpus size; documents
    * without every term never survive the joins. Overlapping
    * occurrences count individually ("batch batch batch" matches
    * "batch batch" twice — TextIndexSpec pins it). Returns (id,
    * matches > 0), ordered by id. */
  def phraseProbe(spark: SparkSession, prefix: String, idCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    // The phrase join runs on the DOC id, not the bucket column, so
    // Spark's autoBucketedScan heuristic would fall back to a plain
    // file scan — losing the bucket PRUNE (1 of `buckets` read per
    // term), which the heuristic does not credit. Pin bucketed
    // scanning on in a child session: at index scale the 1/buckets
    // read dwarfs the one-task-per-bucket parallelism cost of a
    // pruned single-bucket scan.
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    val posts = s.table(postingsTable(prefix))
    val sides = terms.zipWithIndex.map { case (t, i) =>
      posts.filter(col("token") === t)
        .select(col(idCol), col("positions").as(s"__p$i"))
    }
    val joined = sides.reduce((a, b) => a.join(b, Seq(idCol)))
    val adjacent = (p: Column) => (1 until terms.size)
      .map(i => array_contains(col(s"__p$i"), p + lit(i)))
      .reduce(_ && _)
    joined
      .select(col(idCol),
        size(filter(col("__p0"), adjacent)).cast("long").as("matches"))
      .filter(col("matches") > 0)
      .orderBy(col(idCol))
  }
}
