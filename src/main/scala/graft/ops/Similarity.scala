package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.hashing

/** Embedding similarity search (north-star extension; no equivalent in the
  * reference). Vectors are `array<float>` columns; all arithmetic runs in
  * double via higher-order functions (codegen'd, no UDFs).
  *
  * Determinism: dot products and norms are strict left-to-right folds
  * (`aggregate`), so the result is a fixed IEEE-754 double regardless of
  * partitioning — and bit-identical to the DuckDB oracle's `list_reduce`
  * fold. Ranking ties break on the neighbor id.
  *
  * Scale design (100 TB):
  *  - Brute-force top-k broadcasts the (small) query set and makes ONE pass
  *    over the corpus: per query the work is a map + a top-k aggregation
  *    (no shuffle of the corpus, only of k·|queries| candidate rows).
  *  - The hyperplane-LSH variant buckets the corpus by an 8-bit signature
  *    (one cheap column transform), so each query only scans its bucket —
  *    the standard memory/recall trade; bucket skew is bounded because the
  *    planes are data-independent.
  */
object Similarity {

  /** Strict-left-fold dot product of two numeric-array columns, in double.
    * Backed by the codegen'd [[graft.functions.DotProduct]] expression —
    * identical fold order (and therefore bits) to the interpreted
    * `aggregate(zip_with(...))` formulation and the oracle's `list_reduce`,
    * but a primitive loop inside whole-stage codegen. */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). `queries` must be small enough to
    * broadcast; corpus-side the plan is scan → map → per-query top-k. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(q, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** k-NN LABEL PROPAGATION — the curation bootstrap: spread labels
    * (quality tiers, domains, topics) from a labeled SEED set to
    * unlabeled vectors by majority vote over each vector's k nearest
    * seeds (cosine, 4-dp — the shared cross-engine contract), ties to
    * the smaller label. Recall here is [[bruteForceTopK]] (queries
    * broadcast, seed corpus scanned once); at index scale swap the
    * recall stage for a persisted IVF probe ([[ivfProbePersisted]]) —
    * the vote is the same two keyed aggregates either way, never
    * corpus-quadratic. Returns (qid, `labelCol`) — the predicted label
    * per unlabeled id. */
  def knnPropagateLabels(labeled: DataFrame, unlabeled: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int): DataFrame =
    voteLabels(bruteForceTopK(labeled, unlabeled, idCol, vecCol, k),
      labeled, idCol, labelCol)

  /** [[knnPropagateLabels]] at INDEX SCALE — the production form: the
    * recall stage probes a [[buildIvfIndex]]-persisted index over the
    * labeled seed (nProbe lists per query, scan-only bucketed
    * assignment table — x9's bounded cost) instead of brute-scanning
    * the seed per query, killing the |eval| × |seed| quadratic term.
    * The vote is byte-identical to the brute form (shared
    * [[voteLabels]]); with nProbe = the index's cluster count the
    * probe IS exhaustive and the two forms agree exactly
    * (DedupSimilaritySpec). */
  def knnPropagateLabelsIndexed(spark: SparkSession, labeled: DataFrame,
      unlabeled: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, nProbe: Int, prefix: String): DataFrame =
    voteLabels(
      ivfProbePersisted(spark, unlabeled, idCol, vecCol, nProbe, k, prefix),
      labeled, idCol, labelCol)

  /** The propagation vote shared by both recall stages: per (query,
    * label) neighbor counts, majority wins, ties to the smaller label.
    * Two keyed aggregates over |queries| × k rows — never touches the
    * corpus. */
  private def voteLabels(neigh: DataFrame, labeled: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    val lab = labeled.select(col(idCol).as("nid"), col(labelCol).as("__nl"))
    val votes = neigh.join(lab, "nid")
      .groupBy(col("qid"), col("__nl")).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__c").desc, col("__nl"))
    votes.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("qid"), col("__nl").as(labelCol))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR'98)
    * — the diversity pass retrieval stacks run AFTER recall: greedily
    * pick k results maximizing `λ·rel(q,c) − (1−λ)·max sim(c, s)` over
    * the already-selected set s, so near-duplicate hits can't crowd the
    * top ranks. Two-stage scale shape: recall is the existing ANN/brute
    * shortlist (corpus-bounded work happens ONCE, here
    * [[bruteForceTopK]]), while the greedy runs k BOUNDED rounds over
    * |queries| × shortlist rows — shortlist relevances and the
    * shortlist×shortlist diversity sims are checkpointed once, and each
    * round is one anti-join + one left join + one per-query argmax
    * (row_number), never touching the corpus again. Cross-engine
    * determinism: cosines round to 4 entering the greedy, and the MMR
    * combination runs in EXACT DECIMAL (λ quantized to tenths, scores
    * DECIMAL(·,5)) — a double `0.7·rel` lands exactly on five-decimal
    * half-boundaries (0.7 × 0.3985 = 0.27895), where Spark and DuckDB
    * round differently. Returns (qid, rank, nid, score). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, shortlist: Int, k: Int,
      lambda: Double): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need 1 <= k <= shortlist")
    require(lambda >= 0 && lambda <= 1 &&
      math.rint(lambda * 10) == lambda * 10,
      "lambda in [0, 1] in steps of 0.1 (exact decimal arithmetic)")
    val lam = lit(lambda).cast("decimal(2,1)")
    val inv = lit(1.0 - lambda).cast("decimal(2,1)")
    def d4(c: Column): Column = c.cast("decimal(18,4)")
    val sl = bruteForceTopK(corpus, queries, idCol, vecCol, shortlist)
      .select(col("qid"), col("nid"), col("cos").as("rel"))
    val cv = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"))
    val slv = Checkpoints.checkpoint(sl.join(cv, "nid")
      .select(col("qid"), col("nid"), col("rel"), col("cv")))
    val sims = Checkpoints.checkpoint(slv.alias("a").join(slv.alias("b"),
        col("a.qid") === col("b.qid") && col("a.nid") =!= col("b.nid"))
      .select(col("a.qid").as("qid"), col("a.nid").as("cid"),
        col("b.nid").as("sid"),
        round(cosine(col("a.cv"), col("b.cv")), 4).as("sim")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("mmr").desc, col("nid"))
    var remaining = slv.select(col("qid"), col("nid"), col("rel"))
    var selected: DataFrame = null
    for (r <- 1 to k) {
      val scored =
        if (selected == null)
          remaining.select(col("qid"), col("nid"),
            (lam * d4(col("rel"))).as("mmr"))
        else {
          val simToSel = sims
            .join(selected.select(col("qid"), col("nid").as("sid")),
              Seq("qid", "sid"))
            .groupBy(col("qid"), col("cid").as("nid"))
            .agg(max(col("sim")).as("msim"))
          remaining.join(simToSel, Seq("qid", "nid"), "left_outer")
            .select(col("qid"), col("nid"),
              (lam * d4(col("rel")) - inv *
                d4(coalesce(col("msim"), lit(0.0)))).as("mmr"))
        }
      val pick = Checkpoints.checkpoint(
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("qid"), col("nid"), lit(r).as("rank"),
            col("mmr").cast("double").as("score")))
      selected = if (selected == null) pick else selected.unionByName(pick)
      remaining = remaining.join(pick.select("qid", "nid"),
        Seq("qid", "nid"), "left_anti")
    }
    selected
  }

  /** Number of random hyperplanes = signature bits. */
  val Planes = 8

  /** Deterministic hyperplane for plane j at dimensionality `dim`, as a
    * literal array column (both engines derive the identical values from
    * the shared md5-based hash — see [[hashing.hyperplane]]). */
  def planeArray(j: Int, dim: Int): Column =
    array((0 until dim).map(c => lit(hashing.hyperplane(j, c))): _*)

  /** 8-bit hyperplane-LSH signature of a float-array column. */
  def lshBucket(vec: Column, dim: Int): Column =
    (0 until Planes).map { j =>
      when(dot(vec, planeArray(j, dim)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine-threshold self-join (all qualifying pairs a < b with
    * cos ≥ threshold) via grid partitioning — the 1-Bucket-Theta pattern
    * (Okcan & Riedewald, SIGMOD'11): rows are hashed into `blocks` groups;
    * a literal (bi ≤ bj) grid of block pairs is broadcast against both
    * sides; the pair space is then ONE shuffle equi-join on the grid cell.
    *
    * Why not LSH here: an exact join at a LOW threshold (well under the
    * ~0.8+ regime where hyperplane banding bites) gets no pruning from
    * banding — measured on this corpus at τ=0.45, 30-bit banding still
    * keeps 87–100% of all pairs as candidates while missing true pairs.
    * The quadratic work is inherent to the exact low-τ semantic; what scale
    * demands is (a) no single-node/broadcast materialization of a whole
    * side, (b) bounded per-task memory, (c) even distribution. The grid
    * delivers all three: each cell joins n/B vs n/B rows (choose B so a
    * block fits an executor), shuffle volume is n·(B+1)/2 per side, and no
    * BroadcastNestedLoopJoin/CartesianProduct appears in the plan. For
    * near-dup thresholds use [[cosineNeardupLsh]] instead.
    *
    * Each unordered pair lands in exactly one cell (cross cells once by
    * block order, diagonal cells deduped by id order), so the result is
    * bit-identical to the naive all-pairs formulation. */
  def cosineNeardupExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 16): DataFrame = {
    require(blocks >= 1, "blocks must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val grid = broadcast(
      (0 until blocks).flatMap(i => (i until blocks).map(j => (i, j)))
        .toDF("bi", "bj"))
    // Pre-spread the corpus so the grid expansion (row replication) and the
    // shuffle write parallelize even when the input arrives as few splits;
    // the explicit count keeps AQE from coalescing the small-bytes exchange.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.repartition(n, col(idCol))
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("__blk"))
    val lexp = base.join(grid, col("__blk") === col("bi"))
      .select(col("__id").as("xid"), col("__v").as("xv"), col("bi"), col("bj"))
    val rexp = base.join(grid, col("__blk") === col("bj"))
      .select(col("__id").as("yid"), col("__v").as("yv"), col("bi"), col("bj"))
    lexp.join(rexp, Seq("bi", "bj"))
      .filter((col("bi") =!= col("bj")) || (col("xid") < col("yid")))
      .filter(col("xid") =!= col("yid"))
      .select(least(col("xid"), col("yid")).as("a"),
        greatest(col("xid"), col("yid")).as("b"),
        // cosine is bitwise symmetric (same fold order, commutative
        // multiplies), so scoring (xv, yv) regardless of id order matches
        // the id-ordered oracle exactly.
        round(cosine(col("xv"), col("yv")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Per-band LSH key: `rows` hyperplane sign bits for band `band` packed
    * into a long (planes indexed band·rows … band·rows+rows-1). */
  def bandKey(vec: Column, dim: Int, band: Int, rows: Int): Column =
    (0 until rows).map { k =>
      when(dot(vec, planeArray(band * rows + k, dim)) >= 0, lit(1L << k))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate cosine-threshold self-join via multi-band hyperplane LSH:
    * candidates are pairs agreeing on ALL `rows` sign bits of at least one
    * of `bands` bands (equi-join on (band, key) — a hash join, never a
    * nested loop), refined with the exact cosine ≥ threshold. Recall < 1 by
    * construction and rises with `bands` (P[caught] = 1−(1−p^rows)^bands for
    * per-plane agreement p); candidate volume falls geometrically with
    * `rows`. This is the production path when the threshold is high enough
    * for banding to prune (near-dup regimes, τ ≳ 0.8, p ≳ 0.8); at low τ
    * prefer [[cosineNeardupExact]]. */
  def cosineNeardupLsh(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, rows: Int = 5, bands: Int = 6): DataFrame = {
    // Spread before the per-row plane projections (rows·bands dot products
    // per vector) — CPU-bound map work that must not serialize onto the
    // input's split count.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.repartition(n, col(idCol))
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(col("__v"), dim, b, rows).as("key"))
    }
    val banded = base
      .select(col("__id"), col("__v"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("__id"), col("__v"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a"), col("x.__v").as("va"),
        col("y.__id").as("b"), col("y.__v").as("vb"))
      .dropDuplicates("a", "b")
      .select(col("a"), col("b"),
        round(cosine(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF-style ANN: assign every corpus vector to its nearest centroid (one
    * broadcast pass), then each query probes only the `nProbe` centroids
    * nearest to it and ranks within those inverted lists. Centroids are
    * caller-supplied (k-means offline, or any deterministic subset) — the
    * index build is a column transform, so it scales as a scan. Recall
    * depends on nProbe/centroid quality; exactness is not claimed. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int): DataFrame = {
    val cents = broadcast(
      centroids.select(col(idCol).as("cid"), col(vecCol).as("cv")))
    val assigned = assignToCentroids(corpus, cents, idCol, vecCol)
    val probes = probeCentroids(queries, cents, idCol, vecCol, nProbe)
    ivfScoreTail(probes, assigned, k)
  }

  /** The one nearest-centroid assignment: per row key `keys`, the
    * argmax-cosine centroid of the broadcast `cents` (cid, cv), as
    * `__best` = min(struct(negcos, cid, carry…)); returns (keys…,
    * __best). The centroids cross-join, or equi-join on `sub` when `keys`
    * holds it (one PQ codebook per subspace, grouped per (row, sub)).
    *
    * An ARGMIN aggregate (map-side combining, the passage-dedup
    * pattern), not a window: a row_number over partitionBy(key) would
    * shuffle+sort all n×k scored rows just to pick one. negate() turns
    * "cos desc, cid asc" into a struct min; (negcos, cid) never ties (cid
    * unique per key), so the carried fields never participate in the
    * comparison. One caveat to the window equivalence: a zero-norm vector
    * scores cosine NaN, which a DESC sort ranks first (a window picks a
    * NaN centroid) while struct-min ranks last (NaN > everything in
    * Spark's double ordering). Embeddings here are non-zero by contract,
    * so the branch is dead; if that contract ever loosens, guard zero
    * norms before the cosine. */
  private[graft] def nearest(rows: DataFrame, cents: DataFrame,
      keys: Seq[String], vec: String, carry: Column*): DataFrame = {
    val joined =
      if (keys.contains("sub")) rows.join(broadcast(cents), Seq("sub"))
      else rows.crossJoin(broadcast(cents))
    joined.groupBy(keys.map(col): _*)
      .agg(min(struct(negate(cosine(col(vec), col("cv"))).as("negcos") +:
        col("cid").as("cid") +: carry: _*)).as("__best"))
  }

  /** Corpus → (nid, nv, cluster) via [[nearest]]. */
  private[graft] def assignToCentroids(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    nearest(corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")),
        cents, Seq("nid"), "nv", col("nv").as("v"))
      .select(col("nid"), col("__best.v").as("nv"),
        col("__best.cid").as("cluster"))

  /** Query-side probing keeps the top-nProbe window: the query set is
    * small by contract (it broadcasts), so the sort is negligible. */
  private[graft] def probeCentroids(queries: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame =
    probeCentroidsRanked(queries, cents, idCol, vecCol, nProbe).drop("rn")

  /** [[probeCentroids]] keeping the probe rank `rn` (1 = closest
    * centroid): the rank-N probe table serves EVERY nProbe ≤ N setting
    * by a plain `rn <= p` filter — what lets a sweep (x11) run its
    * corpus-sided scored join once at the maximum setting instead of
    * once per point. */
  private[graft] def probeCentroidsRanked(queries: DataFrame,
      cents: DataFrame, idCol: String, vecCol: String,
      nProbe: Int): DataFrame =
    queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .crossJoin(cents)
      .withColumn("__cos", cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("__cos").desc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qv"), col("cid").as("cluster"), col("rn"))

  /** Probed-cluster equi-join + exact rescoring + per-query top-k. The
    * probe side is |queries|·nProbe rows — bounded by the query batch,
    * not the corpus — so it broadcasts explicitly: the inverted-list scan
    * never shuffles however large the assigned corpus grows. */
  private[graft] def ivfScoreTail(probes: DataFrame, assigned: DataFrame,
      k: Int): DataFrame = {
    val scored = broadcast(probes).join(assigned, Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** [[ivfScoreTail]]'s scored join WITHOUT the top-k window, carrying
    * each candidate's probe rank `rn` (from [[probeCentroidsRanked]]):
    * each nid owns exactly one cluster and each (qid, cluster) probe row
    * is unique, so `rn <= p` on this set IS "nid's cluster is among
    * qid's top-p probes" — a per-p window over the filtered rows equals
    * the per-p [[ivfScoreTail]] verbatim, with the corpus-sided join
    * paid once at the maximum setting (x11's sweep collapse). */
  private[graft] def ivfScoredRanked(probes: DataFrame,
      assigned: DataFrame): DataFrame =
    broadcast(probes).join(assigned, Seq("cluster"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 4).as("cos"), col("rn"))

  /** Persist an IVF index — the FAISS-on-disk shape the inline x3 build
    * amortizes away: the k-row centroid table plus the cluster-assigned
    * corpus ((nid, nv, cluster), bucketed by cluster) as saved tables.
    * Probes then equi-join their nProbe clusters against a SCAN-ONLY
    * bucketed table: no assignment recompute, no corpus shuffle, per-probe
    * work bounded by the probed clusters' size — the same
    * build-once/probe-many contract as [[graft.ops.DedupIndex]]. */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int = 2, path: String, prefix: String,
      buckets: Int = 0): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_cents")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_ivf")
    kmeansCentroids(corpus, idCol, vecCol, k, iters)
      .write.mode("overwrite").option("path", s"$path/cents")
      .saveAsTable(s"${prefix}_cents")
    val cents = broadcast(spark.table(s"${prefix}_cents"))
    val b = Buckets.resolve(spark, buckets)
    // Cluster by the bucket key first (murmur3-aligned with bucketBy): one
    // file per bucket; the assignment's (nid) partitioning would otherwise
    // scatter tasks×buckets files — see DedupIndex.buildIndex.
    assignToCentroids(corpus, cents, idCol, vecCol)
      .repartition(b, col("cluster"))
      .write.mode("overwrite").bucketBy(b, "cluster")
      .option("path", s"$path/ivf").saveAsTable(s"${prefix}_ivf")
  }

  /** REBUILD a persisted IVF index from a governed vector store's HEAD
    * — x19's mask-retirement step: the store's resolved read applies
    * its deletion vectors, so erased vectors drop out of the retrained
    * centroids AND the postings, and the serve-time forget-list mask
    * becomes unnecessary (probe ≡ a live-only fresh build; IvfIndexSpec
    * pins it). Returns the store version captured, the watermark any
    * index-following tail should resume after. */
  def rebuildIvfFromTable(spark: SparkSession, storePath: String,
      idCol: String, vecCol: String, k: Int, iters: Int = 2,
      path: String, prefix: String, buckets: Int = 0): Long = {
    val v = Manifest.version(storePath)
    buildIvfIndex(spark, Manifest.read(spark, storePath, v), idCol,
      vecCol, k, iters, path, prefix, buckets)
    v
  }

  /** Fold a new vector batch into a persisted IVF index: assign the batch
    * to the EXISTING centroids — no retraining, the standard IVF add
    * contract (FAISS `add` does the same; rebuild via [[buildIvfIndex]]
    * when distribution drift warrants) — and append the assignments to
    * the bucketed table, preserving its layout. After the append, a probe
    * is value-identical to the inline [[ivfTopK]] over the grown corpus
    * with the original centroids (IvfIndexSpec asserts it). */
  def appendToIvfIndex(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, prefix: String, buckets: Int = 0): Unit = {
    val cents = broadcast(spark.table(s"${prefix}_cents"))
    // appends must match the LIVE layout, not the environment (Buckets)
    val b = Buckets.ofTable(spark, s"${prefix}_ivf", buckets)
    assignToCentroids(batch, cents, idCol, vecCol)
      .repartition(b, col("cluster"))
      .write.mode("append").bucketBy(b, "cluster")
      .saveAsTable(s"${prefix}_ivf")
  }

  /** STAGE an [[appendToIvfIndex]] delta (assignments to the EXISTING
    * centroids, bucketed by cluster) into `stagingDir` without touching
    * the live table — phase 1 of the commit-atomic streaming fold
    * (st14; [[graft.streaming.Streams]] Txn.foldOnce). Deterministic:
    * centroids are immutable, so a pre-freeze replay re-stages
    * identically. */
  def stageIvfAppend(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, prefix: String, stagingDir: String,
      buckets: Int = 0): Unit = {
    val cents = broadcast(spark.table(s"${prefix}_cents"))
    // staged files publish by link into the live table dir: resolve the
    // count from the live table's spec (the st14 index is built on the
    // CALLER's session, the stage runs in the drain child — an
    // environment-resolved count here linked mis-bucketed files)
    FoldFiles.writeBucketed(
      assignToCentroids(batch, cents, idCol, vecCol),
      Seq("cluster"), Seq.empty,
      Buckets.ofTable(spark, s"${prefix}_ivf", buckets),
      s"$stagingDir/ivf", s"${prefix}_stage_ivf")
  }

  /** PUBLISH a [[stageIvfAppend]]-frozen delta: batch-tagged links into
    * the live bucketed assignment table (located via the catalog — the
    * streaming fold holds no path handle), then refresh. Idempotent
    * under replay. */
  def publishStagedIvf(spark: SparkSession, stagingDir: String,
      prefix: String, tag: String): Unit = {
    FoldFiles.linkAppend(s"$stagingDir/ivf",
      FoldFiles.tableLocation(spark, s"${prefix}_ivf"), tag)
    spark.catalog.refreshTable(s"${prefix}_ivf")
  }

  /** ANN top-k against a [[buildIvfIndex]]-persisted index. Value-identical
    * to [[ivfTopK]] with the same centroids (persistence is transparent —
    * IvfIndexSpec asserts it); the corpus side enters only through the
    * bucketed assignment table. */
  def ivfProbePersisted(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int, k: Int,
      prefix: String): DataFrame = {
    val cents = broadcast(spark.table(s"${prefix}_cents"))
    val probes = probeCentroids(queries, cents, idCol, vecCol, nProbe)
    ivfScoreTail(probes, spark.table(s"${prefix}_ivf"), k)
  }

  /** Multi-probe hyperplane-LSH ANN: each query probes its own bucket PLUS
    * every bucket within Hamming distance `probeDist` of its signature —
    * the standard recall knob for sign-random-projection LSH (a near
    * neighbor across one plane lands one bit away). The probe set is
    * exploded QUERY-side (Σ_{d≤probeDist} C(Planes,d) buckets per query),
    * so candidates remain a hash equi-join on the bucket id and the corpus
    * is still scanned once; each (query, neighbor) pair joins at most once
    * because a corpus vector owns exactly one bucket. probeDist=1 with 8
    * planes means 9 of 256 buckets per query — ~28× fewer comparisons than
    * brute force at materially higher recall than single-bucket
    * [[lshTopK]]. */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, probeDist: Int = 1): DataFrame = {
    require(probeDist >= 0 && probeDist <= 2, "probeDist in 0..2 supported")
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      lshBucket(col(vecCol), dim).as("bucket"))
    def flips: Seq[Column] = {
      val one = (0 until Planes).map(j => col("__b0").bitwiseXOR(lit(1L << j)))
      val two =
        if (probeDist < 2) Nil
        else for {
          i <- 0 until Planes; j <- (i + 1) until Planes
        } yield col("__b0").bitwiseXOR(lit((1L << i) | (1L << j)))
      (col("__b0") +: (if (probeDist >= 1) one else Nil)) ++ two
    }
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        lshBucket(col(vecCol), dim).as("__b0"))
      .select(col("qid"), col("qv"), explode(array(flips: _*)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("qv"), col("nv")), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic distributed Lloyd's k-means — the offline IVF centroid
    * builder feeding [[ivfTopK]]. Returns (cid: long 0..k-1, cv:
    * array<double>); clusters that lose every member drop out (standard
    * Lloyd's degeneracy, deterministic on both engines).
    *
    * Every source of nondeterminism is pinned so the DuckDB oracle replays
    * the FULL algorithm bit-for-bit:
    *  - init: the k corpus vectors with the smallest (h64(id), id) — a
    *    deterministic pseudo-random sample via the shared md5 hash, planned
    *    as a distributed top-k (TakeOrderedAndProject), not a global sort;
    *  - assignment: argmax cosine via strict-fold dot products, ties broken
    *    by centroid id;
    *  - update: per-dimension means through exact DECIMAL(38,20) sums
    *    (partition-order independent), divided in double and rounded to 9
    *    decimals so the next round's inputs are stable literals.
    *
    * `iters` is fixed and small (Lloyd's converges fast for index-building
    * purposes) so the oracle can unroll the loop as plain CTEs. Each round
    * is one broadcast of k centroids + one corpus pass + one (cid, dim)
    * aggregation — linear in the corpus, no quadratic step anywhere.
    *
    * The result comes back checkpointed (iters ≥ 1: it is the last
    * round's checkpoint), so callers never re-checkpoint it. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    val base = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val cents0 = hashSeeds(base, k)
      .select(col("cid"), transform(col("__v"), e => e.cast("double")).as("cv"))
    lloydRounds(base, cents0, iters)
  }

  /** The one seed selection: the k rows of `rows` (keyed `__id`) with the
    * smallest (h64(id), id) — a deterministic pseudo-random sample via the
    * shared md5 hash, planned as a distributed top-k
    * (TakeOrderedAndProject), not a global sort — numbered `cid` 0..k-1
    * in that order. */
  private def hashSeeds(rows: DataFrame, k: Int): DataFrame = {
    val seedRank = Window.orderBy(col("__h"), col("__id")) // k rows only
    rows.withColumn("__h", hashing.h64(col("__id").cast("string")))
      .orderBy(col("__h"), col("__id")).limit(k)
      .withColumn("cid", (row_number().over(seedRank) - 1).cast("long"))
  }

  /** AUTO-K centroid build — the SemDeDup contract (k ≈ n / target cluster
    * size, so per-cluster candidate volume stays ~targetClusterSize² as the
    * corpus grows) derived IN-PLAN instead of hand-tuned per corpus:
    *
    *  - k = ceil(n / targetClusterSize) comes from a broadcast 1-row count
    *    joined into the plan (t17-style) — no driver-side action;
    *  - seeds are per-bucket representatives: bucket = h64(id) mod k, seed
    *    = the bucket's (h, id)-minimum vector. A distributed aggregate —
    *    NOT the fixed-k top-k (whose data-dependent-k form would be a
    *    global sort), and hash-uniform over the corpus, which is exactly
    *    what makes the cluster-size bound hold: a dominant semantic blob
    *    holding p of the corpus mass draws ~p·k seeds, so it splits into
    *    ~target-sized cells instead of one giant cluster (AutoKSpec plants
    *    one and asserts the bound);
    *  - cid = dense index of the non-empty buckets in bucket order (a
    *    ≤k-row window), then the same Lloyd's rounds as the fixed-k build.
    *
    * Deterministic and oracle-replayable end-to-end: bucket assignment,
    * representative argmin, dense remap, and every Lloyd's round are the
    * shared md5/DECIMAL arithmetic. Like [[kmeansCentroids]], the result
    * comes back checkpointed (iters ≥ 1), so callers never re-checkpoint
    * it. */
  def kmeansCentroidsAutoK(corpus: DataFrame, idCol: String, vecCol: String,
      targetClusterSize: Int, iters: Int = 2): DataFrame = {
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val base = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val n1 = base.agg(count(lit(1)).as("__n"))
    val reps = base
      .withColumn("__h", hashing.h64(col("__id").cast("string")))
      .crossJoin(broadcast(n1))
      .withColumn("__b", pmod(col("__h"),
        ceil(col("__n").cast("double") / lit(targetClusterSize)).cast("long")))
      .groupBy(col("__b"))
      .agg(min(struct(col("__h"), col("__id").as("id"), col("__v").as("v")))
        .as("__rep"))
    val bucketRank = Window.orderBy(col("__b")) // ≤ k rows only
    val cents0 = reps
      .withColumn("cid", (row_number().over(bucketRank) - 1).cast("long"))
      .select(col("cid"),
        transform(col("__rep.v"), e => e.cast("double")).as("cv"))
    lloydRounds(base, cents0, iters)
  }

  /** The one Lloyd loop, shared by the fixed-k, auto-k and PQ builds:
    * per round, [[nearest]] assigns every `base` row (`__id`, `__v`) to
    * its argmax-cosine centroid, and each (cid, dim) mean is an exact
    * DECIMAL(38,20) sum (partition-order independent), divided in double
    * and rounded to 9 so the next round's inputs are stable literals;
    * each round is checkpointed (k rows; cuts the per-round lineage
    * growth). With `bySub`, `base` and `cents0` carry a subspace key
    * `sub` and every subspace trains independently in the same plan. */
  private def lloydRounds(base: DataFrame, cents0: DataFrame,
      iters: Int, bySub: Boolean = false): DataFrame = {
    val sub = if (bySub) Seq("sub") else Nil
    def keyed(cs: Column*): Seq[Column] = sub.map(col) ++ cs
    var cents = cents0
    for (_ <- 1 to iters) {
      val assigned = nearest(base, cents, "__id" +: sub, "__v",
          col("__v").as("v"))
        .select(keyed(col("__best.cid").as("cid"),
          col("__best.v").as("__v")): _*)
      val dims = assigned
        .select(keyed(col("cid"),
          posexplode(col("__v")).as(Seq("pos", "val"))): _*)
        .groupBy(keyed(col("cid"), col("pos")): _*)
        .agg(sum(col("val").cast("double").cast("decimal(38,20)")).as("__s"),
          count(lit(1)).as("__n"))
        .select(keyed(col("cid"), col("pos"),
          round(col("__s").cast("double") / col("__n"), 9).as("m")): _*)
      cents = Checkpoints.checkpoint(dims.groupBy(keyed(col("cid")): _*)
        .agg(collect_list(struct(col("pos"), col("m"))).as("__pm"))
        .select(keyed(col("cid"), transform(array_sort(col("__pm")),
          s => s.getField("m")).as("cv")): _*))
    }
    cents
  }

  /** ANN top-k: queries only compare against corpus vectors in their own
    * hyperplane bucket. Recall < 1 by construction (a near neighbor across
    * a plane is missed) — that is the documented trade; multi-probe or
    * repeated plane sets raise recall at proportional cost. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      lshBucket(col(vecCol), dim).as("bucket"))
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), dim).as("bucket")))
    val scored = c.join(q, Seq("bucket")).filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("bucket"), col("nid"),
        round(cosine(col("qv"), col("nv")), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Symmetric per-vector int8 quantization — the standard memory/bandwidth
    * lever for vector search at scale (4× smaller than float32, 8× smaller
    * than the double math): scale = max|v|/127 (rounded to 9 decimals so
    * the dequantized values are stable cross-engine), qᵢ = round(vᵢ/scale)
    * clamped to [-127, 127], stored as `tinyint`. Returns
    * struct(scale: double, q: array<tinyint>). Zero vectors are out of
    * contract (same as [[cosine]]). Pure codegen'd column arithmetic — the
    * quantized corpus is written once and every ANN pass reads ¼ the
    * bytes. */
  def quantizeInt8(vec: Column): Column = {
    val scale = round(array_max(transform(vec, x => abs(x.cast("double")))) /
      127, 9)
    struct(scale.as("scale"),
      transform(vec, x =>
        greatest(least(round(x.cast("double") / scale, 0), lit(127.0)),
          lit(-127.0)).cast("tinyint")).as("q"))
  }

  /** Dequantize a [[quantizeInt8]] struct back to `array<double>`:
    * v'ᵢ = qᵢ·scale, so |vᵢ − v'ᵢ| ≤ scale/2 per component. */
  def dequantInt8(qs: Column): Column =
    transform(qs.getField("q"), x => x.cast("double") * qs.getField("scale"))

  /** SemDeDup-style semantic dedup (cluster-then-prune, after Abbas et al.
    * 2023, arXiv:2303.09540): k-means partitions the embedding space, and
    * cosine-threshold pruning runs WITHIN each cluster only — a vector is
    * dropped when a smaller-id vector of the same cluster sits at
    * cos ≥ tau. Returns the survivors as (id, cluster).
    *
    * Semantics are deterministic and oracle-replayable: the keep rule is
    * "no smaller-id neighbor ≥ tau in my cluster" (an EXISTS, not the
    * greedy chain — a vector whose only close neighbor was itself dropped
    * still drops; strictly more aggressive than greedy, stated contract),
    * cosines are strict-fold doubles rounded to 4 before the comparison,
    * and assignment ties break on centroid id.
    *
    * Scale design: assignment is the [[nearest]] min-struct aggregate (one
    * corpus pass, map-side combine); the prune is an equi-join on the
    * cluster id, so candidate volume is Σ|cluster|² — bounded only if k
    * GROWS with the corpus (SemDeDup's own contract: k ≈ n / target
    * cluster size keeps clusters constant-sized; the paper runs 50k
    * clusters for 5B embeddings). The assigned table is checkpointed so
    * the k-means DAG runs once, not once per self-join side. */
  def semDeDup(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, tau: Double): DataFrame = {
    val assigned = Checkpoints.checkpoint(
      nearest(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
          centroids.select(col("cid"), col("cv")), Seq("id"), "v", col("v"))
        .select(col("id"), col("__best.v").as("v"),
          col("__best.cid").as("cluster")))
    val rivals = assigned.select(col("cluster").as("__rc"),
      col("id").as("__rid"), col("v").as("__rv"))
    assigned.join(rivals,
        col("cluster") === col("__rc") && col("__rid") < col("id") &&
          round(cosine(col("v"), col("__rv")), 4) >= tau,
        "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): in the abundant-data regime, the EASY examples — the
    * ones closest to their cluster centroid — are the redundant ones, so
    * the curation move is to drop the most prototypical `prunePct`% of
    * each cluster and train on the rest. Complements [[semDeDup]] (which
    * removes near-DUPLICATES inside a cluster; this removes the
    * informationless CORE). Per row: nearest centroid by cosine (argmax,
    * ties by cid — the [[semDeDup]] assignment), prototypicality
    * `prox = round(cos, 4)`, per-cluster rank by (prox desc, id), and
    * `dropped = rank ≤ ceil(n · prunePct / 100)` in EXACT integer
    * arithmetic so the cut line is engine-independent. Scale shape:
    * centroids broadcast; the rank window partitions by cluster, whose
    * size the auto-k build ([[kmeansCentroidsAutoK]]) bounds near the
    * target — no global window. Returns (id, cluster, prox, dropped). */
  def prototypePrune(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, prunePct: Int): DataFrame = {
    require(prunePct >= 0 && prunePct <= 100, "prunePct must be in [0,100]")
    val assigned = nearest(
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        centroids.select(col("cid"), col("cv")), Seq("id"), "v")
      .select(col("id"), col("__best.cid").as("cluster"),
        round(negate(col("__best.negcos")), 4).as("prox"))
    val byCluster = Window.partitionBy(col("cluster"))
    val rk = Window.partitionBy(col("cluster"))
      .orderBy(col("prox").desc, col("id"))
    assigned
      .withColumn("__n", count(lit(1)).over(byCluster))
      .withColumn("__rk", row_number().over(rk))
      .withColumn("dropped",
        col("__rk") <= expr(s"(__n * $prunePct + 99) div 100"))
      .select(col("id"), col("cluster"), col("prox"), col("dropped"))
  }

  // ---- Product quantization (PQ) with asymmetric distance (ADC) ----
  //
  // The third leg of the FAISS triad (flat / IVF / PQ): vectors compress
  // to `subspaces` small codes — here one code per 16-dim slice — and
  // queries score against the COMPRESSED corpus through a per-query
  // lookup table, never touching the original floats. At 100 TB this is
  // the difference between scanning 256 B/vector (float32×64) and
  // 4 B/vector (one byte-sized code per subspace): the corpus-side scan
  // is pure code-table lookups, and the only float math per query is the
  // tiny LUT build (queries × codebook, both broadcast-sized).
  //
  // Codebooks are spherical (cosine-assignment) k-means per subspace —
  // the same deterministic [[kmeansCentroids]] build (hash-seeded,
  // exact-decimal means) run on each slice, so the DuckDB oracle replays
  // the ENTIRE pipeline, codebooks included. Determinism of ADC sums:
  // per-subspace partial dots and squared-norm terms round to 9 decimals
  // into DECIMAL(18,9) BEFORE summing, so the cross-subspace sum is exact
  // integer arithmetic under any partitioning and on any engine.

  /** Per-subspace codebooks: (sub, cid, cv, cc) where cv is the sub-dim
    * centroid and cc = round(|cv|², 9) as DECIMAL(18,9) — the
    * reconstructed-norm term ADC scoring needs.
    *
    * All subspaces train in ONE plan per Lloyd's round (the subspace is
    * just another grouping key on the [[kmeansCentroids]] shapes) — 8
    * sequential per-slice k-means builds cost 8× the driver round-trips
    * and checkpoints for identical results (measured 7.1 s → ~2 s at
    * sf0.1). Value-identical to running [[kmeansCentroids]] on each
    * slice: the hash-ordered seed rows are the same ids for every
    * subspace, and assignment/mean arithmetic is per-(sub) independent. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, subspaces: Int, k: Int, iters: Int = 2): DataFrame = {
    require(dim % subspaces == 0, "subspaces must divide dim")
    val subs = corpus.select(col(idCol).as("__id"),
        subspaceSlices(col(vecCol), dim, subspaces).as("x"))
      .select(col("__id"), col("x.sub").as("sub"), col("x.sv").as("__v"))
    val seedIds = hashSeeds(corpus.select(col(idCol).as("__id")), k)
      .select(col("__id"), col("cid"))
    val cents0 = Checkpoints.checkpoint(
      subs.join(broadcast(seedIds), Seq("__id"))
        .select(col("sub"), col("cid"),
          transform(col("__v"), e => e.cast("double")).as("cv")))
    lloydRounds(subs, cents0, iters, bySub = true)
      .withColumn("cc", round(dot(col("cv"), col("cv")), 9)
        .cast("decimal(18,9)"))
  }

  /** The one subspace split: `vec`'s `subspaces` equal slices as an
    * exploded struct(sub, sv) per row — PQ training, encoding and both
    * query-side lookup tables cut vectors with it. */
  private def subspaceSlices(vec: Column, dim: Int, subspaces: Int): Column = {
    val len = dim / subspaces
    explode(array((0 until subspaces).map(s0 =>
      struct(lit(s0).as("sub"), slice(vec, s0 * len + 1, len).as("sv"))): _*))
  }

  /** PQ encoding: one (id, sub, code) row per vector per subspace — the
    * max-cosine codebook entry for that slice (ties by cid, the
    * [[nearest]] min-struct argmin). The codes ARE the compressed corpus:
    * everything downstream reads only this table. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, subspaces: Int): DataFrame = {
    val subs = corpus.select(col(idCol).as("id"),
        subspaceSlices(col(vecCol), dim, subspaces).as("x"))
      .select(col("id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
    nearest(subs, codebooks.select(col("sub"), col("cid"), col("cv")),
        Seq("id", "sub"), "sv")
      .select(col("id"), col("sub"), col("__best.cid").as("code"))
  }

  /** PQ search with refine (the FAISS production shape): ADC scores the
    * COMPRESSED corpus — a per-query lookup table (partial dot of each
    * query slice with every codebook entry, rounded into DECIMAL(18,9) so
    * the cross-subspace sum is exact) joined to the code table, approx
    * cosine = Σpd / (|q|·√Σcc) — keeps a `shortlist` of candidates per
    * query, and an EXACT cosine rerank over only those candidates picks
    * the final top-k. The full-precision vectors are touched for
    * shortlist·|queries| rows, never the whole corpus — the scan stays on
    * the codes (the bandwidth win), while the rerank recovers the
    * accuracy ADC alone cannot on weakly-clustered data (structureless
    * random vectors are PQ's documented worst case — this corpus's
    * ADC-only recall@3 is ~10%, refine lifts it to ~60%; real embedding
    * manifolds sit far closer to the PQ assumptions). */
  // ---- IVF-PQ: coarse quantizer + PQ residuals + ADC + refine ----
  //
  // The full FAISS IVFPQ composition (the production big-index default,
  // completing the triad x3 · x8 compose): a coarse k-means splits the
  // corpus into inverted lists, each vector stores only the PQ codes of
  // its RESIDUAL v − c(v) — residuals concentrate near zero once coarse
  // structure is removed, which is why IVFPQ beats flat PQ at equal
  // bits — and a query scores only its nProbe probed lists through a
  // per-(query, list) ADC lookup table in exact L2:
  //   d²(q, c + r̂) = |q−c|² − 2·(q−c)·r̂ + |r̂|²
  // where the two right terms decompose per subspace exactly (r̂ is the
  // concatenation of per-subspace codebook entries, so cross-subspace
  // terms vanish). All three terms round into DECIMAL(18,9) before
  // summing — the x8 determinism contract — and an exact-L2 rerank over
  // a bounded shortlist picks the final top-k. Scale shape: the
  // corpus-side scan reads codes only (`subspaces` bytes/vector);
  // non-probed lists die in the broadcast-LUT equi-join on
  // (cluster, sub, code) — bucket the codes by cluster for partition
  // pruning; the LUT is |queries|·nProbe·subspaces·k rows,
  // broadcast-sized by contract.

  /** Coarse assignment + residuals: (id, cluster, rv = v − cv), the
    * [[nearest]] argmin aggregate carrying the element-wise
    * double residual the PQ codebooks then train on. */
  def ivfResiduals(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    nearest(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        cents.select(col("cid"), col("cv")), Seq("id"), "v", col("v"),
        col("cv"))
      .select(col("id"), col("__best.cid").as("cluster"),
        zip_with(col("__best.v"), col("__best.cv"),
          (a, c) => a.cast("double") - c).as("rv"))

  /** IVF-PQ probe (see the block comment above): ADC over the probed
    * lists' codes, shortlist by the exact-decimal approximate d², then
    * exact-L2 rerank of `shortlist` candidates per query. `residuals`
    * maps id → cluster ([[ivfResiduals]]); `codes`/`codebooks` come from
    * [[pqEncode]]/[[pqCodebooks]] trained ON the residuals. */
  def ivfPqTopK(corpus: DataFrame, residuals: DataFrame, codes: DataFrame,
      codebooks: DataFrame, cents: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, subspaces: Int,
      nProbe: Int, k: Int, shortlist: Int): DataFrame =
    ivfPqTopKClustered(corpus,
      codes.join(residuals.select(col("id"), col("cluster")), Seq("id")),
      codebooks, cents, queries, idCol, vecCol, dim, subspaces, nProbe,
      k, shortlist)

  /** [[ivfPqTopK]] over codes that ALREADY carry their cluster —
    * (id, cluster, sub, code) — the persisted-index probe shape: a
    * [[buildIvfPqIndex]] table stores the codes cluster-joined and
    * bucketed by cluster, so the probe needs no id-join at all and
    * non-probed lists die in the broadcast-LUT equi-join against a
    * scan-only table. */
  def ivfPqTopKClustered(corpus: DataFrame, clusteredCodes: DataFrame,
      codebooks: DataFrame, cents: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, subspaces: Int,
      nProbe: Int, k: Int, shortlist: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val cb = broadcast(cents.select(col("cid"), col("cv")))
    val probes = probeCentroids(q, cb, "qid", "qv", nProbe)
      .join(broadcast(cents.select(col("cid").as("cluster"),
        col("cv").as("ccv"))), Seq("cluster"))
      .select(col("qid"), col("cluster"),
        zip_with(col("qv"), col("ccv"), (a, c) => a.cast("double") - c)
          .as("qr"))
    val qsubs = probes.select(col("qid"), col("cluster").as("qcluster"),
        round(dot(col("qr"), col("qr")), 9).cast("decimal(18,9)")
          .as("qrr"),
        subspaceSlices(col("qr"), dim, subspaces).as("x"))
      .select(col("qid"), col("qcluster"), col("qrr"),
        col("x.sub").as("qsub"), col("x.sv").as("qs"))
    val lut = qsubs.join(broadcast(codebooks), col("qsub") === col("sub"))
      .select(col("qid"), col("qcluster"), col("qrr"), col("qsub"),
        col("cid").as("qcid"),
        round(dot(col("qs"), col("cv")), 9).cast("decimal(18,9)").as("pd"),
        col("cc"))
    val adc = clusteredCodes
      .join(broadcast(lut),
        col("sub") === col("qsub") && col("code") === col("qcid") &&
          col("cluster") === col("qcluster"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(min(col("qrr")).as("qrr"), sum(col("pd")).as("spd"),
        sum(col("cc")).as("scc"))
      .select(col("qid"), col("id").as("nid"),
        (col("qrr") - lit(2) * col("spd") + col("scc")).as("ad2"))
    val sl = adc.withColumn("arank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ad2").asc, col("nid"))))
      .filter(col("arank") <= shortlist)
      .select(col("qid"), col("nid"))
    corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(broadcast(sl), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("qv")) + dot(col("nv"), col("nv")) -
          lit(2) * dot(col("qv"), col("nv")), 4).as("d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("nid"))))
      .filter(col("rank") <= k)
  }

  /** Persist an IVF-PQ index — the FAISS write-to-disk shape for the
    * [[ivfPqTopK]] composition ([[buildIvfIndex]]'s big sibling): the
    * coarse centroid table, the residual PQ codebooks, and the
    * cluster-joined code table ((id, cluster, sub, code), bucketed by
    * cluster — `subspaces` bytes of payload per vector, the bytes a
    * real index stores) as saved tables. Probes then run
    * [[ivfPqTopKClustered]] against scan-only tables: no assignment or
    * codebook recompute, no corpus shuffle — the same
    * build-once/probe-many contract as x9/DedupIndex. */
  def buildIvfPqIndex(spark: SparkSession, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, subspaces: Int,
      coarseK: Int, codebookK: Int, iters: Int = 2, path: String,
      prefix: String, buckets: Int = 0): Unit = {
    for (t <- Seq("cents", "codebooks", "codes"))
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t")
    kmeansCentroids(corpus, idCol, vecCol, coarseK, iters)
      .write.mode("overwrite").option("path", s"$path/cents")
      .saveAsTable(s"${prefix}_cents")
    val cents = broadcast(spark.table(s"${prefix}_cents"))
    val rsd = Checkpoints.checkpoint(
      ivfResiduals(corpus, idCol, vecCol, cents))
    val cbs = pqCodebooks(rsd, "id", "rv", dim, subspaces, codebookK,
      iters)
    cbs.write.mode("overwrite").option("path", s"$path/codebooks")
      .saveAsTable(s"${prefix}_codebooks")
    val b = Buckets.resolve(spark, buckets)
    pqEncode(rsd, "id", "rv", spark.table(s"${prefix}_codebooks"),
        dim, subspaces)
      .join(rsd.select(col("id"), col("cluster")), Seq("id"))
      .repartition(b, col("cluster"))
      .write.mode("overwrite")
      .bucketBy(b, "cluster")
      .option("path", s"$path/codes").saveAsTable(s"${prefix}_codes")
  }

  /** ANN top-k against a [[buildIvfPqIndex]]-persisted index.
    * Value-identical to the inline [[ivfPqTopK]] with the same
    * training parameters (persistence is transparent — IvfIndexSpec
    * asserts it); the corpus's full-precision vectors are touched only
    * by the final shortlist rerank. */
  def ivfPqProbePersisted(spark: SparkSession, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, dim: Int,
      subspaces: Int, nProbe: Int, k: Int, shortlist: Int,
      prefix: String): DataFrame =
    ivfPqTopKClustered(corpus, spark.table(s"${prefix}_codes"),
      spark.table(s"${prefix}_codebooks"),
      spark.table(s"${prefix}_cents"), queries, idCol, vecCol, dim,
      subspaces, nProbe, k, shortlist)

  def pqTopK(corpus: DataFrame, corpusCodes: DataFrame,
      codebooks: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, subspaces: Int, k: Int,
      shortlist: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val qsubs = q.select(col("qid"),
        subspaceSlices(col("qv"), dim, subspaces).as("x"))
      .select(col("qid"), col("x.sub").as("qsub"), col("x.sv").as("qs"))
    val lut = qsubs.join(codebooks, col("qsub") === col("sub"))
      .select(col("qid"), col("qsub"), col("cid").as("qcid"),
        round(dot(col("qs"), col("cv")), 9).cast("decimal(18,9)").as("pd"),
        col("cc"))
    val qnorm = q.select(col("qid").as("nqid"), norm(col("qv")).as("qn"))
    val sl = corpusCodes
      .join(broadcast(lut),
        col("sub") === col("qsub") && col("code") === col("qcid"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("pd")).as("spd"), sum(col("cc")).as("scc"))
      .join(broadcast(qnorm), col("qid") === col("nqid"))
      .select(col("qid"), col("id").as("nid"),
        round(col("spd").cast("double") /
          (col("qn") * sqrt(col("scc").cast("double"))), 4).as("acos"))
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("acos").desc, col("nid"))))
      .filter(col("arank") <= shortlist)
      .select(col("qid"), col("nid"))
    corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(broadcast(sl), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"),
        round(cosine(col("nv"), col("qv")), 4).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nid"))))
      .filter(col("rank") <= k)
  }
}
