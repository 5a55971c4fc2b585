package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.textstats

/** Keyword search scoring (BM25) over a document corpus — the text-side
  * retrieval twin of the embedding ANN family in [[Similarity]] (north-star
  * extension: corpus triage / quality queries like "rank documents for
  * these probe terms" over billions of rows).
  *
  * Design: the query term set is a small FIXED list, so per-term frequency
  * is a row-local `size(filter(tokens, _ == term))` — no token explode, no
  * (doc × term) shuffle. Corpus statistics (N, Σdl, per-term document
  * frequency) are ONE aggregate row broadcast back over the scan; scoring
  * is then a pure codegen'd map and top-k is TakeOrderedAndProject (no
  * global sort). Two scans of the corpus total, both column-pruned.
  *
  * Determinism: scores are IEEE double arithmetic in a fixed left-to-right
  * term order, with every constant shared between the Column tree and the
  * [[sqlScore]] DuckDB twin via the same Scala values — both engines parse
  * identical literals, so scores match bit-for-bit (rounded to 4 at the
  * output for rank stability, ids as tie-break).
  */
object TextSearch {

  /** Lucene-standard BM25 parameters. */
  val K1 = 1.2
  val B = 0.75

  /** ONE term's BM25 contribution for term/document frequencies `tf`/
    * `df` over columns `n`, `dlsum` and `dl` — [[bm25]]'s and
    * [[TextIndex.bm25Probe]]'s Column tree ([[sqlScore]] is its twin). */
  private[ops] def bm25Term(tf: Column, df: Column): Column = {
    val avgdl = col("dlsum") / col("n")
    val idf = log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5)))
    idf * ((tf * lit(K1 + 1)) /
      (tf + lit(K1) * (lit(1 - B) + lit(B) * (col("dl") / avgdl))))
  }

  /** Adds `dl`, per-term `tf<i>`, and a `score` column; other input columns
    * pass through. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val tok = textstats.tokens(col(textCol))
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    val base = docs.select(keep ++ Seq(size(tok).as("dl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        size(filter(tok, x => x === lit(t))).as(s"tf$i")
      }: _*)
    val stats = base.agg(
      count(lit(1)).as("n"),
      sum(col("dl")).as("dlsum") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("int")).as(s"df$i")): _*)
    val score = terms.indices
      .map(i => bm25Term(col(s"tf$i"), col(s"df$i"))).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("score", score)
      .drop("n" +: "dlsum" +: terms.indices.map(i => s"df$i"): _*)
  }

  /** Top-k by rounded score (ids break ties) — TakeOrderedAndProject, not a
    * global sort. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame =
    bm25(docs, idCol, textCol, terms)
      .withColumn("score", round(col("score"), 4))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** [[bm25TopK]] with an explicit 1-based `rank` column (rounded score
    * desc, ids break ties). The rank window runs AFTER the limit, over k
    * rows on one partition — O(k), corpus-size independent, so the
    * unpartitioned window is not the usual scale smell. */
  def bm25Ranked(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25TopK(docs, idCol, textCol, terms, k).withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol))))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of N
    * ranked lists: rrf(id) = Σᵢ 1/(c + rankᵢ(id)), ids absent from a list
    * contribute 0 for it. The modern hybrid-retrieval combiner (keyword
    * BM25 + embedding ANN). Inputs are each `(idCol, rank)` top-k lists —
    * already k-bounded, so the full-outer fuse join is O(k·N) no matter
    * the corpus size; the heavy lifting happened in the upstream rankers.
    * Output keeps each list's rank as `rank<i>` (null = absent) plus the
    * fused `rrf` rounded to 6 (fixed-arity double sum in list order —
    * deterministic, and replayable by any engine). */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val renamed = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col("rank").as(s"rank$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val rrf = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(c) + col(s"rank$i")), lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf", round(rrf, 6))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB twin of the score expression, over columns `dl`/`tf<i>` and
    * scalar stats `n`/`dlsum`/`df<i>` — constants interpolated from the
    * SAME Scala values as the Column tree above. */
  def sqlScore(terms: Seq[String]): String =
    terms.indices.map { i =>
      s"""ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) *
         ((tf$i * ${K1 + 1}) / (tf$i + $K1 * (${1 - B} + $B * (dl / (dlsum / n)))))"""
    }.mkString(" + ")

  /** Tokenizer-coverage signal: per-document out-of-vocabulary token count
    * against the corpus's own top-`vocabSize` token vocabulary (frequency
    * desc, ties broken by token string — a deterministic vocabulary).
    * Output: the input columns minus `textCol`, plus `ntok` and `oov`.
    * Zero-token documents emit nothing (no token rows), matching the
    * unnest-based oracle replay.
    *
    * Scale: the vocabulary build is a map-side-combined count + TakeOrdered
    * top-k (no global sort), and the vocabulary is broadcast — a real
    * tokenizer vocab (32k–256k entries) is megabytes, far under broadcast
    * limits — so the membership join is map-side only and the per-doc
    * reaggregation combines map-side. One shuffle total (the count). */
  def oovRate(docs: DataFrame, textCol: String,
      vocabSize: Int): DataFrame = {
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    val toks = docs.select(keep :+
      explode(textstats.tokens(col(textCol))).as("__t"): _*)
    val vocab = toks.groupBy(col("__t")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__t")).limit(vocabSize)
      .select(col("__t"), lit(1).as("__iv"))
    toks.join(broadcast(vocab), Seq("__t"), "left")
      .groupBy(keep.toSeq: _*)
      .agg(count(lit(1)).as("ntok"),
        sum(when(col("__iv").isNull, 1).otherwise(0)).as("oov"))
  }

  /** Context-window chunking: cut each document's token array into windows
    * of `window` tokens starting every `stride` tokens (stride < window ⇒
    * overlapping windows — the standard pretraining/RAG chunker). Emits one
    * row per (document, window): the input columns minus `textCol`, plus
    * `off` (0-based window index) and `chunk` (the token slice; trailing
    * windows are shorter). Zero-token documents emit nothing.
    *
    * Scale: entirely row-local (tokenize → explode of a computed index
    * range → slice) — zero shuffles; output is ⌈ntok/stride⌉ rows per
    * document and the slices are bounded by `window`, so memory per row is
    * constant. */
  def chunkWindows(docs: DataFrame, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    docs.select(keep :+ textstats.tokens(col(textCol)).as("__toks"): _*)
      .filter(size(col("__toks")) > 0)
      .select(keep ++ Seq(col("__toks"),
        explode(sequence(lit(0),
          floor((size(col("__toks")) - lit(1)) / lit(stride)).cast("int")))
          .as("off")): _*)
      .select(keep ++ Seq(col("off"),
        slice(col("__toks"), col("off") * lit(stride) + lit(1), lit(window))
          .as("chunk")): _*)
  }

  /** Unigram-LM quality signal (CCNet-style, simplified): per-document
    * token count and summed log-probability under the corpus's own unigram
    * distribution — low (very negative) average log-prob flags documents
    * whose token mix is unlike the corpus. Returns one row per document
    * with `ntok` and `logp_sum`; divide at the edge for cross-entropy.
    *
    * Determinism: each token's log-prob is rounded to 6 decimals and summed
    * as DECIMAL(18,6) — exact integer arithmetic, so the per-doc sum is
    * identical under any partitioning and on any engine.
    *
    * Scale: one explode + two keyed aggregations. The unigram table is
    * broadcast (a 10M-type vocabulary is ~100s of MB — broadcastable;
    * beyond that drop the hint and let the join shuffle). */
  def unigramLogProbs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    val toks = docs.select(keep :+
      explode(textstats.tokens(col(textCol))).as("__t"): _*)
    val vocab = toks.groupBy(col("__t")).agg(count(lit(1)).as("__cnt"))
    val total = vocab.agg(sum(col("__cnt")).as("__total"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("__t"),
        round(log(col("__cnt") / col("__total")), 6)
          .cast("decimal(18,6)").as("__logp"))
    toks.join(broadcast(logp), "__t")
      .groupBy(keep.toSeq: _*)
      .agg(count(lit(1)).as("ntok"), sum(col("__logp")).as("logp_sum"))
  }

  /** Interpolated bigram-LM scoring — the next step up the CCNet
    * perplexity ladder from [[unigramLogProbs]]: each in-document bigram
    * (u, v) scores `log(λ·c(u,v)/c(u·) + (1−λ)·c(v)/N)` — bigram MLE
    * interpolated with the unigram distribution (Jelinek-Mercer
    * smoothing), so unseen-in-context continuations still get the
    * unigram floor while frequent continuations score near their
    * conditional probability. Returns one row per document with `nbg`
    * (bigram count) and `logp_sum`; docs under 2 tokens drop out
    * (no bigrams to score).
    *
    * Determinism: the t13 contract — per-bigram log-probs round to 6
    * decimals and sum as DECIMAL(18,6); the interpolation arithmetic is
    * IEEE-exact on both engines, only `ln` needs the rounding guard.
    *
    * Scale: bigrams explode row-locally (array transform, no window/lag
    * shuffle); the bigram table aggregates with map-side combine and
    * joins back by (u, v) equi-join — vocabulary² in the worst case, so
    * no broadcast hint: AQE broadcasts when it fits, shuffles when it
    * must. The 1-row total is the only cross join. */
  def bigramLogProbs(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    val base = docs.select(keep :+
      textstats.tokens(col(textCol)).as("__toks"): _*)
    val bg = base.filter(size(col("__toks")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(1, size(__toks)-1), i -> " +
          "struct(element_at(__toks, i) AS u, element_at(__toks, i+1) AS v))"))
        .as("__b"): _*)
      .select(keep ++ Seq(col("__b.u").as("__u"), col("__b.v").as("__v")): _*)
    val c2 = bg.groupBy(col("__u"), col("__v")).agg(count(lit(1)).as("__c"))
    val c1 = c2.groupBy(col("__u")).agg(sum(col("__c")).as("__ctx"))
    val uni = base.select(explode(col("__toks")).as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__cu"))
    val n = uni.agg(sum(col("__cu")).as("__n"))
    val lp = c2.join(c1, "__u").join(uni, "__v").crossJoin(broadcast(n))
      .select(col("__u"), col("__v"),
        round(log(lit(lambda) * (col("__c") / col("__ctx")) +
          lit(1 - lambda) * (col("__cu") / col("__n"))), 6)
          .cast("decimal(18,6)").as("__logp"))
    bg.join(lp, Seq("__u", "__v"))
      .groupBy(keep.toSeq: _*)
      .agg(count(lit(1)).as("nbg"), sum(col("__logp")).as("logp_sum"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed token features are under a TARGET
    * distribution (the rows matching `targetPred` — e.g. a trusted
    * high-quality subset) than under the RAW corpus distribution. The
    * per-doc log importance weight is
    * `Σ_features log p_target(b) − log p_raw(b)` over the doc's hashed
    * feature occurrences, with Laplace(+1)-smoothed bucket unigrams —
    * the paper's hashed n-gram estimator with unigram features. Top
    * weights select raw documents that "look like" the target; the
    * paper's Gumbel-noise sampling step is a caller-side variant (add
    * noise before the top-k), kept out so the operator stays
    * deterministic.
    *
    * Determinism: per-bucket log-ratios round to 6 decimals and sum as
    * DECIMAL(18,6) — the t13 contract, partition-order- and
    * engine-independent. Both bucket hash and smoothing replay in the
    * oracle.
    *
    * Scale: one explode + one `width`-bounded aggregation (map-side
    * combined: ≤ `buckets` rows however large the corpus) + a broadcast
    * ratio-table join back onto the feature stream. No vocabulary
    * shuffle, no per-doc state — the same hashing-trick shape as
    * [[hashedLinearScore]]. Returns one row per document: the input
    * columns minus `textCol`, plus `ntok` and `dsir_logw`. */
  def dsirLogRatios(docs: DataFrame, textCol: String, targetPred: Column,
      buckets: Int): DataFrame = {
    import graft.functions.hashing
    require(buckets > 0, "buckets must be positive")
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    val feats = docs
      .select(keep ++ Seq(targetPred.as("__is_t"),
        explode(textstats.tokens(col(textCol))).as("__t")): _*)
      .withColumn("__b", hashing.h64(col("__t")) % lit(buckets.toLong))
    val bc = feats.groupBy(col("__b"))
      .agg(count(lit(1)).as("__cr"),
        sum(when(col("__is_t"), lit(1L)).otherwise(lit(0L))).as("__ct"))
    val tot = bc.agg(sum(col("__cr")).as("__nr"), sum(col("__ct")).as("__nt"))
    val lr = bc.crossJoin(broadcast(tot))
      .select(col("__b"),
        round(
          log((col("__ct") + lit(1)) / (col("__nt") + lit(buckets))) -
            log((col("__cr") + lit(1)) / (col("__nr") + lit(buckets))), 6)
          .cast("decimal(18,6)").as("__lr"))
    feats.join(broadcast(lr), "__b")
      .groupBy(keep.toSeq: _*)
      .agg(count(lit(1)).as("ntok"), sum(col("__lr")).as("dsir_logw"))
  }

  /** fastText-style hashed linear classifier scoring — the "quality model"
    * stage of modern pretraining pipelines (a trained linear model over
    * hashed bag-of-token features, scoring billions of documents). Feature
    * hashing and weight lookup are both ROW-LOCAL column math: a token's
    * feature index is `h64(token) mod dim`, and its weight is derived from
    * the index by the same shared md5 hash, quantized to exact 3-decimal
    * values in [-1, 1] so the per-document accumulation can run as an
    * exact DECIMAL(18,3) sum — identical under any partitioning and
    * replayable by the oracle. Returns one row per document: the input
    * columns minus `textCol`, plus `ntok` and `wsum`.
    *
    * The weight table here is a deterministic synthetic stand-in (no
    * trained artifact ships in this container — same honest-stub contract
    * as the multimodal decoders); swapping in real trained weights means
    * broadcasting a dim-sized array and replacing the hash-derivation with
    * `element_at`, leaving every other part of the plan untouched.
    *
    * Scale: one explode + one keyed aggregation (map-side combined); no
    * joins, no vocabulary shuffle — the classic hashing-trick win. A
    * sigmoid-threshold gate `σ(wsum/ntok + b) ≥ ½` is exactly
    * `wsum + b·ntok ≥ 0`, which stays in DECIMAL — callers can band
    * documents with zero floating-point (and zero libm-variance) risk. */
  def hashedLinearScore(docs: DataFrame, textCol: String,
      dim: Int, weightPrefix: String = "qw"): DataFrame = {
    import graft.functions.hashing
    val keep = docs.columns.filterNot(_ == textCol).map(col)
    val w = ((hashing.h64(concat(lit(weightPrefix + "_"),
      (hashing.h64(col("__t")) % lit(dim)).cast("string"))) % lit(2001L))
      - lit(1000L)).cast("decimal(18,3)") / lit(1000L)
    docs.select(keep :+ explode(textstats.tokens(col(textCol))).as("__t"): _*)
      .select(keep :+ w.cast("decimal(18,3)").as("__w"): _*)
      .groupBy(keep.toSeq: _*)
      .agg(count(lit(1)).as("ntok"), sum(col("__w")).as("wsum"))
  }

  /** DuckDB twin of [[hashedLinearScore]]'s per-token weight, over a token
    * expression `t` — same hash chain, same literals. */
  def sqlHashedWeight(t: String, dim: Int,
      weightPrefix: String = "qw"): String = {
    import graft.functions.hashing
    val idx = s"(${hashing.sqlH64(t)} % $dim)"
    s"""CAST(CAST((${hashing.sqlH64(
      s"concat('${weightPrefix}_', CAST($idx AS VARCHAR))")} % 2001) - 1000
       AS DECIMAL(18,3)) / 1000 AS DECIMAL(18,3))"""
  }

  // ---- BPE merge-step learning (tokenizer-training primitive) ----
  //
  // Batched greedy merge rounds of byte-pair-encoding style vocabulary
  // induction, applied at token granularity: count adjacent unit pairs
  // corpus-wide, select the top-k non-conflicting pairs, rewrite every
  // document with those pairs fused into single units, repeat. Iterated,
  // this is how BPE/wordpiece vocabularies are trained — here the pair
  // statistics and the rewrite are both distributed, which is the part
  // that matters at 100 TB (the reference trainers are single-node), and
  // batching k merges per counting pass is the standard trainer
  // optimization (k× fewer corpus passes for the same vocabulary, with
  // the documented approximation that the k winners share one pre-round
  // count).
  //
  // Contracts:
  //  - Pair IDENTITY is the tuple (l, r) of the two unit strings, never a
  //    joined string: merged units contain spaces (unit text joins with
  //    " "), so a flat encoding turns ambiguous the moment two merged
  //    units stack ("a b"+"c" vs "a"+"b c") — the tuple stays unambiguous
  //    at ANY merge depth. Counting and matching share this identity.
  //  - Candidates are restricted to l ≠ r. For l = r the greedy
  //    left-to-right merge depends on run parity (in "a a a" only the
  //    first pair merges) — a sequential fold public BPE implementations
  //    disagree on and DuckDB's scalar-accumulator list_reduce cannot
  //    replay; with l ≠ r matches can never be adjacent, so "merge every
  //    match" IS the greedy result, computed with row-local array ops.
  //  - A round's selected pairs are pairwise token-DISJOINT: rank the
  //    top-k by (cnt desc, l, r); a pair is selected iff it shares no
  //    unit with ANY higher-ranked pair of the top-k (strictly rank-based
  //    — deterministic and engine-replayable). Disjointness makes the
  //    one-pass multi-merge exact: two selected pairs can never claim
  //    overlapping positions.

  /** Corpus-wide adjacent-pair counts keyed by the (l, r) tuple identity;
    * equal-neighbor pairs excluded (see contract). Candidate extraction is
    * the codegen'd [[graft.functions.BpePairArray]] kernel (one scan per
    * row, no interpreted lambdas); then a two-phase hash aggregate — no
    * collect. */
  def bpePairCounts(docs: DataFrame, toksCol: String): DataFrame =
    docs.select(explode(
        graft.functions.expressions.bpePairArray(col(toksCol))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("cnt"))

  /** One round's merge batch: the k most frequent pairs, conflict-filtered
    * to a token-disjoint set (see contract above). Returns
    * (rn, l, r, cnt), rn = rank among the top-k. The result is ≤ k tiny
    * rows — the broadcastable build side of the rewrite. The
    * TakeOrderedAndProject top-k runs distributed; the rank window runs
    * over those k rows only. */
  def bpeTopPairs(docs: DataFrame, toksCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The conflict filter runs as a window over the k-row top set (higher-
    // ranked pairs collected per row) rather than a self-join: the top-k
    // subtree would sit on both join sides and re-execute the whole pair
    // aggregate whenever exchange reuse missed. The partitionless window
    // is exactly the ≤ k-row single-slot case it's safe for.
    val w = Window.orderBy(col("cnt").desc, col("l"), col("r"))
    val ranked = bpePairCounts(docs, toksCol)
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(k)
      .withColumn("rn", row_number().over(w))
      .withColumn("__hi", collect_list(struct(col("l"), col("r")))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    ranked.filter(!exists(col("__hi"), h =>
        h.getField("l") === col("l") || h.getField("l") === col("r") ||
          h.getField("r") === col("l") || h.getField("r") === col("r")))
      .select(col("rn"), col("l"), col("r"), col("cnt"))
  }

  /** The single-merge special case (k = 1): ONE row (l, r, cnt). */
  def bpeTopPair(docs: DataFrame, toksCol: String): DataFrame =
    bpeTopPairs(docs, toksCol, 1).select(col("l"), col("r"), col("cnt"))

  /** Rewrite every document with ALL of the round's selected pairs merged
    * in one pass (exact under the disjointness + l ≠ r contracts: matches
    * never overlap). `selected` is the ≤ k-row output of [[bpeTopPairs]],
    * folded to a single array row and broadcast — the t11-style 1-row
    * build side. The rewrite itself is the codegen'd
    * [[graft.functions.BpeRewrite]] kernel: one left-to-right walk per
    * row that emits the fused unit (text-joined with one space) at each
    * selected-pair start and skips the consumed neighbor — the same
    * result as the global match-set formulation, without the interpreted
    * per-position exists() over the batch. */
  def bpeApplyMerges(docs: DataFrame, toksCol: String,
      selected: DataFrame): DataFrame = {
    val ps = selected
      .agg(collect_list(struct(col("l"), col("r"))).as("__ps"))
    docs.crossJoin(broadcast(ps))
      .withColumn(toksCol,
        graft.functions.expressions.bpeRewrite(col(toksCol), col("__ps")))
      .drop("__ps")
  }

  /** ENCODE a corpus with a LEARNED merge table — the tokenizer production
    * step t20's training loop feeds: `merges` is the concatenation of the
    * per-round [[bpeTopPairs]] outputs tagged (round, rn, l, r), and the
    * rounds replay IN ORDER — a later round's pair can name a unit an
    * earlier round built, so rounds cannot be flattened into one batch
    * (within a round the conflict filter guarantees disjointness, so that
    * batch applies in one [[bpeApplyMerges]] pass). Works on any corpus,
    * seen or unseen: encoding never consults pair frequencies, only the
    * table. Intermediates stay LAZY — the chain is linear (each round
    * consumed exactly once, no branch reuse to protect; A/B at sf0.1:
    * per-round checkpoints were ~10% slower) — with a checkpoint every
    * 8th round to bound lineage depth for long production merge tables. */
  def bpeEncode(docs: DataFrame, toksCol: String, merges: DataFrame,
      rounds: Int): DataFrame = {
    var d = docs
    for (i <- 1 to rounds) {
      val step = bpeApplyMerges(d, toksCol, merges.filter(col("round") === i))
      d = if (i % 8 == 0) Checkpoints.checkpoint(step) else step
    }
    d
  }
}
