package graft

/** Physical-plan assertions for the scale-critical queries: pushdown must
  * reach the parquet scan, small dims must broadcast, aggregates must have a
  * map-side partial phase, and hot paths must stay inside whole-stage
  * codegen. These are the properties that decide whether a plan survives a
  * 100× scale-up — checked here so a regression fails CI, not a cluster run.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    df.queryExecution.executedPlan.toString
  }

  /** Every plan the query executes, final collect included: the eager
    * actions its construction runs (a `localCheckpoint`, say) plan
    * stages the final plan only reads back as `Scan ExistingRDD`. */
  private def executedPlans(name: String): Seq[String] =
    plansDuring(plan(name))

  test("s4: filter and projection reach the parquet scan") {
    val p = plan("s4_pruned_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), p)
  }

  test("j4: dim joins broadcast, no shuffle of the fact side for joins") {
    val p = plan("j4_broadcast_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1: two-phase hash aggregate inside whole-stage codegen") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), p) // map-side partial aggregation
    assert(p.contains("*(1) HashAggregate"), p) // inside whole-stage codegen
  }

  test("x1: similarity scoring is codegen'd (native dot_product)") {
    val p = plan("x1_cosine_topk")
    assert(p.contains("dot_product"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("j2: anti join stays a join (no driver-side set)") {
    val p = plan("j2_anti_resume")
    assert(p.contains("LeftAnti"), p)
  }

  test("a1: native mode aggregate runs as two-phase ObjectHashAggregate") {
    val p = plan("a1_mode")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_mode_exact"), p) // map-side partial phase
  }

  test("c2: bucketed join has no shuffle on either side") {
    val p = plan("c2_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("d2: LSH candidate join is an equi hash/sort join, not nested loop") {
    val p = plan("d2_minhash_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d5: grid-partitioned exact cosine join has no nested-loop/cartesian") {
    val p = plan("d5_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e2: cross-corpus decontamination joins are all equi-joins") {
    val p = plan("e2_decontaminate")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d7: banded-LSH cosine join is equi-join only, scoring codegen'd") {
    val p = plan("d7_embedding_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("dot_product"), p)
  }

  test("d9: passage winner is an aggregate + equi-join, no window/nested loop") {
    val p = plan("d9_passage_dedup")
    assert(p.contains("partial_min"), p) // map-side combining winner select
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // row_number would not combine map-side
  }

  test("t11: bm25 stats broadcast back as a single-row build side; top-k " +
    "is TakeOrderedAndProject, not a global sort") {
    val p = plan("t11_bm25")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row stats × corpus
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), p) // no full sort stage
  }

  test("t12: packing cumsum is bucket-partitioned (no per-stream " +
    "total-order window); bucket prefix joins back as a broadcast") {
    val p = plan("t12_sequence_pack")
    assert(p.contains("BroadcastHashJoin"), p)
    // every cumsum window over the raw rows must include __bkt in its
    // partition spec — a windowspecdefinition(source, _w0…) without __bkt
    // would be the old one-task-per-stream sort
    val rowWindows = p.linesIterator.map(_.trim)
      .filter(_.contains("windowspecdefinition(source"))
      .filter(_.contains("Window")).toSet
    assert(rowWindows.nonEmpty, p)
    assert(rowWindows.forall(_.contains("__bkt")), rowWindows.mkString("\n"))
  }

  test("t8/t7: budget and cap run the two-phase bucket-prefix plan — " +
    "bulk keep/drop decided by a broadcast, fine sort only at the boundary") {
    for (q <- Seq("t8_token_budget", "t7_per_lang_cap")) {
      val p = plan(q)
      assert(p.contains("Union"), s"$q:\n$p") // keep-all ∪ boundary branches
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p") // prefix join-back
      assert(p.contains("__before"), s"$q:\n$p") // boundary offsets applied
      // phase 1 aggregates per (group, bucket) with a map-side partial
      assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_sum") &&
          l.contains("__bkt")), s"$q:\n$p")
    }
  }

  test("x3: IVF corpus assignment is a map-side-combining argmin aggregate, " +
    "not a window over the n×k scored rows") {
    val p = plan("x3_ivf_ann")
    assert(p.contains("partial_min"), p) // assignment argmin combines map-side
    // no row_number window partitioned by the corpus/assignment ids — the
    // only windows left are the tiny query-side probe and final rank
    assert(!p.contains("windowspecdefinition(nid"), p)
    assert(!p.contains("windowspecdefinition(__id"), p)
  }

  test("d10: semdedup prune is an anti equi-join on the cluster id over a " +
    "checkpointed assignment (no nested loop, no re-run of k-means per side)") {
    val p = plan("d10_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the k-means + assignment subtree is materialized once: both sides of
    // the anti join scan the checkpoint, so no partial_min aggregate (the
    // assignment argmin) appears twice in the executed plan
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("t13: unigram-LM joins broadcast; no shuffle of exploded tokens " +
    "for the lookup") {
    val p = plan("t13_unigram_lm")
    assert(p.contains("BroadcastHashJoin"), p) // token -> logp lookup
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e4: n-gram overlap decontamination is equi/semi joins only") {
    val p = plan("e4_ngram_overlap")
    assert(p.contains("LeftSemi"), p) // eval shingles probed against train
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e3/e5: rewrite and curation composites stay equi-join only") {
    // over every executed plan: e5 combines the passage winner inside
    // the stage it checkpoints, not in the final plan
    for (q <- Seq("e3_rewrite_dedup", "e5_curation_pipeline")) {
      val ps = executedPlans(q)
      val p = ps.mkString("\n---\n")
      assert(!ps.exists(_.contains("BroadcastNestedLoopJoin")), s"$q:\n$p")
      assert(!ps.exists(_.contains("CartesianProduct")), s"$q:\n$p")
      assert(ps.exists(_.contains("partial_min")),
        s"$q passage winner must map-side combine:\n$p")
    }
  }

  test("d3: simhash candidates are an equi-join over CHECKPOINTED " +
    "signatures — the 60-sum aggregate runs once, not once per join side") {
    val p = plan("d3_simhash")
    // both join sides read the materialized signature table, so the
    // expensive bit-sum aggregate is absent from the pair plan entirely
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("partial_sum"), p)
    // multi-index blocking is still a pure equi-join on (combo, key)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t9: repetition signals evaluate once (two-phase aggregate)") {
    val p = plan("t9_repetition")
    // the heavy signal exprs are grouping keys: two HashAggregate pairs
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t16: gopher signals are grouping keys; no joins at all") {
    val p = plan("t16_gopher_rules")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p) // pure scan → agg → agg pipeline
  }

  test("t17: data-dependent mixing thresholds broadcast back; the corpus " +
    "is filtered map-side (no shuffle of the big side, no window)") {
    val p = plan("t17_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("LeftOuter"), p)
  }

  test("x5: quantize/dequantize stays codegen'd column math feeding the " +
    "broadcast top-k (native dot_product, no extra shuffle of the corpus)") {
    val p = plan("x5_quantized_ann")
    assert(p.contains("dot_product"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("d11: containment candidates come from the inverted-index equi-join " +
    "over checkpointed shingle sets (d4's shape, no nested loop)") {
    val p = plan("d11_containment")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("st6: sessionization runs the native SessionWindow gap-merge " +
    "aggregate, not a window-function scan") {
    val p = plan("st6_session_window")
    assert(p.contains("session_window"), p)
    assert(!p.contains("row_number"), p)
  }

  test("t18: vocab table pre-aggregates per (doc, token) with map-side " +
    "partials, no count(DISTINCT) expansion; top-k is TakeOrdered") {
    val p = plan("t18_vocab_topk")
    assert(p.contains("partial_count"), p) // map-side combine before shuffle
    assert(!p.contains("Expand"), p) // df via pre-agg, not distinct-expand
    assert(p.contains("TakeOrderedAndProject"), p) // no global sort for top-k
  }

  test("x6: quantized-IVF keeps the x3 shape — argmin assignment with " +
    "map-side partials over the quantized corpus, no corpus-id window") {
    val p = plan("x6_ivf_quantized")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("windowspecdefinition(nid"), p)
    assert(!p.contains("windowspecdefinition(__id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t19: perplexity buckets join data-dependent thresholds as a " +
    "broadcast over the checkpointed scored table; no window, no cartesian") {
    val p = plan("t19_perplexity_buckets")
    assert(p.contains("Scan ExistingRDD"), p) // unigram DAG materialized once
    assert(p.contains("BroadcastHashJoin"), p) // per-lang tercile thresholds
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e6: pretrain-mix funnel reads checkpointed stages (gate and dedup " +
    "survivors materialize once); all joins equi or 1-row/threshold " +
    "broadcasts, no cartesian") {
    val p = plan("e6_pretrain_mix")
    assert(!p.contains("CartesianProduct"), p)
    // the k-means/semdedup DAG must not re-run per funnel consumer: the
    // survivor stage scans a checkpoint RDD
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p) // mixing thresholds broadcast
  }

  test("d2c: capped-LSH pipeline stays equi-join only — the bucket-count " +
    "cap adds an aggregate + join, never a nested loop") {
    val p = plan("d2c_minhash_lsh_capped")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p) // bucket sizes combine map-side
  }

  test("g2: composite-PK upsert is an anti equi-join + union, " +
    "no window/nested loop") {
    val p = plan("g2_composite_upsert")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("t20: BPE round reads a checkpointed corpus; each selected batch " +
    "joins back as a 1-row/array broadcast (no shuffle of the corpus " +
    "against the pair table)") {
    val p = plan("t20_bpe_merges")
    assert(p.contains("Scan ExistingRDD"), p) // per-round checkpoints
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row batch × corpus
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x8: ADC scan touches codes only (checkpointed), the LUT and " +
    "shortlist broadcast, scoring codegen'd — no cartesian") {
    val p = plan("x8_pq_adc")
    assert(p.contains("dot_product"), p) // LUT + rerank use the kernel
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed codes/codebooks
    assert(p.contains("BroadcastHashJoin"), p) // LUT/shortlist broadcasts
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x13: IVF-PQ ADC scans checkpointed codes with the per-list LUT " +
    "broadcast; assignment/codebooks never re-run; no cartesian") {
    val p = plan("x13_ivf_pq")
    assert(p.contains("dot_product"), p) // residual LUT + L2 rerank kernel
    assert(p.contains("Scan ExistingRDD"), p) // cents/rsd/cbs/codes ckpts
    assert(p.contains("BroadcastHashJoin"), p) // LUT + shortlist broadcast
    assert(!p.contains("CartesianProduct"), p)
    // corpus-side assignment/codes come from checkpoints — the probe plan
    // contains no Lloyd's-round aggregate over the corpus (no partial_min
    // argmin over __id, the training shape)
    assert(!p.contains("windowspecdefinition(__id"), p)
  }

  test("x18: label-prop recall probes the PERSISTED bucketed IVF table " +
    "— no corpus-side brute scan, no in-plan assignment recompute, " +
    "cluster/label lookups equi-join") {
    val p = plan("x18_knn_label_prop_indexed")
    // the seed's vectors enter ONLY through the persisted index table
    // (a regression back to x17's brute recall would scan embeddings
    // for the seed and never touch the index)
    assert(p.contains("_ivf"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the probe recomputes no assignment (the training argmin combines
    // map-side as partial_min — it must stay OUT of the probe plan)
    assert(!p.contains("partial_min"), p)
    assert(p.contains("BroadcastHashJoin"), p) // cluster + label joins
  }

  test("j14: the keyless interval-overlap join is a bucket EQUI join " +
    "(no cartesian); the only nested-loop joins are the 1-row stat " +
    "broadcasts") {
    val p = plan("j14_overlap_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__bkt"), p) // candidates equi-join on the bucket id
  }

  test("d15: boilerplate doc-frequency combines map-side (partial " +
    "count over the distinct projection), flag join-back is equi") {
    val p = plan("d15_boilerplate_scrub")
    assert(p.contains("partial_count"), p) // df count combines map-side
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // no window anywhere — the doc-frequency rule is pure aggregates
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("j12: the point-in-time window is a bucketed EQUI join (no " +
    "inequality/nested-loop join reaches the plan)") {
    val p = plan("j12_pit_features")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__lb"), p) // the coarse time-bucket equi key
  }

  test("t31: drift shuffles carry aggregated token counts (map-side " +
    "partial), the distribution join is equi, no cartesian") {
    val p = plan("t31_token_drift")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // 1-row-per-(lang, side) totals broadcast back
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("e7: the bloom bitmap is a 1-row broadcast and the probe test is " +
    "row-local — no train-side shuffle before the exact confirm") {
    val p = plan("e7_bloom_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row bitmap × hashes
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed shingle tables
  }

  test("s14: every shard is populated and token mass stays balanced " +
    "(hash sharding, no corpus-wide sort on the write side)") {
    // the only RangePartitioning in the read-back plan is the 8-row output
    // orderBy; the sharding itself is a row-local pmod + hash repartition
    val rows = SparkEntry.queries("s14_training_shards")(spark, sf).collect()
    val masses = rows.map(_.getAs[Long]("tok_sum"))
    assert(rows.length == 8 && masses.max < 2L * masses.min,
      s"shards unbalanced: ${masses.toSeq}")
  }

  test("t21: the top-V vocabulary broadcasts for the membership join; " +
    "both aggregates have map-side partials") {
    val p = plan("t21_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p) // vocab membership join
    assert(p.contains("TakeOrderedAndProject"), p) // top-V, no global sort
    assert(p.contains("partial_count"), p) // map-side combining
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t22: chunking is row-local — the only exchange is the final " +
    "per-lang rollup (plus the deliberate spread)") {
    val p = plan("t22_chunk_windows")
    assert(!p.contains("Join"), p) // no join of any kind
    // tokenize -> explode -> slice all inside one codegen'd map stage
    assert(p.contains("Generate explode"), p)
  }

  test("t23: hashing-trick classifier has no joins and no vocabulary " +
    "shuffle — one map-side-combined aggregate over row-local features") {
    val p = plan("t23_quality_classifier")
    assert(!p.contains("Join"), p) // the hashing-trick win: no weight join
    assert(p.contains("partial_count"), p) // map-side combining
  }

  test("x7: the rrf fuse joins two k-bounded lists — no corpus-sized " +
    "shuffle reaches the fusion, scoring stays codegen'd") {
    val p = plan("x7_hybrid_rrf")
    assert(p.contains("dot_product"), p) // cosine side is the native kernel
    assert(p.contains("TakeOrderedAndProject"), p) // both rankers top-k
    assert(!p.contains("CartesianProduct"), p)
  }

  test("a10: sketch build is one map-side-combined aggregate; the probe " +
    "is a broadcast join of the bounded sketch; exact top-k is " +
    "distributed, not a global sort") {
    val p = plan("a10_countmin")
    assert(p.contains("partial_count"), p) // sketch cells combine map-side
    assert(p.contains("BroadcastHashJoin"), p) // ≤ depth×width sketch rows
    assert(p.contains("TakeOrderedAndProject"), p) // top-20 true counts
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t25: DSIR ratio table broadcasts back over the feature stream — " +
    "no vocabulary-sized shuffle, no cartesian beyond the 1-row totals") {
    val p = plan("t25_dsir_selection")
    assert(p.contains("BroadcastHashJoin"), p) // bucket log-ratio join
    assert(p.contains("partial_count"), p) // bucket counts combine map-side
    assert(p.contains("TakeOrderedAndProject"), p) // top-25, no global sort
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e9: one union bloom bitmap broadcasts for ALL eval sets — the " +
    "train side is probed once, attribution is equi-join only") {
    val p = plan("e9_multi_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row union bitmap
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed shingle sides
  }

  test("t26: bigrams explode row-locally (no lag window); prob tables " +
    "aggregate with map-side partials; no cartesian beyond 1-row totals") {
    val p = plan("t26_bigram_lm")
    assert(!p.contains("Window"), p) // array transform, not lag()
    assert(p.contains("partial_count"), p) // bigram counts combine map-side
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s15: the z-value is codegen'd column math; the clustering " +
    "exchange is the deliberate range partition, nothing else sorts " +
    "globally") {
    val p = plan("s15_zorder")
    assert(!p.contains("BatchEvalPython"), p) // no UDF of any kind
    assert(p.contains("*(1) Project"), p) // interleave inlined in codegen
    assert(p.contains("partial_count"), p) // two-phase bucket aggregate
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j8: SCD2 windows shuffle on the key only; the split threshold " +
    "is a 1-row broadcast, never a collect") {
    val p = plan("j8_scd2")
    assert(p.contains("Window"), p) // lag/lead chains
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row percentile
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e10: the ingest funnel reads checkpointed stages and joins " +
    "without a cartesian (the bloom's 1-row broadcast ran upstream, " +
    "inside the checkpointed decontam stage — e7's spec locks its shape)") {
    val p = plan("e10_daily_ingest")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed stages
    assert(!p.contains("SortMergeJoin"), p) // 5-row funnel joins broadcast
  }

  test("j9: the salted join shuffles on (key, salt) — the hot key " +
    "spreads over 16 sub-keys, no broadcast, no cartesian") {
    val p = plan("j9_salted_join")
    assert(p.contains("__salt"), p) // salt is a partitioning key
    assert(!p.contains("BroadcastHashJoin"), p) // hint respected
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m4: dHash pair search is the segment-blocking equi-join, " +
    "never an all-pairs scan") {
    val p = plan("m4_image_phash_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p) // real equi-join
    assert(p.contains("Join"), p)
  }

  test("t27: intra-doc repetition removal is row-local — no join, no " +
    "window, no explode; the only shuffle feeds the per-lang aggregate") {
    val p = plan("t27_intradoc_dedup")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Generate"), p) // no explode — indexed HOF filter
    assert(p.contains("partial_count"), p)
  }

  test("a12: histogram bounds are a 1-row broadcast (no collect); bin " +
    "counts combine map-side; only the value column is read") {
    val p = plan("a12_histogram")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row min/max
    assert(p.contains("partial_count"), p) // per-bin counts combine map-side
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d14: prototype pruning broadcasts the k-row centroid table; the " +
    "rank window partitions by cluster, never globally") {
    val p = plan("d14_prototype_prune")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // k-row centroids
    assert(!p.contains("CartesianProduct"), p)
    // the prune's rank/count windows partition by cluster (the k-means
    // seed ranking's k-row global window is the only other Window here)
    assert(p.contains("windowspecdefinition(cluster#"), p)
  }

  test("x10: recall evaluation broadcasts the query sample and the " +
    "centroid table; the approx side joins clusters by equi-join") {
    val p = plan("x10_ann_recall")
    assert(p.contains("BroadcastHashJoin"), p) // cluster/candidate joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed cents/assign
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t28: TF-IDF pipeline has no count-DISTINCT expand; the sample " +
    "side broadcasts into the idf join; top-3 is a bounded window") {
    val p = plan("t28_tfidf_keywords")
    assert(!p.contains("Expand"), p) // df via two-level group-by, t18-style
    assert(p.contains("BroadcastHashJoin"), p) // sample tf into idf
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x11: the sweep reuses one checkpointed assignment/truth — no " +
    "per-point k-means, no SMJ, no cartesian") {
    val p = plan("x11_nprobe_sweep")
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed cents/assign
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("a13: quantile probes stay on the bounded histogram — the only " +
    "full-data work is the histogram scan and the exact-percentile " +
    "audit; no cartesian beyond the 1-row/bin-table broadcasts") {
    val p = plan("a13_histogram_quantiles")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row mm/tot
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d17: span winner is d9's map-combining aggregate shape — the " +
    "interval fold adds no window, no extra shuffle, no nested loop") {
    val p = plan("d17_span_dedup")
    assert(p.contains("partial_min"), p) // winner select combines map-side
    assert(!p.contains("Window"), p) // fold is a row-local HOF, not a window
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t32/st21 probe shape: postings scan bucket-prunes, corpus stats " +
    "broadcast as the 1-row build side, top-k bounded") {
    val p = plan("t32_bm25_persisted")
    assert(p.contains("SelectedBucketsCount"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row corpus stats
    assert(p.contains("TakeOrderedAndProject"), p)
    // the returned frame is the PROBE: the corpus file must not appear —
    // its content is answered entirely from the persisted index tables
    assert(!p.contains("documents.parquet"), p)
  }

  test("DV read plans: a version WITHOUT deletion vectors reads with " +
    "the plain scan (no join added), a DV'd version applies the named " +
    "in-scan position filter (no join, no exchange at bounded delete " +
    "volume), and data predicates still push into the scan under the DV") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val tbl = Files.createTempDirectory("dv_plan").toString
    Manifest.commit((0L until 100L).map(i => (i, i % 7))
      .toDF("id", "g").coalesce(2), tbl, statsCols = Seq("id"))
    val clean = Manifest.read(spark, tbl)
      .filter(col("id") < 50L)
    clean.collect()
    val p0 = clean.queryExecution.executedPlan.toString
    assert(!p0.contains("Join"), s"DV-less read must not add a join: $p0")
    assert(p0.contains("PushedFilters: [IsNotNull(id), LessThan(id,50)"), p0)
    Merge.deleteWhereDv(spark, tbl, col("id") === 3L)
    val dv = Manifest.read(spark, tbl).filter(col("id") < 50L)
    dv.collect()
    val p1 = dv.queryExecution.executedPlan.toString
    assert(p1.contains("graft_dv_live"),
      s"DV application must be the named in-scan filter: $p1")
    assert(!p1.contains("Join") && !p1.contains("Exchange"),
      s"a DV'd read must add no join and no exchange: $p1")
    assert(p1.contains("PushedFilters: [IsNotNull(id), LessThan(id,50)"),
      s"data predicate must still push under the DV: $p1")
  }

  test("x19: the erasure mask is a BROADCAST anti-join on the postings " +
    "scan (the forget-list is the broadcast side; the postings never " +
    "shuffle for the mask), applied BEFORE scoring — and the probe " +
    "side stays the broadcast x9 shape") {
    val p = plan("x19_erasure_masked_ann")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"the mask must be a broadcast anti-join: $p")
    // the postings side must not be exchanged to meet the mask: the
    // only sort-merge machinery allowed is none at all
    assert(!p.contains("SortMergeJoin"), p)
  }
}
