package graft

/** Benchmark main: times every declared query on SPARK_GRAFT_SF_DIR.
  *
  * Measurement: each query is executed through a `noop`-format write, which
  * fully materializes every result row through the complete physical plan
  * (final sorts and projections included) without paying sink I/O. Timing
  * `count()` instead would let Catalyst prune exactly the expensive tails.
  * Each query is timed twice (after the warmup pass) and the min reported —
  * random 2-7× single-slot spikes (GC, exchange-reuse misses) otherwise
  * corrupt whichever query they land on.
  *
  * Output: one JSON detail line (`{"queries": {...}, "failed": {...}}`)
  * followed by ONE compact summary JSON line LAST — the driver captures the
  * output tail, so the summary must be the final line and small.
  *
  * A warmup pass (parquet footer reads + a small job) runs before timing so
  * the first measured query doesn't pay JVM/session startup; queries run in
  * sorted name order for run-to-run comparability.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warmup
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // Warm EVERY query once at the smallest scale factor so the timed pass
    // measures steady-state data-path cost, not one-time Janino/JIT
    // compilation of each plan's generated code (several seconds for the
    // multi-stage dedup pipelines, and the single largest source of
    // run-to-run variance). At production scale compilation amortizes to
    // zero; a one-shot local bench would otherwise be dominated by it.
    // Disclosed in the summary line as "warmup_sf".
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    val warmed = new java.io.File(warmDir).isDirectory
    // Under SPARK_GRAFT_BENCH_ONLY the warmup is restricted to the SAME
    // query set: a solo A/B across jars with different registries must
    // not warm a different number of plans on each side — the divergent
    // heap/JIT state skews the timed minimums and reads as a phantom
    // regression (the r12 a8/a9 adjudication's finding).
    val warmOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    if (warmed) SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => warmOnly.forall(_.contains(n)) }
      .foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    // Machine-read output: format with Locale.ROOT (a comma-decimal default
    // locale would corrupt the JSON) and strip everything JSON-unsafe from
    // error text (quotes, backslashes, ALL control chars).
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v))
    // ADAPTIVE min-of-k timing: single-slot spikes (a GC pause, a failed
    // exchange-reuse re-running an LSH subtree) are 2-7x and strike at
    // random, so the min over samples is the steady-state estimator. Two
    // samples that AGREE (within 25%) are trusted and we stop; if they
    // disagree, a spike hit one of them and a third sample (up to
    // SPARK_GRAFT_BENCH_SAMPLES, default 3) breaks the tie — this is what
    // pins the checkpoint-heavy dedup family (d3 etc.), where one spiked
    // run per pass previously made the official number 2x the solo one.
    // The System.gc() between queries drains the ContextCleaner's queue of
    // dereferenced localCheckpoint/broadcast blocks from checkpoint-heavy
    // dedup queries before they can stretch a later slot's pause.
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts to named queries (solo A/B).
    val maxSamples = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt)
      .getOrElse(3).max(2) // < 2 would leave samples empty / untrusted
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var failed = Map.empty[String, String]
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val resultsFull = timed.zipWithIndex.map { case ((name, fn), pos) =>
      System.gc()
      var samples = List.empty[Double]
      var k = 0
      while (k < maxSamples && !failed.contains(name) &&
          (samples.size < 2 || {
            val best = samples.sorted.take(2)
            best(1) > best(0) * 1.25 // two fastest disagree: spike suspected
          })) {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            failed += name -> e.toString.replaceAll("[\"\\\\]|[\\x00-\\x1f]", " ")
              .take(120)
        }
        samples ::= (System.nanoTime() - t0) / 1e9
        k += 1
      }
      // samples in execution order; pos = the query's suite run index, so
      // suite-pressure adjudications can regress time on position without
      // re-running solos
      (name, samples.min, samples.reverse, pos)
    }
    val results = resultsFull.map { case (n, v, _, _) => n -> v }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // Per-sample raw times (execution order): makes every perf adjudication
    // self-contained — a reported min with all samples agreeing is steady
    // state; a min sitting far below its siblings documents the spike the
    // adaptive sampler absorbed. Shipped in the detail file only (the
    // summary line must stay small for the driver's tail capture).
    val ss = resultsFull.map { case (k, _, s, _) =>
      s"\"" + k + "\":[" + s.map(num).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val ps = resultsFull.map { case (k, _, _, p) => s"\"" + k + "\":" + p }
      .mkString("{", ",", "}")
    val fs = failed.toSeq.sorted.map { case (k, m) => s"\"$k\":\"$m\"" }
      .mkString("{", ",", "}")
    // Subtotals count SUCCESSFUL queries only: a query that burned 20 s and
    // then threw would otherwise skew the A/B comparison silently (its
    // partial time is still visible in the per-query detail line).
    val ok = results.filterNot { case (k, _) => failed.contains(k) }
    val total = ok.map(_._2).sum
    // The core subtotal is the EXPLICIT reference-parity set — the queries
    // mapped to SURVEY §2's operator inventory (S/P/J/A1-A7/W1-W5/U/F/R rows
    // plus the four reference pipeline lifecycles and the flagship). An
    // explicit list, not a prefix rule, so newly added extension queries
    // (a10+, j6+, s12+, w6+, c2, f19, …) can never drift into "core" and
    // round-over-round core_sec stays comparable on a fixed set.
    val coreSet = Set(
      "q1_agg",
      "s3_json_flatten", "s4_pruned_scan", "s5_roundtrip",
      "s6_upsert_ignore", "s7_partitioned_sink", "s8_csv_roundtrip",
      "s11_paged_union",
      "p1_project_rename", "p2_regex_filter", "p3_date_cutoff",
      "p4_nulldrop", "p5_inlist", "p6_notin", "p7_lookup", "p8_first_match",
      "j1_fullouter_upsert", "j2_anti_resume", "j3_semi_validate",
      "j4_broadcast_enrich", "j5_except_delta",
      "a1_mode", "a2_batch_index", "a3_collect_set_join", "a4_distinct",
      "a5_hash_dedup", "a6_ceil_paging", "a7_coercion_stats",
      "w1_sort_topn", "w2_rank_in_order", "w3_first_per_key",
      "w4_size_rank", "w5_collision_suffix",
      "u1_union_all", "u2_diagonal_union", "u4_intersect",
      "f1_normalize_ws", "f3_initcap", "f4_zeropad", "f5_slugify",
      "f6_sanitize", "f7f8_bcrp_dates", "f9_api_format",
      "f10_numeric_coercion", "f11_coalesce_pref", "f12_when_cascade",
      "f13_lit_tag", "f14_format_path", "f15_json_extract", "f16_sha256",
      "f18_extract_int",
      "r1_pivot", "r2_unpivot", "r3_mef_rollup", "r4_grouping_sets",
      "g1_staged_dag", "g2_composite_upsert", "c1_cache_lifecycle")
    val core = ok.collect { case (k, v) if coreSet.contains(k) => v }.sum
    // The FULL detail (queries + per-sample raw times + suite positions)
    // goes to a FILE the round artifacts keep. The stdout detail line is
    // SLIM — queries + failed only, no samples/pos — and printed
    // immediately before the summary: the driver's tail capture was
    // truncating the old ~15 KB full-detail line (PERF per_query and the
    // scaling table came back empty two rounds running), and the per-query
    // map is the part the driver actually consumes. Measurement itself is
    // unchanged — same queries, same noop sink, same min-of-adaptive-
    // samples; only the stdout formatting moved.
    val detail = s"""{"queries":$qs,"samples":$ss,"pos":$ps,"failed":$fs,"sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_detail.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // best-effort; stdout line remains
    println(s"""{"queries":$qs,"failed":$fs,"sf":"$sfDir"}""")
    // Compact summary LAST: the driver's tail capture must always see it.
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","core_sec":${num(core)},"extensions_sec":${num(total - core)},"n_queries":${results.size},"n_failed":${failed.size},"warmup_sf":"${if (warmed) warmDir else "none"}","sf":"$sfDir"}""")
    spark.stop()
  }
}
