package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Relational
import graft.streaming.Streams
import QueryDSL._

/** Streaming queries (tumbling window, sessionization — SURVEY §2.9
  * extension) and pipeline-shaped composites: the MEF drill-down re-expressed
  * as ROLLUP (SURVEY §3.3) and the infogob staged-DAG idiom (SURVEY §3,
  * fourth lifecycle: anti-join pending → enrich → append).
  */
object StreamPipelineQueries {

  val defs: Map[String, Q] = Map(

    // st1: a REAL Structured Streaming query (parquet file source → tumbling
    // 1-hour window counts → complete-mode memory sink), drained
    // synchronously. The oracle is the batch equivalent: streaming
    // complete-mode output must equal the batch aggregate over the same data.
    "st1_stream_window" -> Q(
      (s, dir) => Streams
        .runTumblingToMemory(s, dir, name = s"graft_st1_${dirTag(dir)}")
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
            AS window_start, event_type, count(*) AS cnt
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // st2: sessionization (30-min gap) — batch twin of the stateful
    // streaming version (StreamingSpec asserts streaming == batch).
    // Exact integer arithmetic on nano timestamps.
    "st2_sessionize" -> Q(
      (s, dir) => Streams.sessionizeBatch(events(s, dir))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, CAST(sum(brk) AS BIGINT) AS sessions,
            count(*) AS events
          FROM (
            SELECT user_id,
              CASE WHEN lag(tns) OVER w IS NULL
                     OR tns - lag(tns) OVER w > 1800000000000
                   THEN 1 ELSE 0 END AS brk
            FROM (SELECT user_id, epoch_ns(ts) AS tns, event_id FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id))
          GROUP BY user_id ORDER BY user_id""")),

    // st3: streaming exact dedup — a REAL streaming dropDuplicates over the
    // document fingerprints (append-mode memory sink), counted per language
    // after the drain. Keying the dedup by (lang, fp) makes the count
    // independent of which duplicate the stream saw first; the oracle is
    // the batch distinct.
    "st3_stream_dedup" -> Q(
      (s, dir) => Streams
        .dedupStreaming(s, dir, name = s"graft_st3_${dirTag(dir)}")
        .groupBy(col("lang")).agg(count(lit(1)).as("uniq_docs"))
        .orderBy(col("lang")),
      Some("""SELECT lang, count(*) AS uniq_docs FROM (
            SELECT DISTINCT lang,
              sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents)
          GROUP BY lang ORDER BY lang""")),

    // st5: stream-static broadcast enrichment — the event stream joins the
    // bounded customer dimension map-side (no stream shuffle before the
    // aggregate's partial phase), then aggregates per segment with exact
    // DECIMAL value sums. Oracle = the batch join+aggregate over the same
    // data, the complete-mode drain invariant.
    "st5_stream_enrich" -> Q(
      (s, dir) => Streams
        .enrichBySegmentStreaming(s, dir, name = s"graft_st5_${dirTag(dir)}")
        .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment, count(*) AS events,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
          FROM events JOIN customer ON user_id = c_custkey
          GROUP BY 1 ORDER BY 1""")),

    // st7: stream-stream inner join with event-time range bounds — both
    // sides are watermarked streams, so Spark keeps (and evicts) a state
    // store per side; the time-range predicate is what bounds the state.
    // Oracle = the batch self-join over the same data (append-mode drain
    // invariant); timestamps compare at microseconds on both engines.
    "st7_stream_stream_join" -> Q(
      (s, dir) => Streams
        .clickPurchaseJoinStreaming(s, dir,
          name = s"graft_st7_${dirTag(dir)}")
        .groupBy(col("user_id")).agg(count(lit(1)).as("pairs"))
        .orderBy(col("user_id")),
      Some("""SELECT c.user_id, count(*) AS pairs
          FROM events c JOIN events p ON p.user_id = c.user_id
          WHERE c.event_type = 'click' AND p.event_type = 'purchase'
            AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
            AND CAST(p.ts AS TIMESTAMP) <=
              CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
          GROUP BY 1 ORDER BY 1""")),

    // st8: streaming near-dup candidate detection — the d2 MinHash-LSH
    // banding over a document STREAM: row-local signatures (stateless),
    // banding explode, stream-stream self-join on (band, key). The md5
    // hash family is the shared oracle hash, so DuckDB replays the exact
    // candidate set the stream emitted (duplicates across bands collapse
    // in the batch distinct after the drain, mirroring cand's DISTINCT).
    "st8_stream_lsh_candidates" -> Q(
      (s, dir) => Streams
        .lshCandidatesStreaming(s, dir,
          name = s"graft_st8_${dirTag(dir)}")
        .distinct()
        .orderBy(col("a"), col("b")),
      Some(DedupQueries.sqlMinhashCandidates)),

    // st9: the BOUNDED-STATE production form of st8 — both banded sides
    // watermarked, the band self-join carries an event-time horizon
    // (30 min at one doc per 600 s ⟺ |a−b| ≤ 3), so join state EVICTS
    // behind the watermark instead of holding every band key ever seen
    // (the st8 doc comment's named failure mode at unbounded ingest).
    // The oracle replays banding + the horizon restriction; the
    // multi-batch eviction behavior itself is asserted by StreamingSpec
    // on a chunked source.
    "st9_stream_lsh_windowed" -> Q(
      (s, dir) => Streams
        .lshCandidatesStreamingWindowed(s, dir,
          name = s"graft_st9_${dirTag(dir)}")
        .distinct()
        .orderBy(col("a"), col("b")),
      Some(DedupQueries.sqlMinhashCandidatesWithin(3))),

    // st10: STREAMING PROBE of the persisted dedup index — the
    // continuous-ingest form of d12: index the 80% corpus once (batch
    // build, bucketed tables), then the 20% "new docs" arrive as a STREAM,
    // band row-locally, and stream-static join the index's band table per
    // micro-batch. ZERO streaming state (no watermark, no join state —
    // StreamingSpec asserts numRowsTotal == 0), which is the whole point:
    // the index bounds the lookup, so continuous dedup triage needs no
    // state ageing at all. Output = distinct (corpus, new) candidate
    // pairs; the oracle replays corpus-capped × stream-uncapped banding.
    "st10_stream_index_probe" -> Q(
      (s, dir) => {
        import graft.functions.hashing
        import graft.ops.DedupIndex
        val coin = hashing.h64(col("doc_id").cast("string")) % 10000
        val prefix = s"graft_st10_${dirTag(dir)}"
        DedupIndex.buildIndex(s, T(s, dir, "documents").filter(coin < 8000),
          "doc_id", "text", k = 3,
          maxBucketSize = DedupQueries.ProductionBucketCap,
          path = scratch("st10_index", dir), prefix = prefix)
        Streams.indexProbeStreaming(s, dir, prefix, where = coin >= 8000,
            name = s"${prefix}_sink")
          .distinct()
          .orderBy(col("a"), col("b"))
      },
      Some(
        s"""WITH ${DedupQueries.sqlLshSide("c",
          s"${DedupQueries.sqlCoin} < 8000")},
           ${DedupQueries.sqlLshSide("b",
          s"${DedupQueries.sqlCoin} >= 8000")}
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM cbandsc x JOIN bbands y
             ON x.band = y.band AND x.key = y.key
           ORDER BY a, b""")),

    // st11: TRUE streaming incremental dedup — the full index lifecycle
    // as one continuous query: each micro-batch probes the persisted
    // index (cross + within pairs, exact-Jaccard verified) then folds
    // itself in, so every near-dup pair surfaces exactly once, when its
    // later doc arrives. Over a bounded drain that is the ONE-SHOT batch
    // detector's pair set — the oracle is d2's SQL with the production
    // cap, which is as strong as a streaming oracle gets. foreachBatch
    // holds no stream state; the index tables ARE the state
    // (restart-safe by construction).
    "st11_stream_incremental_dedup" -> Q(
      (s, dir) => {
        val prefix = s"graft_st11_${dirTag(dir)}"
        val idxPath = scratch("st11_index", dir)
        val outRoot = scratch("st11_out", dir)
        wipe(s"$outRoot/pairs"); wipe(s"$outRoot/pairs-ckpt")
        Streams.incrementalDedupStreaming(s, dir, idxPath,
            s"$outRoot/pairs", prefix, k = 3, threshold = 0.9,
            maxBucketSize = DedupQueries.ProductionBucketCap,
            name = s"${prefix}_sink")
          .orderBy(col("a"), col("b"))
      },
      Some(DedupQueries.sqlMinhashLshFrom("documents",
        DedupQueries.ProductionBucketCap))),

    // st12: STREAMING ANN — query vectors arrive as a stream and probe
    // the persisted IVF index (x9's saved centroid + bucketed-assignment
    // tables) micro-batch by micro-batch, zero streaming state. Per-query
    // top-k is independent and each query vector arrives exactly once, so
    // the drained output ≡ the one-shot batch probe — st12, x9, and x3
    // share ONE oracle SQL (the strongest streaming oracle available,
    // same pattern as st11 ≡ d2).
    "st12_stream_ann_probe" -> Q(
      (s, dir) => {
        import graft.ops.Similarity
        val prefix = s"graft_st12_${dirTag(dir)}"
        Similarity.buildIvfIndex(s, T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 12, iters = 2,
          path = scratch("st12_ivf", dir), prefix = prefix)
        val out = scratch("st12_out", dir)
        wipe(s"$out/res"); wipe(s"$out/res-ckpt")
        Streams.ivfProbeStreaming(s, dir, prefix, s"$out/res",
            where = col("vec_id") < 10, nProbe = 2, k = 3,
            name = s"${prefix}_sink")
          .orderBy(col("qid"), col("rank"))
      },
      Some(DedupQueries.sqlIvfAnn)),

    // st13: STREAMING count-min maintenance — each micro-batch appends
    // its partial sketch (bounded: ≤ 4×1024 rows per batch) and the
    // final re-aggregation equals the one-shot batch sketch by
    // associativity (SketchesSpec's slice-merge property), so st13
    // shares a10's oracle verbatim. Zero streaming state; the parquet
    // partials are the restart-safe state. The probe (top-20 true
    // tokens) is a10's batch side, unchanged.
    "st13_stream_sketch" -> Q(
      (s, dir) => {
        import graft.functions.textstats
        import graft.ops.Sketches
        val out = scratch("st13_out", dir)
        wipe(s"$out/sk"); wipe(s"$out/sk-ckpt")
        val sketch = Streams.sketchStreaming(s, dir, s"$out/sk",
          depth = 4, width = 1024,
          name = s"graft_st13_${dirTag(dir)}_sink")
        val toks = T(s, dir, "documents")
          .select(explode(textstats.tokens(col("text"))).as("token"))
        val top = toks.groupBy(col("token"))
          .agg(count(lit(1)).as("true_cnt"))
          .orderBy(col("true_cnt").desc, col("token")).limit(20)
        Sketches.countMinEstimate(sketch, top, "token", depth = 4,
            width = 1024)
          .select(col("token"), col("true_cnt"), col("cms_est"))
          .orderBy(col("true_cnt").desc, col("token"))
      },
      Some(WindowAggQueries.sqlCountMinTop20)),

    // st17: STREAMING data-quality expectations — a11's publish gate in
    // continuous form (the monitoring shape: validate the feed as it
    // lands, not after): each micro-batch appends ONE condPartials
    // counter row plus its batch-distinct (orderkey, linenumber) key
    // tuples; validateFromPartials re-aggregates to EXACTLY the one-shot
    // validate over everything that streamed (counts sum,
    // distinct-of-batch-distincts = distinct of the union), so st17
    // shares a11's oracle verbatim. Zero streaming state; the parquet
    // partials are the restart-safe state.
    "st17_stream_expectations" -> Q(
      (s, dir) => {
        import graft.ops.Expectations.CondCheck
        import org.apache.spark.sql.types._
        val out = scratch("st17_out", dir)
        wipe(s"$out/exp"); wipe(s"$out/exp-ckpt")
        Streams.expectationsStreaming(s, dir, s"$out/exp",
            StructType(Seq(
              StructField("l_orderkey", LongType),
              StructField("l_linenumber", IntegerType),
              StructField("l_quantity", DoubleType),
              StructField("l_returnflag", StringType))),
            Seq(
              CondCheck("orderkey_complete",
                col("l_orderkey").isNotNull, 1.0),
              CondCheck("quantity_range", col("l_quantity").isNotNull &&
                col("l_quantity") >= 1 && col("l_quantity") <= 50, 1.0),
              CondCheck("returnflag_domain",
                col("l_returnflag").isInCollection(Seq("A", "N", "R")),
                1.0),
              CondCheck("quantity_under_10", col("l_quantity").isNotNull &&
                col("l_quantity") >= 1 && col("l_quantity") <= 10, 1.0)),
            uniqueName = "line_pk_unique",
            keyCols = Seq("l_orderkey", "l_linenumber"),
            name = s"graft_st17_${dirTag(dir)}")
          .withColumnRenamed("check", "check_name")
          .orderBy(col("check_name"))
      },
      Some(WindowAggQueries.sqlDataQuality)),

    // st20: STREAMING corpus-drift counts — t31's divergence monitor in
    // continuous form (the deployment shape: the drift alert should fire
    // AS data lands, not in a nightly batch): per micro-batch one
    // map-side-combined (lang, side, token) count partial appends
    // (vocabulary-bounded, not token-bounded), re-aggregation equals the
    // one-shot counts by sum associativity, and the shared JS tail is a
    // pure function of the counts — so st20 shares t31's oracle
    // verbatim. Zero streaming state.
    "st20_stream_drift" -> Q(
      (s, dir) => {
        val out = scratch("st20_out", dir)
        wipe(s"$out/cnt"); wipe(s"$out/cnt-ckpt")
        val cnt = Streams.driftCountsStreaming(s, dir, s"$out/cnt",
          name = s"graft_st20_${dirTag(dir)}")
        TextQueries.jsDivergenceTail(cnt).orderBy(col("lang"))
      },
      Some(TextQueries.sqlTokenDrift)),

    // st19: STREAMING ingest with PERIODIC AUTO-COMPACTION — the
    // lakehouse maintenance loop in continuous form: streaming ingest
    // is what CREATES the small-files problem (one file set per
    // commit), so every real table service compacts on a cadence. The
    // corpus streams in as 4 mtime-ordered chunks (one micro-batch
    // each); every 2nd append triggers a REPLACE commit compacting the
    // whole table to 2 files. Compaction is content-neutral (s16's
    // obligation), so the final read hash-matches the plain source
    // aggregate whatever the cadence; StreamingSpec asserts the version
    // history (4 appends + 2 compactions), the shrunken file set, and
    // pre-compaction readability.
    "st19_stream_commit_compact" -> Q(
      (s, dir) => {
        val out = scratch("st19", dir)
        wipe(out)
        val srcDir = new java.io.File(s"$out/src")
        srcDir.mkdirs()
        val docs = T(s, dir, "documents")
        for (i <- 0 until 4) {
          val tmp = s"$out/chunk$i"
          docs.filter(pmod(col("doc_id"), lit(4)) === lit(i)).coalesce(1)
            .write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(srcDir, s"documents_$i.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          dst.setLastModified(1700000000000L + i * 60000L)
        }
        Streams.compactingCommitStreaming(s, srcDir.getPath,
            s"$out/tbl", every = 2, targetFiles = 2,
            glob = "documents_*.parquet", maxFilesPerTrigger = 1,
            name = s"graft_st19_${dirTag(dir)}")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("docs"),
            sum(col("n_chars")).as("chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS docs,
            CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY lang ORDER BY lang""")),

    // st18: STREAMING trailing-7-day active users — w11's curve in
    // continuous form: per micro-batch the batch-distinct (user, day)
    // marks append (the compact state a production WAU job maintains —
    // grows with user-days, not events), and the re-aggregation equals
    // the one-shot w11 because the marks pipeline is distinct-idempotent
    // — so st18 shares w11's oracle verbatim. Zero streaming state.
    "st18_stream_wau" -> Q(
      (s, dir) => {
        val out = scratch("st18_out", dir)
        wipe(s"$out/marks"); wipe(s"$out/marks-ckpt")
        Streams.wauStreaming(s, dir, s"$out/marks",
            name = s"graft_st18_${dirTag(dir)}")
          .orderBy(col("day"))
      },
      Some(WindowAggQueries.sqlWau)),

    // st16: STREAMING histogram maintenance — a12's sketch in continuous
    // form, completing the every-sketch-gets-a-streaming-twin symmetry
    // (a10 ↔ st13): bounds are PINNED (production reads them from table
    // metadata — a data-derived bound can't exist before the data has
    // streamed), each micro-batch appends its ≤ 16-row partial, and the
    // re-aggregation equals the one-shot pinned-bounds histogram by the
    // count/DECIMAL-mass associativity SketchesSpec locks. Zero streaming
    // state; the parquet partials are the restart-safe state.
    "st16_stream_histogram" -> Q(
      (s, dir) => {
        val out = scratch("st16_out", dir)
        wipe(s"$out/h"); wipe(s"$out/h-ckpt")
        Streams.histogramStreaming(s, dir, s"$out/h", "l_extendedprice",
            bins = 16, lo = 900.0, hi = 110000.0,
            name = s"graft_st16_${dirTag(dir)}_sink")
          .orderBy(col("bin"))
      },
      Some("""WITH b AS (SELECT
            CAST(least(15, greatest(0,
              floor((CAST(l_extendedprice AS DOUBLE) - 900.0) * 16.0
                / (110000.0 - 900.0)))) AS BIGINT) AS bin,
            CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem)
          SELECT bin,
            round(900.0 + bin * ((110000.0 - 900.0) / 16.0), 4) AS lo_edge,
            round(900.0 + (bin + 1) * ((110000.0 - 900.0) / 16.0), 4)
              AS hi_edge,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS mass
          FROM b GROUP BY bin ORDER BY bin""")),

    // st31: STREAMING EWMA control chart — w13's anomaly monitor in
    // continuous form (the shape a production volume monitor actually
    // runs): each micro-batch appends its bounded (type, day) count
    // partials, the re-aggregation is the exact one-shot daily frame
    // (integer associativity), and the shared sequential fold
    // (WindowAggQueries.ewmaAnomalyFold — ONE definition, batch and
    // stream cannot drift) flags days whose volume breaks the
    // pre-update EWMA baseline. Zero streaming state; partials are the
    // restart-safe state; w13's recursive-CTE oracle verbatim.
    "st31_stream_ewma" -> Q(
      (s, dir) => {
        val out = scratch("st31_out", dir)
        wipe(s"$out/d"); wipe(s"$out/d-ckpt")
        WindowAggQueries.ewmaAnomalyFold(
          Streams.dailyCountsStreaming(s, dir, s"$out/d",
            name = s"graft_st31_${dirTag(dir)}_sink"))
      },
      Some(WindowAggQueries.sqlEwma)),

    // st32: STREAMING GDPR ERASURE — deletion vectors (s33) driven by a
    // request stream: the table pre-exists (four user_id-range commits
    // with stats, the 100 TB "table you must erase from" shape), the
    // stream carries tombstone requests (error events from users with
    // user_id % 10 = 3 — the planted request topic, deterministic at
    // every SF), and each micro-batch hides its
    // requested users' rows behind a DV via Merge.deleteKeysDv — a
    // metadata + position-sidecar commit, ZERO data files rewritten
    // across the whole drain (zero_rewrites is the earned flag: the
    // file list is byte-identical to the seed's). Exactly-once WITHOUT
    // a txn stamp: a replayed batch's keys are already hidden, match
    // nothing, publish nothing (StreamingSpec replays a batch and
    // asserts no new version) — idempotence from the MoR read itself.
    // Erasure is against current state, so the result is chunk-order
    // independent and the oracle replays it as one set subtraction;
    // rows_erased cross-checks the DV position totals against the
    // oracle's count of the erased users' rows.
    "st32_stream_erasure" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("st32_table", dir)
        wipe(tbl); wipe(s"$tbl-ckpt")
        val ev = events(s, dir).select(col("user_id"),
          col("event_type"), col("value"))
        val maxu = ev.agg(max(col("user_id"))).head().getLong(0)
        val q = maxu / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            ev.filter(col("user_id") >= i * q &&
              col("user_id") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("user_id"))
        val seedFiles = Manifest.at(tbl).files
        val erased = Streams.erasureStreaming(s, dir, tbl,
          name = s"graft_st32_${dirTag(dir)}")
        val zeroRewrites = Manifest.at(tbl).files == seedFiles
        val dvTotal = Manifest.at(tbl).dv.values.map(_._2).sum
        erased.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("value"))).cast("double").as("sum_value"))
          .select(col("event_type"), col("cnt"), col("sum_value"),
            lit(dvTotal).as("rows_erased"),
            lit(zeroRewrites).as("zero_rewrites"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH erased AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'error' AND user_id % 10 = 3),
           n AS (SELECT CAST(count(*) AS BIGINT) AS rows_erased
             FROM events WHERE user_id IN (SELECT user_id FROM erased))
           SELECT event_type, count(*) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_value,
             (SELECT rows_erased FROM n) AS rows_erased,
             TRUE AS zero_rewrites
           FROM events
           WHERE user_id NOT IN (SELECT user_id FROM erased)
           GROUP BY event_type ORDER BY event_type""")),

    // st33: TOMBSTONE-GATED INGEST — closes the loop st32 leaves open
    // (st32 erases CURRENT state; a post-erasure batch carrying an
    // erased user's rows would re-admit them): the request set
    // PERSISTS as a Manifest tombstone table (the compliance
    // forget-list), every batch gates against the full accumulated set
    // (rows of forgotten users drop at the door — broadcast anti-join
    // sized from the tombstone table's METADATA row count, zero I/O),
    // and each batch's NEW tombstones DV-erase the users' previously
    // admitted rows. Final state is chunk-order independent (main =
    // events of never-forgotten users — the oracle's one set
    // subtraction); WHERE a suppressed row was stopped (gated vs DV'd)
    // is arrival-order dependent, so only the union is contractual and
    // StreamingSpec pins both routes with ordered chunks.
    // rows_suppressed cross-checks total − admitted-logical against
    // the oracle's erased-row count; no_erased_in_main is the
    // compliance statement itself; append_only_plus_dv pins that no
    // data file was ever rewritten (history: appends + deletes only).
    "st33_tombstone_gated_ingest" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val work = scratch("st33", dir)
        wipe(work)
        val main = s"$work/main"
        val tombs = s"$work/tombs"
        val res = Streams.tombstoneIngestStreaming(s, dir, main, tombs,
          name = s"graft_st33_${dirTag(dir)}")
        val tombKeys = Manifest.read(s, tombs)
          .select(col("user_id")).distinct()
        val nTomb = tombKeys.count()
        val suppressed = events(s, dir).count() - res.count()
        val noErased = res.join(tombKeys, Seq("user_id"), "left_semi")
          .isEmpty
        val appendPlusDv = Manifest.history(s, main)
          .map(_.change_type).toSet.subsetOf(Set("append", "delete"))
        res.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("value"))).cast("double").as("sum_value"))
          .select(col("event_type"), col("cnt"), col("sum_value"),
            lit(nTomb).as("n_tombstones"),
            lit(suppressed).as("rows_suppressed"),
            lit(noErased).as("no_erased_in_main"),
            lit(appendPlusDv).as("append_only_plus_dv"))
          .orderBy(col("event_type"))
      },
      Some(
        """WITH erased AS (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'error' AND user_id % 10 = 3),
           agg AS (SELECT event_type, count(*) AS cnt,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_value
             FROM events
             WHERE user_id NOT IN (SELECT user_id FROM erased)
             GROUP BY event_type)
           SELECT event_type, cnt, sum_value,
             (SELECT CAST(count(*) AS BIGINT) FROM erased)
               AS n_tombstones,
             (SELECT CAST(count(*) AS BIGINT) FROM events
               WHERE user_id IN (SELECT user_id FROM erased))
               AS rows_suppressed,
             TRUE AS no_erased_in_main, TRUE AS append_only_plus_dv
           FROM agg ORDER BY event_type""")),

    // st34: TABLE-AS-STREAM-SOURCE — a Manifest table's commit log IS
    // the streaming source (graft.sources.TableStreamProvider, the
    // Delta streaming-source shape): offsets are table versions, batch
    // 1 is the snapshot at stream start, every later batch is exactly
    // the rows the new versions appended, and the per-trigger discovery
    // cost is ONE manifest-head read — never a table listing or scan.
    // Here the upstream table grows by three deterministic document
    // chunks (doc_id mod 3) and the tail replicates it into a second
    // Manifest table exactly-once (commitOnce per micro-batch; replay
    // publishes nothing — the source side of the contract is that an
    // offset range re-reads the same immutable manifests).
    // versions_tailed pins that the upstream really was three separate
    // commits (not one batch write); in_sync is the replication
    // statement itself (downstream ≡ upstream as a multiset).
    // TableStreamSpec covers what the oracle can't: checkpoint-restart
    // exactly-once, the loud non-append refusal, skipChangeCommits, and
    // the DV-applied initial snapshot.
    // st37: BOUNDED CATCH-UP on the commit-log tail — the admission-
    // control half of the streaming-source contract (the Delta
    // maxFilesPerTrigger option): a 5-version backlog ALL predating the
    // stream (startingVersion=0, so nothing collapses into a snapshot
    // batch) drains under maxFilesPerTrigger=1 as five bounded batches,
    // each committed downstream exactly-once — so the downstream
    // version count IS the earned proof the backlog arrived bounded
    // (one unbounded batch would publish a single version). At scale
    // this is the recovery cliff removed: a tail restarted N versions
    // behind catches up in O(backlog/cap) right-sized batches instead
    // of one OOM-sized one. Content oracle: the replica equals the
    // source (exactly-once through the capped drain); TableStreamSpec
    // covers the offset-clamp mechanics and mid-catchup restart.
    // st38: STREAMING QUARANTINED INGEST — the WAP pattern at stream
    // scale, onto a writable BRANCH (s42's shape driven by a stream):
    // micro-batches tail the upstream commit log and land as
    // exactly-once BRANCH commits (batchId-stamped branch txns) on the
    // target — the MAIN chain never moves and no reader sees a
    // streamed row while the stream runs (isolated flag, checked
    // post-drain); the audit then reads the WHOLE quarantined view as
    // one unit, and the promote decision is a single metadata-only
    // fastForward (published_once: one new main version for three
    // streamed batches; zero parquet writes across the publish). The
    // final corpus content is the oracle-replayed side.
    "st38_stream_branch_ingest" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val work = scratch("st38", dir)
        wipe(work)
        val up = s"$work/up"
        val tbl = s"$work/t"
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val chunk = (i: Int) =>
          docs.filter(pmod(col("doc_id"), lit(4)) === i).coalesce(1)
        Manifest.commit(chunk(3), tbl) // the published base corpus
        Manifest.branch(tbl, "ingest")
        Manifest.commit(chunk(0), up)  // upstream feed, chunk by chunk
        Streams.branchIngestStreaming(s, up, tbl, "ingest",
          laterChunks = Seq(chunk(1), chunk(2)),
          checkpoint = s"$work/ckpt",
          name = s"graft_st38_${dirTag(dir)}")
        // isolation held through the whole drain: main is still the
        // base corpus, the branch quarantines everything streamed
        val isolated = Manifest.version(tbl) == 1L &&
          Manifest.read(s, tbl).count() == chunk(3).count()
        // the audit reads the quarantined view as ONE unit
        val audited =
          Manifest.readBranch(s, tbl, "ingest").count() == docs.count()
        def dataFiles(): Long = {
          val st = java.nio.file.Files.walk(
            java.nio.file.Paths.get(tbl, "data"))
          try st.filter(_.toString.endsWith(".parquet")).count
          finally st.close()
        }
        val before = dataFiles()
        val v = Manifest.fastForward(s, tbl, "ingest")
        val publishedOnce = v == 2L && dataFiles() == before
        Manifest.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(isolated).as("isolated"),
            lit(audited).as("audited"),
            lit(publishedOnce).as("published_once"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            TRUE AS isolated, TRUE AS audited, TRUE AS published_once
          FROM documents GROUP BY lang ORDER BY lang""")),

    "st37_bounded_catchup" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val work = scratch("st37", dir)
        wipe(work)
        val up = s"$work/up"
        val down = s"$work/down"
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        (0 to 4).foreach(i => Manifest.commit(
          docs.filter(pmod(col("doc_id"), lit(5)) === i).coalesce(1), up))
        val res = Streams.tableTailCatchupStreaming(s, up, down,
          checkpoint = s"$work/ckpt", maxFilesPerTrigger = 1,
          name = s"graft_st37_${dirTag(dir)}")
        val inSync = res.exceptAll(Manifest.read(s, up)).isEmpty &&
          Manifest.read(s, up).exceptAll(res).isEmpty
        res.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(Manifest.version(down)).as("bounded_batches"),
            lit(inSync).as("in_sync"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            CAST(5 AS BIGINT) AS bounded_batches, TRUE AS in_sync
          FROM documents GROUP BY lang ORDER BY lang""")),

    "st34_table_tail" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val work = scratch("st34", dir)
        wipe(work)
        val up = s"$work/up"
        val down = s"$work/down"
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val chunk = (i: Int) =>
          docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
        Manifest.commit(chunk(0), up)
        val res = Streams.tableTailStreaming(s, up, down,
          Seq(chunk(1), chunk(2)), checkpoint = s"$work/ckpt",
          name = s"graft_st34_${dirTag(dir)}")
        val inSync = res.exceptAll(Manifest.read(s, up)).isEmpty &&
          Manifest.read(s, up).exceptAll(res).isEmpty
        res.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(Manifest.version(up)).as("versions_tailed"),
            lit(inSync).as("in_sync"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            CAST(3 AS BIGINT) AS versions_tailed, TRUE AS in_sync
          FROM documents GROUP BY lang ORDER BY lang""")),

    // st35: CDC TAIL (streaming change-data-capture replication) — the
    // mode that serves what st34's plain tail refuses: the same
    // commit-log source with readChangeFeed=true streams CHANGE IMAGES
    // (snapshot-as-inserts, then per-version inserts, DV-delta deletes,
    // update images — the Delta CDF streaming shape with the
    // _commit_version/_change_type column convention), and the replica
    // applier folds each batch by latest-change-per-key: deletes apply
    // merge-on-read (idempotent — a replayed batch's keys are already
    // hidden), upserts through the txn-stamped COW merge (a replayed
    // batch merges nothing), so either-half-then-crash CONVERGES
    // without a cross-table transaction. The upstream exercises the
    // full write surface mid-stream — an append, then a DV delete AND
    // a MoR update landing in ONE drain (a multi-version batch whose
    // per-key reduction must order delete vs update images correctly) —
    // and in_sync states the result: replica ≡ upstream head as a
    // multiset, THROUGH the deletes and updates. Oracle replays the
    // lifecycle as one expression (delete = WHERE doc_id%5<>0, update =
    // CASE doc_id%7=0 → n_chars+1000 on survivors).
    "st35_stream_cdc_tail" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        val work = scratch("st35", dir)
        wipe(work)
        val up = s"$work/up"
        val rep = s"$work/rep"
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Manifest.commit(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1),
          up, statsCols = Seq("doc_id"))
        val res = Streams.cdcTailStreaming(s, up, rep, "doc_id",
          actions = Seq(
            () => { Manifest.commit(
              docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1),
              up, statsCols = Seq("doc_id")); () },
            () => {
              Merge.deleteWhereDv(s, up,
                pmod(col("doc_id"), lit(5)) === 0)
              Merge.updateWhereDv(s, up,
                pmod(col("doc_id"), lit(7)) === 0,
                sets = Seq("n_chars" -> (col("n_chars") + 1000L)))
              ()
            }),
          checkpoint = s"$work/ckpt", name = s"graft_st35_${dirTag(dir)}")
        val head = Manifest.read(s, up)
        val inSync = res.exceptAll(head).isEmpty &&
          head.exceptAll(res).isEmpty
        res.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(Manifest.version(up)).as("versions_tailed"),
            lit(inSync).as("in_sync"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
            CAST(sum(CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
              ELSE n_chars END) AS BIGINT) AS sum_chars,
            CAST(4 AS BIGINT) AS versions_tailed, TRUE AS in_sync
          FROM documents WHERE doc_id % 5 <> 0
          GROUP BY lang ORDER BY lang""")),

    // st15: STREAMING SCD2 ingest — the warehouse fold-in as a
    // continuous query: each micro-batch merges into the persisted
    // type-2 dimension (Scd.applyChanges; versioned parquet snapshots,
    // zero streaming state — the dimension IS the state). Over a
    // bounded drain the final dimension is EXACTLY the one-shot build
    // over everything that streamed (ScdSpec's split identity iterated
    // per micro-batch), so st15 shares j8's one-shot oracle verbatim —
    // the same every-incremental-path-gets-a-streaming-twin pattern as
    // st11 (dedup), st13 (sketch), and st14 (vectors).
    "st15_stream_scd2" -> Q(
      (s, dir) => {
        val work = scratch("st15_scd", dir)
        wipe(work)
        Streams.scdIngestStreaming(s, dir, work, "user_id", "value",
            where = col("user_id") < 40,
            name = s"graft_st15_${dirTag(dir)}")
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some(CoreQueries.sqlScdOneShot)),

    // st22: STREAMING approximate distinct — a9's HLL pattern made
    // SHARDABLE and continuous: per micro-batch ONE Datasketches HLL
    // sketch row per event type appends to a parquet partial table
    // (zero streaming state), the final count is one union+estimate
    // pass (register-wise max merge — the associativity that counts
    // distincts across 1000 executors with no global shuffle of the
    // values). Oracled exactly like a9: the exact side replays in
    // DuckDB and within_bound claims the sketch landed inside 5% —
    // earned from the real merged estimate, red if the merge ever
    // loses mass. StreamingSpec additionally asserts the merged
    // estimate EQUALS the one-shot sketch's, not just within bound.
    "st22_stream_approx_distinct" -> Q(
      (s, dir) => {
        val out = scratch("st22_out", dir)
        wipe(s"$out/sk"); wipe(s"$out/ckpt")
        val approx = Streams.approxDistinctStreaming(s, dir,
          s"$out/sk", s"$out/ckpt",
          name = s"graft_st22_${dirTag(dir)}")
        events(s, dir).groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"),
            count(lit(1)).as("cnt"))
          .join(approx, Seq("event_type"))
          .select(col("event_type"), col("exact_users"), col("cnt"),
            (abs(col("approx_users") - col("exact_users")) <=
              col("exact_users") * lit(0.05)).as("within_bound"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
          count(DISTINCT user_id) AS exact_users,
          count(*) AS cnt,
          TRUE AS within_bound
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // st23: STREAMING quantile sketch — a16's mergeable-quantile
    // contract in continuous form, completing the sketch-streaming
    // family (st13 count-min, st16 histogram, st22 HLL): per
    // micro-batch ONE k=200 KLL partial appends (zero streaming state),
    // the answer is one kll_merge pass. KLL compaction is randomized so
    // the merged sketch is not bit-identical to a one-shot build — its
    // guarantee IS the rank bound, which is exactly what the shared a16
    // oracle checks (exact percentile_disc replayed, rank_ok earned
    // from the real merged estimates).
    "st23_stream_quantiles" -> Q(
      (s, dir) => {
        val out = scratch("st23_out", dir)
        wipe(s"$out/sk"); wipe(s"$out/ckpt")
        val merged = Streams.quantileSketchStreaming(s, dir,
          s"$out/sk", s"$out/ckpt",
          name = s"graft_st23_${dirTag(dir)}")
        WindowAggQueries.kllRankAudit(s, dir, merged)
      },
      Some(WindowAggQueries.sqlKllQuantiles)),

    // st24: STREAMING heavy hitters — a17's mergeable frequent-items
    // contract in continuous form (the last sketch-streaming twin:
    // st13 count-min, st16 histogram, st22 HLL, st23 KLL, st24 top-k):
    // per micro-batch ONE ≤256-entry ItemsSketch partial appends (zero
    // streaming state), the answer is one combine+estimate pass. In the
    // no-purge regime sketch merge is exact counter addition, so the
    // combined estimate equals the one-shot sketch's and st24 shares
    // a17's oracle verbatim (est_ok earned from the real merged
    // counts; deterministic re-sort in the audit, never the sketch).
    "st24_stream_heavy_hitters" -> Q(
      (s, dir) => {
        val out = scratch("st24_out", dir)
        wipe(s"$out/sk"); wipe(s"$out/ckpt")
        val est = Streams.topKSketchStreaming(s, dir,
          s"$out/sk", s"$out/ckpt",
          name = s"graft_st24_${dirTag(dir)}")
        WindowAggQueries.heavyHitterAudit(s, dir, est)
      },
      Some(WindowAggQueries.sqlHeavyHitters)),

    // st25: STREAMING incremental aggregate maintenance — s20's
    // refresh loop fused into the drain (the st19-for-materialized-
    // views twin): each micro-batch commits atomically to the source
    // Manifest table and folds into the materialized aggregate via
    // Materialize.refresh, whose delta read touches ONLY that commit's
    // files (watermark = commit metadata, advanced atomically with the
    // fold — restart re-folds, never half/double-applies). Zero
    // streaming state; the two manifest tables are the restart-safe
    // state. Counts and DECIMAL masses fold associatively, so the
    // maintained aggregate equals the one-shot aggregate over
    // everything that streamed — the hash check. watermark_ok is the
    // claimed lifecycle constant: the aggregate's recorded source
    // watermark must equal the source's final version.
    "st25_stream_agg_refresh" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Materialize}
        val src = scratch("st25_src", dir)
        val agg = scratch("st25_agg", dir)
        val ckpt = scratch("st25_ckpt", dir)
        wipe(src); wipe(agg); wipe(ckpt)
        val folded = Streams.refreshingCommitStreaming(s, dir, src, agg,
          SourceQueries.eventAggPartial, SourceQueries.eventAggMerge,
          project = _.select(col("event_type"), col("value")),
          checkpoint = ckpt, name = s"graft_st25_${dirTag(dir)}")
        folded.select(col("event_type"), col("cnt"),
            col("mass").cast("double").as("value_mass"),
            lit(Materialize.sourceVersion(agg) == Manifest.version(src))
              .as("watermark_ok"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_mass,
          TRUE AS watermark_ok
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // st26: STREAMING CDC REPLICA — st25's row-level twin (s22 fused
    // into the drain): each micro-batch commits atomically to the
    // source Manifest table, then auto-compacts it (compactEvery=1,
    // published with the data_change=false writer flag), then
    // ChangeFeed.syncReplica applies the feed to the clicks-only
    // replica — appends apply join-free (cost ∝ batch), and the
    // flagged compactions are skipped WITHOUT a diff, which is how
    // OPTIMIZE traffic must vanish for CDC consumers at 100 TB. Zero
    // streaming state; the maintained replica must equal the one-shot
    // filter of everything that streamed (the hash check), and
    // watermark_ok pins the replica's applied source version to the
    // source head — compacted versions included.
    "st26_stream_cdc_replica" -> Q(
      (s, dir) => {
        import graft.ops.{ChangeFeed, Manifest}
        val src = scratch("st26_src", dir)
        val rep = scratch("st26_rep", dir)
        val ckpt = scratch("st26_ckpt", dir)
        wipe(src); wipe(rep); wipe(ckpt)
        val replica = Streams.replicatingCommitStreaming(s, dir, src, rep,
          keyCols = Seq("event_id"),
          transform = _.filter(col("event_type") === "click"),
          project = _.select(col("event_id"), col("event_type"),
            col("value")),
          compactEvery = 1,
          checkpoint = ckpt, name = s"graft_st26_${dirTag(dir)}")
        replica
          .agg(count(lit(1)).as("clicks"),
            sum(dec(col("value"))).cast("double").as("click_mass"))
          .select(col("clicks"), col("click_mass"),
            lit(ChangeFeed.replicaSourceVersion(rep) ==
              Manifest.version(src)).as("watermark_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS clicks,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
            AS click_mass,
          TRUE AS watermark_ok
        FROM events WHERE event_type = 'click'""")),

    // st28: GATED STREAMING INGEST WITH QUARANTINE — s24's CHECK
    // constraints in the drain, resolved the way a stream must: an
    // aborting gate would stall the pipeline, so each micro-batch
    // SPLITS — rows passing the table's recorded constraints commit to
    // the main table, violators commit to a quarantine table tagged
    // with the failed constraint's name (the dead-letter contract:
    // nothing dropped, every quarantined row says why). A planted
    // corruption negates every 10th event's value; the oracle replays
    // the mutation and the split exactly, and right_constraint pins
    // that every quarantined row names value_nonneg and nothing else.
    "st28_stream_gated_ingest" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("st28_table", dir)
        val quar = scratch("st28_quar", dir)
        val ckpt = scratch("st28_ckpt", dir)
        wipe(tbl); wipe(quar); wipe(ckpt)
        val proj = (df: org.apache.spark.sql.DataFrame) =>
          df.select(col("event_id"), col("event_type"),
            when(pmod(col("event_id"), lit(10)) === 0, -col("value"))
              .otherwise(col("value")).as("value"))
        Manifest.commit(proj(events(s, dir)).limit(0), tbl)
        Manifest.addConstraint(s, tbl, "value_nonneg", "value >= 0")
        Manifest.addConstraint(s, tbl, "type_known",
          "event_type IN ('click','view','purchase','signup','error')")
        val main = Streams.gatedCommitStreaming(s, dir, tbl, quar,
          project = proj, checkpoint = ckpt,
          name = s"graft_st28_${dirTag(dir)}")
        val kept = main.agg(count(lit(1)).as("kept_rows"),
          sum(dec(col("value"))).cast("double").as("kept_mass"))
        val bad = Manifest.read(s, quar)
          .agg(count(lit(1)).as("quarantined_rows"),
            sum(dec(col("value"))).cast("double").as("quarantined_mass"),
            min(col("violated")).as("__vmin"),
            max(col("violated")).as("__vmax"))
        kept.crossJoin(bad)
          .select(col("kept_rows"), col("kept_mass"),
            col("quarantined_rows"), col("quarantined_mass"),
            (col("__vmin") === "value_nonneg" &&
              col("__vmax") === "value_nonneg").as("right_constraint"))
      },
      Some("""WITH mut AS (SELECT event_id, event_type,
            CASE WHEN event_id % 10 = 0 THEN -value ELSE value END AS value
          FROM events)
        SELECT
          CAST(count(CASE WHEN value >= 0 THEN 1 END) AS BIGINT)
            AS kept_rows,
          CAST(sum(CASE WHEN value >= 0
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
            AS kept_mass,
          CAST(count(CASE WHEN NOT value >= 0 THEN 1 END) AS BIGINT)
            AS quarantined_rows,
          CAST(sum(CASE WHEN NOT value >= 0
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
            AS quarantined_mass,
          TRUE AS right_constraint
        FROM mut""")),

    // st29: STREAMING MERGE — the row-level upsert drain (CDC
    // compaction: "latest row per key" materialized continuously): each
    // micro-batch reduces to its newest row per user and MERGEs into a
    // Manifest table through the copy-on-write upsert, exactly-once via
    // the txn stamp published atomically with the merge version.
    // Requires event-time-ordered arrival across batches (st15's file-
    // source contract); over the bounded drain the table must equal the
    // one-shot per-user argmax over everything that streamed — which is
    // what the oracle replays (row_number over (ts, event_id) DESC),
    // so a lost update, a stale overwrite, or a double-applied batch
    // flips the hash red. Output: per-event-type count of users whose
    // LATEST event is that type, plus their value mass.
    "st29_stream_merge_upsert" -> Q(
      (s, dir) => {
        val tbl = scratch("st29_table", dir)
        val ckpt = scratch("st29_ckpt", dir)
        wipe(tbl); wipe(ckpt)
        Streams.mergeCommitStreaming(s, dir, tbl, checkpoint = ckpt,
            name = s"graft_st29_${dirTag(dir)}")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("users"),
            sum(dec(col("value"))).cast("double").as("latest_mass"))
          .orderBy(col("event_type"))
      },
      Some("""WITH latest AS (
            SELECT user_id, event_type, value, row_number() OVER
              (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
            FROM events)
          SELECT event_type, CAST(count(*) AS BIGINT) AS users,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
              AS latest_mass
          FROM latest WHERE rk = 1
          GROUP BY event_type ORDER BY event_type""")),

    // st30: STREAMING RESAMPLE STATE — w12's feature-store write path
    // in continuous form: each micro-batch appends one argmax row per
    // (user, day) it touches (bounded by key spread, not events), the
    // readout re-argmaxes the partials — associative on the unique
    // (ts, event_id) order, so batch boundaries are invisible — and
    // the shared w12 grid + forward-fill tail runs downstream. Shares
    // w12's oracle verbatim; unlike st29's upsert, NO arrival-order
    // contract is needed (argmax commutes).
    "st30_stream_resample" -> Q(
      (s, dir) => {
        val out = scratch("st30_out", dir)
        val ckpt = scratch("st30_ckpt", dir)
        wipe(out); wipe(ckpt)
        WindowAggQueries.resampleFfillTail(
          Streams.resampleStreaming(s, dir, out, checkpoint = ckpt,
            name = s"graft_st30_${dirTag(dir)}"))
      },
      Some(WindowAggQueries.sqlResampleFfill)),

    // st6: the NATIVE session_window operator (Spark's own gap-merge
    // aggregate — the Spark-first twin of st2's hand-rolled sessionizer;
    // the same expression runs under a watermark in streaming mode).
    // Boundary contract (MergingSessionsIterator: a new session starts
    // only when sessionStart > currentSessionEnd): an event at EXACTLY
    // last_event + gap still merges, so the oracle's island break is
    // `diff > gap` — the same inclusive boundary st2's nano-precision
    // oracle uses. Timestamps compare at microseconds on both engines
    // (nanos floor-truncated).
    "st6_session_window" -> Q(
      (s, dir) => events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts_utc"), "30 minutes"))
        .agg(count(lit(1)).as("events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"), col("events"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id
            FROM events),
          m AS (SELECT user_id, t, event_id,
              CASE WHEN lag(t) OVER w IS NULL
                     OR t - lag(t) OVER w > INTERVAL 30 MINUTE
                   THEN 1 ELSE 0 END AS brk
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          g AS (SELECT user_id, t,
              sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM m)
          SELECT user_id, min(t) AS session_start, count(*) AS events
          FROM g GROUP BY user_id, sid
          ORDER BY user_id, session_start""")),

    // r3: the MEF hierarchical drill-down as a ROLLUP over a fact table
    // (SURVEY §3.3: click-path levels = grouping columns). grouping_id
    // disambiguates subtotal rows; null group keys render as '' for a
    // total order shared with the oracle.
    "r3_mef_rollup" -> Q(
      (s, dir) => T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("")).as("flag"),
          coalesce(col("l_linestatus"), lit("")).as("status"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("gid"), col("flag"), col("status")),
      Some("""SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
            COALESCE(l_returnflag, '') AS flag,
            COALESCE(l_linestatus, '') AS status,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            count(*) AS cnt
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          ORDER BY gid, flag, status""")),

    // r4: explicit GROUPING SETS — the general form of the MEF subtotal
    // tree (r3 is the rollup special case): per-flag totals, per-status
    // totals, and the grand total in ONE pass over the fact table.
    "r4_grouping_sets" -> Q(
      (s, dir) => T(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("")).as("flag"),
          coalesce(col("l_linestatus"), lit("")).as("status"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("gid"), col("flag"), col("status")),
      Some("""SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
            COALESCE(l_returnflag, '') AS flag,
            COALESCE(l_linestatus, '') AS status,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            count(*) AS cnt
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY gid, flag, status""")),

    // g1: infogob staged-DAG idiom — processed set, anti-join pending set,
    // broadcast enrich of pending, diagonal append back, per-stage audit
    // counts. One composite query exercising the J2 + J4 + U2 pipeline.
    "g1_staged_dag" -> Q(
      (s, dir) => {
        val o = T(s, dir, "orders")
        val done = o.filter(col("o_orderkey") % 10 < 3)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .withColumn("stage", lit("done"))
        val pending = Relational.pendingAntiJoin(
          o.select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey")),
          done, Seq("o_orderkey"))
        val enriched = pending
          .join(broadcast(T(s, dir, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
            Seq("o_custkey"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("c_mktsegment"))
          .withColumn("stage", lit("new"))
        Relational.unionDiagonal(Seq(done, enriched))
          .groupBy(col("stage"), col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"),
            count(col("c_mktsegment")).as("enriched"))
          .orderBy(col("stage"), col("o_orderstatus"))
      },
      Some("""WITH done AS (
            SELECT o_orderkey, o_orderstatus, 'done' AS stage,
              NULL::VARCHAR AS c_mktsegment
            FROM orders WHERE o_orderkey % 10 < 3),
          pending AS (
            SELECT o.o_orderkey, o.o_orderstatus, o.o_custkey FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM done d
              WHERE d.o_orderkey = o.o_orderkey)),
          enriched AS (
            SELECT p.o_orderkey, p.o_orderstatus, 'new' AS stage,
              c.c_mktsegment
            FROM pending p JOIN customer c ON c.c_custkey = p.o_custkey)
          SELECT stage, o_orderstatus, count(*) AS cnt,
            count(c_mktsegment) AS enriched
          FROM (SELECT * FROM done UNION ALL SELECT * FROM enriched)
          GROUP BY stage, o_orderstatus ORDER BY stage, o_orderstatus""")),

    // g2: composite-PK row upsert — the infogob results-table write shape
    // (stage 20: a refreshed fetch REPLACES existing rows sharing the
    // composite key, untouched rows pass through; InfogobElections /
    // Relational.upsertRows). Fixture roles on lineitem's natural
    // composite PK (l_orderkey, l_linenumber): "existing" = stale rows
    // (qty + 1) for orderkey%4 in {0,1}; "incoming" = fresh rows for
    // %4 in {1,2}. After the upsert: %4=0 stays stale, %4=1 is replaced,
    // %4=2 is inserted — the per-group DECIMAL sums pin all three paths.
    "g2_composite_upsert" -> Q(
      (s, dir) => {
        val li = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        val existing = li.filter(col("l_orderkey") % 4 < 2)
          .withColumn("qty", dec(col("l_quantity")) + lit(1))
          .drop("l_quantity")
        val incoming = li
          .filter(col("l_orderkey") % 4 >= 1 && col("l_orderkey") % 4 < 3)
          .withColumn("qty", dec(col("l_quantity")))
          .drop("l_quantity")
        Relational.upsertRows(existing, incoming,
            Seq("l_orderkey", "l_linenumber"))
          .groupBy((col("l_orderkey") % 4).as("grp"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("qty")).cast("double").as("qty_sum"))
          .orderBy(col("grp"))
      },
      Some("""WITH existing AS (
            SELECT l_orderkey, l_linenumber,
              CAST(l_quantity AS DECIMAL(18,2)) + 1 AS qty
            FROM lineitem WHERE l_orderkey % 4 IN (0, 1)),
          incoming AS (
            -- DISTINCT mirrors upsertRows' full-row dedup of the incoming
            -- side (the retried-fetch case; this corpus's lineitem has 94
            -- exact-duplicate rows that a PK table would never admit)
            SELECT DISTINCT l_orderkey, l_linenumber,
              CAST(l_quantity AS DECIMAL(18,2)) AS qty
            FROM lineitem WHERE l_orderkey % 4 IN (1, 2)),
          merged AS (
            SELECT * FROM incoming
            UNION ALL
            SELECT e.* FROM existing e WHERE NOT EXISTS (
              SELECT 1 FROM incoming i
              WHERE i.l_orderkey = e.l_orderkey
                AND i.l_linenumber = e.l_linenumber))
          SELECT l_orderkey % 4 AS grp, count(*) AS cnt,
            CAST(sum(qty) AS DOUBLE) AS qty_sum
          FROM merged GROUP BY 1 ORDER BY 1"""))
  )
}
