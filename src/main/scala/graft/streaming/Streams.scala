package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming surface (SURVEY §2.9). The reference has no
  * streaming — its incremental idiom is resumable batch (anti-join pending
  * sets, progress flags). This module adds the Spark-native streaming
  * equivalents over the `events` table: tumbling-window aggregation and
  * stateful sessionization, each with a batch twin whose results the
  * streaming run must reproduce (asserted in StreamingSpec and, for the
  * batch twins, by the DuckDB oracle).
  */
object Streams {

  /** 30-minute session gap, in nanoseconds (events.ts is int64 nanos). */
  val SessionGapNs: Long = 30L * 60 * 1000 * 1000 * 1000

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType), // parquet TIMESTAMP(MICROS), no tz
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of the events parquet. Streaming sources require the
    * schema pinned up front, but the driver has shipped `ts` as BOTH
    * parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across testdata
    * generations, so pinning one physical type would break every
    * streaming query on the next flip while the batch side adapts.
    * Instead, read the first matching file's footer ONCE on the driver
    * ([[Bridge.footerSchema]]: no Spark job, no data scanned) and branch
    * exactly like the batch reader
    * [[graft.queries.QueryDSL.events]]; both readers then derive the
    * library contract — `ts` = BIGINT nanos-since-epoch, `ts_utc` =
    * microsecond timestamp — from the file's ACTUAL type. The
    * `timestampdiff` against the NTZ epoch is wall-clock arithmetic with
    * no session-timezone dependence. */
  def readEventsStream(spark: SparkSession, dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0,
      emptyOk: Boolean = false): DataFrame = {
    // TIMESTAMP(NANOS) surfaces as LongType only under this conf; the
    // batch reader sets it identically, so the two probes agree.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      try Bridge.footerSchema(spark, dir, glob)("ts").dataType
      catch {
        // No matching file at start: FAIL LOUDLY instead of guessing. A
        // streaming source pins its schema for the query's lifetime, so
        // silently defaulting (the pre-r14 behavior pinned MICROS)
        // would make a long-lived stream started against an empty
        // directory mis-read a nanos-generation file arriving later — a
        // wrong answer with no error. `emptyOk = true` is the opt-out
        // for BOUNDED drains (start → processAllAvailable → stop, e.g.
        // st15's legitimate empty-drain contract): nothing can arrive
        // during the drain, so the pinned type is never exercised.
        case e: org.apache.spark.sql.AnalysisException =>
          if (emptyOk) TimestampNTZType
          else throw new IllegalStateException(
            s"no file matching '$glob' under $dir at stream start — " +
              "the ts physical type (NANOS vs MICROS generations) is " +
              "derived from the files and would be pinned wrong for " +
              "files arriving later; start the stream after the first " +
              "file exists (or pass emptyOk=true for a bounded drain)",
            e)
      }
    val schema = StructType(eventSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = fileStream(spark, schema, dir, glob, maxFilesPerTrigger)
    tsType match {
      case LongType => // nanos-as-long generation: ts is already the contract
        raw.withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP(MICROS) generation (TIMESTAMP_NTZ in Spark)
        raw
          .withColumn("ts_us", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"))
          .withColumn("ts", expr("ts_us * 1000L"))
          .withColumn("ts_utc", timestamp_micros(expr("ts_us")))
          .drop("ts_us")
    }
  }

  /** Streaming parquet scan of `dir` with the schema pinned (streaming
    * sources require it up front) and `glob` as the file filter;
    * `maxFilesPerTrigger` > 0 caps files per micro-batch, the dial that
    * turns a bounded directory into a genuinely multi-batch stream. */
  private def fileStream(s: SparkSession, schema: StructType, dir: String,
      glob: String, maxFilesPerTrigger: Int): DataFrame = {
    val r = s.readStream.schema(schema).option("pathGlobFilter", glob)
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
     else r).parquet(dir)
  }

  /** Tumbling 1-hour counts per event type — the canonical windowed
    * streaming aggregate. Works on both batch and streaming frames. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"))

  /** Stateful streaming operators pay a per-partition state-store
    * lifecycle (create + commit, per side, per micro-batch); at suite
    * data sizes that lifecycle dwarfs the work itself when the stream
    * inherits the 32-wide batch shuffle width (measured on the two-sided
    * join: 6.7 s at 32 → 2.6 s at 8, identical results). At real scale
    * the same dial is keys-per-partition sizing: set
    * `spark.graft.stream.statePartitions` ≈ expected distinct state keys
    * ÷ target keys-per-partition (state stores like ~100k–1M hot keys
    * per partition; more partitions only add lifecycle overhead until
    * per-partition state stops fitting executor memory). The width is
    * FIXED for a stream's lifetime — Structured Streaming pins state
    * layout to the shuffle width at first start, so re-draining an
    * existing checkpoint at a new setting needs a fresh checkpoint dir
    * (every drain here uses one). Results are width-independent
    * (StreamingSpec asserts identical output at two settings). */
  private val DefaultStreamStatePartitions = "8"

  /** The state width for a drain's CHILD session, read from the CALLER's
    * session conf (`newSession()` does not inherit runtime conf, so the
    * knob is read where the user set it). */
  private def streamStatePartitions(parent: SparkSession): String =
    parent.conf.getOption("spark.graft.stream.statePartitions")
      .getOrElse(DefaultStreamStatePartitions)

  /** Create a drain's CHILD session: stream-state shuffle width pinned to
    * [[streamStatePartitions]], and the persisted-index BUCKET resolution
    * pinned to the PARENT's ([[graft.ops.Buckets.resolve]] there). The two
    * knobs are independent dials and must not be conflated: state-store
    * width stays small (per-partition store lifecycle cost dominates at
    * micro-batch sizes), but an index BUILT inside a drain (st11's seed,
    * st21/st36's seed) is probed by the parent session and read at one
    * partition per bucket — letting it fall back to the stream width would
    * cap every future probe of that index at the stream's 8, at any scale.
    * `foreachBatch` micro-batch sessions clone the child's conf, so the
    * pin reaches every fold body. */
  private def childSession(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", streamStatePartitions(parent))
    s.conf.set("spark.graft.index.buckets",
      graft.ops.Buckets.resolve(parent, 0).toString)
    s
  }

  /** EXACTLY-ONCE plumbing for the fold-in sinks. Structured Streaming's
    * `foreachBatch` is documented AT-LEAST-ONCE: source offsets are
    * checkpointed before the batch function runs and batch completion
    * only after it returns, so a crash between the sink's side effect
    * and the streaming commit-log write REPLAYS the batch — with the
    * same data and, critically, the same `batchId`. Every sink here
    * therefore derives idempotence from that id, one of three ways:
    *
    *  1. Manifest sinks commit through [[graft.ops.Manifest.commitOnce]]
    *     — the Delta `txn` recipe: the (appId, batchId) stamp is a
    *     manifest line of the committed version itself, so "data landed"
    *     and "batch recorded" are ONE atomic event and a replayed id is
    *     dropped outright. This is full exactly-once.
    *  2. Parquet-partial sinks write each batch to a
    *     `batch=<batchId>` subdirectory with `mode("overwrite")` — a
    *     replay overwrites its own output instead of appending a second
    *     copy. Idempotent by construction, no marker needed.
    *  3. Index fold-ins (the [[graft.ops.DedupIndex]] /
    *     [[graft.ops.TextIndex]] / IVF appends) run the two-phase
    *     [[Txn.foldOnce]] protocol: the batch's delta is STAGED as
    *     ordinary Spark output in a scratch dir (no live mutation),
    *     FROZEN by an atomic `.staged` marker, then PUBLISHED into the
    *     bucketed table dirs through idempotent batch-tagged file ops
    *     (link-if-absent appends; tagged-generation replaces for the
    *     merged statistics) before the applied marker lands. Mutation
    *     starts only after the freeze, and every publish step replays
    *     to a no-op — so this family is full exactly-once too: there is
    *     no crash point at which a fold is applied but unrecorded, or
    *     recorded but unrecoverable. The bucketed layout (and every
    *     no-shuffle probe property riding on it) is preserved because
    *     linked names keep Spark's bucket-id suffix.
    *
    * StreamingSpec's replay cases invoke each family's batch function
    * twice with the same id and assert the final state unchanged, and
    * kill-inject the fold family at every phase boundary (after stage,
    * after the freeze, mid-publish) proving the replay converges to the
    * exactly-once state. */
  private[graft] object Txn {
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths, StandardCopyOption}

    private def marker(dir: String, appId: String) =
      Paths.get(dir, "_txn", appId)

    /** Highest batch id recorded as applied for (`dir`, `appId`); -1
      * when none. */
    def last(dir: String, appId: String): Long = {
      val m = marker(dir, appId)
      if (Files.exists(m))
        new String(Files.readAllBytes(m), StandardCharsets.UTF_8).trim.toLong
      else -1L
    }

    /** Record `batchId` as applied — write-tmp + atomic rename, so a
      * reader sees the old id or the new one, never a torn write. */
    def record(dir: String, appId: String, batchId: Long): Unit = {
      val m = marker(dir, appId)
      Files.createDirectories(m.getParent)
      val tmp = m.getParent.resolve(s".$appId.tmp")
      Files.write(tmp,
        batchId.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, m, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }

    /** Test seam: throw immediately after the `.staged` marker lands —
      * the exact point that used to be the fold→marker residual window. */
    private[graft] var failAfterStage: Boolean = false

    /** COMMIT-ATOMIC fold — exactly-once with NO residual window, via a
      * two-phase write-ahead protocol over [[graft.ops.FoldFiles]]:
      *
      *  1. STAGE: `stage(stagingDir)` writes the batch's index delta as
      *     ordinary Spark output into a scratch dir nobody reads. A
      *     crash here is free — nothing live changed; the replay wipes
      *     and re-stages (the pre-fold index is untouched, so the
      *     re-staged content is identical).
      *  2. The `.staged` marker FREEZES the staging dir (atomic rename;
      *     a replay past this point never re-stages).
      *  3. PUBLISH: `publish(stagingDir)` moves the frozen delta into
      *     the live tables through idempotent, batch-tagged file ops
      *     (link-if-absent appends, tagged-generation replaces). A
      *     crash anywhere here replays to completion — each op is a
      *     no-op the second time.
      *  4. The applied marker records the batch; the staging dir is
      *     reclaimed.
      *
      * There is no longer any point where the index is mutated but the
      * batch unrecorded-and-unrecoverable: mutation begins only after
      * the frozen stage, and from then on the replay deterministically
      * finishes the SAME publish instead of re-deriving it. Returns
      * true when the fold ran (false: already applied, staging debris
      * reclaimed). */
    def foldOnce(dir: String, appId: String, batchId: Long)(
        stage: String => Unit)(publish: String => Unit): Boolean = {
      val staging = Paths.get(dir, "_txn", s"$appId-stage")
      if (last(dir, appId) >= batchId) { rmTree(staging); false }
      else {
        if (last(dir, s"$appId.staged") < batchId) {
          rmTree(staging)
          stage(staging.toString)
          record(dir, s"$appId.staged", batchId)
        }
        if (failAfterStage)
          throw new RuntimeException("simulated crash (Txn test seam)")
        publish(staging.toString)
        record(dir, appId, batchId)
        rmTree(staging)
        true
      }
    }

    private def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(q => Files.deleteIfExists(q))
        finally s.close()
      }

    /** Drop every marker (and staging debris) under `dir` — called when
      * an index is RESEEDED (rebuilt from empty): the new stream's
      * batch ids restart at 0, and a stale marker from the previous
      * index generation must not skip them. */
    def clear(dir: String): Unit = {
      val d = Paths.get(dir, "_txn")
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        try s.toArray.foreach(p =>
          rmTree(p.asInstanceOf[java.nio.file.Path]))
        finally s.close()
      }
    }
  }

  /** Write a micro-batch's partial output idempotently: each batch owns
    * the `batch=<batchId>` subdirectory of `outPath` and OVERWRITES it,
    * so an at-least-once replay replaces its own previous output instead
    * of appending a duplicate copy. Readers see the directory as a
    * partitioned parquet table with a synthetic `batch` column —
    * [[readPartials]] drops it. */
  private def writePartial(batch: DataFrame, outPath: String,
      batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")

  /** Read a [[writePartial]] table back, dropping the synthetic `batch`
    * partition column so downstream re-aggregation sees exactly the
    * partial schema the batches wrote. */
  private def readPartials(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath).drop("batch")

  /** THE bounded drain: the only code that starts, drains and stops a
    * streaming query. [[drain]] (memory sink) and [[drainBatches]]
    * (`foreachBatch` sink) are its two faces; RegistryGuardSpec fails the
    * build on a `processAllAvailable`, `.foreachBatch` or `childSession(`
    * call anywhere else in `src/main`.
    *
    *  - CHILD-SESSION ISOLATION: `build` runs on a fresh [[childSession]]
    *    (`newSession()`: same SparkContext and shared state, its own conf
    *    and temp-view catalog), seeds whatever the drain starts from
    *    there (an empty index, a seed dimension), then returns the
    *    stream's writer. The state-width pin, the seeded views and the
    *    memory sink's table live only in the child, so a drain never
    *    leaks into a concurrent drain or a batch plan on the caller's
    *    session (StreamingSpec's two-parallel-drains case).
    *  - CHECKPOINT OWNERSHIP: the caller names the checkpoint directory
    *    (`None` for the memory sink, whose progress dies with the query)
    *    and keeps it across restarts; the drain only sets it. A restart
    *    is a second drain on the same directory: the checkpointed
    *    offsets decide which input is new.
    *  - `between` STEPS: after the first drain each step runs (an
    *    upstream commit, a table mutation) and the query drains again,
    *    so one query serves its initial input and then every step's
    *    effect as later micro-batches.
    *
    * Before the query stops, its per-batch state-row totals land in
    * [[lastDrainStateRows]]. Returns the child session, on which the
    * memory sink's table (and any seeded view) is read. */
  private def runDrain(spark: SparkSession, name: String,
      checkpoint: Option[String], between: Seq[() => Unit])(
      build: SparkSession => DataStreamWriter[Row]): SparkSession = {
    val s = childSession(spark)
    val w = build(s)
    val q = checkpoint.fold(w)(w.option("checkpointLocation", _))
      .queryName(name).start()
    try {
      q.processAllAvailable()
      between.foreach { step => step(); q.processAllAvailable() }
    } finally {
      try lastDrainStateRows.set(q.recentProgress.toSeq
        .map(_.stateOperators.map(_.numRowsTotal).sum))
      finally q.stop()
    }
    s
  }

  /** Memory-sink face of [[runDrain]]: drain `build`'s writer into a
    * memory table named `name` and return that table, read off the child
    * session whose catalog holds it. */
  private def drain(spark: SparkSession, name: String)(
      build: SparkSession => DataStreamWriter[Row]): DataFrame =
    runDrain(spark, name, None, Nil)(build(_).format("memory")).table(name)

  /** `foreachBatch` face of [[runDrain]]: stream `source` (built, after
    * any seeding, on the child session) through `body` with its
    * checkpoint at `checkpoint`, running the `between` steps after the
    * first drain. Returns the child session. */
  private def drainBatches(spark: SparkSession, name: String,
      checkpoint: String, between: Seq[() => Unit] = Nil)(
      source: SparkSession => DataFrame)(
      body: (DataFrame, Long) => Unit): SparkSession =
    runDrain(spark, name, Some(checkpoint), between)(
      source(_).writeStream.foreachBatch(body))

  /** `between` steps for a drain that tails `upstream`: each commits one
    * chunk to it, so the next drain serves that chunk as a tail batch. */
  private def commitsTo(upstream: String,
      chunks: Seq[DataFrame]): Seq[() => Unit] =
    chunks.map(c => () => { graft.ops.Manifest.commit(c, upstream); () })

  /** A schema-pinned zero-row documents frame: the seed a fold-in drain
    * builds its empty index from. */
  private def emptyDocs(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], docSchema)

  /** Total state-store rows at the end of each micro-batch of the LAST
    * drain on the calling thread — test telemetry so StreamingSpec can
    * assert bounded state (watermark eviction actually happened), not a
    * public API. Every drain sets it, stateless ones to all zeros.
    * Thread-local because drains are concurrency-safe. */
  val lastDrainStateRows: ThreadLocal[Seq[Long]] =
    ThreadLocal.withInitial(() => Nil)

  /** Run [[tumblingCounts]] as a real streaming query into a memory sink
    * (complete mode), block until the source drains, and return the result.
    * At production scale the same plan writes to a Kafka/Delta sink with a
    * watermark; complete-mode memory is the deterministic test harness. */
  def runTumblingToMemory(spark: SparkSession, dir: String,
      name: String = "graft_st1"): DataFrame =
    drain(spark, name)(s => tumblingCounts(readEventsStream(s, dir))
      .writeStream.outputMode(OutputMode.Complete()))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming scan of the documents parquet (schema pinned). `glob`
    * widens the file filter (multi-file test corpora); `maxFilesPerTrigger`
    * > 0 caps files per micro-batch, the dial that turns a bounded
    * directory into a genuinely multi-batch stream. */
  def readDocumentsStream(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame =
    fileStream(spark, docSchema, dir, glob, maxFilesPerTrigger)

  /** STREAMING exact dedup — the training-pipeline dedup operator in its
    * continuous form: content fingerprint (sha-256 of the
    * whitespace-normalized lowercased text) + streaming `dropDuplicates`,
    * which keeps one state entry per distinct key and emits only first
    * occurrences. Keyed by (lang, fp) so every downstream per-language
    * aggregate is survivor-order independent. On an unbounded source the
    * production shape adds `withWatermark` on an event-time column so
    * dedup state ages out; the bounded file source here needs none. */
  def dedupStreaming(spark: SparkSession, dir: String,
      name: String = "graft_st3"): DataFrame = {
    val fp = sha2(graft.functions.text.normalizeWhitespace(lower(col("text"))), 256)
    drain(spark, name)(s => readDocumentsStream(s, dir)
      .select(col("lang"), fp.as("fp"))
      .dropDuplicates("lang", "fp")
      .writeStream.outputMode(OutputMode.Append()))
  }

  /** STREAMING corpus-quality gate — the t2 curation operator in its
    * continuous form: per-document banding is a stateless codegen'd map
    * (streaming-safe by construction — no window, no join), and the
    * per-band totals run as a complete-mode streaming aggregate. The same
    * column functions serve batch and stream, so a corpus ingested
    * continuously is gated by exactly the batch rules. */
  def qualityGateStreaming(spark: SparkSession, dir: String,
      name: String = "graft_st4"): DataFrame = {
    import graft.functions.textstats
    drain(spark, name)(s => readDocumentsStream(s, dir)
      .select(textstats.qualityBand(col("text")).as("band"),
        textstats.tokenCount(col("text")).as("ntok"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("cnt"), sum(col("ntok")).as("tok_sum"))
      .writeStream.outputMode(OutputMode.Complete()))
  }

  /** Stream-static broadcast enrichment — the canonical streaming shape at
    * scale: an unbounded event stream joins a bounded dimension table.
    * Spark re-resolves the static side each micro-batch and the broadcast
    * hint keeps the join map-side, so the stream itself never shuffles
    * before the aggregate's partial phase. Counts and exact DECIMAL value
    * sums per customer segment; complete-mode memory sink as the
    * deterministic drain harness (a production run writes append with a
    * watermark to a Kafka/Delta sink). */
  def enrichBySegmentStreaming(spark: SparkSession, dir: String,
      name: String = "graft_st5"): DataFrame =
    drain(spark, name) { s =>
      val dim = broadcast(graft.queries.QueryDSL.T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      readEventsStream(s, dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("events"),
          sum(graft.queries.QueryDSL.dec(col("value")))
            .cast("double").as("value_sum"))
        .writeStream.outputMode(OutputMode.Complete())
    }

  /** Stream-STREAM inner join with event-time range bounds — the join
    * shape that needs BOTH sides' state stores: clicks and purchases
    * (two watermarked streams split from the same source) match per user
    * where the purchase lands within 30 minutes after the click. The
    * watermarks plus the time-range condition are what let Spark evict
    * state — without them stream-stream join state grows forever, the
    * 100 TB failure mode. Memory append sink drains the matched pairs;
    * aggregate after the drain. */
  def clickPurchaseJoinStreaming(spark: SparkSession, dir: String,
      name: String = "graft_st7"): DataFrame =
    drain(spark, name) { s =>
      val ev = readEventsStream(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts_utc").as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts_utc").as("pt"))
        .withWatermark("pt", "1 hour")
      clicks.join(purchases,
          col("cu") === col("pu") && col("pt") >= col("ct") &&
            col("pt") <= col("ct") + expr("INTERVAL 30 MINUTES"))
        .select(col("cu").as("user_id"))
        .writeStream.outputMode(OutputMode.Append())
    }

  /** STREAMING near-dup candidate detection — MinHash-LSH over the
    * document stream. The signature is a row-local array fold (shingle →
    * hash → per-permutation array_min), so the stream stays STATELESS all
    * the way to the banding explode; candidates then surface from a
    * stream-stream self-join on (band, key). No event-time bound: exact
    * recall on an unbounded corpus means the join state holds every band
    * key seen — fine for the bounded drain here; an unbounded production
    * ingest runs [[lshCandidatesStreamingWindowed]], whose watermarked
    * horizon bounds the state. Same md5 hash family as the batch d2
    * pipeline, so the candidate set is bit-identical to batch banding —
    * asserted by StreamingSpec and the DuckDB oracle. */
  def lshCandidatesStreaming(spark: SparkSession, dir: String,
      name: String = "graft_st8"): DataFrame =
    drain(spark, name) { s =>
      val banded = bandedDocs(readDocumentsStream(s, dir))
      val left = banded
        .select(col("doc_id").as("a"), col("band").as("lb"), col("key").as("lk"))
      val right = banded
        .select(col("doc_id").as("b"), col("band").as("rb"), col("key").as("rk"))
      left.join(right,
          col("lb") === col("rb") && col("lk") === col("rk") &&
            col("a") < col("b"))
        .select(col("a"), col("b"))
        .writeStream.outputMode(OutputMode.Append())
    }

  /** Row-local MinHash banding of a documents frame (streaming or batch):
    * one output row per (doc_id, band, key), `carry` columns preserved.
    * Stateless by construction — signatures are per-row array folds, so
    * this is safe upstream of any streaming join. Same md5 hash family as
    * the batch [[graft.ops.Dedup]] pipeline. */
  private def bandedDocs(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.{expressions, hashing, textstats}
    // The whole signature is ONE codegen'd pass over the shingles
    // (MinhashSigArray kernel) — the 12-transform + 12-array_min HOF
    // formulation it replaces bit-identically ran interpreted per element
    // and dominated the streaming LSH cost.
    val bandStructs = (0 until hashing.Bands).map { b =>
      val ks = (b * hashing.Rows until (b + 1) * hashing.Rows)
        .map(j => element_at(col("__sig"), j + 1))
      struct(lit(b).as("band"), concat_ws(",", ks: _*).as("key"))
    }
    val cc = carry.map(col)
    docs
      .select(col("doc_id") +: cc :+ expressions.minhashSigArray(
        textstats.shingles(textstats.tokens(col("text")), 3)).as("__sig"): _*)
      .filter(col("__sig").isNotNull) // < 3 tokens ⇒ no signature, like batch
      .select(col("doc_id") +: cc :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col("doc_id") +: cc :+ col("bk.band").as("band")
        :+ col("bk.key").as("key"): _*)
  }

  /** BOUNDED-STATE near-dup candidate detection — the production form of
    * [[lshCandidatesStreaming]]: both banded sides carry an event-time
    * watermark and the band join takes a time-range condition, so
    * candidates only match within `horizonMinutes` of each other and
    * Spark EVICTS join state behind the watermark (st7's two-sided-state
    * recipe applied to the LSH self-join). This is the variant an
    * unbounded 100 TB ingest runs: state holds only the horizon's worth
    * of band rows instead of every band key ever seen. The semantic trade
    * is explicit — a duplicate pair further apart than the horizon is NOT
    * reported (cross-horizon dedup belongs to a periodic batch d2 pass).
    *
    * Event time derives deterministically from doc_id (one doc per 600 s)
    * — the bounded test corpus has no ingest timestamp; a production
    * stream supplies its own event-time column the same way.
    * StreamingSpec asserts streaming == the batch twin on a multi-file,
    * multi-batch drain AND that per-batch state stays bounded. */
  def lshCandidatesStreamingWindowed(spark: SparkSession, dir: String,
      horizonMinutes: Int = 30, delay: String = "30 minutes",
      name: String = "graft_st9", glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame =
    drain(spark, name) { s =>
      val banded = bandedDocs(
        readDocumentsStream(s, dir, glob, maxFilesPerTrigger)
          .withColumn("ts_utc", timestamp_seconds(col("doc_id") * 600L)),
        carry = Seq("ts_utc"))
      val left = banded
        .select(col("doc_id").as("a"), col("band").as("lb"),
          col("key").as("lk"), col("ts_utc").as("ct"))
        .withWatermark("ct", delay)
      val right = banded
        .select(col("doc_id").as("b"), col("band").as("rb"),
          col("key").as("rk"), col("ts_utc").as("pt"))
        .withWatermark("pt", delay)
      left.join(right,
          col("lb") === col("rb") && col("lk") === col("rk") &&
            col("a") < col("b") &&
            col("pt") >= col("ct") - expr(s"INTERVAL $horizonMinutes MINUTES") &&
            col("pt") <= col("ct") + expr(s"INTERVAL $horizonMinutes MINUTES"))
        .select(col("a"), col("b"))
        .writeStream.outputMode(OutputMode.Append())
    }

  /** STREAMING PROBE of a persisted dedup index
    * ([[graft.ops.DedupIndex]]) — the continuous-ingest form of the d12
    * batch probe: the incoming document stream bands row-locally
    * (stateless) and each micro-batch joins STREAM-STATIC against the
    * index's bucketed band table. ZERO streaming state: the static side
    * is a table scan per micro-batch and the join needs no watermark —
    * the index bounds the lookup, not a time horizon (StreamingSpec
    * asserts numRowsTotal == 0 across all micro-batches). Emits
    * (a = corpus id, b = stream doc id) band-bucket candidates; the
    * exact-Jaccard confirmation against the persisted shingle table is
    * idempotent batch work downstream, same split as d12. `where`
    * pre-filters the stream before banding (e.g. the new-batch coin). */
  def indexProbeStreaming(spark: SparkSession, dir: String, prefix: String,
      where: Column = lit(true), name: String = "graft_st10"): DataFrame =
    drain(spark, name) { s =>
      val banded = bandedDocs(readDocumentsStream(s, dir).filter(where))
      banded
        .select(col("doc_id").as("b"), col("band"), col("key"))
        .join(s.table(s"${prefix}_bands")
            .select(col("id").as("a"), col("band"),
              col("bandKey").as("key")),
          Seq("band", "key"))
        .select(col("a"), col("b"))
        .writeStream.outputMode(OutputMode.Append())
    }

  /** TRUE STREAMING INCREMENTAL DEDUP — the full
    * [[graft.ops.DedupIndex]] lifecycle composed into one continuous
    * query: every micro-batch PROBES the index (cross + within-batch
    * pairs, exact-Jaccard verified) and is then FOLDED IN
    * (`appendBatch`), so later batches dedup against everything that
    * arrived before them. The output over a bounded drain is therefore
    * exactly the one-shot batch detector's pair set on the whole corpus
    * — each near-dup pair surfaces precisely once, when its later doc
    * arrives — which is the oracle (d2's SQL, bucket caps included) and
    * the StreamingSpec identity on a chunked multi-batch source.
    *
    * Pairs are emitted id-normalized (a < b) because arrival order and
    * id order need not agree across micro-batches. All per-batch work is
    * distributed (probe joins + bucketed appends + per-batch parquet
    * writes of the pairs); `foreachBatch` sequences it, holding NO
    * streaming state — the persisted index IS the state. EXACTLY-ONCE:
    * pairs land per-batch-overwrite ([[writePartial]]) and the fold-in
    * runs the commit-atomic [[Txn.foldOnce]] protocol at `indexPath`
    * (stage → freeze → idempotent publish), so an at-least-once replay
    * rewrites its own pairs and converges the fold to exactly-once
    * from ANY crash point (StreamingSpec replay + kill-injection
    * cases). */
  def incrementalDedupStreaming(spark: SparkSession, dir: String,
      indexPath: String, outPath: String, prefix: String, k: Int = 3,
      threshold: Double = 0.8, maxBucketSize: Int = 0,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st11",
      hash: Column => Column = graft.functions.hashing.h64): DataFrame = {
    import graft.ops.DedupIndex
    val child = drainBatches(spark, name, s"$outPath-ckpt") { s =>
      // Start from an EMPTY index: the first micro-batch has nothing to
      // cross against and folds itself in.
      DedupIndex.buildIndex(s, emptyDocs(s), "doc_id", "text", k,
        maxBucketSize, indexPath, prefix, hash = hash)
      Txn.clear(indexPath) // reseeded: prior generation's markers are void
      readDocumentsStream(s, dir, glob, maxFilesPerTrigger)
    }(applyIncrementalDedupBatch(_, _, indexPath, outPath, prefix, k,
      threshold, maxBucketSize, hash))
    readPartials(child, outPath)
  }

  /** st11's per-batch body: probe, write the batch's pairs
    * idempotently, fold the batch into the index COMMIT-ATOMICALLY
    * ([[Txn.foldOnce]]: the probe + pair write + staged delta all land
    * before the freeze marker — none of them mutates the index, so a
    * pre-freeze replay recomputes them identically against the
    * unmutated index — and the index mutation itself is the idempotent
    * publish of the frozen delta). Package-visible so the replay spec
    * can invoke it twice with one id and kill-inject every window. */
  private[graft] def applyIncrementalDedupBatch(batch: DataFrame,
      batchId: Long, indexPath: String, outPath: String, prefix: String,
      k: Int, threshold: Double, maxBucketSize: Int,
      hash: Column => Column): Unit = {
    import graft.ops.DedupIndex
    val bs = batch.sparkSession // micro-batch session, shared catalog
    Txn.foldOnce(indexPath, "st11_fold", batchId) { staging =>
      val pairs = DedupIndex.dedupBatch(bs, batch, "doc_id", "text", k,
        threshold, maxBucketSize, prefix, hash)
      writePartial(
        pairs.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"), col("jac")),
        outPath, batchId)
      DedupIndex.stageBatch(bs, batch, "doc_id", "text", k,
        maxBucketSize, staging, prefix, hash = hash)
    } { staging =>
      DedupIndex.publishStaged(bs, staging, indexPath, prefix,
        s"fold-b$batchId")
    }
    ()
  }

  /** A closed session: [startTs, endTs] nanos with its event count. */
  case class ClosedSession(user_id: Long, startTs: Long, endTs: Long,
      events: Long)

  /** Open-session state carried between batches. */
  case class OpenSession(startTs: Long, lastTs: Long, events: Long)

  /** Streaming session LOG via flatMapGroupsWithState: emits each session
    * the moment a later event closes it (gap > gapNs). The still-open last
    * session per user stays in state — on an unbounded source a timeout
    * would flush it; the batch twin below therefore also excludes each
    * user's final session. */
  def closedSessionsStreaming(spark: SparkSession, dir: String,
      gapNs: Long = SessionGapNs,
      // distinct default: dedupStreaming already claims "graft_st3", and
      // two drains sharing a memory-sink name would silently cross-read
      name: String = "graft_st_sessions"): DataFrame = {
    import spark.implicits._
    val fn = (userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[OpenSession]) => {
      val sorted = rows.toSeq.sortBy(identity).map(_._1)
      val closed = Seq.newBuilder[ClosedSession]
      var cur = state.getOption
      sorted.foreach { ts =>
        cur match {
          case Some(o) if ts - o.lastTs > gapNs =>
            closed += ClosedSession(userId, o.startTs, o.lastTs, o.events)
            cur = Some(OpenSession(ts, ts, 1L))
          case Some(o) =>
            cur = Some(o.copy(lastTs = ts, events = o.events + 1L))
          case None =>
            cur = Some(OpenSession(ts, ts, 1L))
        }
      }
      cur.foreach(state.update)
      closed.result().iterator
    }
    drain(spark, name)(s => readEventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
      .writeStream.outputMode(OutputMode.Append()))
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming scan of the embeddings parquet (schema pinned) — same dials
    * as [[readDocumentsStream]]: `glob` widens the file filter,
    * `maxFilesPerTrigger` > 0 turns a bounded directory into a genuinely
    * multi-batch stream. */
  def readEmbeddingsStream(spark: SparkSession, dir: String,
      glob: String = "embeddings.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame =
    fileStream(spark, embSchema, dir, glob, maxFilesPerTrigger)

  /** STREAMING ANN PROBE of a persisted IVF index
    * ([[graft.ops.Similarity.buildIvfIndex]]) — the vector twin of the
    * st10 dedup-index probe, closing the index-lifecycle symmetry: a
    * stream of query vectors looks up its top-k neighbors against the
    * saved centroid + bucketed-assignment tables, micro-batch by
    * micro-batch. Each batch runs the exact batch probe
    * ([[graft.ops.Similarity.ivfProbePersisted]]) inside `foreachBatch`:
    * per-query top-k is independent across queries and every query vector
    * arrives in exactly one micro-batch, so the output over a bounded
    * drain is value-identical to the one-shot batch probe — which is the
    * oracle (x3/x9's shared SQL). ZERO streaming state: no watermark, no
    * join state — the index tables ARE the lookup bound, and
    * `foreachBatch` holds nothing between batches. EXACTLY-ONCE: each
    * batch's probe results land per-batch-overwrite ([[writePartial]]),
    * so an at-least-once replay replaces its own output. */
  def ivfProbeStreaming(spark: SparkSession, dir: String, prefix: String,
      outPath: String, where: Column = lit(true), nProbe: Int = 2,
      k: Int = 3, glob: String = "embeddings.parquet",
      maxFilesPerTrigger: Int = 0,
      name: String = "graft_st12"): DataFrame = {
    val child = drainBatches(spark, name, s"$outPath-ckpt")(
      readEmbeddingsStream(_, dir, glob, maxFilesPerTrigger).filter(where))(
      applyIvfProbeBatch(_, _, prefix, outPath, nProbe, k))
    readPartials(child, outPath)
  }

  /** st12's per-batch body — a pure idempotent partial write. */
  private[graft] def applyIvfProbeBatch(batch: DataFrame, batchId: Long,
      prefix: String, outPath: String, nProbe: Int, k: Int): Unit = {
    import graft.ops.Similarity
    writePartial(
      Similarity.ivfProbePersisted(batch.sparkSession, batch, "vec_id",
          "embedding", nProbe, k, prefix)
        .select(col("qid"), col("rank"), col("nid"), col("cos")),
      outPath, batchId)
  }

  /** STREAMING IVF INDEX INGEST — the vector twin of st11's fold-in:
    * each micro-batch of new vectors assigns to the EXISTING persisted
    * centroids and appends to the bucketed assignment table
    * ([[graft.ops.Similarity.appendToIvfIndex]] — the FAISS `add`
    * contract, no retraining). ZERO streaming state; the index tables
    * are the restart-safe state. After the drain, a probe of the grown
    * index is value-identical to the inline probe over the full corpus
    * with the original centroids (IvfIndexSpec's append identity,
    * exercised here micro-batch by micro-batch; st14's oracle replays
    * slice-training + full-corpus assignment + probe). `where`
    * pre-filters the stream to the not-yet-indexed vectors.
    * EXACTLY-ONCE: the fold runs the commit-atomic [[Txn.foldOnce]]
    * protocol with markers and staging INSIDE the checkpoint directory
    * (the index has no path handle here, and the protocol state must
    * share the checkpoint's lifetime — delete both together to
    * re-stream), so an at-least-once replay converges the append to
    * exactly-once from any crash point. */
  def ivfIngestStreaming(spark: SparkSession, dir: String, prefix: String,
      where: Column = lit(true), glob: String = "embeddings.parquet",
      maxFilesPerTrigger: Int = 0, checkpoint: String,
      name: String = "graft_st14"): Unit = {
    drainBatches(spark, name, checkpoint)(
      readEmbeddingsStream(_, dir, glob, maxFilesPerTrigger).filter(where))(
      applyIvfIngestBatch(_, _, prefix, checkpoint))
    ()
  }

  /** st14's per-batch body: fold the batch into the IVF index
    * commit-atomically ([[Txn.foldOnce]] — stage the assignments, then
    * publish the frozen delta idempotently). */
  private[graft] def applyIvfIngestBatch(batch: DataFrame, batchId: Long,
      prefix: String, checkpoint: String): Unit = {
    import graft.ops.Similarity
    val bs = batch.sparkSession
    Txn.foldOnce(checkpoint, "st14_fold", batchId) { staging =>
      Similarity.stageIvfAppend(bs, batch, "vec_id", "embedding", prefix,
        staging)
    } { staging =>
      Similarity.publishStagedIvf(bs, staging, prefix, s"fold-b$batchId")
    }
    ()
  }

  /** STREAMING BM25 INDEX INGEST — the text twin of st14's vector
    * fold-in, closing the t32 index lifecycle from the write side: each
    * micro-batch of new documents folds into the persisted inverted
    * index via [[graft.ops.TextIndex.appendDocs]] (postings append as
    * per-bucket files, term df and corpus stats fold incrementally —
    * integer arithmetic, so the folded statistics are EXACTLY the
    * one-shot build's and probe scores stay IEEE-identical). ZERO
    * streaming state; the index tables are the restart-safe state
    * (checkpointed source offsets decide what has been folded). The
    * drain starts from an EMPTY schema-pinned index, so after it the
    * index is probe-indistinguishable from a fresh build over
    * everything that streamed — which is why st21 shares t11/t32's
    * oracle verbatim (StreamingSpec asserts the 4-micro-batch ≡
    * one-shot identity bit-for-bit).
    *
    * `seed = false` is the RESTART: adopt the EXISTING index (re-seeding
    * would erase everything folded so far) and let the checkpointed
    * source offsets decide which files are new — the restart-safety
    * contract every fold-in here shares, made explicit for the one whose
    * seed step is destructive (StreamingSpec: a second drain after one
    * more file lands folds ONLY that file; the grown index equals a
    * one-shot build). */
  def textIndexIngestStreaming(spark: SparkSession, dir: String,
      indexPath: String, prefix: String,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0,
      checkpoint: String, name: String = "graft_st21",
      seed: Boolean = true): Unit = {
    import graft.ops.TextIndex
    drainBatches(spark, name, checkpoint) { s =>
      if (seed) {
        TextIndex.buildIndex(s, emptyDocs(s).select("doc_id", "lang", "text"),
          "doc_id", "text", indexPath, prefix)
        Txn.clear(indexPath) // reseeded: prior generation's markers are void
      }
      readDocumentsStream(s, dir, glob, maxFilesPerTrigger)
        .select("doc_id", "lang", "text")
    }(applyTextIndexBatch(_, _, indexPath, prefix))
    ()
  }

  /** st36: the st21 BM25 fold driven by the COMMIT-LOG SOURCE instead
    * of a file glob — the index follows a GOVERNED TABLE: batch 1 folds
    * the upstream's snapshot, every later batch folds exactly the rows
    * its new versions appended (one manifest-head read per trigger —
    * never a table listing), and a non-append upstream commit fails the
    * stream loudly through the tail contract, which is the CORRECT
    * index semantics too: a fold cannot un-fold, so upstream rewrites
    * and deletes require an index rebuild — the failure says so instead
    * of serving silently-stale postings. Exactly-once end to end: the
    * source side re-reads immutable manifests, the fold side is the
    * commit-atomic [[Txn.foldOnce]] staging protocol per batchId. */
  def tableIndexIngestStreaming(spark: SparkSession, upstream: String,
      indexPath: String, prefix: String, laterChunks: Seq[DataFrame],
      checkpoint: String, name: String = "graft_st36",
      seed: Boolean = true,
      startAfterVersion: Option[Long] = None): Unit = {
    import graft.ops.TextIndex
    drainBatches(spark, name, checkpoint,
        commitsTo(upstream, laterChunks)) { s =>
      if (seed) {
        // fresh start; a RESTART passes seed=false (re-seeding would
        // erase everything folded so far — st21's resume contract) and
        // the checkpointed offsets decide which versions are new.
        // startAfterVersion is the REBUILD-resume contract
        // ([[graft.ops.TextIndex.rebuildFromTable]]): the index already
        // holds the head as of that version, so the resumed tail (fresh
        // checkpoint, seed = false) must fold only later commits.
        TextIndex.buildIndex(s, emptyDocs(s).select("doc_id", "lang", "text"),
          "doc_id", "text", path = indexPath, prefix = prefix)
      }
      readTableStream(s, upstream, startAfterVersion = startAfterVersion)
    }(applyTextIndexBatch(_, _, indexPath, prefix))
    ()
  }

  /** st21's per-batch body: fold the batch into the inverted index
    * commit-atomically ([[Txn.foldOnce]] at `indexPath` — markers and
    * staging share the index's lifetime; a rebuild via
    * [[textIndexIngestStreaming]]'s seed wipes the index dir, markers
    * included): the postings delta and the MERGED statistics are staged
    * and frozen first, then published through idempotent tagged file
    * ops, so a replay at any point neither double-counts term
    * statistics nor loses a half-applied fold. */
  private[graft] def applyTextIndexBatch(batch: DataFrame, batchId: Long,
      indexPath: String, prefix: String): Unit = {
    import graft.ops.TextIndex
    val bs = batch.sparkSession
    Txn.foldOnce(indexPath, "st21_fold", batchId) { staging =>
      TextIndex.stageDocs(bs, batch, "doc_id", "text", staging, prefix)
    } { staging =>
      TextIndex.publishStagedDocs(bs, staging, indexPath, prefix,
        s"fold-b$batchId")
    }
    ()
  }

  /** STREAMING approximate-distinct via persisted Datasketches HLL
    * partials — a9's 100 TB distinct-count pattern in continuous form,
    * and the proof it SHARDS: each micro-batch appends ONE HLL sketch
    * row per group (bounded: groups × ~KB whatever the batch holds),
    * zero streaming state, and the final count is one union+estimate
    * pass over the partial table. HLL register state merges by
    * element-wise max, so the union of per-batch sketches is the SAME
    * sketch a one-shot pass builds (StreamingSpec asserts estimate
    * equality, not closeness) — the associativity that lets a
    * 1000-executor cluster count distincts with no global shuffle of
    * the distinct values, per shard, per day, or per batch. */
  def approxDistinctStreaming(spark: SparkSession, dir: String,
      outPath: String, checkpoint: String, lgK: Int = 12,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st22"): DataFrame = {
    val child = drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)) { (batch, batchId) =>
      writePartial(batch.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lgK).as("sk")),
        outPath, batchId)
    }
    readPartials(child, outPath)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), true))
        .as("approx_users"))
  }

  /** STREAMING quantile sketch via persisted KLL partials — a16's
    * mergeable-quantile contract in continuous form, completing the
    * sketch-streaming family (st13 count-min, st16 histogram, st22
    * HLL): each micro-batch appends ONE k=200 KLL sketch row (bounded
    * whatever the batch holds), zero streaming state; the answer is one
    * kll_merge_agg pass over the partial table. Unlike HLL's register-max
    * (st22's exact identity), KLL compaction is randomized, so the merged
    * sketch is not bit-identical to a one-shot build — its guarantee is
    * the same RANK bound, which is exactly what a16's oracle checks, so
    * st23 shares it verbatim. Returns the 1-row merged-sketch frame. */
  def quantileSketchStreaming(spark: SparkSession, dir: String,
      outPath: String, checkpoint: String, k: Int = 200,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st23"): DataFrame = {
    val child = drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)) { (batch, batchId) =>
      writePartial(
        batch.agg(kll_sketch_agg_double(col("value"), k).as("sk")),
        outPath, batchId)
    }
    readPartials(child, outPath)
      .agg(kll_merge_agg_double(col("sk"), k).as("sk"))
  }

  /** STREAMING heavy hitters via persisted frequent-items partials —
    * a17's mergeable top-k contract in continuous form: each micro-batch
    * of documents tokenizes and folds into ONE ≤`maxItems`-entry
    * Datasketches ItemsSketch row appended to a parquet partial table
    * (zero streaming state), and the answer is one combine+estimate pass
    * over the partials. In the no-purge regime (vocabulary ≪ capacity)
    * sketch merge is exact counter addition, so the combined estimate
    * EQUALS the one-shot sketch's (StreamingSpec asserts equality) —
    * which is why st24 shares a17's oracle verbatim. Returns the
    * estimate as (`token`, `est`) rows. */
  def topKSketchStreaming(spark: SparkSession, dir: String,
      outPath: String, checkpoint: String, maxItems: Int = 256,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st24"): DataFrame = {
    import graft.functions.textstats
    val child = drainBatches(spark, name, checkpoint)(
      readDocumentsStream(_, dir, glob, maxFilesPerTrigger)) {
        (batch, batchId) =>
      writePartial(batch
        .select(explode(textstats.tokens(col("text"))).as("token"))
        .agg(expr(s"approx_top_k_accumulate(token, $maxItems)").as("st")),
        outPath, batchId)
    }
    readPartials(child, outPath)
      .agg(expr(s"approx_top_k_estimate(" +
        s"approx_top_k_combine(st, $maxItems), $maxItems)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("token"), col("e.count").as("est"))
  }

  /** STREAMING SCD2 INGEST — the warehouse fold-in in continuous form:
    * each micro-batch of events merges into the persisted type-2
    * dimension via [[graft.ops.Scd.applyChanges]] (within-batch chains,
    * boundary no-op filter, open rows close at the first new version).
    * The dimension lives as parquet snapshots KEYED BY BATCH ID
    * (write-next, advance — never read-while-overwrite); the returned
    * frame is the newest snapshot. ZERO streaming state: the dimension
    * table IS the state, restart-safe via the checkpointed source
    * offsets. EXACTLY-ONCE by construction: batch `n` always reads
    * snapshot `n-1` and OVERWRITES snapshot `n`, and Structured
    * Streaming replays a batch with the same id — so a replayed fold
    * recomputes the identical snapshot in place instead of stacking a
    * second application (StreamingSpec replay case). Requires
    * event-time-ordered arrival across micro-batches (the file source's
    * modification-time order — same contract as the other fold-ins);
    * within a batch any order is fine. Over a bounded drain the result
    * is EXACTLY the one-shot [[graft.ops.Scd.buildScd2]] over everything
    * that streamed — ScdSpec's split identity, iterated per micro-batch
    * — which is what st15's oracle (j8's one-shot SQL) hash-matches. */
  def scdIngestStreaming(spark: SparkSession, dir: String, workDir: String,
      keyCol: String, attrCol: String, where: Column = lit(true),
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st15"): DataFrame = {
    val dimSchema = StructType(Seq(
      StructField(keyCol, LongType),
      StructField("attr", DoubleType),
      StructField("valid_from", LongType),
      StructField("valid_to", LongType),
      StructField("is_current", BooleanType)))
    drainBatches(spark, name, s"$workDir/ckpt") { s =>
      // the empty seed is idempotent to (re)write; a restart's replayed
      // batches then rebuild their snapshots deterministically from it
      if (scdSnapshots(workDir).isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], dimSchema)
          .write.mode("overwrite").parquet(s"$workDir/dim_seed")
      // emptyOk: st15's documented contract — a drain whose glob matches
      // nothing returns the empty seed dimension (bounded drain: nothing
      // can arrive while it runs, so the fallback ts type is inert)
      readEventsStream(s, dir, glob, maxFilesPerTrigger, emptyOk = true)
        .filter(where)
        .select(col(keyCol), col(attrCol), col("ts"), col("event_id"))
    }(applyScdBatch(_, _, workDir, keyCol, attrCol))
    // a drain where NO micro-batch ever fired (empty/no-match source)
    // leaves only the seed — return the empty dimension rather than
    // throwing on max of an empty snapshot list
    val snaps = scdSnapshots(workDir)
    if (snaps.isEmpty) spark.read.parquet(s"$workDir/dim_seed")
    else spark.read.parquet(s"$workDir/dim_b${snaps.max}")
  }

  /** Batch-id-keyed dimension snapshots present under `workDir`. */
  private def scdSnapshots(workDir: String): Seq[Long] =
    Option(new java.io.File(workDir).listFiles()).toSeq
      .flatten.map(_.getName).filter(_.startsWith("dim_b"))
      .map(_.stripPrefix("dim_b").toLong)

  /** st15's per-batch body: snapshot `batchId` = applyChanges(snapshot
    * `batchId - 1`, batch), written with overwrite — deterministic and
    * idempotent under replay. */
  private[graft] def applyScdBatch(batch: DataFrame, batchId: Long,
      workDir: String, keyCol: String, attrCol: String): Unit = {
    import graft.ops.Scd
    val bs = batch.sparkSession
    val prev =
      if (batchId == 0) s"$workDir/dim_seed" else s"$workDir/dim_b${batchId - 1}"
    val cur = bs.read.parquet(prev)
    Scd.applyChanges(cur, batch, keyCol, attrCol, "ts", "event_id")
      .write.mode("overwrite").parquet(s"$workDir/dim_b$batchId")
  }

  /** STREAMING count-min sketch maintenance — the continuous form of
    * [[graft.ops.Sketches.countMin]], and the reason the sketch exists:
    * an unbounded key stream folds into a bounded counter grid. Each
    * micro-batch builds its own partial sketch (one map-side-combined
    * aggregate, ≤ depth×width rows) and appends it; the returned frame
    * re-aggregates the appended partials, which by the sketch's
    * associativity (SketchesSpec's slice-merge property) equals the
    * one-shot batch sketch over everything that streamed — so a10's
    * estimate oracle replays the streamed sketch exactly. ZERO streaming
    * state: the parquet partials ARE the state. EXACTLY-ONCE: each
    * batch's partial lands per-batch-overwrite ([[writePartial]]), so an
    * at-least-once replay replaces its own partial instead of
    * double-counting it (StreamingSpec replay case). */
  def sketchStreaming(spark: SparkSession, dir: String, outPath: String,
      depth: Int, width: Int, glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0,
      name: String = "graft_st13"): DataFrame = {
    drainBatches(spark, name, s"$outPath-ckpt")(
      readDocumentsStream(_, dir, glob, maxFilesPerTrigger))(
      applySketchBatch(_, _, outPath, depth, width))
    // read back on the CALLER's session: the sketch feeds straight into
    // batch probes (countMinEstimate joins) built there
    readPartials(spark, outPath)
      .groupBy(col("d"), col("bucket")).agg(sum(col("c")).as("c"))
  }

  /** st13's per-batch body — the representative [[writePartial]] sink
    * for the replay spec. */
  private[graft] def applySketchBatch(batch: DataFrame, batchId: Long,
      outPath: String, depth: Int, width: Int): Unit = {
    import graft.functions.textstats
    import graft.ops.Sketches
    writePartial(
      Sketches.countMin(
        batch.select(explode(textstats.tokens(col("text"))).as("token")),
        "token", depth, width),
      outPath, batchId)
  }

  /** STREAMING equi-width histogram maintenance — the continuous form of
    * [[graft.ops.Sketches.equiWidthHistogram]], same contract as
    * [[sketchStreaming]] (a10 ↔ st13): bounds are PINNED (in production
    * they come from table metadata — data-derived bounds can't exist
    * before the data has streamed), each micro-batch appends its own
    * ≤ `bins`-row partial histogram, and the returned re-aggregation
    * equals the one-shot pinned-bounds histogram of everything that
    * streamed, by the DECIMAL mass / count associativity SketchesSpec
    * locks. ZERO streaming state; the parquet partials are the
    * restart-safe state. */
  def histogramStreaming(spark: SparkSession, dir: String, outPath: String,
      valueCol: String, bins: Int, lo: Double, hi: Double,
      glob: String = "lineitem.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st16"): DataFrame = {
    import graft.ops.Sketches
    val schema = StructType(Seq(StructField(valueCol, DoubleType)))
    drainBatches(spark, name, s"$outPath-ckpt")(
      fileStream(_, schema, dir, glob, maxFilesPerTrigger)) {
        (batch, batchId) =>
      writePartial(
        Sketches.equiWidthHistogram(batch, valueCol, bins, Some((lo, hi))),
        outPath, batchId)
    }
    readPartials(spark, outPath)
      .groupBy(col("bin"), col("lo_edge"), col("hi_edge"))
      .agg(sum(col("n")).as("n"),
        sum(col("mass").cast("decimal(18,2)")).cast("double").as("mass"))
      .select(col("bin"), col("lo_edge"), col("hi_edge"), col("n"),
        col("mass"))
  }

  /** STREAMING DAILY-VOLUME maintenance — the feed for w13's EWMA
    * control chart in continuous form (st31): each micro-batch appends
    * its (event_type, day) partial counts (bounded by the types × days
    * the batch touches, never its rows), and the returned
    * re-aggregation is the EXACT one-shot daily frame by integer count
    * associativity — so the caller's sequential EWMA fold over it is
    * identical to the batch twin's, and st31 shares w13's oracle
    * verbatim. ZERO streaming state; the parquet partials are the
    * restart-safe state; a replay overwrites its own batch directory
    * ([[writePartial]]). */
  def dailyCountsStreaming(spark: SparkSession, dir: String,
      outPath: String, glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0,
      name: String = "graft_st31"): DataFrame = {
    drainBatches(spark, name, s"$outPath-ckpt")(
      readEventsStream(_, dir, glob, maxFilesPerTrigger))(
      applyDailyCountBatch(_, _, outPath))
    readPartials(spark, outPath)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** st31's per-batch body — an idempotent partial write of the batch's
    * daily counts. */
  private[graft] def applyDailyCountBatch(batch: DataFrame, batchId: Long,
      outPath: String): Unit =
    writePartial(
      batch.groupBy(col("event_type"),
          expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("cnt")),
      outPath, batchId)

  /** STREAMING data-quality expectations — the continuous form of
    * [[graft.ops.Expectations.validate]] (a11 ↔ st17), same contract as
    * [[sketchStreaming]]: each micro-batch appends ONE partial-counters
    * row ([[graft.ops.Expectations.condPartials]]) plus its
    * batch-distinct unique-key tuples, and the returned
    * [[graft.ops.Expectations.validateFromPartials]] re-aggregation
    * equals the one-shot validate over everything that streamed —
    * conditional counts sum, distinct-of-appended-batch-distincts is the
    * distinct of the union. ZERO streaming state; the parquet partials
    * are the restart-safe state. The key append is exact uniqueness's
    * inherent cost made explicit (one row per batch-distinct key — the
    * same shuffle mass the batch distinct pays; SCALING.md's a11 note:
    * swap for an HLL bound past the shuffle budget). */
  def expectationsStreaming(spark: SparkSession, dir: String,
      outPath: String, schema: StructType,
      checks: Seq[graft.ops.Expectations.CondCheck],
      uniqueName: String, keyCols: Seq[String],
      glob: String = "lineitem.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st17"): DataFrame = {
    import graft.ops.Expectations
    drainBatches(spark, name, s"$outPath-ckpt")(
      fileStream(_, schema, dir, glob, maxFilesPerTrigger))(
      applyExpectationsBatch(_, _, outPath, checks, keyCols))
    Expectations.validateFromPartials(
      readPartials(spark, s"$outPath/counters"), checks,
      uniqueName, readPartials(spark, s"$outPath/keys"))
  }

  /** st17's per-batch body: BOTH partial tables (counters + keys) write
    * per-batch-overwrite, so a replay replaces both slices coherently. */
  private[graft] def applyExpectationsBatch(batch: DataFrame,
      batchId: Long, outPath: String,
      checks: Seq[graft.ops.Expectations.CondCheck],
      keyCols: Seq[String]): Unit = {
    import graft.ops.Expectations
    writePartial(Expectations.condPartials(batch, checks),
      s"$outPath/counters", batchId)
    writePartial(batch.select(keyCols.map(col): _*).distinct(),
      s"$outPath/keys", batchId)
  }

  /** STREAMING trailing-7-day active users — w11's curve maintained
    * continuously: each micro-batch appends its batch-distinct
    * (user, epoch-day) activity marks — the deduped support set, NOT raw
    * events — and the returned re-aggregation (distinct marks → bounded
    * 7-day explode → distinct (user, window-day) → count) equals the
    * one-shot w11 over everything that streamed, because the marks
    * pipeline is DISTINCT-IDEMPOTENT: appending a mark twice changes
    * nothing. Zero streaming state; the mark table is the restart-safe
    * state and exactly the compact structure a production WAU job
    * maintains (marks grow with user-days, not events). */
  def wauStreaming(spark: SparkSession, dir: String, outPath: String,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st18"): DataFrame = {
    drainBatches(spark, name, s"$outPath-ckpt")(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)) { (batch, batchId) =>
      writePartial(batch.select(col("user_id"),
          expr("ts div 86400000000000").as("d"))
        .distinct(),
        outPath, batchId)
    }
    val ud = readPartials(spark, outPath).distinct()
    val bounds = ud.agg(max(col("d")).as("dmax"))
    ud.select(col("user_id"),
        explode(sequence(col("d"), col("d") + 6)).as("day"))
      .distinct()
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("dmax"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau"))
  }

  /** STREAMING corpus-drift counts — t31's divergence monitor fed
    * continuously: each micro-batch appends its partial per-(lang,
    * side, token) counts (one map-side-combined aggregate per batch;
    * the same deterministic h64-half `side` rule t31 uses), and the
    * returned re-aggregation equals the one-shot counts by sum
    * associativity — so a JS-divergence tail over the re-aggregated
    * counts reproduces t31 exactly and st20 shares its oracle verbatim.
    * ZERO streaming state; the count partials are the restart-safe
    * state, and their volume is vocabulary-bounded per batch, not
    * token-bounded. */
  def driftCountsStreaming(spark: SparkSession, dir: String,
      outPath: String, glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0,
      name: String = "graft_st20"): DataFrame = {
    import graft.functions.{hashing, textstats}
    drainBatches(spark, name, s"$outPath-ckpt")(
      readDocumentsStream(_, dir, glob, maxFilesPerTrigger)) {
        (batch, batchId) =>
      writePartial(batch.select(col("lang"),
          (hashing.h64(col("doc_id").cast("string")) % 2).cast("int")
            .as("side"),
          explode(textstats.tokens(col("text"))).as("t"))
        .groupBy(col("lang"), col("side"), col("t"))
        .agg(count(lit(1)).as("c")),
        outPath, batchId)
    }
    readPartials(spark, outPath)
      .groupBy(col("lang"), col("side"), col("t"))
      .agg(sum(col("c")).as("c"))
  }

  /** STREAMING GDPR ERASURE over an EXISTING [[graft.ops.Manifest]]
    * table — the right-to-be-forgotten pipeline at 100 TB: erasure
    * requests arrive continuously (here: `error` events from users with
    * `user_id % 10 = 3` are the planted tombstones — deterministic at
    * every scale factor; production substitutes its request topic), and
    * each micro-batch's requested keys hide
    * behind a DELETION VECTOR ([[graft.ops.Merge.deleteKeysDv]]) — a
    * metadata + position-sidecar commit, zero data files rewritten,
    * per-request cost ∝ the requester's rows. EXACTLY-ONCE BY
    * CONSTRUCTION without a txn stamp: a replayed batch's keys find
    * their rows already hidden behind the DV, match nothing, and
    * publish nothing (StreamingSpec replays a batch and asserts the
    * version is unchanged) — idempotence comes from the MoR read, not
    * from bookkeeping. Erasure is against the table's CURRENT state, so
    * the result is chunk-order-independent (the batch twin the oracle
    * replays: table minus all requested users' rows). Maintenance
    * (compaction / OPTIMIZE) later materializes the DVs away on the
    * normal cadence — physical erasure is the vacuum after it. */
  def erasureStreaming(spark: SparkSession, dir: String,
      tablePath: String, glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0,
      name: String = "graft_st32"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, s"$tablePath-ckpt")(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"), col("event_type"), col("value")))(
      applyErasureBatch(_, _, tablePath))
    Manifest.read(spark, tablePath)
  }

  /** ERASURE-AWARE STREAMING INGEST — the piece [[erasureStreaming]]
    * (st32) deliberately leaves open: st32 erases CURRENT state, so a
    * post-erasure batch carrying an erased user's rows would re-admit
    * them. Production closes the loop by PERSISTING the request set as
    * a tombstone table and gating ingest against it — the forget-list
    * every compliant ingest pipeline keeps. Per micro-batch, in order:
    *
    *  1. the batch's tombstone requests (the planted topic: `error`
    *     events of users with `user_id % 10 = 3`) append to the
    *     tombstone table — exactly-once via the txn stamp;
    *  2. the batch GATES against the FULL persisted tombstone set
    *     (this batch's requests included): rows of forgotten users are
    *     dropped at the door (a left-anti join, broadcast while the
    *     tombstone table's METADATA row count — zero I/O — is under
    *     the key gate, shuffle past it) and survivors append to the
    *     main table, exactly-once via the txn stamp;
    *  3. the batch's NEW tombstone keys erase the users' PREVIOUSLY
    *     ADMITTED rows behind a deletion vector
    *     ([[graft.ops.Merge.deleteKeysDv]]) — bounded by this batch's
    *     request set, idempotent by MoR construction (a replay matches
    *     nothing), zero data files rewritten.
    *
    * Any crash/replay interleaving converges: steps 1 and 2 are
    * txn-stamped (replays commit nothing), step 3 re-runs harmlessly.
    * The final state is chunk-order independent — main = every event
    * whose user never requested erasure — which is exactly the one-shot
    * set subtraction the oracle replays; WHERE a given suppressed row
    * was stopped (gated at ingest vs DV'd after admission) depends on
    * arrival order, so only the union is part of the contract
    * (StreamingSpec pins both routes with ordered chunks). Main-table
    * commits record `user_id` stats so the erase step's match scan
    * stays stats-prunable. Returns the final main-table read on the
    * caller's session. */
  def tombstoneIngestStreaming(spark: SparkSession, dir: String,
      tablePath: String, tombstonePath: String,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st33"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, s"$tablePath-ckpt")(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"), col("event_type"), col("value")))(
      applyTombstoneIngestBatch(_, _, tablePath, tombstonePath))
    Manifest.read(spark, tablePath)
  }

  /** [[tombstoneIngestStreaming]]'s per-batch body (see the three-step
    * contract there). Skip-empty on both tables; the gate's broadcast
    * decision reads the tombstone table's metadata row count — no job. */
  private[graft] def applyTombstoneIngestBatch(batch: DataFrame,
      batchId: Long, tablePath: String, tombstonePath: String): Unit = {
    import graft.ops.{Manifest, Merge}
    val requests = batch
      .filter(col("event_type") === "error" &&
        pmod(col("user_id"), lit(10)) === 3)
      .select(col("user_id")).distinct()
    if (!requests.isEmpty)
      Manifest.commitOnce(requests, tombstonePath, "st33_tombs", batchId,
        statsCols = Seq("user_id"))
    // gate against the FULL forget-list (this batch's requests included
    // — committed above, and a replay sees them committed already)
    val forget = Manifest.at(tombstonePath)
    val admitted =
      if (forget.version == 0L) batch
      else {
        val tombs = forget.read(batch.sparkSession)
          .select(col("user_id")).distinct()
        val hinted = // metadata-only size gate: zero I/O to decide
          if (forget.rowCount.exists(_ <= Merge.DefaultBroadcastKeyLimit))
            broadcast(tombs)
          else tombs
        batch.join(hinted, Seq("user_id"), "left_anti")
      }
    if (!admitted.isEmpty)
      Manifest.commitOnce(admitted, tablePath, "st33_main", batchId,
        statsCols = Seq("user_id"))
    // erase the batch's NEW tombstone users' previously-admitted rows;
    // bounded by the request set, idempotent by MoR (replays match
    // nothing), no-op when the main table doesn't exist yet
    if (Manifest.version(tablePath) > 0L && !requests.isEmpty)
      Merge.deleteKeysDv(batch.sparkSession, tablePath, requests,
        "user_id")
    ()
  }

  /** [[erasureStreaming]]'s per-batch body: extract the batch's erasure
    * requests, hide the requested keys' rows behind a deletion vector.
    * A batch with no requests — or a REPLAYED batch, whose keys are
    * already hidden — publishes nothing. */
  private[graft] def applyErasureBatch(batch: DataFrame, batchId: Long,
      tablePath: String): Unit = {
    val requests = batch
      .filter(col("event_type") === "error" &&
        pmod(col("user_id"), lit(10)) === 3)
      .select(col("user_id"))
    graft.ops.Merge.deleteKeysDv(batch.sparkSession, tablePath,
      requests, "user_id")
    ()
  }

  /** STREAMING ingest through [[graft.ops.Manifest]] commits — the
    * STORAGE twin of the fold-in family (dedup st11, sketch st13,
    * vectors st14, dimensions st15): each micro-batch becomes ONE atomic
    * versioned commit, so a downstream reader only ever sees whole
    * batches — never a half-written file set — and can time-travel the
    * ingest history batch by batch. Zero streaming state; the manifest
    * IS the state. EXACTLY-ONCE: commits go through
    * [[graft.ops.Manifest.commitOnce]] — the batch id is stamped into
    * the committed version's own manifest, so an at-least-once replay
    * (restart after a crash between the table commit and the streaming
    * commit-log write) is recognized and dropped instead of appending
    * the batch twice (StreamingSpec replay case). Returns the final
    * table read on the caller's session. */
  def commitStreaming(spark: SparkSession, dir: String, tablePath: String,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st_commit"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, s"$tablePath-ckpt")(
      readDocumentsStream(_, dir, glob, maxFilesPerTrigger))(
      applyCommitBatch(_, _, tablePath))
    Manifest.read(spark, tablePath)
  }

  /** [[commitStreaming]]'s per-batch body — the representative
    * Manifest-sink for the replay spec.
    *
    * SKIP-EMPTY CONTRACT (the whole Manifest streaming family): a sink
    * never publishes a version for a batch that contributes ZERO rows
    * to that table — version history counts contributing batches only,
    * keeping time travel and change feeds meaningful under idle
    * triggers. The one sanctioned exception is a WATERMARK-CARRYING
    * commit ([[graft.ops.ChangeFeed.syncReplica]] applying a flagged
    * compaction, [[graft.ops.Materialize.refresh]]): there the zero-row
    * version IS the record that a source version was seen and changed
    * nothing — dropping it would lose the resume point. */
  private[graft] def applyCommitBatch(batch: DataFrame, batchId: Long,
      tablePath: String): Unit = {
    if (!batch.isEmpty)
      graft.ops.Manifest.commitOnce(batch, tablePath, "st_ingest", batchId)
    ()
  }

  /** STREAMING ingest behind the TABLE'S OWN CHECK CONSTRAINTS, with a
    * QUARANTINE — s24's write gate in continuous form, resolved the way
    * a stream must: aborting a micro-batch would stall the pipeline, so
    * each batch SPLITS instead — rows passing every constraint recorded
    * on the target table ([[graft.ops.Manifest.Snapshot.constraints]])
    * commit there, violating rows commit to the quarantine table tagged
    * with a `violated` column naming the failed constraint(s) (the
    * dead-letter contract: nothing is dropped, every quarantined row
    * says why).
    * Both commits are atomic appends through
    * [[graft.ops.Manifest.commitOnce]] (each table tracks its own
    * applied-batch watermark, so a replay after either commit landed
    * re-applies NEITHER); a slice that is EMPTY for a batch commits
    * nothing — a clean batch publishes no quarantine version and an
    * all-violators batch publishes no main version, so version history
    * on each table counts only batches that actually contributed rows
    * (the skip-empty-commit contract, StreamingSpec-pinned). The main
    * commit re-passes the s24 gate by construction (clean rows
    * re-validate for free as defense in depth). Zero streaming state.
    * Returns the final main table. */
  def gatedCommitStreaming(spark: SparkSession, dir: String,
      tablePath: String, quarantinePath: String,
      project: DataFrame => DataFrame = identity,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      checkpoint: String, name: String = "graft_st28"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)) { (batch, batchId) =>
      applyGatedBatch(project(batch), batchId, tablePath, quarantinePath)
    }
    Manifest.read(spark, tablePath)
  }

  /** st28's per-batch body: constraint-split the batch, commit each
    * NON-EMPTY slice exactly once to its table. */
  private[graft] def applyGatedBatch(batch: DataFrame, batchId: Long,
      tablePath: String, quarantinePath: String): Unit = {
    import graft.ops.Manifest
    val cs = Manifest.at(tablePath).constraints
    require(cs.nonEmpty,
      s"gated ingest needs CHECK constraints on $tablePath")
    val names = cs.keys.toSeq.sorted
    val vcol = array_join(filter(array(names.map(n =>
      when(!expr(cs(n)), lit(n))): _*), x => x.isNotNull), ",")
    val tagged = batch.withColumn("__violated", vcol)
    val clean = tagged.filter(col("__violated") === "").drop("__violated")
    val viol = tagged.filter(col("__violated") =!= "")
      .withColumnRenamed("__violated", "violated")
    if (!clean.isEmpty)
      Manifest.commitOnce(clean, tablePath, "st_gated", batchId)
    if (!viol.isEmpty)
      Manifest.commitOnce(viol, quarantinePath, "st_gated", batchId)
    ()
  }

  /** STREAMING ingest through a PER-BATCH PROBE — [[commitStreaming]]
    * with a transformation between source and table: each micro-batch
    * runs `probe` (an external-probe / enrichment pass — the m7 media
    * box walk, a parser, a feature extractor) and commits ITS OUTPUT as
    * one atomic append to the [[graft.ops.Manifest]] table. The
    * continuous form of the sidecar pattern: payload bytes are touched
    * exactly once, on arrival, and everything downstream reads only the
    * versioned probe results. Zero streaming state; probe cost ∝ the
    * batch. EXACTLY-ONCE via [[graft.ops.Manifest.commitOnce]]: a
    * replayed batch re-probes (idempotent read work) but never commits
    * a second sidecar version. Returns the final sidecar table. */
  def probedCommitStreaming(spark: SparkSession, dir: String,
      tablePath: String, probe: DataFrame => DataFrame,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0,
      checkpoint: String, name: String = "graft_st27"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint)(
      readDocumentsStream(_, dir, glob, maxFilesPerTrigger)) {
        (batch, batchId) =>
      // commitOnce short-circuits BEFORE the probe on a replayed id:
      // check first, probe only when the batch is new and NON-EMPTY
      // (skip-empty contract, applyCommitBatch scaladoc)
      if (Manifest.lastTxn(tablePath, "st_probe") < batchId &&
          !batch.isEmpty)
        Manifest.commitOnce(probe(batch), tablePath, "st_probe", batchId)
      ()
    }
    Manifest.read(spark, tablePath)
  }

  /** STREAMING ingest + INCREMENTAL AGGREGATE MAINTENANCE — s20's
    * refresh loop fused into the drain (the st19-for-materialized-views
    * twin): each micro-batch lands as ONE atomic append commit to the
    * source [[graft.ops.Manifest]] table and is immediately folded into
    * the materialized aggregate by [[graft.ops.Materialize.refresh]],
    * whose delta read touches ONLY that commit's files. EXACTLY-ONCE at
    * BOTH stages: the source commit goes through
    * [[graft.ops.Manifest.commitOnce]] (a replayed batch id commits no
    * second source version), and the fold is guarded by the aggregate's
    * own `#source_version=` watermark — advanced atomically WITH the
    * fold, so a crash between commit and fold just re-folds the same
    * delta on restart, and a replay after both landed re-applies
    * neither (StreamingSpec replay case). ZERO streaming state: the two
    * manifest tables ARE the restart-safe state. Under the
    * map-side-combine law the folded aggregate EQUALS the one-shot
    * aggregate over everything that streamed (StreamingSpec asserts it
    * across 4 micro-batches), which is what the shared oracle
    * hash-checks. Returns the final materialized aggregate. */
  def refreshingCommitStreaming(spark: SparkSession, dir: String,
      sourcePath: String, aggPath: String,
      partial: DataFrame => DataFrame, merge: DataFrame => DataFrame,
      project: DataFrame => DataFrame = identity,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      checkpoint: String, name: String = "graft_st25"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)) { (batch, batchId) =>
      applyRefreshingBatch(project(batch), batchId, sourcePath, aggPath,
        partial, merge)
    }
    Manifest.read(spark, aggPath)
  }

  /** st25's per-batch body: exactly-once source commit, then the
    * watermark-guarded fold (a no-op when the aggregate already folded
    * through the source head — the replay path). */
  private[graft] def applyRefreshingBatch(batch: DataFrame, batchId: Long,
      sourcePath: String, aggPath: String,
      partial: DataFrame => DataFrame,
      merge: DataFrame => DataFrame): Unit = {
    import graft.ops.{Manifest, Materialize}
    // skip-empty contract (applyCommitBatch scaladoc): an idle batch
    // publishes no source version; refresh then sees no new delta
    if (!batch.isEmpty) {
      Manifest.commitOnce(batch, sourcePath, "st_ingest", batchId)
      Materialize.refresh(batch.sparkSession, sourcePath, aggPath,
        partial, merge)
    }
    ()
  }

  /** STREAMING ingest + CDC REPLICA MAINTENANCE — the row-level twin of
    * [[refreshingCommitStreaming]] (st26 = st25 for DERIVED TABLES):
    * each micro-batch lands as ONE atomic append commit on the source
    * [[graft.ops.Manifest]] table and is immediately applied to the
    * downstream replica by [[graft.ops.ChangeFeed.syncReplica]] — an
    * append-only feed, so every apply is a join-free append of
    * `transform`(batch) and per-batch cost is ∝ the batch. Every
    * `compactEvery` batches the source ALSO auto-compacts (the st19
    * maintenance loop), publishing the replace with the
    * `data_change=false` writer flag — so the sync skips it without a
    * diff, exactly how OPTIMIZE traffic must vanish for CDC consumers
    * at 100 TB. EXACTLY-ONCE at every stage: ingest and compaction
    * commits go through [[graft.ops.Manifest.commitOnce]] (compaction
    * cadence derives from the BATCH ID, not a run-local counter, so it
    * is deterministic across restarts), and the replica apply is
    * guarded by its own per-version `#source_version=` watermark — a
    * replayed batch commits nothing new and syncs zero steps
    * (StreamingSpec replay case). ZERO streaming state: both manifest
    * tables are the restart-safe state. Returns the final replica. */
  def replicatingCommitStreaming(spark: SparkSession, dir: String,
      sourcePath: String, replicaPath: String, keyCols: Seq[String],
      transform: DataFrame => DataFrame,
      project: DataFrame => DataFrame = identity,
      compactEvery: Int = 0, targetFiles: Int = 2,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      checkpoint: String, name: String = "graft_st26"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)) { (batch, batchId) =>
      applyReplicatingBatch(project(batch), batchId, sourcePath,
        replicaPath, keyCols, transform, compactEvery, targetFiles)
    }
    Manifest.read(spark, replicaPath)
  }

  /** st26's per-batch body: exactly-once ingest commit, batch-id-paced
    * exactly-once compaction, watermark-guarded replica sync. */
  private[graft] def applyReplicatingBatch(batch: DataFrame, batchId: Long,
      sourcePath: String, replicaPath: String, keyCols: Seq[String],
      transform: DataFrame => DataFrame, compactEvery: Int,
      targetFiles: Int): Unit = {
    import graft.ops.{ChangeFeed, Manifest}
    val bs = batch.sparkSession
    // skip-empty contract (applyCommitBatch scaladoc); compaction pacing
    // stays on the batch id so cadence survives idle batches unchanged
    if (!batch.isEmpty)
      Manifest.commitOnce(batch, sourcePath, "st_ingest", batchId)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      Manifest.commitOnce(
        Manifest.read(bs, sourcePath).coalesce(targetFiles),
        sourcePath, "st_compact", batchId, replace = true,
        meta = Map(ChangeFeed.DataChangeKey -> "false"))
    ChangeFeed.syncReplica(bs, sourcePath, replicaPath, keyCols,
      transform)
    ()
  }

  /** STREAMING ingest with PERIODIC AUTO-COMPACTION —
    * [[commitStreaming]] plus [[graft.ops.Layout]]-style maintenance
    * folded into ONE continuous loop (the auto-OPTIMIZE every lakehouse
    * runs, because streaming ingest is precisely what CREATES the
    * small-files problem s17 fixes offline): each micro-batch lands as
    * one atomic append commit, and after every `every` appends a
    * REPLACE commit rewrites the accumulated file set down to
    * `targetFiles` files. Compaction is content-neutral (s16's proof
    * obligation), so the final read equals everything that streamed
    * whatever the cadence — st19 shares the plain content-aggregate
    * oracle. Pre-compaction versions stay readable (data files are
    * never deleted); zero streaming state — the manifest is the state. */
  def compactingCommitStreaming(spark: SparkSession, dir: String,
      tablePath: String, every: Int, targetFiles: Int = 2,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st19"): DataFrame = {
    import graft.ops.Manifest
    require(every > 0, "compaction cadence must be positive")
    drainBatches(spark, name, s"$tablePath-ckpt")(
      readDocumentsStream(_, dir, glob, maxFilesPerTrigger))(
      applyCompactingBatch(_, _, tablePath, every, targetFiles))
    Manifest.read(spark, tablePath)
  }

  /** st19's per-batch body: exactly-once append, then an exactly-once
    * compaction replace every `every` batches — cadence from the batch
    * id, deterministic across restarts. */
  private[graft] def applyCompactingBatch(batch: DataFrame, batchId: Long,
      tablePath: String, every: Int, targetFiles: Int): Unit = {
    import graft.ops.Manifest
    val bs = batch.sparkSession
    // skip-empty contract (applyCommitBatch scaladoc)
    if (!batch.isEmpty)
      Manifest.commitOnce(batch, tablePath, "st_ingest", batchId)
    if ((batchId + 1) % every == 0)
      Manifest.commitOnce(
        Manifest.read(bs, tablePath).coalesce(targetFiles),
        tablePath, "st_compact", batchId, replace = true)
    ()
  }

  /** STREAMING RESAMPLE STATE — w12's as-of daily state maintained
    * continuously (the feature-store write path: per entity per day,
    * the day's last value): each micro-batch appends ONE batch-argmax
    * row per (user, day) it touches — bounded by the batch's key
    * spread, never its event count — via [[writePartial]] (per-batch
    * overwrite, so an at-least-once replay replaces its own partial;
    * the replay battery's writePartial case covers the family). The
    * returned frame re-argmaxes the partials: argmax is ASSOCIATIVE on
    * the unique (ts, event_id) order, so the re-aggregation EQUALS the
    * one-shot daily frame whatever the batch boundaries — which is why
    * st30 shares w12's oracle verbatim (the grid + forward-fill tail
    * runs downstream of this readout). ZERO streaming state; the
    * partial table is the restart-safe state. */
  def resampleStreaming(spark: SparkSession, dir: String, outPath: String,
      checkpoint: String, userCap: Int = 50,
      glob: String = "events.parquet", maxFilesPerTrigger: Int = 0,
      name: String = "graft_st30"): DataFrame = {
    drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)
        .filter(col("user_id") < userCap))(
      applyResampleBatch(_, _, outPath))
    readPartials(spark, outPath)
      .groupBy(col("user_id"), col("d"))
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .as("__m"))
      .select(col("user_id"), col("d"), col("__m.value").as("v"))
  }

  /** st30's per-batch body: one map-side-combined argmax per touched
    * (user, day), landed per-batch-overwrite. */
  private[graft] def applyResampleBatch(batch: DataFrame, batchId: Long,
      outPath: String): Unit =
    writePartial(batch
      .select(col("user_id"), expr("ts div 86400000000000").as("d"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .as("__m"))
      .select(col("user_id"), col("d"), col("__m.ts").as("ts"),
        col("__m.event_id").as("event_id"), col("__m.value").as("value")),
      outPath, batchId)

  /** STREAMING MERGE — the row-level upsert drain (the CDC-compaction
    * materialization every warehouse keeps: "latest row per key"): each
    * micro-batch reduces to its newest row per user (max (ts, event_id)
    * — deterministic, ids unique) and MERGEs into the target through
    * [[graft.ops.Merge.upsertOnce]] — the copy-on-write upsert, so only
    * files containing arriving keys rewrite and the (appId, batchId) txn
    * stamp publishes atomically with the merge version (a crash-replay
    * merges NOTHING — StreamingSpec replay case). The first batch
    * CREATES the table (Merge's create-or-merge shape). Requires
    * event-time-ordered arrival across micro-batches (the file source's
    * mtime order — st15's contract): upsert is last-writer-wins, so a
    * later batch must not carry an older row. Over a bounded drain the
    * table equals the one-shot per-user argmax over everything that
    * streamed — which is what the shared oracle replays. ZERO streaming
    * state; the manifest table IS the state. Returns the final table. */
  def mergeCommitStreaming(spark: SparkSession, dir: String,
      tablePath: String, glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0, checkpoint: String,
      name: String = "graft_st29"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint)(
      readEventsStream(_, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value")))(
      applyMergeBatch(_, _, tablePath))
    Manifest.read(spark, tablePath)
  }

  /** st29's per-batch body: batch-local latest per key (lexicographic
    * struct max on the unique (ts, event_id)), then the exactly-once
    * copy-on-write upsert; empty batches merge nothing (skip-empty
    * contract, applyCommitBatch scaladoc). */
  private[graft] def applyMergeBatch(batch: DataFrame, batchId: Long,
      tablePath: String): Unit = {
    import graft.ops.Merge
    if (!batch.isEmpty) {
      val latest = batch.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("__m"))
        .select(col("user_id"), col("__m.ts").as("ts"),
          col("__m.event_id").as("event_id"),
          col("__m.event_type").as("event_type"),
          col("__m.value").as("value"))
      Merge.upsertOnce(batch.sparkSession, tablePath, latest,
        Seq("user_id"), "st_merge", batchId)
    }
    ()
  }

  /** Ordered-step session FUNNEL — the conversion question sessionization
    * exists to answer: of all gap-delimited sessions, how many reached
    * step 1, steps 1→2 in order, 1→2→3 in order (each step's first
    * occurrence strictly after the previous step's)? Returns ONE row:
    * total sessions, a `reached_<step>` count per step, and the
    * end-to-end conversion rate. Scale shape: the session id is the
    * standard per-user break/cumsum window (one shuffle on user), the
    * per-session step times are a min-CASE aggregate (map-side combined),
    * and the funnel itself folds over one bounded row per session. */
  def sessionFunnelBatch(events: DataFrame, steps: Seq[String],
      gapNs: Long = SessionGapNs): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = events
      .withColumn("__brk",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gapNs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val stepAggs = steps.zipWithIndex.map { case (st, i) =>
      min(when(col("event_type") === st, col("ts"))).as(s"__t$i")
    }
    val per = sess.groupBy(col("user_id"), col("__sid"))
      .agg(stepAggs.head, stepAggs.tail: _*)
    val reached = steps.indices.map { k =>
      val present = (0 to k).map(i => col(s"__t$i").isNotNull)
        .reduce(_ && _)
      val ordered = (1 to k).map(i => col(s"__t$i") > col(s"__t${i - 1}"))
        .foldLeft(lit(true))(_ && _)
      sum(when(present && ordered, 1L).otherwise(0L))
        .as(s"reached_${steps(k)}")
    }
    per.agg(count(lit(1)).as("sessions"), reached: _*)
      .withColumn("conversion",
        round(col(s"reached_${steps.last}").cast("double") /
          col("sessions"), 4))
  }

  /** Batch twin of [[closedSessionsStreaming]]: sessions that have a
    * successor (the per-user final session is still open). */
  def closedSessionsBatch(events: DataFrame,
      gapNs: Long = SessionGapNs): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = events
      .withColumn("__brk",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gapNs, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("startTs"), max(col("ts")).as("endTs"),
        count(lit(1)).as("events"))
    val lastSid = sess.groupBy("user_id").agg(max(col("__sid")).as("__last"))
    sess.join(lastSid, Seq("user_id"))
      .filter(col("__sid") =!= col("__last"))
      .select(col("user_id"), col("startTs"), col("endTs"), col("events"))
  }

  /** Batch sessionization: per user, a session break occurs when the gap
    * since the previous event exceeds `gapNs`. Exact integer arithmetic on
    * nano timestamps; one shuffle (window on user_id). */
  def sessionizeBatch(events: DataFrame, gapNs: Long = SessionGapNs): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__brk",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gapNs, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("__brk")).as("sessions"), count(lit(1)).as("events"))
  }

  case class SessState(lastTs: Long, sessions: Long, events: Long)

  /** STREAMING QUARANTINED INGEST — the WAP pattern at stream scale,
    * onto a writable BRANCH: micro-batches tail the upstream table's
    * commit log and land as BRANCH commits on `tablePath` — the main
    * chain never moves, no reader sees a streamed row, and the
    * fork-frozen CHECK constraints gate every batch — until the caller
    * audits the branch view ([[graft.ops.Manifest.readBranch]]) and
    * promotes it with ONE metadata-only
    * [[graft.ops.Manifest.fastForward]] (or abandons with dropBranch).
    * EXACTLY-ONCE by construction: each batch commits through
    * [[graft.ops.Manifest.commitBranchOnce]] (the batchId-stamped
    * branch txn), so a replayed batch lands nothing. The branch must
    * exist; `laterChunks` append to the upstream between drains (the
    * st36 test-drive shape). */
  def branchIngestStreaming(spark: SparkSession, upstream: String,
      tablePath: String, branch: String, laterChunks: Seq[DataFrame],
      checkpoint: String, name: String = "graft_st38"): Unit = {
    drainBatches(spark, name, checkpoint, commitsTo(upstream, laterChunks))(
      readTableStream(_, upstream))(
      applyBranchBatch(_, _, tablePath, branch))
    ()
  }

  /** [[branchIngestStreaming]]'s per-batch body (skip-empty contract,
    * [[applyCommitBatch]] scaladoc): a non-empty batch lands as ONE
    * exactly-once branch commit; a replayed batchId lands nothing. */
  private[graft] def applyBranchBatch(batch: DataFrame, batchId: Long,
      tablePath: String, branch: String): Unit = {
    if (!batch.isEmpty)
      graft.ops.Manifest.commitBranchOnce(batch, tablePath, branch,
        "st_branch", batchId)
    ()
  }

  /** `readStream` a [[graft.ops.Manifest]] table — the table's commit
    * log as the streaming source ([[graft.sources.TableStreamProvider]]):
    * batch 1 is the snapshot at stream start, every later batch is the
    * rows appended by new versions. Non-append commits fail the stream
    * loudly unless `skipChangeCommits`. */
  def readTableStream(spark: SparkSession, tablePath: String,
      skipChangeCommits: Boolean = false,
      startAfterVersion: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("graft.sources.TableStreamProvider")
      .option("skipChangeCommits", skipChangeCommits.toString)
    startAfterVersion.fold(r)(v =>
      r.option("startingVersion", v.toString)).load(tablePath)
  }

  /** BOUNDED CATCH-UP through the commit-log source (st37): tail an
    * upstream whose BACKLOG predates the stream (`startingVersion=0`,
    * so every version serves as tail batches, never one snapshot) under
    * `maxFilesPerTrigger` admission control — the recovery shape at
    * scale: a stream restarted N versions behind drains in batches of
    * bounded file count instead of one OOM-sized backlog batch. Each
    * micro-batch commits downstream exactly-once (commitOnce), so the
    * downstream VERSION COUNT is the observable batch count. Returns
    * the downstream read. */
  def tableTailCatchupStreaming(spark: SparkSession, upstream: String,
      downstream: String, checkpoint: String, maxFilesPerTrigger: Int,
      name: String = "graft_st37"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint)(
      _.readStream.format("graft.sources.TableStreamProvider")
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .load(upstream))(
      applyTableTailBatch(_, _, downstream))
    Manifest.read(spark, downstream)
  }

  /** TABLE-TO-TABLE streaming replication through the commit-log source
    * (st34): tail `upstream`, commit each micro-batch to `downstream`
    * exactly-once ([[graft.ops.Manifest.commitOnce]] — a replayed batch
    * after a checkpoint recovery publishes nothing). The drive commits
    * `laterChunks` to the upstream between drains, so the tail serves
    * its initial snapshot plus one-or-more append batches; the final
    * downstream CONTENT is drain-boundary independent (which rows share
    * a downstream version is not contractual). Returns the downstream
    * read. */
  def tableTailStreaming(spark: SparkSession, upstream: String,
      downstream: String, laterChunks: Seq[DataFrame],
      checkpoint: String, name: String = "graft_st34"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint, commitsTo(upstream, laterChunks))(
      readTableStream(_, upstream))(
      applyTableTailBatch(_, _, downstream))
    Manifest.read(spark, downstream)
  }

  /** [[tableTailStreaming]]'s per-batch body (skip-empty contract, see
    * [[applyCommitBatch]]). */
  private[graft] def applyTableTailBatch(batch: DataFrame, batchId: Long,
      downstream: String): Unit = {
    if (!batch.isEmpty)
      graft.ops.Manifest.commitOnce(batch, downstream, "st_tail", batchId)
    ()
  }

  /** CDC REPLICATION through the commit-log source (st35) — what the
    * plain tail refuses, served and applied: `readChangeFeed=true`
    * streams the upstream's CHANGE IMAGES (snapshot-as-inserts, then
    * per-version inserts / deletes / update images), and each
    * micro-batch folds into the replica by latest-change-per-key. The
    * replica tracks the upstream EXACTLY through deletion-vector
    * deletes, merge-on-read updates and copy-on-write merges — the
    * full lakehouse write surface — while the per-batch work stays
    * bounded by the batch's change set (the replica-side upsert is the
    * stats-pruned COW merge, the delete is merge-on-read). `actions`
    * mutate the upstream between drains, so one run exercises
    * multi-version batches. Returns the replica read. */
  def cdcTailStreaming(spark: SparkSession, upstream: String,
      replica: String, keyCol: String, actions: Seq[() => Unit],
      checkpoint: String, name: String = "graft_st35"): DataFrame = {
    import graft.ops.Manifest
    drainBatches(spark, name, checkpoint, actions)(
      _.readStream.format("graft.sources.TableStreamProvider")
        .option("readChangeFeed", "true").option("keyCols", keyCol)
        .load(upstream))(
      applyCdcTailBatch(_, _, replica, keyCol))
    Manifest.read(spark, replica)
  }

  /** [[cdcTailStreaming]]'s per-batch body: reduce the batch's change
    * images to the LATEST state per key (postimages/inserts outrank the
    * delete/preimage halves of the same version — a merge-on-read
    * UPDATE arrives as delete+insert at one version), then apply
    * deletes as a merge-on-read key delete (idempotent by MoR: a
    * replayed batch's keys are already hidden and match nothing) and
    * upserts through the txn-stamped COW merge (a replayed batch merges
    * nothing). Either half may land before a crash; the replay
    * CONVERGES — re-deleting hidden keys is a no-op, the stamp gates
    * the merge — so the replica is exactly-once per batch without a
    * cross-table transaction. */
  private[graft] def applyCdcTailBatch(batch: DataFrame, batchId: Long,
      replica: String, keyCol: String): Unit = {
    import graft.ops.{ChangeFeed, Checkpoints, Manifest, Merge}
    if (batch.isEmpty) return
    val sp = batch.sparkSession
    val vc = ChangeFeed.VersionCol
    val tc = ChangeFeed.TypeCol
    val cols = batch.columns.filterNot(c => c == vc || c == tc).toSeq
    val pri = when(col(tc).isin("insert", "update_postimage"), 1)
      .otherwise(0)
    // one bounded reduction over the batch, checkpointed because both
    // halves consume it (and the upsert half must not re-plan a frame
    // whose input the delete half just versioned)
    val latest = Checkpoints.checkpoint(batch
      .groupBy(col(keyCol).as("__k"))
      .agg(max_by(
        struct(col(tc).as("t"), struct(cols.map(col): _*).as("r")),
        struct(col(vc), pri.as("p"))).as("m"))
      .select(col("m.t").as("__t"), col("m.r.*")))
    val dels = latest.filter(col("__t") === "delete").select(col(keyCol))
    val ups = latest.filter(col("__t") =!= "delete").drop("__t")
    // ONE slice-count job over the checkpointed reduction gates both
    // halves (was two take(1) probes — per-batch driver constants are
    // half this query's wall, guide §1.5/§2.6)
    val slices = latest.groupBy(col("__t") === "delete")
      .agg(count(lit(1))).collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    if (Manifest.version(replica) > 0 && slices.getOrElse(true, 0L) > 0L)
      Merge.deleteKeysDv(sp, replica, dels, keyCol)
    if (slices.getOrElse(false, 0L) > 0L)
      Merge.upsertOnce(sp, replica, ups, Seq(keyCol), "st_cdc_tail",
        batchId)
    ()
  }

  /** Streaming twin of [[sessionizeBatch]] via mapGroupsWithState. Events
    * within a group arrive in ts order only within a batch, so the state
    * fold sorts each batch's slice — correct as long as a user's events
    * don't straddle batches out of order (guaranteed here by the single-file
    * source; a production topology would use event-time watermarks +
    * flatMapGroupsWithState with timeout-based emission). */
  def sessionizeStreaming(spark: SparkSession, dir: String,
      gapNs: Long = SessionGapNs, name: String = "graft_st2"): DataFrame = {
    import spark.implicits._
    val updater = (userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[SessState]) => {
      val sorted = rows.toSeq.sortBy(identity)
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
      sorted.foreach { case (ts, _) =>
        val newSession = st.events == 0L || ts - st.lastTs > gapNs
        st = SessState(ts, st.sessions + (if (newSession) 1L else 0L),
          st.events + 1L)
      }
      state.update(st)
      (userId, st.sessions, st.events)
    }
    drain(spark, name)(s => readEventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updater)
      .toDF("user_id", "sessions", "events")
      .writeStream.outputMode(OutputMode.Update()))
  }
}
