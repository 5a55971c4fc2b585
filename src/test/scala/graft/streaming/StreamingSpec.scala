package graft.streaming

import graft.SparkSpec
import graft.queries.QueryDSL

/** The stateful streaming paths must reproduce their batch twins exactly
  * (the batch twins are what the DuckDB oracle checks). */
class StreamingSpec extends SparkSpec {

  test("streaming sessionization == batch sessionization") {
    val batch = Streams.sessionizeBatch(QueryDSL.events(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streaming = Streams.sessionizeStreaming(spark, sf, name = "st2_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streaming == batch)
  }

  test("flatMapGroupsWithState session log == batch closed sessions") {
    val batch = Streams.closedSessionsBatch(QueryDSL.events(spark, sf))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streaming = Streams.closedSessionsStreaming(spark, sf, name = "st3_spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("session_window merges an event at exactly last + gap " +
    "(boundary contract the st6 oracle must mirror with diff > gap)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val df = Seq(
      (1L, java.sql.Timestamp.from(base)),
      (1L, java.sql.Timestamp.from(base.plusSeconds(1800))), // == gap: merge
      (1L, java.sql.Timestamp.from(base.plusSeconds(3601)))) // > gap: break
      .toDF("user_id", "ts_utc")
    val events = df
      .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes"))
      .agg(count(lit(1)).as("events"))
      .collect().map(_.getLong(2)).sorted.toSeq
    assert(events == Seq(1L, 2L),
      s"expected sessions of 2 (boundary merged) and 1, got $events")
  }

  test("streaming LSH band join == batch MinHash banding candidates") {
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.hashedShingles(docs, "doc_id", "text", 3)))
    val batch = bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.bandKey") === col("y.bandKey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streaming = Streams.lshCandidatesStreaming(spark, sf, "st8_spec")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("windowed streaming LSH == batch banding within the horizon; " +
    "join state stays bounded across micro-batches (eviction works)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // chunk the corpus into 4 event-time-ordered files so the drain runs
    // as 4 micro-batches (maxFilesPerTrigger = 1) and the watermark
    // actually advances between batches
    val srcDir = Files.createTempDirectory("st9_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st9_chunk$i")
      docs.filter(col("doc_id") >= i * 125 && col("doc_id") < (i + 1) * 125)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      // file source processes in modification-time order: pin it
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val streaming = Streams.lshCandidatesStreamingWindowed(spark,
        srcDir.toString, horizonMinutes = 30, name = "st9_spec",
        glob = "documents_*.parquet", maxFilesPerTrigger = 1)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stateRows = Streams.lastDrainStateRows.get()
    // batch twin: banding candidates restricted to the horizon
    // (ts = doc_id * 600 s, 30 min ⟺ b - a <= 3)
    val bands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.hashedShingles(docs, "doc_id", "text", 3)))
    val batch = bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.bandKey") === col("y.bandKey") && col("x.id") < col("y.id") &&
          col("y.id") - col("x.id") <= 3)
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
    // boundedness: without eviction the two join sides would end holding
    // every band row ever seen (2 x bandRows); the watermarked horizon
    // must keep every batch-end state total well below ONE side's total
    val bandRows = bands.count()
    assert(stateRows.nonEmpty, "no state telemetry captured")
    assert(stateRows.max < bandRows,
      s"state not bounded: max ${stateRows.max} vs $bandRows band rows " +
        s"(per-batch: ${stateRows.mkString(",")})")
  }

  test("two concurrent drains are isolated: results correct, caller's " +
    "shuffle-partition conf untouched") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val f1 = Future(Streams.runTumblingToMemory(spark, sf, "conc_a")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet)
    val f2 = Future(Streams.dedupStreaming(spark, sf, "conc_b").count())
    val r1 = Await.result(f1, 180.seconds)
    val r2 = Await.result(f2, 180.seconds)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "drain leaked its stream-state partition pin into the caller session")
    val seq1 = Streams.runTumblingToMemory(spark, sf, "conc_a2")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(r1 == seq1)
    assert(r2 == Streams.dedupStreaming(spark, sf, "conc_b2").count())
  }

  test("stream state width is conf-driven: identical results at two " +
    "settings, and the value demonstrably reaches the drain") {
    def run(name: String) = Streams.runTumblingToMemory(spark, sf, name)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    try {
      spark.conf.set("spark.graft.stream.statePartitions", "4")
      val at4 = run("spw_4")
      spark.conf.set("spark.graft.stream.statePartitions", "16")
      val at16 = run("spw_16")
      assert(at4 == at16 && at4.nonEmpty,
        "state-partition width must never change results")
      // a non-numeric width fails loudly at the child-session pin — proof
      // the conf actually reaches the drain rather than being ignored
      spark.conf.set("spark.graft.stream.statePartitions", "wide")
      intercept[IllegalArgumentException](run("spw_bad"))
    } finally spark.conf.unset("spark.graft.stream.statePartitions")
  }

  test("stream-stream range join == batch self-join on the same data") {
    import org.apache.spark.sql.functions._
    val ev = QueryDSL.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_utc").as("ct"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_utc").as("pt"))
    val batch = clicks.join(purchases,
        col("cu") === col("pu") && col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("cu")).agg(count(lit(1)).as("pairs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streaming = Streams.clickPurchaseJoinStreaming(spark, sf, "st7_spec")
      .groupBy(col("user_id")).agg(count(lit(1)).as("pairs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static broadcast enrichment == batch join+aggregate") {
    import org.apache.spark.sql.functions._
    val batch = QueryDSL.events(spark, sf)
      .join(spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("events"),
        sum(QueryDSL.dec(col("value"))).cast("double").as("value_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val streaming = Streams
      .enrichBySegmentStreaming(spark, sf, name = "st5_spec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("streaming tumbling window == batch tumbling window") {
    val batch = Streams.tumblingCounts(QueryDSL.events(spark, sf))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val streaming = Streams.runTumblingToMemory(spark, sf, name = "st1_spec")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streaming == batch)
  }

  test("st11 incremental dedup: 4-micro-batch stream == one-shot " +
      "detector; cross-batch pairs flow through the folded-in index") {
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = Files.createTempDirectory("st11_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st11_chunk$i")
      docs.filter(col("doc_id") >= i * 125 && col("doc_id") < (i + 1) * 125)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val outRoot = Files.createTempDirectory("st11_out").toString
    val streaming = Streams.incrementalDedupStreaming(spark,
        srcDir.toString, indexPath = s"$outRoot/index",
        outPath = s"$outRoot/pairs", prefix = "graft_st11spec", k = 3,
        threshold = 0.9, maxBucketSize = 64, glob = "documents_*.parquet",
        maxFilesPerTrigger = 1, name = "st11_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3,
        threshold = 0.9, maxBucketSize = 64)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming == batch)
    // The property that proves the fold-in: pairs whose docs arrived in
    // DIFFERENT micro-batches can only be found via the index (the
    // earlier doc is long gone from any stream state — there is none).
    assert(streaming.exists { case (a, b) => a / 125 != b / 125 },
      "no cross-micro-batch pair — the fold-in was never exercised")
  }

  test("st21 streaming BM25 ingest: 4-micro-batch fold-in == one-shot " +
      "index build, probe bit-for-bit") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextIndex
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text")
    val srcDir = Files.createTempDirectory("st21_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st21_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    Streams.textIndexIngestStreaming(spark, srcDir.toString,
      indexPath = Files.createTempDirectory("st21_idx").toString,
      prefix = "graft_st21spec", glob = "documents_*.parquet",
      maxFilesPerTrigger = 1,
      checkpoint = Files.createTempDirectory("st21_ckpt").toString,
      name = "st21_spec_sink")
    TextIndex.buildIndex(spark, docs, "doc_id", "text",
      Files.createTempDirectory("st21_full").toString, "graft_st21spec_full")
    val terms = Seq("dup", "vector", "query")
    def probe(p: String) =
      TextIndex.bm25Probe(spark, p, "doc_id", terms, k = 10)
        .select("doc_id", "lang", "score").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val streamed = probe("graft_st21spec")
    assert(streamed.nonEmpty)
    assert(streamed == probe("graft_st21spec_full"),
      "four incremental folds must be probe-indistinguishable from a " +
        "one-shot build (IEEE-identical scores, same ranks)")
    // the folded statistics are exactly the one-shot ones — integer
    // arithmetic, not approximation
    def stats(p: String) = spark.table(TextIndex.corpusStatsTable(p))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stats("graft_st21spec") == stats("graft_st21spec_full"))
  }

  test("st21 restart safety: a second drain on the same checkpoint folds " +
      "ONLY files that arrived since — no double-counting") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextIndex
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text")
    val srcDir = Files.createTempDirectory("st21r_src")
    def land(i: Int): Unit = {
      val chunkDir = Files.createTempDirectory(s"st21r_chunk$i")
      docs.filter(col("doc_id") % 2 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val idxPath = Files.createTempDirectory("st21r_idx").toString
    val ckpt = Files.createTempDirectory("st21r_ckpt").toString
    land(0)
    Streams.textIndexIngestStreaming(spark, srcDir.toString, idxPath,
      prefix = "graft_st21r", glob = "documents_*.parquet",
      checkpoint = ckpt, name = "st21r_sink_a")
    val afterFirst = spark.table(TextIndex.corpusStatsTable("graft_st21r"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    // "restart": a NEW drain over the same source + checkpoint, after one
    // more file lands. The checkpointed offsets must skip file 0 — but the
    // fold must NOT re-seed the index (seeding on restart would erase it).
    land(1)
    Streams.textIndexIngestStreaming(spark, srcDir.toString, idxPath,
      prefix = "graft_st21r", glob = "documents_*.parquet",
      checkpoint = ckpt, name = "st21r_sink_b", seed = false)
    TextIndex.refresh(spark, "graft_st21r") // cross-session cache drop
    val stats = spark.table(TextIndex.corpusStatsTable("graft_st21r"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(stats._1 == docs.count(),
      s"expected every doc folded exactly once, got n=${stats._1} " +
        s"(first drain folded ${afterFirst._1})")
    // and the probe equals a one-shot build over everything
    TextIndex.buildIndex(spark, docs, "doc_id", "text",
      Files.createTempDirectory("st21r_full").toString, "graft_st21r_full")
    val terms = Seq("dup", "vector", "query")
    def probe(p: String) =
      TextIndex.bm25Probe(spark, p, "doc_id", terms, k = 10)
        .select("doc_id", "lang", "score").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(probe("graft_st21r") == probe("graft_st21r_full"))
  }

  test("st22 streaming HLL partials: union of 4 micro-batch sketches " +
      "estimates EXACTLY like the one-shot sketch (register-max merge)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    // chunk via the library reader, not a raw file read: events.parquet
    // has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    // rounds (memory: events-ts-schema-drift) — reconstruct the MICROS
    // shape readEventsStream's pinned schema expects
    val ev = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val srcDir = Files.createTempDirectory("st22_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st22_chunk$i")
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st22_out").toString
    val merged = Streams.approxDistinctStreaming(spark, srcDir.toString,
        s"$out/sk", s"$out/ckpt", glob = "events_*.parquet",
        maxFilesPerTrigger = 1, name = "st22_spec_sink")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // at least 2 micro-batches actually wrote partials (several sketch
    // rows per type), or the merge was never exercised
    val partials = spark.read.parquet(s"$out/sk")
    assert(partials.groupBy("event_type").count()
      .collect().forall(_.getLong(1) >= 2), "expected multi-batch partials")
    val oneShot = QueryDSL.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12))
        .as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged == oneShot,
      s"sketch merge must be lossless: $merged vs $oneShot")
    // and the estimate is a real estimate: within 5% of exact
    val exact = QueryDSL.events(spark, sf).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    exact.foreach { case (t, x) =>
      assert(math.abs(merged(t) - x) <= 0.05 * x, s"$t: ${merged(t)} vs $x")
    }
  }

  test("st24 streaming frequent-items partials: combine of 4 micro-batch " +
      "sketches estimates EXACTLY like the one-shot sketch (no-purge " +
      "regime is counter addition)") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text")
    val srcDir = Files.createTempDirectory("st24_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st24_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st24_out").toString
    val merged = Streams.topKSketchStreaming(spark, srcDir.toString,
        s"$out/sk", s"$out/ckpt", glob = "documents_*.parquet",
        maxFilesPerTrigger = 1, name = "st24_spec_sink")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // the merge was actually exercised: one partial per micro-batch
    assert(spark.read.parquet(s"$out/sk").count() >= 2,
      "expected multi-batch partials")
    val oneShot = docs
      .select(explode(graft.functions.textstats.tokens(col("text")))
        .as("token"))
      .agg(expr(
        "approx_top_k_estimate(approx_top_k_accumulate(token, 256), 256)")
        .as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged == oneShot,
      "combined partials must equal the one-shot sketch")
    // and both equal the exact counts — the claim a17/st24's shared
    // oracle hash-checks
    val exact = docs
      .select(explode(graft.functions.textstats.tokens(col("text")))
        .as("token"))
      .groupBy("token").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged == exact)
  }

  test("st25 streaming incremental aggregate maintenance: 4 micro-batch " +
      "commit+refresh cycles == one-shot aggregate; watermark tracks the " +
      "source head; every fold read only its own commit") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Materialize}
    import graft.queries.QueryDSL
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val srcDir = Files.createTempDirectory("st25_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st25_chunk$i")
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("st25_tbl").toString
    val agg = Files.createTempDirectory("st25_agg").toString + "/m"
    val partial = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val merge = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("event_type")).agg(sum(col("cnt")).as("cnt"))
    val folded = Streams.refreshingCommitStreaming(spark, srcDir.toString,
        s"$tbl/src", agg, partial, merge,
        project = _.select(col("event_type")),
        glob = "events_*.parquet", maxFilesPerTrigger = 1,
        checkpoint = s"$tbl/ckpt", name = "st25_spec_sink")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // 4 micro-batches -> 4 source versions, 4 aggregate versions, and
    // the watermark sits at the source head
    assert(Manifest.version(s"$tbl/src") == 4L)
    assert(Manifest.version(agg) == 4L)
    assert(Materialize.sourceVersion(agg) == 4L)
    // every fold read only its own commit's delta (1 coalesced file)
    for (v <- 2L to 4L)
      assert(Materialize.filesAdded(s"$tbl/src", v - 1, v).size == 1)
    // maintained aggregate == one-shot over everything that streamed
    val oneShot = QueryDSL.events(spark, sf)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(folded == oneShot)
    // intermediate materializations stay readable: v2 == one-shot over
    // the first two chunks (time travel on the aggregate table)
    val v2 = Manifest.read(spark, agg, 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val firstTwo = QueryDSL.events(spark, sf)
      .filter(col("event_id") % 4 < 2)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(v2 == firstTwo)
  }

  test("st26 streaming CDC replica: 4 micro-batches with mid-stream " +
      "flagged compactions == one-shot filter; compactions skipped " +
      "without rewriting the replica; watermark tracks the source head") {
    import org.apache.spark.sql.functions._
    import graft.ops.{ChangeFeed, Manifest}
    import graft.queries.QueryDSL
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val srcDir = Files.createTempDirectory("st26_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st26_chunk$i")
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("st26_tbl").toString
    val rep = s"$tbl/replica"
    val replica = Streams.replicatingCommitStreaming(spark,
        srcDir.toString, s"$tbl/src", rep,
        keyCols = Seq("event_id"),
        transform = _.filter(col("event_type") === "click"),
        project = _.select(col("event_id"), col("event_type"),
          col("value")),
        compactEvery = 2,
        glob = "events_*.parquet", maxFilesPerTrigger = 1,
        checkpoint = s"$tbl/ckpt", name = "st26_spec_sink")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // 4 appends + 2 flagged compactions = 6 source versions, all
    // applied: one replica commit per source version, watermark at head
    assert(Manifest.version(s"$tbl/src") == 6L)
    assert(Manifest.version(rep) == 6L)
    assert(ChangeFeed.replicaSourceVersion(rep) == 6L)
    // the final compaction left the source at targetFiles files
    assert(Manifest.at(s"$tbl/src").files.size == 2)
    // compaction steps appended ZERO rows to the replica (its lineage
    // is append-only: every earlier file list is carried forward)
    for (v <- 1L until 6L)
      assert(Manifest.at(rep, v).files.toSet
        .subsetOf(Manifest.at(rep, v + 1).files.toSet),
        s"replica v${v + 1} rewrote files")
    // maintained replica == one-shot filter over everything streamed
    val oneShot = QueryDSL.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(replica == oneShot)
  }

  test("st27 probed commit stream: 4 micro-batches of media probe into " +
      "a versioned sidecar == one-shot probe; one commit per batch") {
    import org.apache.spark.sql.functions._
    import graft.ops.Manifest
    import graft.multimodal.Multimodal
    import java.nio.file.Files
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text")
    val srcDir = Files.createTempDirectory("st27_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st27_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("st27_tbl").toString + "/sidecar"
    val probe = (batch: org.apache.spark.sql.DataFrame) => {
      val sp = batch.sparkSession
      import sp.implicits._
      Multimodal.probeVideoSidecar(
        batch.select(col("doc_id")).as[Long].map(id =>
          Multimodal.MediaRow(id, "video", Multimodal.synthMp4(
            timescale = 600, durationUnits = (600L * (2 + id % 3)).toInt,
            width = 320, height = 240, mdatBytes = 1000)))).toDF()
    }
    val streamed = Streams.probedCommitStreaming(spark, srcDir.toString,
        tbl, probe, glob = "documents_*.parquet", maxFilesPerTrigger = 1,
        checkpoint = s"$tbl-ckpt", name = "st27_spec_sink")
      .select("id", "durationUnits", "width")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(Manifest.version(tbl) == 4L) // one atomic commit per batch
    val oneShot = probe(docs)
      .select("id", "durationUnits", "width")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == oneShot)
    // the ingest history time-travels: v1 holds exactly chunk 0's rows
    assert(Manifest.read(spark, tbl, 1L).count() ==
      docs.filter(col("doc_id") % 4 === 0).count())
  }

  test("st23 streaming KLL partials: 4-micro-batch merge holds the rank " +
      "bound at every audited fraction") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val srcDir = Files.createTempDirectory("st23_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st23_chunk$i")
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st23_out").toString
    val merged = Streams.quantileSketchStreaming(spark, srcDir.toString,
      s"$out/sk", s"$out/ckpt", glob = "events_*.parquet",
      maxFilesPerTrigger = 1, name = "st23_spec_sink")
    assert(spark.read.parquet(s"$out/sk").count() >= 2,
      "expected multi-batch partials, or the merge was never exercised")
    val n = ev.count().toDouble
    Seq(0.25, 0.5, 0.75, 0.9, 0.99).foreach { f =>
      val est = merged.select(
        kll_sketch_get_quantile_double(col("sk"), lit(f))).head.getDouble(0)
      val rank = ev.filter(col("value") <= est).count() / n
      assert(math.abs(rank - f) <= 0.05,
        s"fraction $f: merged estimate $est sits at empirical rank $rank")
    }
  }

  test("st10 index probe: streaming == batch band join, with ZERO " +
      "streaming state") {
    import org.apache.spark.sql.functions._
    import graft.functions.hashing
    import graft.ops.{Dedup, DedupIndex}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val coin = hashing.h64(col("doc_id").cast("string")) % 10000
    val prefix = "graft_st10spec"
    val path = QueryDSL.scratch("st10_spec_index", sf)
    DedupIndex.buildIndex(spark, docs.filter(coin < 8000), "doc_id", "text",
      k = 3, maxBucketSize = 64, path = path, prefix = prefix)
    val streaming = Streams.indexProbeStreaming(spark, sf, prefix,
        where = coin >= 8000, name = "st10_spec_sink")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // THE property: a stream-static probe holds no state at all — no
    // watermark, no join state, nothing to age out. Every micro-batch's
    // state-row total must be zero.
    assert(Streams.lastDrainStateRows.get().forall(_ == 0L),
      s"expected stateless probe, got ${Streams.lastDrainStateRows.get()}")
    // batch twin: the index's (capped) band table × batch-banded new docs
    val newBands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.hashedShingles(docs.filter(coin >= 8000), "doc_id", "text", 3)))
    val batch = spark.table(s"${prefix}_bands").alias("x")
      .join(newBands.alias("y"),
        col("x.band") === col("y.band") && col("x.bandKey") === col("y.bandKey"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("st12 streaming ANN probe: 4-micro-batch query stream == one-shot " +
      "batch probe of the same persisted IVF index") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    import java.nio.file.Files
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val prefix = "graft_st12spec"
    Similarity.buildIvfIndex(spark, emb, "vec_id", "embedding", k = 12,
      iters = 2, path = QueryDSL.scratch("st12_spec_ivf", sf),
      prefix = prefix)
    // chunk the query set across 4 files (vec_id mod 4) so the drain runs
    // several micro-batches — each query vector arrives exactly once
    val srcDir = Files.createTempDirectory("st12_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st12_chunk$i")
      emb.filter(col("vec_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"embeddings_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val outRoot = Files.createTempDirectory("st12_out").toString
    val streaming = Streams.ivfProbeStreaming(spark, srcDir.toString,
        prefix, s"$outRoot/res", where = col("vec_id") < 10, nProbe = 2,
        k = 3, glob = "embeddings_*.parquet", maxFilesPerTrigger = 1,
        name = "st12_spec_sink")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = Similarity.ivfProbePersisted(spark,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", nProbe = 2,
        k = 3, prefix = prefix)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
    // queries really were spread across micro-batches: more than one
    // chunk file contains a vec_id < 10 query vector
    assert((0L until 10L).map(_ % 4).distinct.size > 1)
  }

  test("st14 streaming IVF ingest: 4-micro-batch fold-in == inline probe " +
      "over the full corpus with the slice-trained centroids") {
    import org.apache.spark.sql.functions._
    import graft.ops.Similarity
    import java.nio.file.Files
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val prefix = "graft_st14spec"
    Similarity.buildIvfIndex(spark, emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", k = 12, iters = 2,
      path = QueryDSL.scratch("st14_spec_ivf", sf), prefix = prefix)
    val srcDir = Files.createTempDirectory("st14_src")
    for (i <- 1 until 4) { // the three not-yet-indexed quarters
      val chunkDir = Files.createTempDirectory(s"st14_chunk$i")
      emb.filter(col("vec_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"embeddings_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    Streams.ivfIngestStreaming(spark, srcDir.toString, prefix,
      glob = "embeddings_*.parquet", maxFilesPerTrigger = 1,
      checkpoint = Files.createTempDirectory("st14_ckpt").toString + "/c",
      name = "st14_spec_sink")
    val streamed = Similarity.ivfProbePersisted(spark,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", nProbe = 2,
        k = 3, prefix = prefix)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val cents = Similarity.kmeansCentroids(
        emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
        k = 12, iters = 2)
      .select(col("cid").as("vec_id"), col("cv").as("embedding"))
    val inline = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        cents, "vec_id", "embedding", nProbe = 2, k = 3)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == inline)
    assert(inline.nonEmpty)
  }

  test("st14 fold stages at the LIVE table's bucket count even when the " +
      "drain child resolves a different width (catalog bucketSpec wins)") {
    import org.apache.spark.sql.functions._
    import graft.ops.{FoldFiles, Similarity}
    import java.nio.file.Files
    // Parent session resolving 16 buckets builds the index; the drain
    // child pins the stream-state width (2 here). Pre-fix, stageIvfAppend
    // resolved the CHILD's environment and linkAppend published mod-2
    // bucketed files into the 16-bucket table with no validation —
    // durably mis-bucketed, silently wrong for any layout-trusting plan.
    val p = spark.newSession()
    p.conf.set("spark.graft.index.buckets", "16")
    p.conf.set("spark.graft.stream.statePartitions", "2")
    val emb = p.read.parquet(s"$sf/embeddings.parquet")
    val prefix = "graft_st14xw"
    Similarity.buildIvfIndex(p, emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", k = 12, iters = 2,
      path = QueryDSL.scratch("st14_xw_ivf", sf), prefix = prefix)
    val srcDir = Files.createTempDirectory("st14xw_src")
    emb.filter(col("vec_id") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    Streams.ivfIngestStreaming(p, srcDir.toString, prefix,
      glob = "*.parquet",
      checkpoint = Files.createTempDirectory("st14xw_ck").toString + "/c",
      name = "st14_xw_sink")
    val ident = p.sessionState.sqlParser
      .parseTableIdentifier(s"${prefix}_ivf")
    assert(p.sessionState.catalog.getTableMetadata(ident)
      .bucketSpec.get.numBuckets == 16)
    // EVERY data file — built and fold-linked alike — holds only rows
    // whose Spark bucket id (pmod(murmur3, 16)) matches the bucket id in
    // its own file name: the on-disk layout is coherent at 16
    val loc = FoldFiles.tableLocation(p, s"${prefix}_ivf")
    val bucketRe = ".*_(\\d{5})\\.c000.*".r
    val files = new java.io.File(loc).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    var sawFoldFile = false
    files.foreach { f =>
      val bid = f.getName match { case bucketRe(d) => d.toInt }
      if (f.getName.startsWith("fold-b")) sawFoldFile = true
      val bad = p.read.parquet(f.getAbsolutePath)
        .filter(pmod(hash(col("cluster")), lit(16)) =!= bid).count()
      assert(bad == 0L, s"${f.getName}: $bad rows outside bucket $bid")
    }
    assert(sawFoldFile, "the drain must have link-published fold files")
  }

  test("st15 streaming SCD2: 4 time-ordered micro-batches fold into " +
      "exactly the one-shot dimension build") {
    import org.apache.spark.sql.functions._
    import graft.ops.Scd
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf).filter(col("user_id") < 20)
      .select(col("user_id"), col("value"), col("ts"), col("event_id"),
        col("ts_utc"))
    // split the GLOBAL time range into 4 ordered chunk files: every key's
    // events arrive in time order across micro-batches
    val bounds = ev.stat.approxQuantile("ts", Array(0.25, 0.5, 0.75), 0.0)
    val srcDir = Files.createTempDirectory("st15_src")
    val cuts = Seq(Long.MinValue) ++ bounds.map(_.toLong) :+ Long.MaxValue
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st15_chunk$i")
      // write the MICROS parquet shape the streaming reader expects —
      // reconstructed via the library reader, never a raw file read: the
      // driver has shipped ts as both NANOS and MICROS across rounds
      // (memory: events-ts-schema-drift)
      QueryDSL.events(spark, sf)
        .select(col("event_id"),
          col("ts_utc").cast("timestamp_ntz").as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .join(ev.filter(col("ts") > cuts(i) && col("ts") <= cuts(i + 1))
          .select(col("event_id")), Seq("event_id"), "left_semi")
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val workDir = Files.createTempDirectory("st15_work").toString
    val streamed = Streams.scdIngestStreaming(spark, srcDir.toString,
        workDir, "user_id", "value", where = col("user_id") < 20,
        glob = "events_*.parquet", maxFilesPerTrigger = 1,
        name = "st15_spec_sink")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
    val oneShot = Scd.buildScd2(ev, "user_id", "value", "ts", "event_id")
      .select(col("user_id"), col("attr"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
    assert(streamed == oneShot)
    assert(oneShot.nonEmpty)
  }

  test("st15 drain where NO micro-batch ever fires (glob matches no " +
    "files) returns the empty seed dimension instead of throwing") {
    import java.nio.file.Files
    val workDir = Files.createTempDirectory("st15_empty").toString
    val out = Streams.scdIngestStreaming(spark, sf, workDir, "user_id",
      "value", glob = "no_such_file_*.parquet",
      name = "st15_empty_sink")
    assert(out.count() == 0L)
    assert(out.columns.toSeq ==
      Seq("user_id", "attr", "valid_from", "valid_to", "is_current"))
  }

  test("st13 streaming sketch: 4-micro-batch partial sketches " +
      "re-aggregate to exactly the one-shot batch sketch") {
    import org.apache.spark.sql.functions._
    import graft.functions.textstats
    import graft.ops.Sketches
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = Files.createTempDirectory("st13_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st13_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val outRoot = Files.createTempDirectory("st13_out").toString
    val streamed = Streams.sketchStreaming(spark, srcDir.toString,
        s"$outRoot/sk", depth = 3, width = 128,
        glob = "documents_*.parquet", maxFilesPerTrigger = 1,
        name = "st13_spec_sink")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Sketches.countMin(
        docs.select(explode(textstats.tokens(col("text"))).as("token")),
        "token", depth = 3, width = 128)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("st31 streaming daily counts: 4 micro-batch partials " +
      "re-aggregate to the exact one-shot daily frame (the EWMA fold's " +
      "input), and a replayed batchId overwrites its own partials") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    import graft.queries.QueryDSL
    val srcDir = Files.createTempDirectory("st31_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st31_chunk$i")
      // the MICROS parquet shape the streaming reader expects,
      // reconstructed via the library reader (memory:
      // events-ts-schema-drift — never read events.parquet raw)
      QueryDSL.events(spark, sf)
        .select(col("event_id"),
          col("ts_utc").cast("timestamp_ntz").as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st31_out").toString
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = toMap(Streams.dailyCountsStreaming(spark,
      srcDir.toString, s"$out/d", glob = "events_*.parquet",
      maxFilesPerTrigger = 1, name = "st31_spec_sink").collect())
    val oneShot = toMap(QueryDSL.events(spark, sf)
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("cnt")).collect())
    assert(streamed == oneShot && oneShot.nonEmpty)
    // crash-replay: re-applying a batch id overwrites its own partial
    // directory — the re-aggregated frame is unchanged
    val chunk0 = QueryDSL.events(spark, sf)
      .filter(col("event_id") % 4 === 0)
    Streams.applyDailyCountBatch(chunk0, 0L, s"$out/d")
    val replayed = toMap(spark.read.parquet(s"$out/d").drop("batch")
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cnt")).as("cnt")).collect())
    assert(replayed == oneShot, "replayed partial double-counted")
  }

  test("st16 streaming histogram: 4-micro-batch partials re-aggregate " +
      "to exactly the one-shot pinned-bounds histogram") {
    import org.apache.spark.sql.functions._
    import graft.ops.Sketches
    import java.nio.file.Files
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val srcDir = Files.createTempDirectory("st16_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st16_chunk$i")
      li.filter(col("l_orderkey") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"lineitem_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val outRoot = Files.createTempDirectory("st16_out").toString
    def cells(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mass")))).toMap
    val streamed = cells(Streams.histogramStreaming(spark,
      srcDir.toString, s"$outRoot/h", "l_extendedprice",
      bins = 8, lo = 900.0, hi = 110000.0,
      glob = "lineitem_*.parquet", maxFilesPerTrigger = 1,
      name = "st16_spec_sink").collect())
    val batch = cells(Sketches.equiWidthHistogram(li, "l_extendedprice",
      bins = 8, bounds = Some((900.0, 110000.0))).collect())
    assert(streamed == batch)
    assert(batch.values.map(_._1).sum == li.count())
  }

  test("sessionFunnelBatch: strict step ORDER, not presence — and gap " +
      "breaks split the funnel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gap = 1000L
    // user 1, one session: view(10) -> click(20) -> purchase(30): converts
    // user 2, one session: click(10) -> view(20) -> purchase(30): click
    //   precedes view, so only reached_view counts
    // user 3: view(10) then a gap break, click/purchase land in session 2
    //   (no view there): session 1 reaches view, session 2 reaches nothing
    val ev = Seq(
      (1L, "view", 10L, 1L), (1L, "click", 20L, 2L),
      (1L, "purchase", 30L, 3L),
      (2L, "click", 10L, 4L), (2L, "view", 20L, 5L),
      (2L, "purchase", 30L, 6L),
      (3L, "view", 10L, 7L), (3L, "click", 5000L, 8L),
      (3L, "purchase", 5010L, 9L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val r = graft.streaming.Streams
      .sessionFunnelBatch(ev, Seq("view", "click", "purchase"), gap)
      .collect().head
    assert(r.getAs[Long]("sessions") == 4L)
    assert(r.getAs[Long]("reached_view") == 3L)
    assert(r.getAs[Long]("reached_click") == 1L)
    assert(r.getAs[Long]("reached_purchase") == 1L)
    assert(r.getAs[Double]("conversion") == 0.25)
  }

  test("streaming manifest ingest: one atomic commit per micro-batch, " +
      "time travel replays the ingest history, final read == source") {
    import org.apache.spark.sql.functions._
    import graft.ops.Manifest
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = Files.createTempDirectory("stcommit_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"stcommit_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("stcommit_tbl").toString + "/t"
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val finalRead = Streams.commitStreaming(spark, srcDir.toString, tbl,
      glob = "documents_*.parquet", maxFilesPerTrigger = 1,
      name = "stcommit_spec")
    assert(Manifest.version(tbl) == 4L) // one commit per micro-batch
    assert(ids(finalRead) == ids(docs))
    // time travel: version v holds exactly the first v chunks (source
    // files stream in mtime order)
    for (v <- 1 to 4) {
      assert(ids(Manifest.read(spark, tbl, v.toLong)) ==
        ids(docs.filter(col("doc_id") % 4 < v)), s"version $v")
    }
  }

  test("drain telemetry is per drain: a stateless foreachBatch drain " +
      "after a stateful memory drain reports one zero per micro-batch") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    // stateful memory drain first: mapGroupsWithState keeps one state row
    // per user, so its telemetry is non-zero
    Streams.sessionizeStreaming(spark, sf, name = "telemetry_st2").count()
    assert(Streams.lastDrainStateRows.get().exists(_ > 0L),
      s"stateful drain reported ${Streams.lastDrainStateRows.get()}")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = Files.createTempDirectory("telemetry_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"telemetry_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("telemetry_tbl").toString + "/t"
    Streams.commitStreaming(spark, srcDir.toString, tbl,
      glob = "documents_*.parquet", maxFilesPerTrigger = 1,
      name = "telemetry_commit")
    assert(Streams.lastDrainStateRows.get() == Seq(0L, 0L, 0L, 0L),
      "the 4-micro-batch stateless drain must replace the previous " +
        s"drain's telemetry, got ${Streams.lastDrainStateRows.get()}")
  }

  test("st20 streaming drift counts: 4-micro-batch partials re-aggregate " +
      "to the one-shot counts; cross-batch token partials merge") {
    import org.apache.spark.sql.functions._
    import graft.functions.{hashing, textstats}
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = Files.createTempDirectory("st20_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st20_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st20_out").toString + "/cnt"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    val streamed = rows(Streams.driftCountsStreaming(spark,
      srcDir.toString, out, glob = "documents_*.parquet",
      maxFilesPerTrigger = 1, name = "st20_spec")
      .select(col("lang"), col("side"), col("t"), col("c")))
    val batch = rows(docs.select(col("lang"),
        (hashing.h64(col("doc_id").cast("string")) % 2).cast("int")
          .as("side"),
        explode(textstats.tokens(col("text"))).as("t"))
      .groupBy(col("lang"), col("side"), col("t"))
      .agg(count(lit(1)).as("c"))
      .select(col("lang"), col("side"), col("t"), col("c")))
    assert(streamed == batch)
    // common tokens appear in several batches — the appended partials
    // must outnumber the merged keys, or the merge was never exercised
    val appended = spark.read.parquet(out).count()
    assert(appended > streamed.size,
      s"no cross-batch partials ($appended vs ${streamed.size})")
  }

  test("st19 compacting commit stream: 4 appends + 2 auto-compactions, " +
    "file set shrinks, content and pre-compaction versions intact") {
    import org.apache.spark.sql.functions._
    import graft.ops.Manifest
    import java.nio.file.Files
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val srcDir = Files.createTempDirectory("st19_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st19_chunk$i")
      docs.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"documents_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("st19_tbl").toString + "/t"
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val finalRead = Streams.compactingCommitStreaming(spark,
      srcDir.toString, tbl, every = 2, targetFiles = 2,
      glob = "documents_*.parquet", maxFilesPerTrigger = 1,
      name = "st19_spec")
    // 4 appends + compactions after appends 2 and 4 = 6 versions
    assert(Manifest.version(tbl) == 6L)
    assert(ids(finalRead) == ids(docs), "compaction must lose nothing")
    // the final (compacted) version reads from <= targetFiles files,
    // fewer than the 4 append files it replaced
    assert(Manifest.read(spark, tbl).inputFiles.length <= 2)
    // pre-compaction history is intact: v3 = first compaction + chunk 2
    assert(ids(Manifest.read(spark, tbl, 4L)) ==
      ids(docs.filter(col("doc_id") % 4 < 3)), "version 4 = 3 chunks")
    assert(ids(Manifest.read(spark, tbl, 3L)) ==
      ids(docs.filter(col("doc_id") % 4 < 2)), "version 3 = compacted " +
        "first two chunks")
  }

  test("st18 streaming WAU: 4-micro-batch stream == one-shot curve; " +
    "cross-batch duplicate marks dedupe exactly once") {
    import org.apache.spark.sql.functions._
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
    // chunk by event_id so each user's activity scatters across batches
    // (the same (user, day) mark lands in several appends). Chunks are
    // rebuilt through the QueryDSL.events contract with ts normalized to
    // TIMESTAMP_NTZ micros (UTC session → wall-clock identity), so the
    // fixture survives either physical ts type the driver has shipped.
    val srcDir = Files.createTempDirectory("st18_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st18_chunk$i")
      ev.filter(col("event_id") % 4 === i)
        .select(col("event_id"),
          expr("CAST(ts_utc AS TIMESTAMP_NTZ)").as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st18_out").toString + "/marks"
    val streamed = Streams.wauStreaming(spark, srcDir.toString, out,
        glob = "events_*.parquet", maxFilesPerTrigger = 1,
        name = "st18_spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ud = ev.select(col("user_id"),
      expr("ts div 86400000000000").as("d")).distinct()
    val batch = ud
      .select(col("user_id"), explode(sequence(col("d"), col("d") + 6))
        .as("day"))
      .distinct()
      .crossJoin(broadcast(ud.agg(max(col("d")).as("dmax"))))
      .filter(col("day") <= col("dmax"))
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    // the appended mark table must contain cross-batch duplicates that
    // the final distinct collapses — else the dedup path wasn't exercised
    // drop the synthetic batch partition column the per-batch-overwrite
    // sink adds — marks dedupe on (user_id, d)
    val appended = spark.read.parquet(out).count()
    val distinctMarks = spark.read.parquet(out).drop("batch")
      .distinct().count()
    assert(appended > distinctMarks,
      s"no cross-batch duplicate marks ($appended vs $distinctMarks)")
  }

  test("st17 streaming expectations: 4-micro-batch stream == one-shot " +
      "validate, with CROSS-batch duplicate keys deduped exactly once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.ops.Expectations._
    import java.nio.file.Files
    import spark.implicits._
    // synthetic feed: 80 rows in 4 chunks of 20; the key k1 = i%20 is
    // REPEATED in every chunk, so a naive SUM of per-batch distinct
    // counts would report 80 distinct keys where the truth is 20. Plus
    // one null c1, one out-of-range qty, one out-of-domain flag.
    val rows = (0 until 80).map { i =>
      (i % 20L, i / 20,
        if (i == 77) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i),
        if (i == 78) 99.0 else 5.0, if (i == 79) "X" else "A")
    }
    val df = rows.toDF("k1", "chunk", "c1", "qty", "flag")
    val srcDir = Files.createTempDirectory("st17_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st17_chunk$i")
      df.filter(col("chunk") === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"feed_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val checks = Seq(
      CondCheck("c1_complete", col("c1").isNotNull, 1.0),
      CondCheck("qty_range", col("qty").isNotNull &&
        col("qty") >= 1 && col("qty") <= 50, 1.0),
      CondCheck("flag_domain", col("flag").isInCollection(Seq("A", "N")),
        1.0))
    val out = Files.createTempDirectory("st17_out").toString + "/exp"
    val schema = StructType(Seq(StructField("k1", LongType),
      StructField("chunk", IntegerType), StructField("c1", LongType),
      StructField("qty", DoubleType), StructField("flag", StringType)))
    def verdict(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("check").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(3))).toSeq
    val streamed = verdict(Streams.expectationsStreaming(spark,
      srcDir.toString, out, schema, checks, "k1_unique", Seq("k1"),
      glob = "feed_*.parquet", maxFilesPerTrigger = 1,
      name = "st17_spec"))
    val batch = verdict(validate(df, Seq(
      complete("c1_complete", col("c1")),
      unique("k1_unique", Seq(col("k1"))),
      inRange("qty_range", col("qty"), 1, 50),
      inSet("flag_domain", col("flag"), Seq("A", "N")))))
    assert(streamed == batch)
    // the planted defects surface, and the cross-batch dedup is exact:
    // 20 distinct keys / 80 rows, NOT the 80/80 a per-batch sum gives
    assert(streamed.forall(!_._3), s"all checks should fail: $streamed")
    assert(streamed.find(_._1 == "k1_unique").get._2 == 0.25)
    assert(streamed.find(_._1 == "c1_complete").get._2 == 0.9875)
  }

  // ---- exactly-once replay battery ------------------------------------
  // Structured Streaming's foreachBatch is AT-LEAST-ONCE: a crash between
  // the sink's side effect and the streaming commit-log write re-delivers
  // the batch with the SAME batchId. Each test below invokes one sink
  // family's per-batch body twice with one id — the replayed call must
  // leave the sink state bit-identical (then a genuinely new id must
  // still apply, proving the guard is per-batch, not a global latch).

  test("replay: Manifest-txn sinks drop a re-delivered batchId " +
      "(applyCommitBatch, the st_ingest family)") {
    import graft.ops.Manifest
    import java.nio.file.Files
    val tbl = Files.createTempDirectory("replay_commit").toString + "/t"
    val df = spark.range(5).toDF("id")
    Streams.applyCommitBatch(df, 0L, tbl)
    assert(Manifest.version(tbl) == 1L)
    // crash-replay: same id, same data — nothing moves
    Streams.applyCommitBatch(df, 0L, tbl)
    assert(Manifest.version(tbl) == 1L)
    assert(Manifest.read(spark, tbl).count() == 5L)
    // the guard is per-batch: the NEXT id still commits
    Streams.applyCommitBatch(spark.range(5, 8).toDF("id"), 1L, tbl)
    assert(Manifest.version(tbl) == 2L)
    assert(Manifest.read(spark, tbl).count() == 8L)
    // skip-empty contract: an idle batch publishes NO version, and a
    // later contributing batch still lands
    Streams.applyCommitBatch(spark.range(0).toDF("id"), 2L, tbl)
    assert(Manifest.version(tbl) == 2L,
      "an empty batch must publish no version")
    Streams.applyCommitBatch(spark.range(8, 9).toDF("id"), 3L, tbl)
    assert(Manifest.version(tbl) == 3L)
  }

  test("replay: the BRANCH sink drops a re-delivered batchId " +
      "(applyBranchBatch → commitBranchOnce), main never moves, the " +
      "fork-frozen constraint gate holds per batch, and the published " +
      "fast-forward carries the newest batch stamp into the main txn " +
      "fold") {
    import graft.ops.Manifest
    import java.nio.file.Files
    val tbl = Files.createTempDirectory("replay_branch").toString + "/t"
    Manifest.commit(spark.range(5).toDF("id"), tbl)
    Manifest.addConstraint(spark, tbl, "id_nonneg", "id >= 0")
    Manifest.branch(tbl, "q")
    val df = spark.range(5, 10).toDF("id")
    Streams.applyBranchBatch(df, 0L, tbl, "q")
    assert(Manifest.branches(tbl)("q") == ((2L, 1L)))
    // crash-replay: same id — nothing lands on the branch
    Streams.applyBranchBatch(df, 0L, tbl, "q")
    assert(Manifest.branches(tbl)("q") == ((2L, 1L)))
    assert(Manifest.readBranch(spark, tbl, "q").count() == 10L)
    assert(Manifest.version(tbl) == 2L, "main never moves")
    // the NEXT id still commits; the fork-frozen gate refuses a
    // violating batch without landing anything
    Streams.applyBranchBatch(spark.range(10, 12).toDF("id"), 1L, tbl, "q")
    assert(Manifest.branches(tbl)("q") == ((2L, 2L)))
    intercept[Exception](Streams.applyBranchBatch(
      spark.range(-2, 0).toDF("id"), 2L, tbl, "q"))
    assert(Manifest.branches(tbl)("q") == ((2L, 2L)))
    // skip-empty: an idle batch lands nothing
    Streams.applyBranchBatch(spark.range(0).toDF("id"), 3L, tbl, "q")
    assert(Manifest.branches(tbl)("q") == ((2L, 2L)))
    // publish: one metadata-only commit; the newest batch stamp rides
    // into the MAIN txn fold, so even post-publish a zombie replay of
    // batch 1 is answerable from the table itself
    val v = Manifest.fastForward(spark, tbl, "q")
    assert(v == 3L && Manifest.read(spark, tbl).count() == 12L)
    assert(Manifest.lastTxn(tbl, "st_branch") == 1L,
      "the branch txn stamp must survive the publish")
  }

  test("st28 gated ingest: the batch splits on the table's constraints " +
      "with violators named, clean batches publish NO quarantine " +
      "version, and a replayed batchId re-applies NEITHER commit") {
    import org.apache.spark.sql.functions._
    import graft.ops.Manifest
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("replay_gate").toString
    val tbl = s"$root/t"; val quar = s"$root/q"
    Manifest.commit(
      Seq.empty[(Long, Double)].toDF("event_id", "value"), tbl)
    Manifest.addConstraint(spark, tbl, "value_nonneg", "value >= 0")
    val mixed = Seq((1L, 1.0), (2L, -2.0), (3L, 3.0))
      .toDF("event_id", "value")
    Streams.applyGatedBatch(mixed, 0L, tbl, quar)
    val mainV = Manifest.version(tbl); val quarV = Manifest.version(quar)
    assert(Manifest.read(spark, tbl).select("event_id").as[Long]
      .collect().toSet == Set(1L, 3L))
    assert(Manifest.read(spark, quar).select("event_id", "violated")
      .as[(Long, String)].collect().toSet == Set((2L, "value_nonneg")))
    // crash-replay: same batchId — NEITHER table moves (each tracks its
    // own applied-batch watermark)
    Streams.applyGatedBatch(mixed, 0L, tbl, quar)
    assert(Manifest.version(tbl) == mainV)
    assert(Manifest.version(quar) == quarV)
    // clean batch: main commits, quarantine skips the empty version
    Streams.applyGatedBatch(Seq((4L, 4.0)).toDF("event_id", "value"),
      1L, tbl, quar)
    assert(Manifest.version(tbl) == mainV + 1)
    assert(Manifest.version(quar) == quarV,
      "a clean batch must publish no quarantine version")
    // all-violators batch: quarantine commits, main skips
    Streams.applyGatedBatch(Seq((5L, -5.0)).toDF("event_id", "value"),
      2L, tbl, quar)
    assert(Manifest.version(tbl) == mainV + 1,
      "an all-violators batch must publish no main version")
    assert(Manifest.version(quar) == quarV + 1)
  }

  test("replay: writePartial sinks overwrite their own batch directory " +
      "— a re-delivered batchId replaces, never duplicates " +
      "(applySketchBatch, the st13 partial family)") {
    import java.nio.file.Files
    import spark.implicits._
    val out = Files.createTempDirectory("replay_partial").toString + "/cm"
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    def state(): Seq[String] =
      spark.read.parquet(out).drop("batch").collect()
        .map(_.toString).sorted.toSeq
    Streams.applySketchBatch(docs, 0L, out, 3, 16)
    val once = state()
    Streams.applySketchBatch(docs, 0L, out, 3, 16) // crash-replay
    assert(state() == once, "replay must not double-count the partial")
    // a NEW id lands alongside in its own batch= directory
    Streams.applySketchBatch(docs, 1L, out, 3, 16)
    assert(state().size == 2 * once.size)
    val dirs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(dirs == Seq("batch=0", "batch=1"))
  }

  test("replay: Txn-marker fold-ins skip an already-applied batchId " +
      "(applyTextIndexBatch, the st21/st14/st11 index family)") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextIndex
    import java.nio.file.Files
    import spark.implicits._
    val idx = Files.createTempDirectory("replay_txn").toString
    val prefix = "replay_txn_idx"
    TextIndex.buildIndex(spark,
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"),
      "doc_id", "text", idx, prefix)
    def dfOf(token: String): Long =
      spark.table(TextIndex.termStatsTable(prefix))
        .filter(col("token") === token).select("df").as[Long].head()
    val batch = Seq((1L, "en", "alpha beta"), (2L, "en", "beta gamma"))
      .toDF("doc_id", "lang", "text")
    Streams.applyTextIndexBatch(batch, 0L, idx, prefix)
    assert(dfOf("beta") == 2L)
    // crash-replay: appendDocs would double tf/df mass — the marker
    // must short-circuit it
    Streams.applyTextIndexBatch(batch, 0L, idx, prefix)
    assert(dfOf("beta") == 2L, "replayed fold double-counted df")
    // the next id still folds
    Streams.applyTextIndexBatch(
      Seq((3L, "en", "beta")).toDF("doc_id", "lang", "text"),
      1L, idx, prefix)
    assert(dfOf("beta") == 3L)
  }

  test("kill-injection: the commit-atomic fold survives a crash at " +
      "EVERY phase boundary — after stage (the old fold→marker " +
      "window), and at each successive publish file-op — replaying to " +
      "the exactly-once state") {
    import org.apache.spark.sql.functions._
    import graft.ops.{FoldFiles, TextIndex}
    import java.nio.file.Files
    import spark.implicits._
    def build(p: String): String = {
      val idx = Files.createTempDirectory(s"kill_$p").toString
      TextIndex.buildIndex(spark,
        Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text"),
        "doc_id", "text", idx, p)
      idx
    }
    val b0 = Seq((1L, "en", "alpha beta"), (2L, "en", "beta gamma"))
      .toDF("doc_id", "lang", "text")
    val b1 = Seq((3L, "en", "beta")).toDF("doc_id", "lang", "text")
    // clean reference fold
    val refIdx = build("kill_ref")
    Streams.applyTextIndexBatch(b0, 0L, refIdx, "kill_ref")
    Streams.applyTextIndexBatch(b1, 1L, refIdx, "kill_ref")
    // crashed fold: die right after the freeze marker (nothing live
    // mutated yet — the index must be byte-untouched), then die at
    // publish op 0, 1, 2, ... on successive replays until completion:
    // every replay makes idempotent progress from the frozen stage
    val crIdx = build("kill_cr")
    Streams.Txn.failAfterStage = true
    try intercept[RuntimeException](
      Streams.applyTextIndexBatch(b0, 0L, crIdx, "kill_cr"))
    finally Streams.Txn.failAfterStage = false
    assert(spark.table(TextIndex.corpusStatsTable("kill_cr"))
      .select("n").as[Long].head() == 0L,
      "a pre-publish crash must leave the index untouched")
    var done = false
    var k = 0
    while (!done && k < 60) {
      FoldFiles.failAfterOps = k
      try { Streams.applyTextIndexBatch(b0, 0L, crIdx, "kill_cr"); done = true }
      catch { case _: RuntimeException => () }
      k += 1
    }
    FoldFiles.failAfterOps = -1
    assert(done, "replays never completed the fold")
    assert(k > 2, "the gauntlet must actually have crashed mid-publish")
    Streams.applyTextIndexBatch(b1, 1L, crIdx, "kill_cr")
    // the crashed-and-replayed index is STATISTIC-IDENTICAL to the
    // clean one: df per token, corpus stats, postings mass
    def dfTab(p: String) = spark.table(TextIndex.termStatsTable(p))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(dfTab("kill_cr") == dfTab("kill_ref"))
    def stats(p: String) = spark.table(TextIndex.corpusStatsTable(p))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stats("kill_cr") == stats("kill_ref"))
    def posts(p: String) = spark.table(TextIndex.postingsTable(p))
      .groupBy(col("token")).agg(count(lit(1)).as("c"),
        sum(col("tf")).as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(posts("kill_cr") == posts("kill_ref"))
  }

  test("kill-injection: the dedup-index fold (st11 family) crashed " +
      "mid-publish replays to the exactly-once band/shingle tables — " +
      "probes against the recovered index equal the clean twin's") {
    import org.apache.spark.sql.functions._
    import graft.ops.{DedupIndex, FoldFiles}
    import java.nio.file.Files
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(40).cache()
    def build(p: String): (String, String) = {
      val idx = Files.createTempDirectory(s"killd_$p").toString
      val out = Files.createTempDirectory(s"killd_out_$p").toString
      DedupIndex.buildIndex(spark,
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", 3, 0, idx, p)
      Streams.Txn.clear(idx)
      (idx, out)
    }
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 === 1)
    val (refIdx, refOut) = build("killd_ref")
    Streams.applyIncrementalDedupBatch(b0, 0L, refIdx, refOut,
      "killd_ref", 3, 0.8, 0, graft.functions.hashing.h64)
    Streams.applyIncrementalDedupBatch(b1, 1L, refIdx, refOut,
      "killd_ref", 3, 0.8, 0, graft.functions.hashing.h64)
    val (crIdx, crOut) = build("killd_cr")
    Streams.applyIncrementalDedupBatch(b0, 0L, crIdx, crOut,
      "killd_cr", 3, 0.8, 0, graft.functions.hashing.h64)
    // crash mid-publish of batch 1's fold, then replay clean
    FoldFiles.failAfterOps = 1
    try intercept[RuntimeException](
      Streams.applyIncrementalDedupBatch(b1, 1L, crIdx, crOut,
        "killd_cr", 3, 0.8, 0, graft.functions.hashing.h64))
    finally FoldFiles.failAfterOps = -1
    Streams.applyIncrementalDedupBatch(b1, 1L, crIdx, crOut,
      "killd_cr", 3, 0.8, 0, graft.functions.hashing.h64)
    def table(n: String) = spark.table(n).collect().map(_.toSeq).toSet
    assert(table("killd_cr_shingles") == table("killd_ref_shingles"))
    assert(table("killd_cr_bands") == table("killd_ref_bands"))
    // the emitted pair partials match too (idempotent writePartial)
    def pairs(out: String) = spark.read.parquet(out)
      .select("a", "b", "jac").collect().map(_.toSeq).toSet
    assert(pairs(crOut) == pairs(refOut))
  }

  test("replay: st15's snapshot-keyed SCD fold recomputes its own " +
      "snapshot in place on a re-delivered batchId") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    import spark.implicits._
    val work = Files.createTempDirectory("replay_scd").toString
    val dimSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("attr", DoubleType),
      StructField("valid_from", LongType),
      StructField("valid_to", LongType),
      StructField("is_current", BooleanType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dimSchema)
      .write.mode("overwrite").parquet(s"$work/dim_seed")
    val batch = Seq((7L, 1.0, 100L, 1L), (7L, 2.0, 200L, 2L))
      .toDF("user_id", "attr", "ts", "event_id")
    def snapshot(): Seq[String] =
      spark.read.parquet(s"$work/dim_b0").collect()
        .map(_.toString).sorted.toSeq
    Streams.applyScdBatch(batch, 0L, work, "user_id", "attr")
    val once = snapshot()
    assert(once.size == 2) // closed row + open row for the chained key
    Streams.applyScdBatch(batch, 0L, work, "user_id", "attr") // replay
    assert(snapshot() == once,
      "replayed fold must overwrite its own snapshot, not stack")
    assert(new java.io.File(work).listFiles()
      .map(_.getName).count(_.startsWith("dim_b")) == 1)
  }

  test("st29 streaming merge upsert: ts-ordered micro-batches fold to " +
      "the one-shot latest-row-per-user; one merge commit per batch; a " +
      "replayed batchId merges nothing") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Manifest
    import graft.queries.QueryDSL
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val n = ev.count()
    // 4 chunks in EVENT-TIME order — the contract (upsert is
    // last-writer-wins, so later batches must carry newer rows)
    val w = Window.orderBy(col("ts"), col("event_id"))
    val chunked = ev.withColumn("__c",
      (((row_number().over(w) - 1L) * 4L) / n).cast("int"))
    val srcDir = Files.createTempDirectory("st29_src")
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st29_chunk$i")
      chunked.filter(col("__c") === i).drop("__c")
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tbl = Files.createTempDirectory("st29_tbl").toString + "/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "event_id", "event_type", "value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
    val streamed = rows(Streams.mergeCommitStreaming(spark,
      srcDir.toString, tbl, glob = "events_*.parquet",
      maxFilesPerTrigger = 1, checkpoint = s"$tbl-ckpt",
      name = "st29_spec"))
    assert(Manifest.version(tbl) == 4L) // one merge commit per batch
    // == the one-shot per-user argmax over everything that streamed
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val oneShot = rows(QueryDSL.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("__rk", row_number().over(w2))
      .filter(col("__rk") === 1).drop("__rk", "ts"))
    assert(streamed == oneShot)
    // cross-batch UPDATES were exercised: users span chunks, so merges
    // processed more per-batch rows than survive in the table
    val perBatchUsers = chunked.select(col("user_id"), col("__c"))
      .distinct().count()
    assert(perBatchUsers > streamed.size,
      s"no user spans chunks ($perBatchUsers vs ${streamed.size})")
    // replay: the same batchId merges nothing (txn stamp atomic with
    // the merge version)
    val tbl2 = Files.createTempDirectory("st29_tbl2").toString + "/t"
    val slice = QueryDSL.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .filter(col("user_id") < 20)
    Streams.applyMergeBatch(slice, 0L, tbl2)
    val once = rows(Manifest.read(spark, tbl2))
    Streams.applyMergeBatch(slice, 0L, tbl2)
    assert(Manifest.version(tbl2) == 1L,
      "replayed merge published a second version")
    assert(rows(Manifest.read(spark, tbl2)) == once)
  }

  test("st30 streaming resample state: 4 micro-batch argmax partials " +
      "re-aggregate to the one-shot daily frame (argmax associativity " +
      "— NO arrival-order contract); cross-batch merges exercised") {
    import org.apache.spark.sql.functions._
    import graft.queries.QueryDSL
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val srcDir = Files.createTempDirectory("st30_src")
    // chunk by event_id residue — DELIBERATELY not time-ordered, to
    // prove argmax associativity needs no arrival-order contract
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st30_chunk$i")
      ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val out = Files.createTempDirectory("st30_out").toString + "/p"
    val ckpt = Files.createTempDirectory("st30_ckpt").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val streamed = rows(Streams.resampleStreaming(spark, srcDir.toString,
      out, checkpoint = ckpt, glob = "events_*.parquet",
      maxFilesPerTrigger = 1, name = "st30_spec"))
    val oneShot = rows(QueryDSL.events(spark, sf)
      .filter(col("user_id") < 50)
      .select(col("user_id"), expr("ts div 86400000000000").as("d"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col("d"))
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .as("__m"))
      .select(col("user_id"), col("d"), col("__m.value").as("v")))
    assert(streamed == oneShot)
    // (user, day) keys recur across the residue chunks, so the partial
    // table must hold MORE rows than the merged daily frame — else the
    // cross-batch argmax merge was never exercised
    val appended = spark.read.parquet(out).count()
    assert(appended > streamed.size,
      s"no cross-batch partials ($appended vs ${streamed.size})")
  }

  test("replay: the composite st25/st26 bodies (commit+fold, " +
      "commit+sync) re-applied with one batchId move neither the " +
      "source, the aggregate, nor the replica") {
    import org.apache.spark.sql.functions._
    import graft.ops.{ChangeFeed, Manifest, Materialize}
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("replay_comp").toString
    // st25: exactly-once source commit + watermark-guarded fold
    val src = s"$root/src"; val agg = s"$root/agg"
    val partial = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val merge = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("event_type")).agg(sum(col("cnt")).as("cnt"))
    val ev = Seq("click", "click", "view").toDF("event_type")
    Streams.applyRefreshingBatch(ev, 0L, src, agg, partial, merge)
    assert(Manifest.version(src) == 1L && Manifest.version(agg) == 1L)
    Streams.applyRefreshingBatch(ev, 0L, src, agg, partial, merge)
    assert(Manifest.version(src) == 1L, "replay re-committed the source")
    assert(Manifest.version(agg) == 1L, "replay re-folded the aggregate")
    assert(Materialize.sourceVersion(agg) == 1L)
    assert(Manifest.read(spark, agg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("click" -> 2L, "view" -> 1L))
    // st26: exactly-once ingest + watermark-guarded replica sync
    val src2 = s"$root/src2"; val rep = s"$root/rep"
    val batch2 = Seq((1L, "click", 1.0), (2L, "view", 2.0))
      .toDF("event_id", "event_type", "value")
    val clicks = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("event_type") === "click")
    Streams.applyReplicatingBatch(batch2, 0L, src2, rep, Seq("event_id"),
      clicks, compactEvery = 0, targetFiles = 2)
    assert(Manifest.version(src2) == 1L && Manifest.version(rep) == 1L)
    Streams.applyReplicatingBatch(batch2, 0L, src2, rep, Seq("event_id"),
      clicks, compactEvery = 0, targetFiles = 2)
    assert(Manifest.version(src2) == 1L && Manifest.version(rep) == 1L,
      "replay re-applied the CDC sync")
    assert(ChangeFeed.replicaSourceVersion(rep) == 1L)
    assert(Manifest.read(spark, rep).count() == 1L)
  }

  test("ts schema drift: a genuine TIMESTAMP(NANOS) events generation " +
    "streams through readEventsStream to the SAME contract (ts BIGINT " +
    "nanos, ts_utc micros) the batch reader derives — neither reader " +
    "pins the file's physical type") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.functions._
    // synthesize the NANOS generation the driver has actually shipped:
    // int64 annotated TIMESTAMP(isAdjustedToUTC=false, NANOS) — Spark
    // cannot WRITE this type, so the file is built with parquet-java
    // directly (the only raw-file write in the suite, and the point:
    // the READERS must never assume the physical type)
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("props")
      .named("events")
    val dir = Files.createTempDirectory("nanos_events")
    val w = ExampleParquetWriter
      .builder(new HPath(dir.resolve("events.parquet").toString))
      .withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    // sub-microsecond tails prove nanos precision survives into `ts`
    val rows = Seq(
      (1L, 1700000000123456789L, 10L, "click", 1.5, "{}"),
      (2L, 1700000060987654321L, 11L, "view", 2.0, "{}"),
      (3L, 1700003600000000001L, 10L, "click", 0.5, "{}"))
    rows.foreach { case (id, ns, u, t, v, p) =>
      val g = fac.newGroup()
      g.add("event_id", id); g.add("ts", ns); g.add("user_id", u)
      g.add("event_type", t); g.add("value", v); g.add("props", p)
      w.write(g)
    }
    w.close()
    val batch = QueryDSL.events(spark, dir.toString)
      .select(col("event_id"), col("ts"), col("ts_utc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    assert(batch.map(_._2) == rows.map(_._2).toSet,
      "batch reader must surface raw nanos")
    val q = Streams.readEventsStream(spark, dir.toString)
      .select(col("event_id"), col("ts"), col("ts_utc"))
      .writeStream.outputMode("append").format("memory")
      .queryName("nanos_drift_spec").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("nanos_drift_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
    assert(streamed == batch,
      s"streaming contract must equal the batch contract: $streamed")
  }

  test("readEventsStream FAILS LOUDLY when no matching file exists at " +
    "stream start: the pinned ts type cannot be derived, and silently " +
    "defaulting would mis-read a nanos-generation file arriving later") {
    val dir = java.nio.file.Files.createTempDirectory("empty_events")
    val e = intercept[IllegalStateException](
      Streams.readEventsStream(spark, dir.toString))
    assert(e.getMessage.contains("no file matching"), e.getMessage)
  }

  test("st32 streaming erasure: a 4-batch drain equals the one-shot " +
    "keyed DV delete (order-independent), zero data files move, and a " +
    "REPLAYED batch publishes no new version (exactly-once by MoR " +
    "construction, no txn stamp)") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
    def seed(): String = {
      val tbl = Files.createTempDirectory("st32_tbl").toString
      val maxu = ev.agg(max(col("user_id"))).head().getLong(0)
      val q = maxu / 4 + 1
      for (i <- 0 until 4)
        Manifest.commit(ev.filter(col("user_id") >= i * q &&
          col("user_id") < (i + 1) * q).coalesce(1),
          tbl, statsCols = Seq("user_id"))
      tbl
    }
    // 4 event chunk files in the MICROS shape the streaming reader
    // probes (reconstructed via the library reader — never a raw read;
    // memory: events-ts-schema-drift)
    val srcDir = Files.createTempDirectory("st32_src")
    val micros = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    for (i <- 0 until 4) {
      val chunkDir = Files.createTempDirectory(s"st32_chunk$i")
      micros.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val tblStream = seed()
    val seedFiles = Manifest.at(tblStream).files
    val streamed = Streams.erasureStreaming(spark, srcDir.toString,
        tblStream, glob = "events_*.parquet", maxFilesPerTrigger = 1,
        name = "st32_spec_sink")
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(Manifest.at(tblStream).files == seedFiles,
      "erasure must move zero data files")
    assert(Manifest.version(tblStream) > 4L, "some batch must erase")
    // one-shot twin: all requests at once against a fresh seed
    val tblOnce = seed()
    Merge.deleteKeysDv(spark, tblOnce,
      ev.filter(col("event_type") === "error" &&
          pmod(col("user_id"), lit(10)) === 3)
        .select(col("user_id")), "user_id")
    val oneShot = Manifest.read(spark, tblOnce)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed == oneShot, "chunked drain must equal one-shot")
    assert(streamed.nonEmpty && streamed.size <
      ev.count(), "erasure must actually remove rows")
    // REPLAY: the same batch body twice on a fresh seed — the first
    // application erases (one DV commit), the second finds every key's
    // rows already hidden and publishes NOTHING
    val tblReplay = seed()
    Streams.applyErasureBatch(ev, 0L, tblReplay)
    val v1 = Manifest.version(tblReplay)
    assert(v1 == 5L, "first application must publish exactly one DV commit")
    Streams.applyErasureBatch(ev, 0L, tblReplay)
    assert(Manifest.version(tblReplay) == v1,
      "a replayed erasure batch must publish nothing")
    assert(Manifest.read(spark, tblReplay)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      oneShot)
    // st32's DOCUMENTED gap (closed by st33's tombstones): erasure acts
    // on current state only, so rows of an ALREADY-ERASED user arriving
    // in a later append are re-admitted — pin the contract so the
    // boundary between st32 and st33 stays explicit
    val erasedUid = ev.filter(col("event_type") === "error" &&
        pmod(col("user_id"), lit(10)) === 3)
      .agg(min(col("user_id"))).head().getLong(0)
    import spark.implicits._
    Manifest.commit(Seq((erasedUid, "late", 1.0))
      .toDF("user_id", "event_type", "value"), tblReplay)
    assert(Manifest.read(spark, tblReplay)
      .filter(col("user_id") === erasedUid).count() == 1L,
      "st32 contract: a post-erasure append re-admits (no forget-list)")
    // and a LATER request batch naming only OTHER users leaves the
    // re-admitted rows untouched (erasure is per-request, not a
    // standing rule — the exact gap st33's persisted tombstones close)
    val otherUid = erasedUid + 10L // also % 10 == 3
    Streams.applyErasureBatch(
      Seq((otherUid, "error", 0.0)).toDF("user_id", "event_type", "value"),
      1L, tblReplay)
    assert(Manifest.read(spark, tblReplay)
      .filter(col("user_id") === erasedUid).count() == 1L,
      "a mid-drain append survives request batches for other users")
  }

  test("st33 tombstone-gated ingest: a chunked drain equals the " +
    "one-shot set subtraction with BOTH suppression routes exercised " +
    "(gated at ingest AND DV-erased after admission), zero rewrites, " +
    "and a replayed batch publishes nothing on either table") {
    import org.apache.spark.sql.functions._
    import graft.ops.Manifest
    import java.nio.file.Files
    val ev = QueryDSL.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
    // 3 DELIBERATELY-ORDERED chunk files (library-reader reconstruction,
    // never a raw events read): half the non-error traffic first, THEN
    // every error event (all tombstone requests land here), then the
    // other non-error half — so erased users provably have rows
    // admitted BEFORE their request (the DV route) and rows arriving
    // AFTER it (the gate route). The st32-style event_id%4 split is
    // NOT enough: error events are common, so every erased user's
    // first request lands in batch 0 and the DV route never fires.
    val srcDir = Files.createTempDirectory("st33_src")
    val micros = QueryDSL.events(spark, sf)
      .select(col("event_id"), col("ts_utc").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val chunks = Seq(
      micros.filter(col("event_type") =!= "error" &&
        col("event_id") % 2 === 0),
      micros.filter(col("event_type") === "error"),
      micros.filter(col("event_type") =!= "error" &&
        col("event_id") % 2 === 1))
    chunks.zipWithIndex.foreach { case (c, i) =>
      val chunkDir = Files.createTempDirectory(s"st33_chunk$i")
      c.coalesce(1).write.mode("overwrite").parquet(chunkDir.toString)
      val part = chunkDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = srcDir.resolve(s"events_$i.parquet")
      Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    val work = Files.createTempDirectory("st33_tbl").toString
    val main = s"$work/main"
    val tombs = s"$work/tombs"
    val streamed = Streams.tombstoneIngestStreaming(spark,
        srcDir.toString, main, tombs, glob = "events_*.parquet",
        maxFilesPerTrigger = 1, name = "st33_spec_sink")
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // one-shot subtraction twin
    val erased = ev.filter(col("event_type") === "error" &&
      pmod(col("user_id"), lit(10)) === 3).select(col("user_id"))
    val oneShot = ev.join(erased, Seq("user_id"), "left_anti")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed == oneShot,
      "chunked gated ingest must equal the one-shot subtraction")
    // both routes fired, with EXACT deterministic accounting: the DV'd
    // mass is precisely the erased users' batch-0 rows (non-error,
    // even event_id — admitted before their request existed); the rest
    // of the suppression was gated (their error rows and batch-2 rows)
    val suppressed = ev.count() - streamed.size
    val dvTotal = Manifest.at(main).dv.values.map(_._2).sum
    val expectedDv = QueryDSL.events(spark, sf)
      .filter(col("event_type") =!= "error" && col("event_id") % 2 === 0)
      .join(erased.distinct(), Seq("user_id"), "left_semi").count()
    assert(dvTotal == expectedDv,
      s"DV mass must be exactly the pre-request admissions: $dvTotal " +
        s"vs $expectedDv")
    assert(dvTotal > 0L && dvTotal < suppressed,
      s"both routes must fire ($dvTotal DV'd of $suppressed suppressed)")
    // audit: main never rewrote a data file (appends + DV deletes only)
    assert(Manifest.history(spark, main).map(_.change_type).toSet
      .subsetOf(Set("append", "delete")))
    // REPLAY: the same batch body twice — txn stamps drop the re-commit
    // on both tables, the DV step matches nothing
    val work2 = Files.createTempDirectory("st33_replay").toString
    Streams.applyTombstoneIngestBatch(ev, 0L, s"$work2/m", s"$work2/t")
    val vm = Manifest.version(s"$work2/m")
    val vt = Manifest.version(s"$work2/t")
    Streams.applyTombstoneIngestBatch(ev, 0L, s"$work2/m", s"$work2/t")
    assert(Manifest.version(s"$work2/m") == vm &&
      Manifest.version(s"$work2/t") == vt,
      "a replayed batch must publish nothing on either table")
  }

  test("st33 ordered-chunk routes: rows admitted BEFORE their user's " +
    "tombstone are DV-erased; rows arriving AFTER it are gated (never " +
    "written — the post-erasure re-admission st32 cannot prevent); a " +
    "fully-gated batch publishes no main version") {
    import org.apache.spark.sql.functions._
    import graft.ops.Manifest
    import java.nio.file.Files
    import spark.implicits._
    val work = Files.createTempDirectory("st33_ordered").toString
    val main = s"$work/m"
    val tombs = s"$work/t"
    def batch(rows: (Long, String, Double)*) =
      rows.toDF("user_id", "event_type", "value")
    // batch 0: user 13 (uid%10=3) and user 20 ingest cleanly
    Streams.applyTombstoneIngestBatch(
      batch((13L, "click", 1.0), (13L, "view", 2.0), (20L, "click", 3.0)),
      0L, main, tombs)
    assert(Manifest.read(spark, main).count() == 3L)
    // batch 1: user 13's erasure request (an error event) — the request
    // row itself is gated (a forgotten user's row never lands), and the
    // two previously-admitted rows hide behind a DV
    Streams.applyTombstoneIngestBatch(
      batch((13L, "error", 0.0)), 1L, main, tombs)
    assert(Manifest.read(spark, main).collect()
      .map(_.getLong(0)).toSeq == Seq(20L),
      "previously-admitted rows of the requester must be DV-erased")
    assert(Manifest.at(main).dv.values.map(_._2).sum == 2L)
    val vAfterErase = Manifest.version(main)
    // batch 2: user 13 re-appears with fresh rows — GATED at the door:
    // no main commit at all (skip-empty), no DV growth, nothing to read
    Streams.applyTombstoneIngestBatch(
      batch((13L, "click", 9.0), (13L, "view", 8.0)), 2L, main, tombs)
    assert(Manifest.version(main) == vAfterErase,
      "a fully-gated batch must publish no main version")
    assert(Manifest.read(spark, main).collect()
      .map(_.getLong(0)).toSeq == Seq(20L))
    // batch 3: mixed — the forgotten user's rows drop, others land
    Streams.applyTombstoneIngestBatch(
      batch((13L, "click", 7.0), (21L, "view", 4.0)), 3L, main, tombs)
    assert(Manifest.read(spark, main).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(20L, 21L))
    // the tombstone table is the persisted forget-list: exactly user 13
    assert(Manifest.read(spark, tombs).collect()
      .map(_.getLong(0)).toSeq == Seq(13L))
  }
}
