package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cache.ParquetCache
import graft.functions.numeric
import QueryDSL._

/** SURVEY §2.1 sources/sinks (S3, S5, S7, S8, S11) and the BCRP cache
  * lifecycle (§3.1: save → evolve → delta → projected load). Sink queries
  * round-trip through a scratch directory under target/ so the read side is
  * exercised against real files Spark wrote.
  */
object SourceQueries {

  // Scratch paths and wipes come from the ONE shared definition
  // (QueryDSL.scratch/wipe, imported above): per-(name, input-dir)
  // isolation for concurrent runs.

  /** The combiner pair s20 and st25 share (per-event-type count +
    * DECIMAL value mass), satisfying the map-side-combine law
    * Materialize.refresh requires; schema-stable across repeated folds
    * (the sums re-cast to DECIMAL(18,2) so a twice-folded aggregate
    * has the same schema as a fresh one). */
  private[queries] val eventAggPartial
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("value"))).cast("decimal(18,2)").as("mass"))

  private[queries] val eventAggMerge
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("mass")).cast("decimal(18,2)").as("mass"))

  val defs: Map[String, Q] = Map(

    // S3: nested-JSON API response flatten — the BCRP shape
    // (`perustats/BCRP/utils.py:114-144`): series names zipped against each
    // period's values array, one row per (period, series).
    "s3_json_flatten" -> Q(
      (s, dir) => {
        import s.implicits._
        val raw = Seq(
          """{"config":{"series":[{"name":"s1"},{"name":"s2"}]},
             "periods":[{"name":"Ene.2023","values":["1.5","2.5"]},
                        {"name":"Feb.2023","values":["3","n.d."]}]}""")
          .toDF("body")
        val schema = StructType(Seq(
          StructField("config", StructType(Seq(
            StructField("series", ArrayType(StructType(Seq(
              StructField("name", StringType)))))))),
          StructField("periods", ArrayType(StructType(Seq(
            StructField("name", StringType),
            StructField("values", ArrayType(StringType))))))))
        raw.select(from_json(col("body"), schema).as("j"))
          .select(expr("transform(j.config.series, x -> x.name)").as("names"),
            explode(col("j.periods")).as("p"))
          .select(col("names"), col("p.name").as("date_str"),
            posexplode(col("p.values")))
          .select(col("date_str"),
            element_at(col("names"), col("pos") + 1).as("series"),
            numeric.tryNumeric(col("col")).as("value"))
          .orderBy(col("date_str"), col("series"))
      },
      Some("""SELECT * FROM (VALUES
          ('Ene.2023', 's1', 1.5), ('Ene.2023', 's2', 2.5),
          ('Feb.2023', 's1', 3.0), ('Feb.2023', 's2', NULL))
        t(date_str, series, value) ORDER BY date_str, series""")),

    // S5: parquet write/replace + re-read round trip.
    "s5_roundtrip" -> Q(
      (s, dir) => {
        val out = scratch("s5_roundtrip", dir)
        T(s, dir, "region").write.mode("overwrite").parquet(out)
        s.read.parquet(out).orderBy(col("r_regionkey"))
      },
      Some("SELECT * FROM region ORDER BY r_regionkey")),

    // S7: hive-partitioned parquet sink + partition-pruned read-back. The
    // partition column round-trips through directory names.
    "s7_partitioned_sink" -> Q(
      (s, dir) => {
        val out = scratch("s7_partitioned", dir)
        T(s, dir, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(out)
        s.read.parquet(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // S8: CSV sink/source round trip (ISO-8859-1, header, explicit schema —
    // inference is a non-goal, SURVEY §1.3).
    "s8_csv_roundtrip" -> Q(
      (s, dir) => {
        val out = scratch("s8_csv", dir)
        T(s, dir, "nation").write.mode("overwrite")
          .option("header", "true").option("encoding", "ISO-8859-1").csv(out)
        s.read
          .schema(StructType(Seq(
            StructField("n_nationkey", IntegerType),
            StructField("n_name", StringType),
            StructField("n_regionkey", IntegerType))))
          .option("header", "true").option("encoding", "ISO-8859-1").csv(out)
          .orderBy(col("n_nationkey"))
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // S12: JSON-lines sink/source round trip (explicit schema on re-read;
    // complements S8's CSV edge for the export formats the reference's
    // users pass around).
    "s12_json_roundtrip" -> Q(
      (s, dir) => {
        val out = scratch("s12_json", dir)
        T(s, dir, "region").write.mode("overwrite").json(out)
        s.read
          .schema(StructType(Seq(
            StructField("r_regionkey", IntegerType),
            StructField("r_name", StringType))))
          .json(out)
          .orderBy(col("r_regionkey"))
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // S13 (extension beyond the reference's formats): ORC round-trip — the
    // other columnar format large pipelines exchange. Write nation as ORC,
    // read it back, aggregate per region; the native ORC reader keeps the
    // same vectorized/pruned scan contract as parquet.
    "s13_orc_roundtrip" -> Q(
      (s, dir) => {
        val out = scratch("s13_orc", dir)
        T(s, dir, "nation").write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy(col("n_regionkey"))
          .agg(count(lit(1)).as("nations"), min(col("n_name")).as("first_name"))
          .orderBy(col("n_regionkey"))
      },
      Some("""SELECT n_regionkey, count(*) AS nations,
            min(n_name) AS first_name
          FROM nation GROUP BY 1 ORDER BY 1""")),

    // S14 (extension): training-shard export — the curation "last mile":
    // every document gets a deterministic shard from the shared md5 hash
    // (hash sharding — balanced in expectation with NO global sort; a
    // rank/ntile sharder would need a RangePartitioning pass over the full
    // corpus, PlanSpec asserts its absence), the corpus is written as
    // shard-partitioned parquet (one co-partitioned write), and the
    // read-back aggregates per-shard doc/token mass — the balance evidence
    // a training job reads before consuming the shards.
    "s14_training_shards" -> Q(
      (s, dir) => {
        import graft.functions.{hashing, textstats}
        val out = scratch("s14_shards", dir)
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            pmod(hashing.h64(col("doc_id").cast("string")), lit(8L))
              .as("shard"),
            textstats.tokenCount(col("text")).as("ntok"))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
        s.read.parquet(out)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("docs"), sum(col("ntok")).as("tok_sum"),
            countDistinct(col("lang")).as("langs"))
          .orderBy(col("shard"))
      },
      Some {
        import graft.functions.hashing
        s"""SELECT ${hashing.sqlH64("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
             count(*) AS docs,
             CAST(sum(len($sqlToks)) AS BIGINT) AS tok_sum,
             count(DISTINCT lang) AS langs
           FROM documents GROUP BY 1 ORDER BY 1"""
      }),

    // s15: z-order clustered rewrite (OPTIMIZE ZORDER) — lineitem lands
    // as 8 parquet files range-partitioned and sorted on the Morton
    // interleave of (l_orderkey, l_partkey) mod 2^12, so BOTH key
    // dimensions cluster at once and a conjunctive box predicate prunes
    // by file min-max stats (LayoutSpec measures the pruning: a 2-D box
    // touches ~1/8 of z-files vs every file unclustered). The query
    // aggregates the READ-BACK table per z-range bucket — the round trip
    // plus the interleave arithmetic is what the oracle hash-matches
    // (clustering only reorders rows, so the aggregate over the rewritten
    // table must equal the same aggregate over the source).
    "s15_zorder" -> Q(
      (s, dir) => {
        import graft.ops.Layout
        val out = scratch("s15_zorder", dir)
        def za(c: org.apache.spark.sql.Column) = pmod(c, lit(4096L))
        Layout.zOrderWrite(
          T(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey"), col("l_quantity")),
          za(col("l_orderkey")), za(col("l_partkey")), bits = 12,
          numFiles = 8, path = out)
        s.read.parquet(out)
          .select(Layout.zValue(za(col("l_orderkey")), za(col("l_partkey")),
            12).as("z"), dec(col("l_quantity")).as("q"))
          .groupBy(shiftright(col("z"), 20).as("zbucket"))
          .agg(count(lit(1)).as("cnt"), min(col("z")).as("min_z"),
            max(col("z")).as("max_z"),
            sum(col("q")).cast("double").as("sum_qty"))
          .orderBy(col("zbucket"))
      },
      Some {
        import graft.ops.Layout
        s"""SELECT (z >> 20) AS zbucket, count(*) AS cnt,
             min(z) AS min_z, max(z) AS max_z,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
           FROM (SELECT ${Layout.sqlZValue("l_orderkey % 4096",
          "l_partkey % 4096", 12)} AS z, l_quantity FROM lineitem)
           GROUP BY 1 ORDER BY 1"""
      }),

    // s17: small-file compaction (plain OPTIMIZE, s15's sibling): the
    // events feed lands Hive-partitioned by event_type but fragmented
    // into up to 24 files per partition (one per append commit — the
    // streaming/daily-ingest reality), then Layout.compactPartitions
    // rewrites each partition to ONE file. The query aggregates the
    // COMPACTED read-back and the oracle aggregates the SOURCE rows —
    // compaction must be provably content-neutral; LayoutSpec asserts
    // the actual file counts (many → 1 per partition).
    "s17_compact_files" -> Q(
      (s, dir) => {
        import graft.ops.Layout
        val out = scratch("s17_compact", dir)
        wipe(s"$out/frag"); wipe(s"$out/opt")
        events(s, dir).select(col("event_type"), col("user_id"),
            col("value"))
          .repartition(24)
          .write.mode("overwrite").partitionBy("event_type")
          .parquet(s"$out/frag")
        Layout.compactPartitions(s, s"$out/frag", s"$out/opt",
          "event_type")
        s.read.parquet(s"$out/opt")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("users"),
            sum(dec(col("value"))).cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
            count(DISTINCT user_id) AS users,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          FROM events GROUP BY 1 ORDER BY 1""")),

    // s18: BLOOM data-skipping sidecar — min-max stats (s15) can't prune
    // point lookups on high-cardinality keys (every partition's [min,
    // max] straddles most keys); the lakehouse answer is a per-partition
    // Bloom filter. The events feed lands partitioned by epoch-day, a
    // ≤-days-row sidecar holds one AUTO-SIZED filter per day over the
    // day's user_ids (Dedup.bloomBitmapGroupedAuto at 12 bits/key — a
    // FIXED size is the scale trap this query shipped with in r8: 1024
    // bits saturated at sf0.1's ~1.3k keys/day and pruned nothing),
    // and a point lookup tests its three probe positions row-locally
    // against the sidecar, each modulo THAT DAY's m — the passing-day
    // set then drives a broadcast join that dynamic-partition-prunes
    // the fact scan. NO driver collect anywhere: the pass set stays a
    // DataFrame. No false negatives ⇒ the lookup result equals the
    // direct filter exactly; false-positive days (~1% at 12 bits/key,
    // 3 probes, at ANY scale) cost one wasted partition scan each
    // (days_scanned − days_active, both in the hash-matched output —
    // the oracle replays the per-day sizing, bitmaps, and probes
    // bit-for-bit).
    "s18_bloom_skipping" -> Q(
      (s, dir) => {
        import graft.functions.hashing
        import graft.ops.Dedup
        val out = scratch("s18_skip", dir)
        wipe(s"$out/t"); wipe(s"$out/sidecar")
        val ev = events(s, dir)
          .withColumn("day", expr("ts div 86400000000000"))
          .select(col("day"), col("user_id"), col("value"))
        ev.write.mode("overwrite").partitionBy("day").parquet(s"$out/t")
        val bitsPerKey = 12; val probes = 3; val key = 7L
        Dedup.bloomBitmapGroupedAuto(
            ev.select(col("day"),
              hashing.h64(col("user_id").cast("string")).as("h"))
              .distinct(),
            "day", "h", bitsPerKey = bitsPerKey, numProbes = probes)
          .write.mode("overwrite").parquet(s"$out/sidecar")
        val sidecar = s.read.parquet(s"$out/sidecar")
        val hk = hashing.md5Long(key.toString) % hashing.P
        val pass = (0 until probes).map { j =>
          val pv = (hashing.A(j) * hk + hashing.B(j)) % hashing.P
          val p = lit(pv) % col("m")
          element_at(col("bits"), (p / lit(64)).cast("int") + lit(1))
            .bitwiseAND(call_function("shiftleft", lit(1L),
              (p % lit(64)).cast("int"))) =!= lit(0L)
        }.reduce(_ && _)
        val passing = sidecar.filter(pass)
        val looked = s.read.parquet(s"$out/t")
          .join(broadcast(passing
            .select(col("day").cast("long").as("day"))), Seq("day"))
          .filter(col("user_id") === key)
        Seq(
          sidecar.agg(count(lit(1)).as("days_total")),
          passing.agg(count(lit(1)).as("days_scanned")),
          looked.agg(countDistinct(col("day")).as("days_active"),
            count(lit(1)).as("n_events"),
            sum(dec(col("value"))).cast("double").as("sum_value")))
          .reduce((a, b) => a.crossJoin(broadcast(b)))
      },
      Some {
        import graft.functions.hashing
        val bitsPerKey = 12; val probes = 3; val key = 7L
        val hk = hashing.md5Long(key.toString) % hashing.P
        // Probe bit masks depend on the per-day modulus m, so both the
        // word index and the in-word bit are SQL expressions over m (the
        // CASE guards DuckDB's overflow-checked 1<<63).
        def sqlBit(pExpr: String): String =
          s"""(CASE WHEN ($pExpr) % 64 = 63
               THEN (-9223372036854775807 - 1)
               ELSE 1::BIGINT << CAST(($pExpr) % 64 AS INTEGER) END)"""
        val conds = (0 until probes).map { j =>
          val pv = (hashing.A(j) * hk + hashing.B(j)) % hashing.P
          s"""max(CASE WHEN w = ($pv % m) // 64
               AND (mask & ${sqlBit(s"$pv % m")}) <> 0
               THEN 1 ELSE 0 END) = 1"""
        }.mkString("\n             AND ")
        val probeList = (0 until probes)
          .map(j => s"(${hashing.sqlPerm(j, s"(h % ${hashing.P})")} % m)")
          .mkString(", ")
        s"""WITH ev AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
             user_id, value FROM events),
           keys AS (SELECT DISTINCT day,
               ${hashing.sqlH64("CAST(user_id AS VARCHAR)")} AS h
             FROM ev),
           sz AS (SELECT day, ((count(*) * $bitsPerKey + 63) // 64) * 64 AS m
             FROM keys GROUP BY 1),
           pos AS (SELECT day, unnest([$probeList]) AS p
             FROM keys JOIN sz USING (day)),
           words AS (SELECT day, p // 64 AS w,
               bit_or(CASE WHEN p % 64 = 63
                 THEN (-9223372036854775807 - 1)
                 ELSE 1::BIGINT << CAST(p % 64 AS INTEGER) END) AS mask
             FROM pos GROUP BY 1, 2),
           pass AS (SELECT day FROM words JOIN sz USING (day)
             GROUP BY day, m
             HAVING $conds),
           hit AS (SELECT * FROM ev WHERE user_id = $key)
           SELECT
             (SELECT count(DISTINCT day) FROM ev) AS days_total,
             (SELECT count(*) FROM pass) AS days_scanned,
             (SELECT count(DISTINCT day) FROM hit) AS days_active,
             (SELECT count(*) FROM hit) AS n_events,
             (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               FROM hit) AS sum_value"""
      }),

    // s16: versioned-table commits + time travel — the lakehouse
    // primitive (Delta/Iceberg shape) under every incremental structure
    // this library maintains: three append commits land thirds of
    // `orders` as immutable parquet behind per-version manifests, a
    // fourth REPLACE commit compacts the full table (the OPTIMIZE shape —
    // new file list, same content), and the query reads every version via
    // its pinned manifest. v1..v3 show the append history, v4 must equal
    // v3 exactly (compaction is provably content-neutral), and the
    // pre-compaction versions stay readable because data files are never
    // deleted. Manifest I/O is KB-sized driver metadata (the commit-
    // coordinator role every table format has); all data moves through
    // executors. The oracle replays each version as its predicate slice.
    "s16_time_travel" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s16_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select("o_orderkey", "o_totalprice")
        for (i <- 0 until 3)
          Manifest.commit(o.filter(pmod(col("o_orderkey"), lit(3)) === i),
            tbl)
        Manifest.commit(Manifest.read(s, tbl).coalesce(2), tbl,
          replace = true)
        (1L to 4L).map { v =>
          Manifest.read(s, tbl, v)
            .agg(count(lit(1)).as("orders"),
              sum(dec(col("o_totalprice"))).cast("double")
                .as("total_price"))
            .select(lit(v).as("version"), col("orders"),
              col("total_price"))
        }.reduce(_ unionByName _).orderBy(col("version"))
      },
      Some(
        """SELECT v.version,
             CAST(count(o.o_orderkey) AS BIGINT) AS orders,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
           FROM (SELECT unnest(generate_series(1, 4)) AS version) v
             JOIN orders o ON o.o_orderkey % 3 <=
               (CASE WHEN v.version >= 3 THEN 2 ELSE v.version - 1 END)
           GROUP BY v.version ORDER BY v.version""")),

    // s19: VACUUM retention — the destructive half s16 deliberately
    // omits, as an oracle-checked lifecycle: the same 3-append + 1-replace
    // history (each commit coalesced to a KNOWN file count, so
    // reclamation arithmetic is deterministic), then vacuum(retainLast=1)
    // must (a) drop exactly versions 1-3, (b) reclaim exactly the 3
    // pre-compaction files — the replace severed the append lineage, so
    // nothing is shared with the survivor — (c) leave the survivor
    // byte-identical (its aggregate is the DuckDB-replayed side), and
    // (d) make a dropped version unreadable, failing loudly. The oracle
    // pins (a)/(b)/(d) as claimed constants the Spark side must EARN from
    // the real vacuum — any missed delete, over-delete, or silently
    // readable dropped version flips the row red (the a9 within-bound
    // pattern applied to retention).
    "s19_vacuum_retention" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s19_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select("o_orderkey", "o_totalprice")
        for (i <- 0 until 3)
          Manifest.commit(
            o.filter(pmod(col("o_orderkey"), lit(3)) === i).coalesce(1),
            tbl)
        Manifest.commit(Manifest.read(s, tbl).coalesce(2), tbl,
          replace = true)
        val (dropped, reclaimed) = Manifest.vacuum(tbl, retainLast = 1)
        val v2Fails = scala.util.Try(Manifest.read(s, tbl, 2L)).isFailure
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("survivor_orders"),
            sum(dec(col("o_totalprice"))).cast("double")
              .as("survivor_price"))
          .select(
            lit(dropped.mkString(",")).as("dropped_versions"),
            lit(reclaimed.length).cast("long").as("files_reclaimed"),
            col("survivor_orders"), col("survivor_price"),
            lit(v2Fails).as("dropped_read_fails"))
      },
      Some(
        """SELECT '1,2,3' AS dropped_versions,
             CAST(3 AS BIGINT) AS files_reclaimed,
             CAST(count(*) AS BIGINT) AS survivor_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS survivor_price,
             TRUE AS dropped_read_fails
           FROM orders""")),

    // S20: INCREMENTAL MATERIALIZED-AGGREGATE REFRESH — the warehouse
    // dashboard loop at 100 TB: when new data commits, fold ONLY the
    // newly-added files into the materialized aggregate (scan ∝ the
    // day's arrivals) instead of rescanning the corpus. Two event
    // quarters commit and materialize, two more commit, and the second
    // refresh folds exactly their 2 delta files (delta_only — a claimed
    // constant the Spark side EARNS, the s19 pattern), then an idle
    // refresh no-ops. Counts and DECIMAL masses fold associatively, so
    // the incrementally-maintained aggregate must EQUAL the one-shot
    // aggregate over everything — which is exactly what the oracle
    // hash-checks. Crash safety: the source watermark is commit
    // metadata of the aggregate version itself (one atomic manifest
    // publish — no half-applied or double-applied delta state);
    // ManifestSpec covers the combiner law, double-count protection,
    // and the severed-lineage (replace commit) loud failure.
    "s20_incremental_agg_refresh" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Materialize}
        val src = scratch("s20_src", dir)
        val agg = scratch("s20_agg", dir)
        wipe(src); wipe(agg)
        val ev = events(s, dir)
          .select(col("event_type"), col("value"), col("event_id"))
        val partial = eventAggPartial
        val merge = eventAggMerge
        for (i <- 0 until 2)
          Manifest.commit(
            ev.filter(pmod(col("event_id"), lit(4)) === i).coalesce(1), src)
        Materialize.refresh(s, src, agg, partial, merge)
        for (i <- 2 until 4)
          Manifest.commit(
            ev.filter(pmod(col("event_id"), lit(4)) === i).coalesce(1), src)
        val (_, deltaFiles) = Materialize.refresh(s, src, agg, partial, merge)
        val (_, idleFiles) = Materialize.refresh(s, src, agg, partial, merge)
        Manifest.read(s, agg)
          .select(col("event_type"), col("cnt"),
            col("mass").cast("double").as("value_mass"),
            lit(deltaFiles == 2).as("delta_only"),
            lit(idleFiles == 0).as("idle_noop"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_mass,
          TRUE AS delta_only, TRUE AS idle_noop
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // S21: CHANGE DATA FEED — the row-level twin of s20's file-level
    // incrementality (the Delta CDF / Iceberg changelog contract): two
    // append commits land event quarters, then a replace commit rewrites
    // the snapshot with planted deletes (value < 20 dropped), updates
    // (click values +100) and inserts (the third quarter). The feed must
    // tag each version's row images exactly: appends read ONLY their
    // added files as inserts (no join, no key — scan ∝ arrivals), the
    // replace diffs the two snapshots by primary key in ONE full-outer
    // join, and an updated key emits BOTH images. The oracle replays the
    // planted history from the base table, so a missed delete, a
    // double-counted insert, or an unchanged row leaking into the feed
    // flips the row red.
    "s21_table_cdc" -> Q(
      (s, dir) => {
        import graft.ops.{ChangeFeed, Manifest}
        val tbl = scratch("s21_table", dir)
        wipe(tbl)
        val ev = events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        for (i <- 0 until 2)
          Manifest.commit(
            ev.filter(pmod(col("event_id"), lit(4)) === i).coalesce(1), tbl)
        val next = Manifest.read(s, tbl)
          .filter(col("value") >= 20)
          .withColumn("value",
            when(col("event_type") === "click", col("value") + 100)
              .otherwise(col("value")))
          .unionByName(ev.filter(pmod(col("event_id"), lit(4)) === 2))
        Manifest.commit(next, tbl, replace = true)
        ChangeFeed.changes(s, tbl, sinceVersion = 0L,
            keyCols = Seq("event_id"))
          .groupBy(col(ChangeFeed.VersionCol).as("commit_version"),
            col(ChangeFeed.TypeCol).as("change_type"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("value"))).cast("double").as("value_mass"))
          .orderBy(col("commit_version"), col("change_type"),
            col("event_type"))
      },
      Some(
        """WITH old AS (SELECT event_id, event_type, value FROM events
               WHERE event_id % 4 IN (0, 1)),
             feed AS (
               SELECT 1 AS commit_version, 'insert' AS change_type,
                   event_type, value
                 FROM events WHERE event_id % 4 = 0
               UNION ALL
               SELECT 2, 'insert', event_type, value
                 FROM events WHERE event_id % 4 = 1
               UNION ALL
               SELECT 3, 'insert', event_type, value
                 FROM events WHERE event_id % 4 = 2
               UNION ALL
               SELECT 3, 'delete', event_type, value
                 FROM old WHERE value < 20
               UNION ALL
               SELECT 3, 'update_preimage', event_type, value
                 FROM old WHERE value >= 20 AND event_type = 'click'
               UNION ALL
               SELECT 3, 'update_postimage', event_type, value + 100
                 FROM old WHERE value >= 20 AND event_type = 'click')
           SELECT CAST(commit_version AS BIGINT) AS commit_version,
             change_type, event_type,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS value_mass
           FROM feed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // S22: CDC REPLICA SYNC — maintain a DERIVED downstream table (the
    // clicks-only replica) by APPLYING s21's change feed, the
    // Materialize.refresh contract at row granularity: source appends
    // apply as appends of the transformed arrivals (no join), the
    // replace applies as ONE key-based merge, the applied source version
    // rides as atomic commit metadata, and an idle sync no-ops. The
    // maintained replica must EQUAL the transform of the final snapshot
    // — which is exactly what the oracle hash-checks — and the step
    // counts are claimed constants the Spark side EARNS from the real
    // sync loop (the s19/s20 pattern).
    "s22_cdc_replica_sync" -> Q(
      (s, dir) => {
        import graft.ops.{ChangeFeed, Manifest}
        val src = scratch("s22_src", dir)
        val rep = scratch("s22_replica", dir)
        wipe(src); wipe(rep)
        val ev = events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val clicksOnly =
          (df: org.apache.spark.sql.DataFrame) =>
            df.filter(col("event_type") === "click")
        for (i <- 0 until 2)
          Manifest.commit(
            ev.filter(pmod(col("event_id"), lit(4)) === i).coalesce(1), src)
        val (_, firstSteps) = ChangeFeed.syncReplica(s, src, rep,
          keyCols = Seq("event_id"), transform = clicksOnly)
        val next = Manifest.read(s, src)
          .filter(col("value") >= 20)
          .withColumn("value",
            when(col("event_type") === "click", col("value") + 100)
              .otherwise(col("value")))
          .unionByName(ev.filter(pmod(col("event_id"), lit(4)) === 2))
        Manifest.commit(next, src, replace = true)
        val (_, secondSteps) = ChangeFeed.syncReplica(s, src, rep,
          keyCols = Seq("event_id"), transform = clicksOnly)
        val (_, idleSteps) = ChangeFeed.syncReplica(s, src, rep,
          keyCols = Seq("event_id"), transform = clicksOnly)
        Manifest.read(s, rep)
          .agg(count(lit(1)).as("clicks"),
            sum(dec(col("value"))).cast("double").as("click_mass"))
          .select(col("clicks"), col("click_mass"),
            lit(firstSteps == 2).as("appends_applied"),
            lit(secondSteps == 1).as("replace_applied"),
            lit(idleSteps == 0).as("idle_noop"))
      },
      Some(
        """WITH old AS (SELECT event_id, event_type, value FROM events
               WHERE event_id % 4 IN (0, 1)),
             snap AS (
               SELECT event_id, event_type,
                   CASE WHEN event_type = 'click' THEN value + 100
                        ELSE value END AS value
                 FROM old WHERE value >= 20
               UNION ALL
               SELECT event_id, event_type, value
                 FROM events WHERE event_id % 4 = 2)
           SELECT CAST(count(*) AS BIGINT) AS clicks,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS click_mass,
             TRUE AS appends_applied, TRUE AS replace_applied,
             TRUE AS idle_noop
           FROM snap WHERE event_type = 'click'""")),

    // S23: SCHEMA EVOLUTION IN THE LOG — the Delta/Iceberg contract R3's
    // cache-level evolution points at, applied to the Manifest core: each
    // version RECORDS its schema as commit metadata (atomic with the
    // publish; reads never open footers to discover columns — at 100 TB
    // that is thousands of driver-side footer fetches), appends evolve it
    // append-compatibly (v2 adds `value`; v3 omits `event_type` — both
    // directions of the diagonal-union shape), and files predating a
    // column read it as null. The aggregate pins exactly which thirds
    // carry each column, and v1_schema_pinned is the time-travel claim:
    // version 1 still reads with its own 2-column schema after two
    // evolving commits. Type changes fail loudly (ManifestSpec).
    "s23_schema_evolution" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s23_table", dir)
        wipe(tbl)
        val ev = events(s, dir)
        Manifest.commit(ev.filter(pmod(col("event_id"), lit(3)) === 0)
          .select(col("event_id"), col("event_type")), tbl)
        Manifest.commit(ev.filter(pmod(col("event_id"), lit(3)) === 1)
          .select(col("event_id"), col("event_type"), col("value")), tbl)
        Manifest.commit(ev.filter(pmod(col("event_id"), lit(3)) === 2)
          .select(col("event_id"), col("value")), tbl)
        val v1Pinned = Manifest.read(s, tbl, 1L).columns.toSeq ==
          Seq("event_id", "event_type")
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("rows_total"),
            count(col("event_type")).as("typed_rows"),
            count(col("value")).as("valued_rows"),
            sum(dec(col("value"))).cast("double").as("value_mass"))
          .select(col("rows_total"), col("typed_rows"),
            col("valued_rows"), col("value_mass"),
            lit(v1Pinned).as("v1_schema_pinned"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS rows_total,
             CAST(count(CASE WHEN event_id % 3 <> 2 THEN 1 END) AS BIGINT)
               AS typed_rows,
             CAST(count(CASE WHEN event_id % 3 <> 0 THEN 1 END) AS BIGINT)
               AS valued_rows,
             CAST(sum(CASE WHEN event_id % 3 <> 0
               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
               AS value_mass,
             TRUE AS v1_schema_pinned
           FROM events""")),

    // S24: CHECK CONSTRAINTS ON COMMIT — the other half of a11's data
    // quality story, moved INTO the write path (the Delta constraints
    // contract): invariants declared once as log metadata gate every
    // later commit in one aggregate pass over the incoming rows — a
    // violating commit aborts loudly and publishes NOTHING (no version,
    // no files), which at 100 TB is the difference between rejecting a
    // bad batch and quarantining a poisoned table. Two constraints
    // land as metadata-only commits, a clean third passes, a negated
    // batch must abort, and the claimed constants pin that the abort
    // left the version counter untouched. The surviving content is the
    // oracle-replayed side.
    "s24_check_constraints" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s24_table", dir)
        wipe(tbl)
        val ev = events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        Manifest.commit(ev.filter(pmod(col("event_id"), lit(3)) === 0),
          tbl)
        Manifest.addConstraint(s, tbl, "value_nonneg", "value >= 0")
        Manifest.addConstraint(s, tbl, "type_known",
          "event_type IN ('click','view','purchase','signup','error')")
        Manifest.commit(ev.filter(pmod(col("event_id"), lit(3)) === 1),
          tbl)
        val rejected = scala.util.Try(
          Manifest.commit(ev.filter(pmod(col("event_id"), lit(3)) === 2)
            .withColumn("value", -col("value")), tbl)).isFailure
        val vAfter = Manifest.version(tbl)
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("rows_kept"),
            sum(dec(col("value"))).cast("double").as("value_mass"))
          .select(col("rows_kept"), col("value_mass"),
            lit(rejected).as("bad_commit_aborted"),
            lit(vAfter == 4L).as("nothing_published"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS rows_kept,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS value_mass,
             TRUE AS bad_commit_aborted, TRUE AS nothing_published
           FROM events WHERE event_id % 3 IN (0, 1)""")),

    // S25: MERGE INTO as a COPY-ON-WRITE file rewrite — the row-level
    // upsert every warehouse ships (Delta MERGE), done the only way it
    // survives 100 TB: the table lands as four single-file commits with
    // disjoint key residues, the source updates every %4=0 key (status
    // -> 'X') and inserts mirror keys (negated %4=1 keys ≤ 200), and the
    // merge must rewrite ONLY the file holding the matched residue —
    // the other three files carry by REFERENCE, bytes untouched
    // (pruned_rewrite / carried_rest are the earned file accounting;
    // MergeSpec pins the mechanism, byte-identical carried paths and
    // time travel included). The merged CONTENT is the oracle-replayed
    // side: a lost update, a dropped carry, or a double insert flips
    // the hash red.
    "s25_merge_cow" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        val tbl = scratch("s25_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(pmod(col("o_orderkey"), lit(4)) === i).coalesce(1),
            tbl)
        val updates = o.filter(pmod(col("o_orderkey"), lit(4)) === 0)
          .withColumn("o_orderstatus", lit("X"))
        val inserts = o.filter(pmod(col("o_orderkey"), lit(4)) === 1 &&
            col("o_orderkey") <= 200)
          .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice"))
        val st = Merge.upsert(s, tbl, updates.unionByName(inserts),
          Seq("o_orderkey"))
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_orderstatus") === "X", 1L).otherwise(0L))
              .as("updated"),
            sum(when(col("o_orderkey") < 0, 1L).otherwise(0L))
              .as("inserted"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"), col("updated"), col("inserted"),
            col("price_mass"),
            lit(st.filesRewritten == 1).as("pruned_rewrite"),
            lit(st.filesCarried == 3).as("carried_rest"))
      },
      Some(
        """WITH merged AS (
             SELECT o_orderkey,
               CASE WHEN o_orderkey % 4 = 0 THEN 'X'
                 ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
             FROM orders
             UNION ALL
             SELECT -o_orderkey, 'N', o_totalprice FROM orders
             WHERE o_orderkey % 4 = 1 AND o_orderkey <= 200)
           SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_orderstatus = 'X' THEN 1 ELSE 0 END)
               AS BIGINT) AS updated,
             CAST(sum(CASE WHEN o_orderkey < 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS inserted,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS pruned_rewrite, TRUE AS carried_rest
           FROM merged""")),

    // S26: DELETE FROM as a COPY-ON-WRITE file rewrite — MERGE's
    // destructive sibling (GDPR erasure, retention scrubs): the same
    // four-file layout, a predicate matching only the %4=2 residue
    // (status 'F' there), and the delete must rewrite ONLY that file —
    // re-emitting its SURVIVORS — while three files carry by reference
    // and every pre-delete version keeps time-traveling (MergeSpec).
    // The surviving content is the oracle side; the file accounting is
    // the earned scale claim.
    "s26_delete_cow" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        val tbl = scratch("s26_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(pmod(col("o_orderkey"), lit(4)) === i).coalesce(1),
            tbl)
        val st = Merge.deleteWhere(s, tbl,
          pmod(col("o_orderkey"), lit(4)) === 2 &&
            col("o_orderstatus") === "F")
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
              .as("f_left"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"), col("f_left"), col("price_mass"),
            lit(st.filesRewritten == 1).as("pruned_rewrite"),
            lit(st.filesCarried == 3).as("carried_rest"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS f_left,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS pruned_rewrite, TRUE AS carried_rest
           FROM orders
           WHERE NOT (o_orderkey % 4 = 2 AND o_orderstatus = 'F')""")),

    // S27: DESCRIBE HISTORY — the table-audit surface every lakehouse
    // exposes, derived here entirely from the manifests plus one read
    // of each data file (production formats keep these counts as
    // commit stats and skip the read): one row per version with its
    // change type (append / replace / rewrite), row deltas, and the
    // data_change writer flag. The planted five-commit history — two
    // appends, a flagged compaction, a third append, a copy-on-write
    // delete touching only the last append's file — exercises every
    // change type, and every row delta is replayable from the base
    // table, so a misclassified commit or a miscounted delta flips the
    // hash. File-count claims (single-file appends, 1-file cow prune)
    // are earned Spark-side flags, since cow rewrite file counts are
    // partitioning-dependent.
    "s27_table_history" -> Q(
      (s, dir) => {
        import graft.ops.{ChangeFeed, Manifest, Merge}
        val tbl = scratch("s27_table", dir)
        wipe(tbl)
        val ev = events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        for (i <- 0 until 2)
          Manifest.commit(
            ev.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1),
            tbl)
        Manifest.commit(Manifest.read(s, tbl).coalesce(1), tbl,
          replace = true, meta = Map(ChangeFeed.DataChangeKey -> "false"))
        Manifest.commit(
          ev.filter(pmod(col("event_id"), lit(3)) === 2).coalesce(1), tbl)
        Merge.deleteWhere(s, tbl, col("event_type") === "error" &&
          pmod(col("event_id"), lit(3)) === 2)
        val hist = Manifest.history(s, tbl)
        val singleFile = hist.filter(_.change_type != "rewrite")
          .forall(_.files_added == 1)
        val cowPruned = hist.last.change_type == "rewrite" &&
          hist.last.files_removed == 1
        s.createDataFrame(hist)
          .select(col("version"), col("change_type"), col("rows_added"),
            col("rows_removed"), col("data_change"),
            lit(singleFile).as("single_file_appends"),
            lit(cowPruned).as("cow_pruned"))
          .orderBy(col("version"))
      },
      Some(
        """WITH c AS (SELECT
             count(CASE WHEN event_id % 3 = 0 THEN 1 END) AS n0,
             count(CASE WHEN event_id % 3 = 1 THEN 1 END) AS n1,
             count(CASE WHEN event_id % 3 = 2 THEN 1 END) AS n2,
             count(CASE WHEN event_id % 3 = 2 AND event_type = 'error'
               THEN 1 END) AS e2
           FROM events)
           SELECT * FROM (
             SELECT CAST(1 AS BIGINT) AS version, 'append' AS change_type,
               CAST(n0 AS BIGINT) AS rows_added,
               CAST(0 AS BIGINT) AS rows_removed, TRUE AS data_change,
               TRUE AS single_file_appends, TRUE AS cow_pruned FROM c
             UNION ALL SELECT 2, 'append', n1, 0, TRUE, TRUE, TRUE FROM c
             UNION ALL SELECT 3, 'replace', n0 + n1, n0 + n1, FALSE,
               TRUE, TRUE FROM c
             UNION ALL SELECT 4, 'append', n2, 0, TRUE, TRUE, TRUE FROM c
             UNION ALL SELECT 5, 'rewrite', n2 - e2, n2, TRUE, TRUE, TRUE
               FROM c)
           ORDER BY version""")),

    // S28: MIN/MAX FILE SKIPPING FROM THE LOG — the third leg of the
    // data-skipping triad (s15 z-order clusters, s18 bloom-prunes
    // partitions, s28 prunes FILES from manifest stats): every commit
    // records its fresh files' per-column min/max as manifest metadata
    // (one bounded aggregate over the already-written batch, atomic
    // with the version), and a selective read drops files whose range
    // can't match — pure driver-side metadata, zero footer I/O, which
    // at 100 TB is the difference between planning in O(files) and
    // opening a million footers. Orders land as four contiguous
    // key-range commits (the clustered-ingest shape stats need to
    // bite); the second-quartile probe must plan to exactly ONE file
    // (earned flags), and the surviving content is the oracle side.
    "s28_minmax_skipping" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s28_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        // driver-side scalar bound (the s11 paged-fetch precedent)
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))
        val (pruned, kept, skipped) = Manifest.readPruned(s, tbl,
          "o_orderkey", q.toDouble, (2 * q - 1).toDouble)
        pruned.filter(col("o_orderkey") >= q &&
            col("o_orderkey") <= 2 * q - 1)
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"), col("price_mass"),
            lit(kept == 1).as("one_file_read"),
            lit(skipped == 3).as("three_skipped"))
      },
      Some(
        """WITH b AS (SELECT max(o_orderkey) // 4 + 1 AS q FROM orders)
           SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS one_file_read, TRUE AS three_skipped
           FROM orders, b
           WHERE o_orderkey >= q AND o_orderkey <= 2 * q - 1""")),

    // S29: STATS-PRUNED MERGE — s28's file skipping composed INTO s25's
    // copy-on-write touch detection (the Delta data-skipping-in-MERGE
    // shape): the merge derives the source's key bounds in the same
    // bounded aggregate that enforces the one-row-per-key precondition,
    // intersects them with the manifests' per-file `#filestats.` ranges,
    // and builds the touch scan from ONLY the surviving candidate paths
    // — a key-range source (the CDC backfill / partitioned-upsert shape)
    // plans its touch detection in O(files) driver metadata and reads
    // one file of four instead of the table (stats_pruned_touch is the
    // earned flag: candidates == 1, structural, since skipped files'
    // paths never enter the scan). Content is the oracle-replayed side —
    // a lost update, dropped carry, or a file wrongly pruned (its
    // matches silently unmerged) flips the hash.
    "s29_merge_pruned" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        val tbl = scratch("s29_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        // driver-side scalar bound (the s11 paged-fetch precedent)
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))
        val src = o.filter(col("o_orderkey") >= q &&
            col("o_orderkey") < 2 * q)
          .withColumn("o_orderstatus", lit("X"))
        val st = Merge.upsert(s, tbl, src, Seq("o_orderkey"))
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_orderstatus") === "X", 1L).otherwise(0L))
              .as("updated"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"), col("updated"), col("price_mass"),
            lit(st.filesCandidates == 1).as("stats_pruned_touch"),
            lit(st.filesRewritten == 1).as("one_rewritten"),
            lit(st.filesCarried == 3).as("three_carried"))
      },
      Some(
        """WITH b AS (SELECT max(o_orderkey) // 4 + 1 AS q FROM orders)
           SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey >= q AND o_orderkey < 2 * q
               THEN 1 ELSE 0 END) AS BIGINT) AS updated,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS stats_pruned_touch, TRUE AS one_rewritten,
             TRUE AS three_carried
           FROM orders, b""")),

    // S30: METADATA-ONLY COUNT(*) — the query every table format
    // answers without touching data: each commit records its fresh
    // files' row counts as `#filerows.` manifest lines (r12), so the
    // exact row count OF EVERY VERSION — time travel included, and
    // across a copy-on-write delete whose rewrite re-recorded its
    // surviving file's count — is a driver-side metadata sum
    // (Snapshot.rowCount), zero data or footer I/O at any table size.
    // The oracle replays all four per-version counts from the base
    // table, so a miscounted file, a carry lost across the cow
    // rewrite, or a stale count after the delete flips the hash;
    // metadata_only is the earned flag (rowCount answered — defined —
    // for every version).
    "s30_metadata_rowcount" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        val tbl = scratch("s30_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
        for (i <- 0 until 3)
          Manifest.commit(
            o.filter(pmod(col("o_orderkey"), lit(3)) === i).coalesce(1),
            tbl)
        Merge.deleteWhere(s, tbl,
          pmod(col("o_orderkey"), lit(3)) === 1 &&
            col("o_orderstatus") === "F")
        val counts = (1L to Manifest.version(tbl)).map { v =>
          val rc = Manifest.at(tbl, v).rowCount // pure manifest metadata
          (v, rc.getOrElse(-1L), rc.isDefined)
        }
        import s.implicits._
        counts.toDF("version", "live_rows", "metadata_only")
          .orderBy(col("version"))
      },
      Some(
        """WITH c AS (SELECT
             count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS n0,
             count(CASE WHEN o_orderkey % 3 = 1 THEN 1 END) AS n1,
             count(CASE WHEN o_orderkey % 3 = 2 THEN 1 END) AS n2,
             count(CASE WHEN o_orderkey % 3 = 1 AND o_orderstatus = 'F'
               THEN 1 END) AS f1
           FROM orders)
           SELECT * FROM (
             SELECT CAST(1 AS BIGINT) AS version,
               CAST(n0 AS BIGINT) AS live_rows, TRUE AS metadata_only
               FROM c
             UNION ALL SELECT 2, n0 + n1, TRUE FROM c
             UNION ALL SELECT 3, n0 + n1 + n2, TRUE FROM c
             UNION ALL SELECT 4, n0 + n1 + n2 - f1, TRUE FROM c)
           ORDER BY version""")),

    // S31: RESTORE — rollback as a METADATA-ONLY commit (the Delta
    // RESTORE TABLE shape): a bad delete is undone by publishing a new
    // version that lists exactly the pre-delete version's files — no
    // data read, copied, or rewritten (immutable files make rollback a
    // driver-side manifest write at any table size), history keeps the
    // bad version readable (a restore appends to the log, so IT is
    // restorable too), and provenance lands as restore.of metadata.
    // The oracle replays the restored content (the full pre-delete
    // mass — a restore that lost or duplicated rows flips the hash);
    // metadata_only (restored file list IS the old list, zero fresh
    // files) and bad_still_readable (time travel into the undone
    // version) are the earned flags.
    "s31_restore" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        val tbl = scratch("s31_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        for (i <- 0 until 2)
          Manifest.commit(
            o.filter(pmod(col("o_orderkey"), lit(2)) === i).coalesce(1),
            tbl)
        // the "bad" delete: drops every F-status row (v3)
        Merge.deleteWhere(s, tbl, col("o_orderstatus") === "F")
        val deletedRows = Manifest.at(tbl).rowCount.get // metadata count
        val filesBefore = Manifest.at(tbl, 2L).files
        val v = Manifest.restore(tbl, 2L) // v4, metadata-only
        val restoredSame = Manifest.at(tbl, v).files == filesBefore
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
              .as("f_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"), col("f_rows"), col("price_mass"),
            lit(restoredSame).as("metadata_only"),
            lit(Manifest.at(tbl, 3L).rowCount.contains(deletedRows))
              .as("bad_still_readable"),
            lit(Manifest.at(tbl, v).meta.get("restore.of").contains("2"))
              .as("provenance"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS f_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS metadata_only, TRUE AS bad_still_readable,
             TRUE AS provenance
           FROM orders""")),

    // S32: OPTIMIZE WHERE — SELECTIVE compaction, the composition that
    // completes the maintenance triad (s17 compacts everything, s15
    // re-clusters everything, s32 does both to ONLY the targeted
    // range): the manifests' per-file stats name the files whose range
    // intersects the WHERE, exactly those rewrite into one sorted
    // file (stats re-recorded TIGHT, so later probes keep pruning —
    // restats_prune is the earned receipt: a first-quartile probe
    // after the optimize plans to 1 of 3 files), the rest carry by
    // reference, and the commit ships the data_change=false writer
    // flag so CDC consumers skip it with no diff (flagged_layout).
    // Maintenance cost ∝ the targeted slice, never the table. Content
    // is the oracle-replayed side — a row lost or duplicated across
    // the rewrite flips the hash.
    "s32_optimize_where" -> Q(
      (s, dir) => {
        import graft.ops.{Layout, Manifest}
        val tbl = scratch("s32_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))
        val (v, rewrote, carried) = Layout.optimizeWhere(s, tbl,
          "o_orderkey", 0.0, (2 * q - 1).toDouble)
        val (_, kept, skipped) = Manifest.readPruned(s, tbl,
          "o_orderkey", 0.0, (q - 1).toDouble)
        val flagged = Manifest.history(s, tbl)
          .find(_.version == v).exists(!_.data_change)
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"), col("price_mass"),
            lit(rewrote == 2 && carried == 2).as("targeted_only"),
            lit(kept == 1 && skipped == 2).as("restats_prune"),
            lit(flagged).as("flagged_layout"))
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS targeted_only, TRUE AS restats_prune,
             TRUE AS flagged_layout
           FROM orders""")),

    // S33: MERGE-ON-READ DELETE VIA DELETION VECTORS — the write-path
    // counterpart COW deletes can't give: at 100 TB, a single-key GDPR
    // erasure must not pay a file rewrite, so the delete publishes ONLY
    // a position bitmap sidecar (Delta DV / Iceberg v2 position-delete
    // shape) and readers hide the positions with a size-gated broadcast
    // anti-join. The lifecycle exercises every contract edge: the match
    // scan is stats-pruned to one candidate file (structural, like
    // s29), the commit changes ZERO data files (dv_only_commit — files
    // before == after), the MoR read equals the logical delete,
    // time travel still sees the pre-delete rows, the change feed emits
    // exactly the hidden rows as delete images, and OPTIMIZE WHERE
    // absorbs the DV (materializes it away, retiring the read-side
    // anti-join — the COW/MoR maintenance trade every lakehouse runs).
    // Values (post-delete count/mass, deleted-row count) replay in the
    // oracle; a resurrected row, lost position, or wrong delete image
    // flips a value or a flag.
    "s33_delete_dv" -> Q(
      (s, dir) => {
        import graft.ops.{ChangeFeed, Layout, Manifest, Merge}
        val tbl = scratch("s33_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        // driver-side scalar bound (the s11 paged-fetch precedent)
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))
        val filesBefore = Manifest.at(tbl).files
        val st = Merge.deleteWhereDv(s, tbl,
          col("o_orderkey") >= q && col("o_orderkey") < 2 * q &&
            col("o_orderstatus") === "F",
          pruneRange = Some(("o_orderkey", q.toDouble,
            (2 * q - 1).toDouble)))
        val dvOnly = Manifest.at(tbl).files == filesBefore &&
          st.version == 5L
        val morCount = Manifest.read(s, tbl, st.version).count()
        val preCount = Manifest.read(s, tbl, st.version - 1).count()
        val cdcDeletes = ChangeFeed.changes(s, tbl, st.version - 1,
            st.version)
          .filter(col(ChangeFeed.TypeCol) === "delete").count()
        // maintenance absorbs the DV: the targeted rewrite materializes
        // the hidden positions away and drops the mapping
        Layout.optimizeWhere(s, tbl, "o_orderkey", q.toDouble,
          (2 * q - 1).toDouble)
        val absorbed = Manifest.at(tbl).dv.isEmpty
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double").as("price_mass"))
          .select(col("n_rows"),
            lit(st.positionsAdded).as("positions_deleted"),
            col("price_mass"),
            lit(dvOnly).as("dv_only_commit"),
            lit(st.filesCandidates == 1).as("stats_pruned_match"),
            lit(morCount == preCount - st.positionsAdded)
              .as("mor_read_hides"),
            lit(cdcDeletes == st.positionsAdded).as("cdc_delete_images"),
            lit(absorbed).as("dv_absorbed"))
      },
      Some(
        """WITH b AS (SELECT max(o_orderkey) // 4 + 1 AS q FROM orders),
             k AS (SELECT o_totalprice,
               o_orderkey >= (SELECT q FROM b) AND
               o_orderkey < 2 * (SELECT q FROM b) AND
               o_orderstatus = 'F' AS del FROM orders)
           SELECT CAST(count(CASE WHEN NOT del THEN 1 END) AS BIGINT)
               AS n_rows,
             CAST(count(CASE WHEN del THEN 1 END) AS BIGINT)
               AS positions_deleted,
             CAST(sum(CASE WHEN NOT del
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               AS price_mass,
             TRUE AS dv_only_commit, TRUE AS stats_pruned_match,
             TRUE AS mor_read_hides, TRUE AS cdc_delete_images,
             TRUE AS dv_absorbed
           FROM k""")),

    // S34: ERASURE-COMPLIANCE AUDIT — the full right-to-be-forgotten
    // chain s33's single delete only starts: DV delete (logical, zero
    // rewrites) → compaction absorbs the DV (survivors rewritten,
    // hidden rows not copied) → staged VACUUM proves the retention
    // story end-to-end. After the first vacuum (retain the DV'd
    // version + head) EVERY retained version reads zero erased-key
    // rows — the DV'd version via the position anti-join, the
    // compacted head physically — while the dropped pre-delete
    // versions fail LOUDLY (a fenced time-travel read, never a silent
    // resurrection). The final vacuum (retain head only) completes
    // PHYSICAL erasure: the pre-compaction files that still held the
    // hidden bytes are deleted from disk, the DV sidecar sweeps with
    // them, and the DV'd version's manifest is gone. Values replay in
    // the oracle; each stage's proof is an earned flag.
    "s34_erasure_compliance" -> Q(
      (s, dir) => {
        import graft.ops.{Manifest, Merge}
        import java.nio.file.{Files => JFiles, Paths => JPaths}
        val tbl = scratch("s34_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))
        val erasedPred = pmod(col("o_custkey"), lit(10)) === 3
        val st = Merge.deleteWhereDv(s, tbl, erasedPred)        // v5
        // maintenance absorbs the DV: compaction reads the DV-applied
        // view, so hidden rows are never copied into the new layout
        Manifest.commit(Manifest.read(s, tbl).repartition(1), tbl,
          replace = true)                                       // v6
        val origFiles = Manifest.at(tbl, 5L).files
        // stage 1: drop pre-delete history, KEEP the DV'd version —
        // the steady state where time travel must stay compliant
        val (dropped1, _) = Manifest.vacuum(tbl, retainLast = 2)
        val retainedClean = Seq(5L, 6L).forall(v =>
          Manifest.read(s, tbl, v).filter(erasedPred).isEmpty)
        val droppedLoud = dropped1 == Seq(1L, 2L, 3L, 4L) &&
          (1L to 4L).forall(v =>
            scala.util.Try(Manifest.read(s, tbl, v).count()).isFailure)
        // stage 2: physical erasure — the bytes leave the disk
        Manifest.vacuum(tbl, retainLast = 1)
        val physical =
          origFiles.forall(f => !JFiles.exists(
            JPaths.get(tbl).resolve(f))) &&
          Manifest.at(tbl).dv.isEmpty &&
          scala.util.Try(Manifest.read(s, tbl, 5L).count()).isFailure
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double")
              .as("price_mass"))
          .select(col("n_rows"),
            lit(st.positionsAdded).as("rows_erased"),
            col("price_mass"),
            lit(retainedClean).as("retained_clean"),
            lit(droppedLoud).as("dropped_loud"),
            lit(physical).as("physically_erased"))
      },
      Some(
        """WITH k AS (SELECT o_totalprice, o_custkey % 10 = 3 AS del
             FROM orders)
           SELECT CAST(count(CASE WHEN NOT del THEN 1 END) AS BIGINT)
               AS n_rows,
             CAST(count(CASE WHEN del THEN 1 END) AS BIGINT)
               AS rows_erased,
             CAST(sum(CASE WHEN NOT del
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
               AS price_mass,
             TRUE AS retained_clean, TRUE AS dropped_loud,
             TRUE AS physically_erased
           FROM k""")),

    // S35: MERGE-ON-READ UPDATE — the DV completion s33's delete
    // starts: UPDATE ... SET hides the matched positions behind a DV
    // and appends the updated images in ONE atomic commit (the Delta
    // DV-update shape), so write cost is ∝ matched rows — the COW
    // alternative rewrites whole files for a one-column touch-up. The
    // lifecycle pins the contract edges: the match scan is
    // stats-pruned to one candidate file, NO existing file is
    // rewritten (images only append — no_rewrites), time travel sees
    // the pre-update values (pre_update_clean: zero 'X' rows at v4),
    // the audit log reads optype=update with symmetric row deltas, and
    // the change feed emits the old rows as deletes + new as inserts.
    // Values (per-status counts/mass, positions updated) replay in the
    // oracle — a lost update, double image, or resurrected original
    // flips a value.
    "s35_update_dv" -> Q(
      (s, dir) => {
        import graft.ops.{ChangeFeed, Manifest, Merge}
        val tbl = scratch("s35_table", dir)
        wipe(tbl)
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))
        val filesBefore = Manifest.at(tbl).files
        val st = Merge.updateWhereDv(s, tbl,
          col("o_orderkey") >= q && col("o_orderkey") < 2 * q &&
            col("o_orderstatus") === "F",
          Seq("o_orderstatus" -> lit("X")),
          pruneRange = Some(("o_orderkey", q.toDouble,
            (2 * q - 1).toDouble)),
          statsCols = Seq("o_orderkey"))
        val noRewrites =
          filesBefore.toSet.subsetOf(Manifest.at(tbl).files.toSet) &&
          st.version == 5L
        val preClean = Manifest.read(s, tbl, 4L)
          .filter(col("o_orderstatus") === "X").isEmpty
        val h = Manifest.history(s, tbl).find(_.version == 5L).get
        val audit = h.change_type == "update" &&
          h.rows_added == st.positionsAdded &&
          h.rows_removed == st.positionsAdded
        val feed = ChangeFeed.changes(s, tbl, 4L, 5L)
          .groupBy(col(ChangeFeed.TypeCol)).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val cdcSymmetric =
          feed.get("delete").contains(st.positionsAdded) &&
          feed.get("insert").contains(st.positionsAdded)
        Manifest.read(s, tbl)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("o_totalprice"))).cast("double")
              .as("price_mass"))
          .select(col("o_orderstatus"), col("cnt"), col("price_mass"),
            lit(st.positionsAdded).as("positions_updated"),
            lit(st.filesCandidates == 1).as("stats_pruned_match"),
            lit(noRewrites).as("no_rewrites"),
            lit(preClean).as("pre_update_clean"),
            lit(audit).as("audit_update"),
            lit(cdcSymmetric).as("cdc_symmetric"))
          .orderBy(col("o_orderstatus"))
      },
      Some(
        """WITH b AS (SELECT max(o_orderkey) // 4 + 1 AS q FROM orders),
             k AS (SELECT o_totalprice,
               CASE WHEN o_orderkey >= (SELECT q FROM b) AND
                 o_orderkey < 2 * (SELECT q FROM b) AND
                 o_orderstatus = 'F' THEN 'X' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey >= (SELECT q FROM b) AND
                 o_orderkey < 2 * (SELECT q FROM b) AND
                 o_orderstatus = 'F' THEN 1 ELSE 0 END AS upd
             FROM orders)
           SELECT o_orderstatus, count(*) AS cnt,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             (SELECT CAST(sum(upd) AS BIGINT) FROM k)
               AS positions_updated,
             TRUE AS stats_pruned_match, TRUE AS no_rewrites,
             TRUE AS pre_update_clean, TRUE AS audit_update,
             TRUE AS cdc_symmetric
           FROM k GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // s36: TABLE REFS (tags) — named version pins, the Iceberg tag /
    // audit-point shape: a tag is driver-side metadata (one tiny
    // `_refs/<name>` file, atomic-exclusive publish) that (1) VACUUM
    // RETAINS — the pinned version's manifest, data files and DV state
    // survive ANY retention window until the tag is deleted — and (2)
    // SQL serves via `VERSION AS OF 'name'` (ExtensionsSpec pins
    // SQL ≡ API). The lifecycle here proves all three contract halves
    // with earned flags: four quarter commits, tag v2, vacuum
    // retainLast=1 → pinned_readable (the tagged snapshot reads
    // EXACTLY its commit-time content, replayed by the oracle as the
    // first two chunks) and dropped_loud (untagged v1/v3 are fenced,
    // never silently redirected); then deleteTag + re-vacuum →
    // tag_retired (the pin, and only the pin, was keeping v2 alive).
    // At 100 TB this is the difference between "keep 30 days of
    // everything" and "pin the three versions audits actually need":
    // retention cost tracks the pins, not the window.
    "s36_table_refs" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        import scala.util.Try
        val tbl = scratch("s36_table", dir)
        wipe(tbl)
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        for (i <- 0 until 4)
          Manifest.commit(
            docs.filter(pmod(col("doc_id"), lit(4)) === i).coalesce(1),
            tbl, statsCols = Seq("doc_id"))
        Manifest.tag(tbl, "audit-q2", 2L)
        val (dropped1, _) = Manifest.vacuum(tbl, retainLast = 1)
        val tagged = Manifest.read(s, tbl,
          Manifest.resolveRef(tbl, "audit-q2"))
        val expectTag = docs.filter(pmod(col("doc_id"), lit(4)) <= 1)
        val pinnedReadable = dropped1 == Seq(1L, 3L) &&
          tagged.exceptAll(expectTag).isEmpty &&
          expectTag.exceptAll(tagged).isEmpty
        val droppedLoud = Seq(1L, 3L).forall(v =>
          Try(Manifest.read(s, tbl, v).count()).isFailure)
        Manifest.deleteTag(tbl, "audit-q2")
        val (dropped2, _) = Manifest.vacuum(tbl, retainLast = 1)
        val tagRetired = dropped2 == Seq(2L) &&
          Try(Manifest.read(s, tbl, 2L).count()).isFailure &&
          Try(Manifest.resolveRef(tbl, "audit-q2")).isFailure
        // the aggregate replays the TAGGED snapshot's content from the
        // source table (the tagged read itself was consumed eagerly by
        // the pinned_readable equality above, before the re-vacuum)
        expectTag.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(pinnedReadable).as("pinned_readable"),
            lit(droppedLoud).as("dropped_loud"),
            lit(tagRetired).as("tag_retired"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            TRUE AS pinned_readable, TRUE AS dropped_loud,
            TRUE AS tag_retired
          FROM documents WHERE doc_id % 4 <= 1
          GROUP BY lang ORDER BY lang""")),

    // s37: WRITE-AUDIT-PUBLISH — the Iceberg WAP pattern, how risky
    // ingest ships at 100 TB: the expensive write happens ONCE into a
    // staged batch that no reader can see (the manifest goes to
    // `wap-<id>`, version() unmoved, vacuum protects the files), the
    // audit reads the WOULD-BE table (head ⊎ staged, DV-applied) and
    // decides, and the decision costs metadata — publish fast-forwards
    // the staged files as the next version (zero data moved; the head's
    // CHECK constraints re-validate over only the staged files as the
    // declared backstop even when the audit was lax), drop deletes the
    // stage and reclaims its batch dir immediately. Lifecycle here: two
    // seed chunks + an n_chars>=0 CHECK; a BAD third chunk (docs with
    // doc_id ≡ 2 mod 7 get n_chars negated) stages, the audit catches it
    // (audit_caught), belt-and-braces publish refuses it too
    // (gate_held), it drops with immediate reclaim (dropped_reclaimed);
    // the clean third chunk stages and publishes (publish_zero_copy:
    // the staged files are referenced VERBATIM by the new version).
    // staged_invisible pins that the head never moved while stages
    // existed. Content oracle: all three chunks = the full table.
    "s37_write_audit_publish" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s37_table", dir)
        wipe(tbl)
        def parquetCount(t: String): Long = {
          val d = java.nio.file.Paths.get(t, "data")
          if (!java.nio.file.Files.isDirectory(d)) 0L
          else {
            val w = java.nio.file.Files.walk(d)
            try w.filter(_.toString.endsWith(".parquet")).count()
            finally w.close()
          }
        }
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val chunk = (i: Int) =>
          docs.filter(pmod(col("doc_id"), lit(3)) === i).coalesce(1)
        Manifest.commit(chunk(0), tbl, statsCols = Seq("doc_id"))
        Manifest.commit(chunk(1), tbl, statsCols = Seq("doc_id"))
        Manifest.addConstraint(s, tbl, "chars_nonneg", "n_chars >= 0")
        val headBefore = Manifest.version(tbl) // 3
        // stage the BAD chunk: docs with doc_id ≡ 2 (mod 7) corrupted
        // negative (a subset that intersects the mod-3 chunk)
        val bad = chunk(2).withColumn("n_chars",
          when(pmod(col("doc_id"), lit(7)) === 2, -col("n_chars"))
            .otherwise(col("n_chars")))
        Manifest.stageCommit(bad, tbl, "ingest-bad",
          statsCols = Seq("doc_id"))
        val auditViolations = Manifest.readStaged(s, tbl, "ingest-bad")
          .filter(col("n_chars") < 0).count()
        val gateHeld = scala.util.Try(
          Manifest.publishStaged(s, tbl, "ingest-bad")).isFailure
        val stagedInvisible = Manifest.version(tbl) == headBefore &&
          Manifest.read(s, tbl).filter(col("n_chars") < 0).isEmpty
        val filesBefore = parquetCount(tbl)
        Manifest.dropStaged(tbl, "ingest-bad")
        val droppedReclaimed = parquetCount(tbl) < filesBefore &&
          Manifest.stagedIds(tbl).isEmpty
        // stage the CLEAN chunk, audit passes, publish fast-forwards
        Manifest.stageCommit(chunk(2), tbl, "ingest-clean",
          statsCols = Seq("doc_id"))
        val auditClean = Manifest.readStaged(s, tbl, "ingest-clean")
          .filter(col("n_chars") < 0).isEmpty
        val headFiles = Manifest.at(tbl).files.toSet
        val diskBefore = parquetCount(tbl)
        val v = Manifest.publishStaged(s, tbl, "ingest-clean")
        // zero-copy: the new version carries the head verbatim, and
        // publish wrote or moved NO data file (the staged file already
        // on disk is simply referenced)
        val published = Manifest.at(tbl).files
        val publishZeroCopy = v == headBefore + 1 &&
          headFiles.subsetOf(published.toSet) &&
          published.size > headFiles.size &&
          parquetCount(tbl) == diskBefore
        Manifest.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(auditViolations).as("audit_caught"),
            lit(gateHeld).as("gate_held"),
            lit(stagedInvisible).as("staged_invisible"),
            lit(droppedReclaimed).as("dropped_reclaimed"),
            lit(auditClean && publishZeroCopy).as("publish_zero_copy"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE doc_id % 3 = 2 AND doc_id % 7 = 2 AND n_chars > 0)
              AS audit_caught,
            TRUE AS gate_held, TRUE AS staged_invisible,
            TRUE AS dropped_reclaimed, TRUE AS publish_zero_copy
          FROM documents GROUP BY lang ORDER BY lang""")),

    // s38: SQL DML over a governed table — the WRITE half of the SQL
    // surface (reads: s16 VERSION AS OF, s27 .history, s36 tags): plain
    // `DELETE FROM graft.t WHERE …` / `UPDATE graft.t SET … WHERE …`
    // route through the SAME merge-on-read engine as the Scala API
    // (Merge.deleteWhereDv / updateWhereDv via the GraftSqlDml analyzer
    // rule — the Delta pattern: catalog resolves, extension rewrites to
    // the table-format write path). Earned: zero_rewrites (both DMLs
    // publish deletion vectors + update images, no data file moves —
    // the file list is byte-identical across them), mor_history (the
    // commits read back as optype delete/update), and the per-verb
    // num_affected_rows cross-checked against the oracle's own counts.
    // Content oracle replays the delete + update in SQL. GDPR shape:
    // single-key SQL erasure on a 100 TB table = a few KB of positions.
    "s38_sql_dml" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s38_table", dir)
        wipe(tbl)
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        Manifest.commit(
          T(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars"))
            .coalesce(2), tbl, statsCols = Seq("doc_id"))
        val filesBefore = Manifest.at(tbl).files
        val deleted = s.sql(
          s"DELETE FROM graft.`$tbl` WHERE doc_id % 11 = 3")
          .collect().head.getLong(0)
        val deleteZeroCopy = Manifest.at(tbl).files == filesBefore
        val updated = s.sql(
          s"UPDATE graft.`$tbl` SET n_chars = n_chars + 1000 " +
            "WHERE doc_id % 13 = 4")
          .collect().head.getLong(0)
        // DELETE moves no file at all; UPDATE adds only its image
        // files — every pre-DML file is still listed verbatim (no
        // copy-on-write rewrite happened) and the DVs carry the hides
        val head = Manifest.at(tbl)
        val zeroRewrites = deleteZeroCopy &&
          filesBefore.toSet.subsetOf(head.files.toSet) && head.dv.nonEmpty
        val hist = Manifest.history(s, tbl).takeRight(2)
          .map(_.change_type)
        // MERGE INTO (the upsert-by-key Delta idiom → Merge.upsert's
        // COW keyed merge): every doc_id ≡ 5 (mod 17) takes the source
        // row — matched keys update in place, keys the DELETE removed
        // re-insert
        T(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(17)) === 5)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 7).as("n_chars"))
          .createOrReplaceTempView(s"s38_src_${dirTag(dir)}")
        val merged = s.sql(
          s"MERGE INTO graft.`$tbl` AS t " +
            s"USING s38_src_${dirTag(dir)} AS src " +
            "ON t.doc_id = src.doc_id " +
            "WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *")
          .collect().head.getLong(0)
        // DELETE … WHERE k IN (SELECT …): the set-shaped GDPR verb —
        // the uncorrelated deterministic subquery lowers to
        // Merge.deleteKeysDv (its key set materialized once), hiding
        // matched rows behind deletion vectors; replaying the same
        // statement hides nothing new (MoR idempotence, asserted)
        T(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(19)) === 7)
          .select(col("doc_id"))
          .createOrReplaceTempView(s"s38_erase_${dirTag(dir)}")
        val inDeleteSql =
          s"DELETE FROM graft.`$tbl` WHERE doc_id IN " +
            s"(SELECT doc_id FROM s38_erase_${dirTag(dir)})"
        val inDeleted = s.sql(inDeleteSql).collect().head.getLong(0)
        val inReplayIdempotent =
          s.sql(inDeleteSql).collect().head.getLong(0) == 0L
        Manifest.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(deleted).as("deleted_rows"),
            lit(updated).as("updated_rows"),
            lit(merged).as("merged_rows"),
            lit(inDeleted).as("in_deleted_rows"),
            lit(zeroRewrites).as("zero_rewrites"),
            lit(hist == Seq("delete", "update")).as("mor_history"),
            lit(inReplayIdempotent).as("in_replay_idempotent"))
          .orderBy(col("lang"))
      },
      Some("""WITH surv AS (
            SELECT lang,
              CASE WHEN doc_id % 13 = 4 THEN n_chars + 1000
                ELSE n_chars END AS n_chars,
              doc_id
            FROM documents WHERE doc_id % 11 <> 3),
          final AS (
            SELECT doc_id, lang, n_chars + 7 AS n_chars
            FROM documents WHERE doc_id % 17 = 5
            UNION ALL
            SELECT doc_id, lang, n_chars FROM surv
            WHERE doc_id % 17 <> 5),
          final2 AS (
            SELECT * FROM final WHERE doc_id % 19 <> 7)
          SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            (SELECT count(*) FROM documents WHERE doc_id % 11 = 3)
              AS deleted_rows,
            (SELECT count(*) FROM surv WHERE doc_id % 13 = 4)
              AS updated_rows,
            (SELECT count(*) FROM documents WHERE doc_id % 17 = 5)
              AS merged_rows,
            (SELECT count(*) FROM final WHERE doc_id % 19 = 7)
              AS in_deleted_rows,
            TRUE AS zero_rewrites, TRUE AS mor_history,
            TRUE AS in_replay_idempotent
          FROM final2 GROUP BY lang ORDER BY lang""")),

    // s39: SQL INSERT + DDL over a governed table — the verbs that
    // complete the SQL surface (s38 covers DELETE/UPDATE/MERGE-upsert):
    // the table is CREATED by `CREATE TABLE … AS SELECT` (the governed
    // creating commit), then plain `INSERT INTO graft.t SELECT …`
    // routes through Manifest.commit's governed append (optimistic
    // concurrency, constraint gate, per-file stats) via the GraftSqlDml
    // analyzer rule; a column-list INSERT naming a column the table
    // lacks performs the append-compatible SCHEMA EVOLUTION; and
    // `MERGE INTO … WHEN MATCHED THEN DELETE` (the GDPR request-set
    // idiom) routes to Merge.deleteKeysDv's merge-on-read erasure.
    // Earned: pure_append (the INSERT carries
    // every pre-insert file by reference — no rewrite), dv_erasure (the
    // merge-delete publishes only deletion vectors — file list
    // unchanged), schema_evolved (every pre-evolution row reads the new
    // column as null). Each verb's num_affected_rows is cross-checked
    // against the oracle's own counts. At 100 TB: INSERT cost ∝ the
    // batch, erasure cost ∝ matched positions — never table size.
    "s39_sql_insert" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s39_table", dir)
        wipe(tbl)
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        // seed three quarters of the corpus via SQL CTAS (the DDL verb
        // exercised on the oracle path — CREATE TABLE AS SELECT is
        // Manifest.commit's creating version); INSERT the rest back
        T(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(4)) =!= 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .coalesce(2)
          .createOrReplaceTempView(s"s39_seed_${dirTag(dir)}")
        s.sql(s"CREATE TABLE graft.`$tbl` AS " +
          s"SELECT * FROM s39_seed_${dirTag(dir)}")
        val filesBefore = Manifest.at(tbl).files
        T(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(4)) === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .createOrReplaceTempView(s"s39_ins_${dirTag(dir)}")
        val inserted = s.sql(
          s"INSERT INTO graft.`$tbl` SELECT * FROM s39_ins_${dirTag(dir)}")
          .collect().head.getLong(0)
        val pureAppend =
          filesBefore.toSet.subsetOf(Manifest.at(tbl).files.toSet) &&
            Manifest.history(s, tbl).last.change_type == "append"
        // schema-evolving INSERT: 'src' is a NEW column — the commit
        // evolves the schema; every earlier row reads it as null
        val evolved = s.sql(
          s"INSERT INTO graft.`$tbl` (doc_id, lang, n_chars, src) " +
            "VALUES (-1, 'xx', 0, 'manual')")
          .collect().head.getLong(0)
        val schemaEvolved =
          Manifest.read(s, tbl).columns.contains("src")
        // GDPR request-set erasure via SQL MERGE-DELETE
        T(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(9)) === 2)
          .select(col("doc_id"))
          .createOrReplaceTempView(s"s39_req_${dirTag(dir)}")
        val preErase = Manifest.at(tbl).files
        val erased = s.sql(
          s"MERGE INTO graft.`$tbl` AS t " +
            s"USING s39_req_${dirTag(dir)} AS r ON t.doc_id = r.doc_id " +
            "WHEN MATCHED THEN DELETE")
          .collect().head.getLong(0)
        val head = Manifest.at(tbl)
        val dvErasure = head.files == preErase && head.dv.nonEmpty &&
          Manifest.history(s, tbl).last.change_type == "delete"
        Manifest.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(inserted).as("inserted_rows"),
            lit(evolved).as("evolved_rows"),
            lit(erased).as("erased_rows"),
            lit(pureAppend).as("pure_append"),
            lit(dvErasure).as("dv_erasure"),
            lit(schemaEvolved).as("schema_evolved"))
          .orderBy(col("lang"))
      },
      Some("""WITH base AS (
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
            UNION ALL SELECT -1, 'xx', 0),
          live AS (SELECT * FROM base WHERE doc_id % 9 <> 2)
          SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            (SELECT count(*) FROM documents WHERE doc_id % 4 = 1)
              AS inserted_rows,
            CAST(1 AS BIGINT) AS evolved_rows,
            (SELECT count(*) FROM base WHERE doc_id % 9 = 2)
              AS erased_rows,
            TRUE AS pure_append, TRUE AS dv_erasure,
            TRUE AS schema_evolved
          FROM live GROUP BY lang ORDER BY lang""")),

    // s40: the SQL DDL LIFECYCLE a table actually lives — CREATE TABLE
    // with declared columns (a schema-bearing EMPTY v1), INSERT to fill
    // it, ALTER TABLE ADD COLUMNS (a metadata-only evolving commit),
    // then INSERT into the evolved schema. Earned: created_empty (v1
    // reads zero rows under the declared schema), alter_zero_files (the
    // ALTER version lists exactly the files the INSERT published —
    // nothing new, nothing rewritten), old_rows_null (every pre-ALTER
    // row reads the added column as null). At 100 TB: both DDL verbs
    // cost one KB-sized manifest write; no data file is ever touched.
    "s40_sql_ddl_lifecycle" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s40_table", dir)
        wipe(tbl)
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        s.sql(s"CREATE TABLE graft.`$tbl` (doc_id BIGINT, lang STRING)")
        val createdEmpty = Manifest.version(tbl) == 1L &&
          Manifest.read(s, tbl).count() == 0L
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
          .createOrReplaceTempView(s"s40_base_${dirTag(dir)}")
        s.sql(s"INSERT INTO graft.`$tbl` " +
          s"SELECT * FROM s40_base_${dirTag(dir)}")
        val filesAfterInsert = Manifest.at(tbl).files
        s.sql(s"ALTER TABLE graft.`$tbl` ADD COLUMNS (n_chars BIGINT)")
        val altered = Manifest.at(tbl)
        val alterZeroFiles = altered.files == filesAfterInsert &&
          altered.schema.fieldNames.toSeq ==
            Seq("doc_id", "lang", "n_chars")
        T(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"))
          .createOrReplaceTempView(s"s40_evo_${dirTag(dir)}")
        s.sql(s"INSERT INTO graft.`$tbl` (doc_id, lang, n_chars) " +
          s"SELECT * FROM s40_evo_${dirTag(dir)}")
        val evolved = Manifest.read(s, tbl)
        val oldRowsNull = evolved
          .filter(col("doc_id") < 1000000L && col("n_chars").isNotNull)
          .isEmpty
        evolved.groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            count(col("n_chars")).as("n_filled"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("n_filled"),
            col("sum_chars"),
            lit(createdEmpty).as("created_empty"),
            lit(alterZeroFiles).as("alter_zero_files"),
            lit(oldRowsNull).as("old_rows_null"))
          .orderBy(col("lang"))
      },
      Some("""WITH final AS (
            SELECT doc_id, lang, NULL::BIGINT AS n_chars FROM documents
            UNION ALL
            SELECT doc_id + 1000000, lang, CAST(n_chars AS BIGINT)
            FROM documents WHERE doc_id % 5 = 0)
          SELECT lang, count(*) AS cnt, count(n_chars) AS n_filled,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            TRUE AS created_empty, TRUE AS alter_zero_files,
            TRUE AS old_rows_null
          FROM final GROUP BY lang ORDER BY lang""")),

    // S41: SQL MAINTENANCE LIFECYCLE — the operational verbs every
    // lakehouse exposes, driven end-to-end from SQL through the
    // GraftSqlParser extension (they are not in Spark's grammar):
    // a MoR DELETE leaves deletion vectors; OPTIMIZE bin-packs the
    // 4-file table into one (DVs materialized away, previously
    // stats-bearing columns re-harvested, data_change=false so CDC
    // consumers skip it); a junk append then a RESTORE TO VERSION AS
    // OF rolls back METADATA-ONLY (zero parquet files written — the
    // rollback cost at 100 TB is a manifest write); VACUUM RETAIN n
    // VERSIONS sweeps the pre-optimize history and the original
    // fragments off disk while the head keeps reading exactly. The
    // content is the oracle-replayed side; every step's contract is an
    // earned flag.
    "s41_sql_maintenance" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s41_table", dir)
        wipe(tbl)
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        val maxk = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val q = maxk / 4 + 1
        for (i <- 0 until 4)
          Manifest.commit(
            o.filter(col("o_orderkey") >= i * q &&
              col("o_orderkey") < (i + 1) * q).coalesce(1),
            tbl, statsCols = Seq("o_orderkey"))            // v1..v4
        // the MoR erasure OPTIMIZE must absorb
        s.sql(s"DELETE FROM graft.`$tbl` WHERE o_orderkey % 10 = 3")
        val opt = s.sql(s"OPTIMIZE graft.`$tbl`").collect().head // v6
        val optV = opt.getLong(0)
        val head = Manifest.at(tbl)
        val optimized = opt.getLong(1) == 4L && head.files.size == 1 &&
          head.dv.isEmpty &&
          head.fileStats.values.exists(_.contains("o_orderkey"))
        val flaggedLayout = Manifest.history(s, tbl)
          .find(_.version == optV).exists(!_.data_change)
        // the "bad" write RESTORE must undo
        Manifest.commit(o.limit(100)
          .withColumn("o_totalprice", col("o_totalprice") * 1000), tbl)
        def dataFiles(): Long = {
          val st = java.nio.file.Files.walk(
            java.nio.file.Paths.get(tbl, "data"))
          try st.filter(_.toString.endsWith(".parquet")).count
          finally st.close()
        }
        val before = dataFiles()
        val res = s.sql(
          s"RESTORE TABLE graft.`$tbl` TO VERSION AS OF $optV")
          .collect().head                                   // v8
        val restoredMetaOnly = res.getLong(1) == optV &&
          dataFiles() == before &&
          Manifest.at(tbl).files == Manifest.at(tbl, optV).files
        val vac = s.sql(s"VACUUM graft.`$tbl` RETAIN 3 VERSIONS")
          .collect().head
        val vacuumed = vac.getLong(0) > 0L && vac.getLong(1) > 0L &&
          dataFiles() < before
        // OPTIMIZE ZORDER BY (range clustering): re-cluster the
        // compacted table into two key-ranged files — a half-quartile
        // probe then prunes structurally off the re-harvested stats
        val zo = s.sql(
          s"OPTIMIZE graft.`$tbl` ZORDER BY (o_orderkey) INTO 2 FILES")
          .collect().head
        val (_, zKept, zSkipped) = Manifest.readPruned(s, tbl,
          "o_orderkey", 0.0, (q / 2).toDouble)
        val zorderPrunes = zo.getLong(1) == 1L &&
          zKept == 1 && zSkipped == 1
        Manifest.read(s, tbl)
          .agg(count(lit(1)).as("n_rows"),
            sum(dec(col("o_totalprice"))).cast("double")
              .as("price_mass"))
          .select(col("n_rows"), col("price_mass"),
            lit(optimized).as("optimized"),
            lit(flaggedLayout).as("flagged_layout"),
            lit(restoredMetaOnly).as("restore_metadata_only"),
            lit(vacuumed).as("vacuum_swept"),
            lit(zorderPrunes).as("zorder_prunes"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price_mass,
             TRUE AS optimized, TRUE AS flagged_layout,
             TRUE AS restore_metadata_only, TRUE AS vacuum_swept,
             TRUE AS zorder_prunes
           FROM orders WHERE o_orderkey % 10 <> 3""")),

    // S42: WRITABLE BRANCH REFS — the Iceberg branch shape
    // generalizing WAP (s37) from one staged commit to a CHAIN: a
    // multi-batch risky ingest forks a branch off the published
    // corpus, lands TWO append commits on it (invisible to every main
    // reader — isolation is an earned flag comparing main's count to
    // the branch view's), audits the branch view as a unit, and
    // fast-forwards: the net state publishes as ONE metadata-only
    // main commit (zero parquet writes across the publish — the
    // 100 TB promote decision costs a manifest write). A branch whose
    // fork point the main chain moved past REFUSES to publish
    // (divergence — the earned refusal flag) and drops cleanly. The
    // final corpus content is the oracle-replayed side.
    "s42_branch_publish" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s42_table", dir)
        wipe(tbl)
        val d = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Manifest.commit(
          d.filter(pmod(col("doc_id"), lit(3)) === 0).coalesce(1), tbl)
        Manifest.branch(tbl, "ingest")
        Manifest.commitBranch(
          d.filter(pmod(col("doc_id"), lit(3)) === 1).coalesce(1),
          tbl, "ingest")
        Manifest.commitBranch(
          d.filter(pmod(col("doc_id"), lit(3)) === 2).coalesce(1),
          tbl, "ingest")
        // isolation both ways: main serves only the base corpus while
        // the branch view already serves everything
        val isolated = Manifest.version(tbl) == 1L &&
          Manifest.read(s, tbl).count() ==
            d.filter(pmod(col("doc_id"), lit(3)) === 0).count() &&
          Manifest.readBranch(s, tbl, "ingest").count() == d.count()
        def dataFiles(): Long = {
          val st = java.nio.file.Files.walk(
            java.nio.file.Paths.get(tbl, "data"))
          try st.filter(_.toString.endsWith(".parquet")).count
          finally st.close()
        }
        val before = dataFiles()
        val v = Manifest.fastForward(s, tbl, "ingest")
        val oneCommitPublish = v == 2L &&
          Manifest.read(s, tbl).count() == d.count()
        val metadataOnlyPublish = dataFiles() == before
        // a diverged branch refuses to publish and drops cleanly (the
        // diverging main commit is an EMPTY append — content unmoved)
        Manifest.branch(tbl, "late")
        Manifest.commitBranch(d.limit(5), tbl, "late")
        Manifest.commit(d.limit(0), tbl)
        val divergenceRefused =
          try { Manifest.fastForward(s, tbl, "late"); false }
          catch { case _: IllegalStateException => true }
        Manifest.dropBranch(tbl, "late")
        Manifest.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(isolated).as("isolated"),
            lit(oneCommitPublish).as("one_commit_publish"),
            lit(metadataOnlyPublish).as("metadata_only_publish"),
            lit(divergenceRefused).as("divergence_refused"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS cnt,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             TRUE AS isolated, TRUE AS one_commit_publish,
             TRUE AS metadata_only_publish, TRUE AS divergence_refused
           FROM documents GROUP BY lang ORDER BY lang""")),

    // S43: CONDITIONAL / PARTIAL MERGE ACTIONS — the matched-only
    // MERGE forms (Delta's conditional clauses) over a governed
    // corpus, both as ONE merge-on-read commit each: a partial
    // conditional UPDATE (only matched rows passing the target-side
    // condition take the source value — value mixes both sides via
    // the __src_ rebinding) and a conditional DELETE on a SOURCE-side
    // flag (the triage shape: one request table, only flagged rows
    // erase). Zero file rewrites for either (earned flag); the
    // per-verb affected counts land in the output row where the
    // oracle's replay cross-checks them exactly.
    "s43_sql_merge_matched" -> Q(
      (s, dir) => {
        import graft.ops.Manifest
        val tbl = scratch("s43_table", dir)
        wipe(tbl)
        s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
        val d = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        Manifest.commit(d.coalesce(2), tbl, statsCols = Seq("doc_id"))
        val filesBefore = Manifest.at(tbl).files
        d.filter(pmod(col("doc_id"), lit(7)) === 2)
          .select(col("doc_id"), (col("n_chars") + 100).as("nc"))
          .createOrReplaceTempView(s"s43_upd_${dirTag(dir)}")
        val updated = s.sql(
          s"MERGE INTO graft.`$tbl` AS t " +
            s"USING s43_upd_${dirTag(dir)} AS s ON t.doc_id = s.doc_id " +
            "WHEN MATCHED AND t.n_chars >= 500 " +
            "THEN UPDATE SET n_chars = s.nc")
          .collect().head.getLong(0)
        d.filter(pmod(col("doc_id"), lit(13)) === 1)
          .select(col("doc_id"),
            pmod(col("doc_id"), lit(2)).as("flag"))
          .createOrReplaceTempView(s"s43_req_${dirTag(dir)}")
        val deleted = s.sql(
          s"MERGE INTO graft.`$tbl` AS t " +
            s"USING s43_req_${dirTag(dir)} AS s ON t.doc_id = s.doc_id " +
            "WHEN MATCHED AND s.flag = 1 THEN DELETE")
          .collect().head.getLong(0)
        // both verbs are MoR: every original file still carries
        val head = Manifest.at(tbl)
        val zeroRewrites =
          filesBefore.toSet.subsetOf(head.files.toSet) && head.dv.nonEmpty
        Manifest.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("n_chars")).as("sum_chars"))
          .select(col("lang"), col("cnt"), col("sum_chars"),
            lit(updated).as("updated_rows"),
            lit(deleted).as("deleted_rows"),
            lit(zeroRewrites).as("zero_rewrites"))
          .orderBy(col("lang"))
      },
      Some("""WITH upd AS (
            SELECT doc_id, lang,
              CASE WHEN doc_id % 7 = 2 AND n_chars >= 500
                THEN n_chars + 100 ELSE n_chars END AS n_chars
            FROM documents),
          fin AS (
            SELECT * FROM upd
            WHERE NOT (doc_id % 13 = 1 AND doc_id % 2 = 1))
          SELECT lang, count(*) AS cnt,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars,
            (SELECT count(*) FROM documents
              WHERE doc_id % 7 = 2 AND n_chars >= 500) AS updated_rows,
            (SELECT count(*) FROM documents
              WHERE doc_id % 13 = 1 AND doc_id % 2 = 1) AS deleted_rows,
            TRUE AS zero_rewrites
          FROM fin GROUP BY lang ORDER BY lang""")),

    // S11: paged fetch — page count derived from a first-page total (the
    // only driver-side scalar, mirroring `perustats/MTC/homologacion.py:38-95`),
    // then per-page slices unioned back.
    "s11_paged_union" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        val pageSize = 10000L
        val total = ev.count() // reference reads the total from page 1
        val pages = ((total + pageSize - 1) / pageSize).toInt
        val slices = (0 until pages).map { p =>
          ev.filter(col("event_id") >= p * pageSize &&
            col("event_id") < (p + 1) * pageSize)
            .withColumn("page", lit(p.toLong))
        }
        slices.reduce(_.unionByName(_))
          .groupBy(col("page"))
          .agg(count(lit(1)).as("cnt"),
            sum(dec(col("value"))).cast("double").as("sum_value"))
          .orderBy(col("page"))
      },
      Some("""SELECT event_id // 10000 AS page, count(*) AS cnt,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1 ORDER BY 1""")),

    // c2: bucketed co-located join — both fact tables pre-bucketed on the
    // join key into the same bucket count, so the sort-merge join needs NO
    // shuffle of either side (PlanSpec asserts the absence of exchanges).
    // This is the 100 TB pattern for repeated joins on a stable key.
    "c2_bucketed_join" -> Q(
      (s, dir) => {
        val wh = scratch("bucketed", dir)
        s.sql("DROP TABLE IF EXISTS graft_li_b")
        s.sql("DROP TABLE IF EXISTS graft_ord_b")
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").option("path", s"$wh/li")
          .saveAsTable("graft_li_b")
        T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").option("path", s"$wh/ord")
          .saveAsTable("graft_ord_b")
        s.table("graft_li_b").hint("merge")
          .join(s.table("graft_ord_b"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
            count(lit(1)).as("cnt"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price, count(*) AS cnt
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // §3.1 lifecycle: wide-cache save → schema-evolving second save (new
    // code pn02 + overlapping pn01 where incoming wins) → projected load.
    "c1_cache_lifecycle" -> Q(
      (s, dir) => {
        val root = scratch("bcrp_cache", dir)
        wipe(root)
        val cache = new ParquetCache(s, root)
        val o = T(s, dir, "orders")
        val monthly = o.withColumn("date",
          date_trunc("month", col("o_orderdate")).cast("date"))
        val save1 = monthly.filter(col("o_orderstatus") === "F")
          .groupBy(col("date"))
          .agg(sum(dec(col("o_totalprice"))).cast("double").as("pn01"))
        cache.save("M", "2020-01", "2025-12", save1)
        val save2 = monthly.filter(col("o_orderstatus") === "O")
          .groupBy(col("date"))
          .agg(sum(dec(col("o_totalprice"))).cast("double").as("pn01"),
            count(lit(1)).cast("long").as("pn02"))
        cache.save("M", "2020-01", "2025-12", save2)
        cache.load("M", "2020-01", "2025-12", Seq("pn01", "pn02", "missing_code"))
          .orderBy(col("date"))
      },
      Some("""WITH m1 AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS date,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS pn01
          FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        m2 AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS date,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS pn01,
            count(*) AS pn02
          FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        SELECT date, COALESCE(m2.pn01, m1.pn01) AS pn01, m2.pn02 AS pn02
        FROM m1 FULL OUTER JOIN m2 USING (date) ORDER BY date"""))
  )
}
