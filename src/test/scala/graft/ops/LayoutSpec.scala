package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** z-order layout contracts: the interleave arithmetic itself, and the
  * property the operator exists for — per-file min-max boxes tight enough
  * that a 2-D box predicate prunes most files, which an unclustered
  * layout cannot do. */
class LayoutSpec extends SparkSpec {

  import spark.implicits._

  private def interleaveRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map { i =>
      (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
    }.reduce(_ | _)

  test("zValue matches the bit-interleave reference on exhaustive 5-bit " +
      "pairs and random 20-bit pairs") {
    val pairs = (for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)) ++
      (1 to 200).map(i => ((i * 7919L) % (1L << 20), (i * 104729L) % (1L << 20)))
    val df = pairs.toDF("a", "b")
    val got = df.select(col("a"), col("b"),
        Layout.zValue(col("a"), col("b"), 20).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == interleaveRef(a, b, 20), s"($a, $b)")
    }
  }

  test("z-order interleaves strictly: z is monotone in each dim when the " +
      "other is fixed") {
    val df = (0L until 64L).map(x => (x, 5L)).toDF("a", "b")
    val zs = df.select(Layout.zValue(col("a"), col("b"), 6))
      .collect().map(_.getLong(0))
    assert(zs.sliding(2).forall(p => p(0) < p(1)))
  }

  test("a 2-D box query overlaps few z-ordered file boxes but every " +
      "unclustered file") {
    import java.nio.file.Files
    // uniform 256x256 grid, 8 files; box [0,32)^2 = 1/64 of the z-domain
    val grid = spark.range(65536L)
      .select((col("id") / 256).cast("long").as("x"),
        (col("id") % 256).as("y"))
      // shuffle the row order so "unclustered" really is unclustered
      .orderBy(graft.functions.hashing.h64(col("id").cast("string")))
    val zPath = Files.createTempDirectory("zorder").toString + "/t"
    Layout.zOrderWrite(grid, col("x"), col("y"), bits = 8, numFiles = 8,
      zPath)
    val flatPath = Files.createTempDirectory("flat").toString + "/t"
    grid.repartition(8).write.mode("overwrite").parquet(flatPath)

    def overlapping(path: String): Long = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("x")).as("ax"), min(col("y")).as("ay"))
      .filter(col("ax") < 32 && col("ay") < 32)
      .count()

    val zHit = overlapping(zPath)
    val flatHit = overlapping(flatPath)
    assert(flatHit == 8L, s"unclustered layout should cover the box in " +
      s"every file, got $flatHit")
    assert(zHit <= 2L, s"z-order should confine the box to ~1 of 8 files," +
      s" got $zHit")
    // row content is untouched by the rewrite
    assert(spark.read.parquet(zPath).agg(sum(col("x")), sum(col("y")))
      .collect().head ==
      grid.agg(sum(col("x")), sum(col("y"))).collect().head)
  }

  test("optimizeWhere compacts ONLY the targeted range (stat-less " +
    "strays absorbed, content unchanged, stats re-tightened, CDC " +
    "skips the layout commit); no targeted files publishes nothing") {
    import java.nio.file.Files
    val tbl = Files.createTempDirectory("optw_tbl").toString
    // 3 stats-bearing range files + 1 stat-less stray in the low range
    for (i <- 0 until 3)
      Manifest.commit(
        Seq.tabulate(4)(j => (i * 10L + j, s"v$i$j")).toDF("k", "s")
          .coalesce(1), tbl, statsCols = Seq("k"))
    Manifest.commit(Seq((5L, "stray")).toDF("k", "s").coalesce(1), tbl)
    val before = Manifest.read(spark, tbl).collect().map(_.toSeq).toSet
    // optimize the [0, 13] slice: files 1, 2 and the stat-less stray
    val (v, rewrote, carried) =
      Layout.optimizeWhere(spark, tbl, "k", 0.0, 13.0)
    assert(rewrote == 3 && carried == 1, s"($rewrote, $carried)")
    assert(Manifest.at(tbl).files.size == 2) // 1 merged + 1 carried
    assert(Manifest.read(spark, tbl).collect().map(_.toSeq).toSet ==
      before, "optimize must never change content")
    // re-recorded stats keep pruning, stray now covered
    val (_, kept, skipped) = Manifest.readPruned(spark, tbl, "k", 0, 13)
    assert(kept == 1 && skipped == 1)
    // the layout commit carries data_change=false: CDC yields no diff
    assert(ChangeFeed.changes(spark, tbl, sinceVersion = v - 1,
      keyCols = Seq("k")).isEmpty)
    // a fully-disjoint WHERE publishes nothing
    val (v2, r2, _) = Layout.optimizeWhere(spark, tbl, "k", 900, 999)
    assert(v2 == v && r2 == 0)
  }

  test("compact bin-packs the whole table (content preserved, DVs " +
    "materialized away, stats re-harvested) and compactAuto sizes the " +
    "output from the RECORDED byte inventory — no filesystem stat per " +
    "file") {
    import graft.ops.{Manifest, Merge}
    val tbl = java.nio.file.Files
      .createTempDirectory("layout_compact").toString
    for (i <- 0 until 4)
      Manifest.commit(
        Seq.tabulate(50)(j => (i * 50L + j, s"v$i$j"))
          .toDF("id", "s").coalesce(1), tbl, statsCols = Seq("id"))
    Merge.deleteWhereDv(spark, tbl, col("id") % 10 === 3L)
    assert(Manifest.at(tbl).dv.nonEmpty)
    val beforeRows = Manifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val (v, rewrote, carried) = Layout.compact(spark, tbl, 2)
    assert(rewrote == 4 && carried == 0)
    assert(Manifest.at(tbl, v).files.size == 2)
    assert(Manifest.at(tbl).dv.isEmpty, "DVs absorbed")
    assert(Manifest.at(tbl).fileStats.values.exists(_.contains("id")),
      "stats re-harvested for the previously stats-bearing column")
    assert(Manifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == beforeRows,
      "compaction is content-neutral over the MoR view")
    assert(Manifest.history(spark, tbl)
      .find(_.version == v).exists(!_.data_change))
    // compactAuto: target = total recorded bytes / 3 → 3-4 files,
    // planned purely from #filebytes metadata
    val total = Manifest.at(tbl).bytes.values.sum
    assert(total > 0L, "the compacted files recorded their bytes")
    val (v2, rewrote2, _) = Layout.compactAuto(spark, tbl,
      targetFileBytes = total / 3)
    assert(rewrote2 == 2)
    val nOut = Manifest.at(tbl, v2).files.size
    assert(nOut >= 3 && nOut <= 4,
      s"auto sizing must plan ~ceil(bytes/target) files, got $nOut")
    assert(Manifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == beforeRows)
  }

  test("optimizeZOrder clusters a Manifest table: one column = range " +
    "clustering (half-range probe prunes structurally), two columns = " +
    "Morton interleave (a 2-D box probe prunes BOTH dimensions), " +
    "content neutral, DVs absorbed, data_change=false") {
    import graft.ops.{Manifest, Merge}
    val tbl = java.nio.file.Files
      .createTempDirectory("layout_zorder").toString
    // two dims uniform over [0, 64) — inside the 2^bits domain, no
    // wraparound; committed UNCLUSTERED (hash-shuffled) in 4 files
    val rows = for (x <- 0L until 64L; y <- 0L until 64L)
      yield (x * 64 + y, x, y)
    Manifest.commit(rows.toDF("id", "x", "y").repartition(4),
      tbl, statsCols = Seq("id"))
    Merge.deleteWhereDv(spark, tbl, col("id") % 101 === 0L)
    val beforeRows = Manifest.read(spark, tbl).collect()
      .map(_.getLong(0)).toSet
    // unclustered: every file straddles the whole x range — a
    // half-range probe prunes nothing
    val (_, kept0, skipped0) = Manifest.readPruned(spark, tbl,
      "x", 0.0, 15.0)
    assert(skipped0 == 0, s"unclustered must not prune ($kept0 kept)")
    // 1-D: range clustering on x
    val (v1, rw1, _) = Layout.optimizeZOrder(spark, tbl, Seq("x"),
      numFiles = 4)
    assert(rw1 == 4 && Manifest.at(tbl, v1).files.size == 4)
    assert(Manifest.at(tbl).dv.isEmpty, "DVs absorbed")
    val (_, kept1, skipped1) = Manifest.readPruned(spark, tbl,
      "x", 0.0, 15.0)
    assert(kept1 == 1 && skipped1 == 3,
      s"range clustering must prune a quarter-range probe to 1 of 4 " +
        s"files (kept=$kept1, skipped=$skipped1)")
    // 2-D: Morton interleave — a box probe prunes on BOTH dims at
    // once (the single-dimension sort can't: x-sorted files straddle
    // all of y)
    val (v2, rw2, _) = Layout.optimizeZOrder(spark, tbl, Seq("x", "y"),
      numFiles = 16, bits = 6)
    assert(rw2 == 4 && Manifest.at(tbl, v2).files.size == 16)
    def boxFiles(xlo: Double, xhi: Double, ylo: Double,
        yhi: Double): Int = {
      val stats = Manifest.at(tbl).fileStats
      Manifest.at(tbl).files.count { f =>
        stats.get(f).forall { cs =>
          cs.get("x").forall { case (mn, mx) => mx >= xlo && mn <= xhi } &&
          cs.get("y").forall { case (mn, mx) => mx >= ylo && mn <= yhi }
        }
      }
    }
    val overlapped = boxFiles(0.0, 15.0, 0.0, 15.0)
    assert(overlapped <= 4,
      s"a 1/16-area box must overlap few z-ordered files, got " +
        s"$overlapped of 16")
    assert(Manifest.read(spark, tbl).collect()
      .map(_.getLong(0)).toSet == beforeRows,
      "clustering is content-neutral over the MoR view")
    assert(Manifest.history(spark, tbl)
      .find(_.version == v2).exists(!_.data_change))
    // >2 dims refuse loudly
    intercept[IllegalArgumentException](
      Layout.optimizeZOrder(spark, tbl, Seq("x", "y", "id")))
  }

  test("bloom sidecar skipping: a sparse key's lookup scans only its " +
    "bloom-passing partitions via dynamic partition pruning, exactly") {
    import graft.functions.hashing
    import spark.implicits._
    // 1600 rows over 16 partitions; key 999 planted in partitions 3 and
    // 11 only — the sparse-lookup case partition min-max can't prune
    val rows = (0 until 1600).map { i =>
      val part = i % 16
      val k = if (i == 3 || i == 1099) 999L else (i % 50).toLong
      (part, k, i * 1.0)
    }
    val df = rows.toDF("part", "k", "v")
    val root = java.nio.file.Files.createTempDirectory("skip").toString
    df.write.mode("overwrite").partitionBy("part").parquet(s"$root/t")
    val sidecar = Dedup.bloomBitmapGrouped(
      df.select(col("part"), hashing.h64(col("k").cast("string")).as("h"))
        .distinct(), "part", "h", mBits = 4096, numProbes = 3)
    val key = 999L
    val hk = hashing.md5Long(key.toString) % hashing.P
    val pass = (0 until 3).map { j =>
      val p = (((hashing.A(j) * hk + hashing.B(j)) % hashing.P)
        % 4096).toInt
      element_at(col("bits"), p / 64 + 1)
        .bitwiseAND(lit(1L << (p % 64))) =!= lit(0L)
    }.reduce(_ && _)
    val passing = sidecar.filter(pass)
    val passParts = passing.select("part").collect()
      .map(_.getInt(0)).toSet
    assert(passParts.contains(3) && passParts.contains(11),
      "no false negatives: the key's partitions must pass")
    assert(passParts.size < 16, s"bloom should prune: $passParts")
    val looked = spark.read.parquet(s"$root/t")
      .join(broadcast(passing.select(col("part").cast("int").as("part"))),
        Seq("part"))
      .filter(col("k") === key)
    val got = looked.select("part", "v").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got == Set((3, 3.0), (11, 1099.0)),
      "pruned lookup must equal the direct filter")
    // the pass-set join reaches the fact scan as a runtime DPP filter
    looked.collect()
    val p = looked.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in:\n$p")
  }

  test("auto-sized bloom sidecar keeps pruning when key cardinality grows " +
    "10x (the saturation trap a fixed mBits falls into)") {
    import graft.functions.hashing
    import spark.implicits._
    val key = 99999L
    // Two corpora: ~50 and ~500 distinct keys per partition (the r8 fixed
    // 1024-bit default saturated at the larger scale: all partitions
    // passed, zero pruning). The probe key lives in partitions 2 and 9.
    for ((keysPerPart, tag) <- Seq((50, "small"), (500, "big"))) {
      val rows = (0 until 16).flatMap { part =>
        val planted = if (part == 2 || part == 9) Seq(key) else Seq.empty
        (0 until keysPerPart).map(i =>
          (part, (part * keysPerPart + i).toLong)) ++
          planted.map(k => (part, k))
      }
      val df = rows.toDF("part", "k")
      val sidecar = Dedup.bloomBitmapGroupedAuto(
        df.select(col("part"), hashing.h64(col("k").cast("string")).as("h"))
          .distinct(), "part", "h", bitsPerKey = 12, numProbes = 3)
      // m tracks the group's cardinality: ceil(k*12/64)*64
      val ms = sidecar.select("m").distinct().collect().map(_.getLong(0))
      assert(ms.forall(_ >= keysPerPart * 12L),
        s"[$tag] m must scale with keys: $ms")
      val hk = hashing.md5Long(key.toString) % hashing.P
      val pass = (0 until 3).map { j =>
        val pv = (hashing.A(j) * hk + hashing.B(j)) % hashing.P
        val p = lit(pv) % col("m")
        element_at(col("bits"), (p / lit(64)).cast("int") + lit(1))
          .bitwiseAND(call_function("shiftleft", lit(1L),
            (p % lit(64)).cast("int"))) =!= lit(0L)
      }.reduce(_ && _)
      val passParts = sidecar.filter(pass).select("part").collect()
        .map(_.getInt(0)).toSet
      assert(passParts.contains(2) && passParts.contains(9),
        s"[$tag] no false negatives: the key's partitions must pass")
      assert(passParts.size < 16,
        s"[$tag] auto-sized bloom must still prune at this scale: $passParts")
    }
  }

  test("compactPartitions collapses a fragmented partitioned table to " +
    "one file per partition with identical content") {
    import spark.implicits._
    val df = (0 until 400)
      .map(i => (s"type${i % 4}", i.toLong, i * 1.5))
      .toDF("kind", "id", "v")
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    df.repartition(12).write.mode("overwrite")
      .partitionBy("kind").parquet(s"$root/frag")
    val before = Layout.filesPerPartition(s"$root/frag", "kind")
    assert(before.size == 4 && before.values.forall(_ > 1),
      s"fixture must be fragmented: $before")
    Layout.compactPartitions(spark, s"$root/frag", s"$root/opt", "kind")
    val after = Layout.filesPerPartition(s"$root/opt", "kind")
    assert(after.keySet == before.keySet && after.values.forall(_ == 1),
      s"expected exactly one file per partition: $after")
    val key = (d: org.apache.spark.sql.DataFrame) =>
      d.select("kind", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(key(spark.read.parquet(s"$root/opt")) == key(df),
      "compaction must be content-neutral")
  }
}
