package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Copy-on-write MERGE / DELETE contracts over [[Manifest]] tables: only
  * files containing affected keys are rewritten (untouched files carry by
  * REFERENCE — the 100 TB claim), matched rows update, unmatched insert,
  * predicates delete, older versions keep time-traveling, CHECK
  * constraints gate the rewrite, and the merge commit reads as a
  * row-level diff in the change feed. */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("merge_tbl").toString

  /** 3 single-file commits with disjoint key decades: ids 0-3, 10-13,
    * 20-23 — so a key names exactly one file. */
  private def seed(tbl: String): Unit =
    for (i <- 0 until 3)
      Manifest.commit(
        Seq.tabulate(4)(j => (i * 10L + j, s"v$i$j", i))
          .toDF("id", "s", "g").coalesce(1), tbl)

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap

  test("upsert: matched keys update, unmatched insert, ONLY files " +
    "holding matched keys rewrite — the rest carry by reference and " +
    "older versions still time-travel") {
    val tbl = freshTable(); seed(tbl)
    val before = Manifest.at(tbl).files
    // id 0 lives in the first file; id 23 exists (third file); id 99 new
    val src = Seq((0L, "UP", 9), (23L, "UP2", 9), (99L, "NEW", 9))
      .toDF("id", "s", "g")
    val st = Merge.upsert(spark, tbl, src, Seq("id"))
    assert(st == Merge.CowStats(4L, 3, 2, 1, 3, 3L),
      s"expected files 1 and 3 rewritten, file 2 carried: $st")
    val now = asMap(Manifest.read(spark, tbl))
    assert(now.size == 13) // 12 seeded + 1 insert
    assert(now(0L) == ("UP", 9) && now(23L) == ("UP2", 9) &&
      now(99L) == ("NEW", 9))
    assert(now(1L) == ("v01", 0) && now(11L) == ("v11", 1)) // untouched
    // the carried file is the SAME relative path, not a rewritten copy
    val after = Manifest.at(tbl).files.toSet
    assert((before.toSet intersect after).size == 1)
    // pre-merge versions pinned: v3 reads the original 12 rows
    val v3 = asMap(Manifest.read(spark, tbl, 3L))
    assert(v3.size == 12 && v3(0L) == ("v00", 0))
  }

  test("insert-only upsert degenerates to a pure append (zero " +
    "rewrites); a source violating a CHECK constraint aborts with " +
    "nothing published") {
    val tbl = freshTable(); seed(tbl)
    Manifest.addConstraint(spark, tbl, "g_nonneg", "g >= 0") // v4 (+1 file)
    val st = Merge.upsert(spark, tbl,
      Seq((99L, "A", 1)).toDF("id", "s", "g"), Seq("id"))
    assert(st.filesRewritten == 0 && st.filesCarried == st.filesBefore)
    assert(asMap(Manifest.read(spark, tbl)).size == 13)
    // the constraint gates the merge's rewritten rows like any commit
    val v = Manifest.version(tbl)
    val files = Manifest.at(tbl).files
    val e = intercept[IllegalArgumentException](
      Merge.upsert(spark, tbl,
        Seq((0L, "B", -1)).toDF("id", "s", "g"), Seq("id")))
    assert(e.getMessage.contains("g_nonneg"))
    assert(Manifest.version(tbl) == v && Manifest.at(tbl).files == files)
  }

  test("deleteWhere rewrites only files containing matches with their " +
    "survivors; a no-match predicate publishes NOTHING; upsertOnce " +
    "drops a replayed txn") {
    val tbl = freshTable(); seed(tbl)
    val st = Merge.deleteWhere(spark, tbl, col("id") === 11L)
    assert(st == Merge.CowStats(4L, 3, 1, 2, 3), s"$st")
    val now = asMap(Manifest.read(spark, tbl))
    assert(now.size == 11 && !now.contains(11L))
    assert(now(10L) == ("v10", 1) && now(12L) == ("v12", 1)) // survivors
    // no-match delete: no version published (no empty-rewrite spam)
    val noop = Merge.deleteWhere(spark, tbl, col("id") === 999L)
    assert(noop.filesRewritten == 0 && Manifest.version(tbl) == 4L)
    // idempotent merge for replayable writers: same txn twice = once
    val src = Seq((50L, "T", 1)).toDF("id", "s", "g")
    assert(Merge.upsertOnce(spark, tbl, src, Seq("id"), "app", 0L)
      .isDefined)
    assert(Merge.upsertOnce(spark, tbl, src, Seq("id"), "app", 0L)
      .isEmpty)
    assert(Manifest.version(tbl) == 5L)
    assert(asMap(Manifest.read(spark, tbl)).size == 12)
  }

  test("upsert on a STRING key works under ANSI mode (the key bounds " +
    "aggregate must not double-cast a non-numeric key): matched keys " +
    "update, unmatched insert, no stats prune") {
    val tbl = freshTable()
    Manifest.commit(Seq(("u-1", 10), ("u-2", 20)).toDF("k", "v")
      .coalesce(1), tbl)
    val st = Merge.upsert(spark, tbl,
      Seq(("u-2", 22), ("u-3", 30)).toDF("k", "v"), Seq("k"))
    assert(st.filesRewritten == 1 &&
      st.filesCandidates == st.filesBefore,
      s"string keys can't prune: $st")
    assert(Manifest.read(spark, tbl).as[(String, Int)].collect()
      .sorted.toSeq == Seq(("u-1", 10), ("u-2", 22), ("u-3", 30)))
  }

  test("a source past the broadcast key gate degrades to a shuffle " +
    "semi-join with IDENTICAL results (file accounting included); a " +
    "duplicate-key source fails loudly before anything is written") {
    val tblA = freshTable(); seed(tblA)
    val tblB = freshTable(); seed(tblB)
    val src = Seq((0L, "UP", 9), (23L, "UP2", 9), (99L, "NEW", 9))
      .toDF("id", "s", "g")
    val stBc = Merge.upsert(spark, tblA, src, Seq("id"))
    // limit 0 forces the no-hint path for ANY source — the large-CDC
    // fallback exercised end to end
    val stSh = Merge.upsert(spark, tblB, src, Seq("id"),
      broadcastKeyLimit = 0L)
    assert(stSh == stBc, s"shuffle path diverged: $stSh vs $stBc")
    assert(asMap(Manifest.read(spark, tblB)) ==
      asMap(Manifest.read(spark, tblA)))
    // duplicate source keys: the MERGE precondition is ENFORCED (the
    // Delta multiple-match error), and nothing was published
    val v = Manifest.version(tblA)
    val e = intercept[IllegalArgumentException](
      Merge.upsert(spark, tblA,
        Seq((5L, "A", 1), (5L, "B", 2)).toDF("id", "s", "g"), Seq("id")))
    assert(e.getMessage.contains("duplicate keys"))
    assert(Manifest.version(tblA) == v)
  }

  test("manifest file stats prune the touch-detection scan: a " +
    "single-quartile source reads 1 of 4 files (structurally — the " +
    "scan is built from the candidate paths), content identical to " +
    "the unpruned merge; delete prunes via pruneRange; disjoint " +
    "bounds read nothing") {
    val tbl = freshTable()
    // 4 stats-bearing single-file commits over disjoint id ranges
    for (i <- 0 until 4)
      Manifest.commit(
        Seq.tabulate(4)(j => (i * 10L + j, s"v$i$j", i))
          .toDF("id", "s", "g").coalesce(1), tbl, statsCols = Seq("id"))
    // source keys live entirely in the second file's [10, 13] range
    val st = Merge.upsert(spark, tbl,
      Seq((10L, "UP", 9), (12L, "UP2", 9)).toDF("id", "s", "g"),
      Seq("id"))
    assert(st == Merge.CowStats(5L, 4, 1, 3, 1, 2L),
      s"expected a 1-of-4 candidate prune: $st")
    val now = asMap(Manifest.read(spark, tbl))
    assert(now.size == 16 && now(10L) == ("UP", 9) &&
      now(12L) == ("UP2", 9) && now(11L) == ("v11", 1) &&
      now(0L) == ("v00", 0))
    // delete with a declared range: only the third file's scan runs
    val dl = Merge.deleteWhere(spark, tbl, col("id") === 21L,
      pruneRange = Some(("id", 21.0, 21.0)))
    assert(dl.filesCandidates == 1 && dl.filesRewritten == 1)
    assert(!asMap(Manifest.read(spark, tbl)).contains(21L))
    // a source wholly OUTSIDE every recorded range: zero candidates,
    // the merge degenerates to a pure append without reading any file
    val ins = Merge.upsert(spark, tbl,
      Seq((900L, "NEW", 9)).toDF("id", "s", "g"), Seq("id"))
    assert(ins.filesCandidates == 0 && ins.filesRewritten == 0)
    assert(asMap(Manifest.read(spark, tbl))(900L) == ("NEW", 9))
  }

  test("deleteKeysDvCols (composite key): only full key TUPLES match " +
    "(half-matches delete nothing), every numeric key column's range " +
    "prunes the match scan structurally, replay is idempotent, and " +
    "the single-key path is the one-column special case") {
    val tbl = freshTable()
    // 4 stats-bearing single-file commits over disjoint id ranges;
    // key = (id, g) — the multi-tenant composite shape
    for (i <- 0 until 4)
      Manifest.commit(
        Seq.tabulate(4)(j => (i * 10L + j, s"v$i$j", i.toLong))
          .toDF("id", "s", "g").coalesce(1), tbl,
        statsCols = Seq("id", "g"))
    val filesBefore = Manifest.at(tbl).files
    // requests: (10, 1) matches a live row; (11, 3) half-matches (id
    // exists, wrong g) — must delete nothing
    val st = Merge.deleteKeysDvCols(spark, tbl,
      Seq((10L, 1L), (11L, 3L)).toDF("id", "g"), Seq("id", "g"))
    assert(st.positionsAdded == 1L,
      s"only the full tuple (10, 1) matches: $st")
    // both numeric key columns bound the candidate scan: ids 10..11 ∩
    // g 1..3 → only the second file (ids 10..13, g=1) intersects both
    assert(st.filesCandidates == 1,
      s"composite bounds must prune to 1 of 4 files: $st")
    val now = Manifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(!now.contains((10L, 1L)) && now.contains((11L, 1L)))
    assert(Manifest.at(tbl).files == filesBefore, "MoR: zero rewrites")
    // idempotent replay: the tuple is already hidden
    val st2 = Merge.deleteKeysDvCols(spark, tbl,
      Seq((10L, 1L)).toDF("id", "g"), Seq("id", "g"))
    assert(st2.positionsAdded == 0L)
    // single-key path ≡ one-column composite
    val st3 = Merge.deleteKeysDvCols(spark, tbl,
      Seq(Tuple1(20L)).toDF("id"), Seq("id"))
    assert(st3.positionsAdded == 1L)
    assert(!Manifest.read(spark, tbl).collect()
      .map(_.getLong(0)).contains(20L))
  }

  test("the merge commit reads as a ROW-LEVEL diff in the change feed: " +
    "update images for updated keys, insert for new keys, nothing for " +
    "carried rows") {
    val tbl = freshTable(); seed(tbl)
    Merge.upsert(spark, tbl,
      Seq((0L, "UP", 9), (99L, "NEW", 9)).toDF("id", "s", "g"), Seq("id"))
    val feed = ChangeFeed.changes(spark, tbl, sinceVersion = 3L,
        keyCols = Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet
    assert(feed == Set(
      (4L, "update_preimage", 0L, "v00"),
      (4L, "update_postimage", 0L, "UP"),
      (4L, "insert", 99L, "NEW")))
  }

  test("upsert reports sourceRows from its ONE source execution (the " +
    "localCheckpointed snapshot) — no second scan: an execution-counting " +
    "source evaluates each row exactly once, and the count is exact on " +
    "both the merge and the create-table path") {
    val tbl = freshTable(); seed(tbl)
    val acc = spark.sparkContext.longAccumulator("src_row_evals")
    val counting = udf((id: Long) => { acc.add(1L); id })
      .asNondeterministic()
    val src = Seq((0L, "UP", 9), (23L, "UP2", 9), (99L, "NEW", 9))
      .toDF("id", "s", "g")
      .withColumn("id", counting(col("id")))
    val st = Merge.upsert(spark, tbl, src, Seq("id"))
    assert(st.sourceRows == 3L, "num_affected_rows contract")
    assert(acc.value == 3L,
      s"the merge source must execute exactly once, saw ${acc.value} " +
        "row evaluations")
    // the CREATE-OR-MERGE path (empty table) reports the count too —
    // from the creating commit's own recorded file stats
    val fresh = freshTable()
    val st2 = Merge.upsert(spark, fresh,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "s", "g"), Seq("id"))
    assert(st2.sourceRows == 2L)
  }

  test("upsert honours the session checkpoint strategy: with " +
    "spark.graft.checkpoint.dir set its source is checkpointed reliably " +
    "to files under that dir; unset, it writes none") {
    import java.nio.file.{Files => JFiles, Path}
    val tbl = freshTable()
    seed(tbl)
    val dir = JFiles.createTempDirectory("graft_merge_ckpt")
    def written(): Long = {
      val st = JFiles.walk(dir)
      try st.filter((p: Path) => JFiles.isRegularFile(p)).count()
      finally st.close()
    }
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try Merge.upsert(spark, tbl,
      Seq((1L, "u1", 9), (30L, "n30", 9)).toDF("id", "s", "g"), Seq("id"))
    finally spark.conf.unset(Checkpoints.DirKey)
    val n = written()
    assert(n > 0, "no reliable checkpoint files written")
    // unset: the default local checkpoint writes no file
    Merge.upsert(spark, tbl,
      Seq((2L, "u2", 9)).toDF("id", "s", "g"), Seq("id"))
    assert(written() == n)
    assert(asMap(Manifest.read(spark, tbl))
      .filter { case (id, _) => id < 3L || id == 30L } ==
      Map(0L -> ("v00", 0), 1L -> ("u1", 9), 2L -> ("u2", 9),
        30L -> ("n30", 9)))
  }
}
