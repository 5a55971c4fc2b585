package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Merge-on-read DELETE contracts: a deletion vector hides positions
  * without touching data files, stacks, time-travels, feeds CDC, and is
  * materialized away by every rewrite path (COW merge, OPTIMIZE WHERE,
  * compaction). */
class DeletionVectorSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("dv_tbl").toString

  /** 4 single-file commits of (id, grp, v): ids 0..19 per file offset. */
  private def seed(tbl: String): Unit =
    for (i <- 0 until 4)
      Manifest.commit(
        (0 until 20).map(j => (i * 20L + j, j % 2, i * 20 + j))
          .toDF("id", "grp", "v").coalesce(1),
        tbl, statsCols = Seq("id"))

  test("deleteWhereDv publishes ONLY a DV: zero data files added or " +
    "removed, the read hides exactly the matched positions, stats " +
    "prune the match scan, and a re-delete of the same predicate is a " +
    "no-op (already-hidden rows cannot re-match)") {
    val tbl = freshTable()
    seed(tbl)
    val before = Manifest.at(tbl).files
    val st = Merge.deleteWhereDv(spark, tbl,
      col("id") >= 20L && col("id") < 40L && col("grp") === 0,
      pruneRange = Some(("id", 20.0, 39.0)))
    assert(st.positionsAdded == 10L && st.filesCandidates == 1 &&
      st.filesWithDv == 1, st.toString)
    assert(Manifest.at(tbl).files == before, "a MoR delete moves no files")
    assert(Manifest.version(tbl) == 5L)
    val got = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == (0L until 80L).filterNot(i =>
      i >= 20 && i < 40 && i % 2 == 0))
    // the DV mapping is internal bookkeeping, not user metadata
    assert(Manifest.at(tbl).meta.isEmpty)
    // idempotent: the hidden rows cannot match again — nothing publishes
    val again = Merge.deleteWhereDv(spark, tbl,
      col("id") >= 20L && col("id") < 40L && col("grp") === 0)
    assert(again.positionsAdded == 0L && Manifest.version(tbl) == 5L)
    // metadata rowCount stays the LOGICAL count under the DV (the
    // dv.* lines carry position counts, so the metadata-only answer
    // subtracts them — still zero data I/O)
    assert(Manifest.read(spark, tbl).count() == 70L)
    assert(Manifest.at(tbl).rowCount.contains(70L))
  }

  test("rowCount is DV-correct at head AND on time-traveled versions " +
    "(equals read().count() everywhere), and history reads a DV " +
    "commit as the deletion event it is: optype=delete, rows_removed " +
    "= the positions newly hidden, zero files moved") {
    val tbl = freshTable()
    seed(tbl)
    Merge.deleteWhereDv(spark, tbl, col("id") < 5L)              // v5
    Merge.deleteWhereDv(spark, tbl, col("id") < 8L)              // v6
    for (v <- 1L to 6L)
      assert(Manifest.at(tbl, v).rowCount
          .contains(Manifest.read(spark, tbl, v).count()),
        s"rowCount at v$v must equal the DV-applied read")
    val h = Manifest.history(spark, tbl)
    val d1 = h.find(_.version == 5L).get
    val d2 = h.find(_.version == 6L).get
    assert(d1.change_type == "delete" && d2.change_type == "delete")
    assert(d1.files_added == 0L && d1.files_removed == 0L &&
      d1.rows_added == 0L, d1.toString)
    assert(d1.rows_removed == 5L, "v5 hides ids 0..4")
    assert(d2.rows_removed == 3L,
      "v6's growth over v5's carried positions is ids 5..7 only")
    // appends before the deletes stay appends with zero rows_removed
    assert(h.filter(_.version <= 4L).forall(c =>
      c.change_type == "append" && c.rows_removed == 0L))
    // a rewrite that ABSORBS the DV keeps physical accounting: the
    // mapping drops with the rewritten file, no double-counted growth
    val cow = Merge.deleteWhere(spark, tbl, col("id") === 10L)
    val r = Manifest.history(spark, tbl).find(_.version == cow.version).get
    assert(r.change_type == "rewrite")
    assert(r.rows_removed == 20L && r.rows_added == 11L,
      "the touched file's 20 physical rows out, its 11 survivors in " +
        s"(8 DV'd + 1 deleted): $r")
    assert(Manifest.at(tbl).rowCount
      .contains(Manifest.read(spark, tbl).count()))
  }

  test("DVs stack (a later delete carries the file's positions " +
    "forward), time travel sees each version's exact DV state, and " +
    "restore returns the target's DV state — earlier OR later") {
    val tbl = freshTable()
    seed(tbl)
    val s1 = Merge.deleteWhereDv(spark, tbl, col("id") === 21L) // v5
    val s2 = Merge.deleteWhereDv(spark, tbl, col("id") === 22L) // v6
    assert(s1.positionsAdded == 1L && s2.positionsAdded == 1L)
    assert(Manifest.at(tbl).dv.values.map(_._2).sum == 2L,
      "the second DV must carry the first's position forward")
    assert(Manifest.read(spark, tbl).count() == 78L)
    assert(Manifest.read(spark, tbl, 5L).count() == 79L)
    assert(Manifest.read(spark, tbl, 4L).count() == 80L)
    // restore to the pre-delete state: the DVs must NOT survive
    val rv = Manifest.restore(tbl, 4L) // v7
    assert(Manifest.at(tbl).dv.isEmpty)
    assert(Manifest.read(spark, tbl).count() == 80L)
    // restore forward to the one-delete state: exactly v5's DV returns
    Manifest.restore(tbl, 5L) // v8
    assert(Manifest.at(tbl).dv.values.map(_._2).sum == 1L)
    assert(Manifest.read(spark, tbl).count() == 79L)
    assert(rv == 7L)
  }

  test("the change feed emits a MoR delete as exactly the hidden rows " +
    "(delete images), and appends after the DV inherit it untouched") {
    val tbl = freshTable()
    seed(tbl)
    val st = Merge.deleteWhereDv(spark, tbl,
      col("id") >= 60L && col("grp") === 1)
    val feed = ChangeFeed.changes(spark, tbl, st.version - 1, st.version)
    val dels = feed.filter(col(ChangeFeed.TypeCol) === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(dels == (60L until 80L).filter(_ % 2 == 1))
    assert(feed.filter(col(ChangeFeed.TypeCol) =!= "delete").count() == 0)
    // a later plain append carries the DV and feeds ONLY its inserts
    Manifest.commit(Seq((100L, 0, 100)).toDF("id", "grp", "v"), tbl)
    val feed2 = ChangeFeed.changes(spark, tbl, st.version)
    assert(feed2.filter(col(ChangeFeed.TypeCol) === "insert").count == 1L)
    assert(feed2.filter(col(ChangeFeed.TypeCol) === "delete").count == 0L)
    assert(Manifest.read(spark, tbl).count() == 71L)
  }

  test("every rewrite path materializes the DV away: a COW upsert " +
    "touching the DV'd file neither resurrects hidden rows nor keeps " +
    "the mapping; OPTIMIZE WHERE absorbs the DV in range; readPruned " +
    "applies it") {
    val tbl = freshTable()
    seed(tbl)
    Merge.deleteWhereDv(spark, tbl, col("id") === 5L || col("id") === 25L)
    assert(Manifest.at(tbl).dv.size == 2)
    // readPruned: the stats-kept file's DV still applies
    val (pruned, kept, _) = Manifest.readPruned(spark, tbl, "id", 0, 19)
    assert(kept == 1 &&
      pruned.select("id").as[Long].collect().sorted.toSeq ==
        (0L until 20L).filterNot(_ == 5L))
    // COW upsert touching file 2 (ids 20..39): id 25 must stay deleted
    // even though the file is rewritten, and its mapping must drop
    val stats = Merge.upsert(spark, tbl,
      Seq((21L, 9, 999)).toDF("id", "grp", "v"), Seq("id"))
    assert(stats.filesRewritten == 1)
    val dvAfter = Manifest.at(tbl).dv
    assert(dvAfter.size == 1 && dvAfter.keySet.forall(f =>
      Manifest.at(tbl).files.contains(f)),
      s"rewritten file's mapping must drop: $dvAfter")
    val ids = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    assert(!ids.contains(25L) && !ids.contains(5L) && ids.contains(21L))
    assert(Manifest.read(spark, tbl)
      .filter(col("id") === 21L).select("v").as[Int].head() == 999)
    // OPTIMIZE WHERE over file 1's range absorbs the remaining DV
    Layout.optimizeWhere(spark, tbl, "id", 0.0, 19.0)
    assert(Manifest.at(tbl).dv.isEmpty)
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq == ids)
    // pre-optimize versions still time-travel with their DV state
    assert(!Manifest.read(spark, tbl, 5L).select("id").as[Long]
      .collect().contains(5L))
  }

  test("deleteKeysDv (keyed GDPR erasure): every requested key's rows " +
    "hide, key bounds prune the match scan, the past-the-gate shuffle " +
    "path matches the broadcast path, duplicates in the request set " +
    "are harmless, and an empty request set publishes nothing") {
    val tbl = freshTable()
    seed(tbl)
    // keys 21 and 25 live in file 2 only — bounds must prune to 1 file
    val st = Merge.deleteKeysDv(spark, tbl,
      Seq(21L, 25L, 21L).toDF("id"), "id")
    assert(st.positionsAdded == 2L && st.filesCandidates == 1,
      st.toString)
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq ==
      (0L until 80L).filterNot(i => i == 21L || i == 25L))
    // an empty request set is a no-op (the idle streaming batch)
    val empty = Merge.deleteKeysDv(spark, tbl,
      Seq.empty[Long].toDF("id"), "id")
    assert(empty.positionsAdded == 0L && Manifest.version(tbl) == 5L)
    // past the broadcast gate: identical result through the shuffle
    // semi-join (the unbounded-request degrade path)
    val tbl2 = freshTable()
    seed(tbl2)
    Merge.deleteKeysDv(spark, tbl2, Seq(21L, 25L).toDF("id"), "id",
      broadcastKeyLimit = 1L)
    assert(Manifest.read(spark, tbl2).select("id").as[Long]
      .collect().sorted.toSeq ==
      Manifest.read(spark, tbl).select("id").as[Long]
        .collect().sorted.toSeq)
  }

  test("updateWhereDv: matched rows update in ONE atomic commit (DV + " +
    "updated images), zero files rewritten, time travel sees the " +
    "pre-update values, history reads optype=update with symmetric " +
    "row deltas, CDC emits delete+insert images, updates stack, and a " +
    "no-match predicate publishes nothing") {
    val tbl = freshTable()
    seed(tbl) // 4 files, ids 0..79, v == id
    val before = Manifest.at(tbl).files
    val st = Merge.updateWhereDv(spark, tbl,
      col("id") >= 20L && col("id") < 25L,
      Seq("v" -> (col("v") + 1000)),
      pruneRange = Some(("id", 20.0, 24.0)), statsCols = Seq("id"))
    assert(st.positionsAdded == 5L && st.filesCandidates == 1,
      st.toString)
    assert(before.toSet.subsetOf(Manifest.at(tbl).files.toSet),
      "MoR update rewrites NO existing file — images only append")
    assert(Manifest.version(tbl) == 5L)
    val got = Manifest.read(spark, tbl).select("id", "v")
      .as[(Long, Int)].collect().toMap
    assert(got.size == 80 && (0 until 80).forall(i =>
      got(i.toLong) == (if (i >= 20 && i < 25) i + 1000 else i)),
      "exactly the matched rows carry updated values")
    // time travel: the pre-update version still shows the old values
    assert(Manifest.read(spark, tbl, 4L).filter(col("id") === 22L)
      .select("v").as[Int].head() == 22)
    // metadata surfaces: logical count unchanged, audit reads update
    assert(Manifest.at(tbl).rowCount.contains(80L))
    val h = Manifest.history(spark, tbl).find(_.version == 5L).get
    assert(h.change_type == "update" &&
      h.rows_added == 5L && h.rows_removed == 5L, h.toString)
    // CDC: the step is 5 delete images (old values) + 5 inserts (new)
    val feed = ChangeFeed.changes(spark, tbl, 4L, 5L)
      .select(col(ChangeFeed.TypeCol), col("id"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(feed == (20 until 25).flatMap(i => Seq(
      ("delete", i.toLong, i), ("insert", i.toLong, i + 1000))).toSet)
    // stacking: a second update matches the UPDATED image, not the
    // hidden original
    Merge.updateWhereDv(spark, tbl, col("id") === 20L,
      Seq("v" -> (col("v") + 1)))
    assert(Manifest.read(spark, tbl).filter(col("id") === 20L)
      .select("v").as[Int].head() == 1021)
    // no-match: nothing publishes
    val v = Manifest.version(tbl)
    val noop = Merge.updateWhereDv(spark, tbl, col("id") === 9999L,
      Seq("v" -> lit(0)))
    assert(noop.positionsAdded == 0L && Manifest.version(tbl) == v)
    // constraints gate the images: a violating update aborts whole
    Manifest.addConstraint(spark, tbl, "vmax", "v <= 2000")
    intercept[Exception](Merge.updateWhereDv(spark, tbl,
      col("id") === 21L, Seq("v" -> lit(9000))))
    assert(Manifest.read(spark, tbl).filter(col("id") === 21L)
      .select("v").as[Int].head() == 1021,
      "aborted update must leave the old image visible")
  }

  test("deleteKeysDv with a STRING key — the UUID-ish GDPR id shape — " +
    "works under ANSI mode (no double-cast of the key): bounds simply " +
    "don't prune (every file is a candidate), the requested keys' rows " +
    "hide") {
    val tbl = freshTable()
    for (i <- 0 until 2)
      Manifest.commit(
        (0 until 10).map(j => (s"user-${i * 10 + j}", i * 10 + j))
          .toDF("uid", "v").coalesce(1),
        tbl, statsCols = Seq("v"))
    val st = Merge.deleteKeysDv(spark, tbl,
      Seq("user-3", "user-15").toDF("uid"), "uid")
    assert(st.positionsAdded == 2L, st.toString)
    assert(st.filesCandidates == 2, "a non-numeric key cannot prune")
    assert(Manifest.at(tbl).files.size == 2, "still zero data files moved")
    val got = Manifest.read(spark, tbl).select("uid").as[String]
      .collect().toSet
    assert(!got.contains("user-3") && !got.contains("user-15") &&
      got.size == 18)
    // empty string-keyed request set: still a no-op, still no cast
    val noop = Merge.deleteKeysDv(spark, tbl,
      Seq.empty[String].toDF("uid"), "uid")
    assert(noop.positionsAdded == 0L)
  }

  test("DV commit concurrency matrix (erasure-under-ingest liveness): " +
    "rebases over a pure append, a disjoint-file DV writer, and a " +
    "rewrite of an untouched file; aborts loudly on a same-file DV " +
    "race and on its touched file being rewritten away; a plain " +
    "append racing PAST a DV commit inherits the new head's DV state") {
    val tbl = freshTable()
    seed(tbl)
    // same-file DV race: both writers delete from file 1 (ids 0..19);
    // the loser's carried positions would resurrect the winner's
    // delete — loud abort, winner's delete in force
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Merge.deleteWhereDv(spark, tbl, col("id") === 1L)
    }
    val e = try intercept[IllegalStateException](
      Merge.deleteWhereDv(spark, tbl, col("id") === 2L))
    finally Manifest.beforePublish = () => ()
    assert(e.getMessage.contains("concurrent commit"))
    assert(Manifest.read(spark, tbl).count() == 79L) // -1
    // …and the aborted delete simply retries clean on the new head
    assert(Merge.deleteWhereDv(spark, tbl, col("id") === 2L)
      .positionsAdded == 1L)
    assert(Manifest.read(spark, tbl).count() == 78L) // -1 -2
    // REBASE over a pure append (the streaming-erasure × streaming-
    // ingest race): both writers land, erased row hidden, appended
    // row visible
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(Seq((200L, 0, 200)).toDF("id", "grp", "v"), tbl)
    }
    val st = try Merge.deleteWhereDv(spark, tbl, col("id") === 4L)
    finally Manifest.beforePublish = () => ()
    assert(st.positionsAdded == 1L)
    val ids1 = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids1.contains(200L) && !ids1.contains(4L) &&
      ids1.size == 78) // -1 -2 -4 +200
    // REBASE over a DISJOINT-file DV writer: loser deletes from file 1
    // (id 5), the interim winner from file 2 (id 25) — both deletes
    // stick (untouched mappings re-carry from the rebased head)
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Merge.deleteWhereDv(spark, tbl, col("id") === 25L)
    }
    try Merge.deleteWhereDv(spark, tbl, col("id") === 5L)
    finally Manifest.beforePublish = () => ()
    val ids2 = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    assert(!ids2.contains(5L) && !ids2.contains(25L) &&
      ids2.size == 76)
    // REBASE over a rewrite of an UNTOUCHED file: the interim winner
    // compacts file 4 (ids 60..79, DV-free) away; the loser deletes
    // from file 1 — both land
    val f4 = Manifest.at(tbl).fileStats.collect {
      case (f, s) if s("id")._1 >= 59.0 => f
    }.toSeq
    assert(f4.size == 1)
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(
        Manifest.read(spark, tbl)
          .filter(col("id") >= 60L && col("id") <= 79L).coalesce(1),
        tbl, removeFiles = f4, statsCols = Seq("id"))
    }
    try Merge.deleteWhereDv(spark, tbl, col("id") === 6L)
    finally Manifest.beforePublish = () => ()
    val ids3 = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    assert(!ids3.contains(6L) && ids3.count(_ >= 60L) == 21 &&
      ids3.size == 75, s"got ${ids3.size}")
    // ABORT when the TOUCHED file is rewritten away mid-window (its
    // positions would bind to a dead file): winner compacts file 2,
    // loser deletes from it
    val f2 = Manifest.at(tbl).fileStats.collect {
      case (f, s) if s("id")._1 >= 19.0 && s("id")._2 <= 40.0 => f
    }.toSeq
    assert(f2.size == 1, s"expected file 2, got $f2")
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(
        Manifest.read(spark, tbl)
          .filter(col("id") >= 20L && col("id") < 40L).coalesce(1),
        tbl, removeFiles = f2, statsCols = Seq("id"))
    }
    val e2 = try intercept[IllegalStateException](
      Merge.deleteWhereDv(spark, tbl, col("id") === 26L))
    finally Manifest.beforePublish = () => ()
    assert(e2.getMessage.contains("rewritten away"))
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq == ids3, "winner intact, loser no-op")
    // a plain append losing to a DV delete rebases and CARRIES the DV
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Merge.deleteWhereDv(spark, tbl, col("id") === 3L)
    }
    try Manifest.commit(Seq((201L, 0, 201)).toDF("id", "grp", "v"), tbl)
    finally Manifest.beforePublish = () => ()
    val ids4 = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    assert(!ids4.contains(3L) && ids4.contains(201L) &&
      ids4.size == ids3.size, "append carries the interim DV")
  }

  test("vacuum keeps DV dirs referenced by retained manifests and " +
    "sweeps orphans (crashed deletes, dropped history, absorbed DVs)") {
    val tbl = freshTable()
    seed(tbl)
    Merge.deleteWhereDv(spark, tbl, col("id") === 7L)  // v5, dv dir 1
    Merge.deleteWhereDv(spark, tbl, col("id") === 8L)  // v6, dv dir 2
    // orphan debris: a claimed-but-never-published dv dir
    val orphan = Paths.get(tbl, "dv", "d999999")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1))
    Manifest.vacuum(tbl, retainLast = 1)
    val dirs = {
      val s = Files.list(Paths.get(tbl, "dv"))
      try s.toArray.map(_.toString).toSeq.sorted finally s.close()
    }
    // only the newest manifest's referenced dir survives (v6's DV
    // carries v5's position, so dir 1 is unreferenced once v5 drops)
    assert(!Files.exists(orphan), "orphan dv dir must sweep")
    assert(dirs.size == 1, s"expected one retained dv dir, got $dirs")
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq ==
      (0L until 80L).filterNot(i => i == 7L || i == 8L))
  }

  test("a DV'd read runs ONE Spark job: the positions are read on the " +
    "driver and applied inside the scan (no inference, no exchange)") {
    val tbl = freshTable()
    seed(tbl)
    assert(jobsDuring(Manifest.read(spark, tbl).collect()) == 1)
    Merge.deleteWhereDv(spark, tbl, col("id").isin(3L, 21L, 22L))
    var rows = 0
    assert(jobsDuring {
      rows = Manifest.read(spark, tbl).collect().length
    } == 1, "a DV'd read must cost what a DV-less read costs")
    assert(rows == 77)
  }

  test("one fused key guard: a mergeMatchedDv DELETE costs exactly one " +
    "Spark job (its source checkpoint) more than a deleteKeysDvCols of " +
    "the same keys on a twin table, and both hide the same rows") {
    val (a, b) = (freshTable(), freshTable())
    seed(a); seed(b)
    // one partition: no exchange splits either guard or the DV publish
    // into partition-count-dependent jobs, so both paths run the same
    // guard and publish jobs and differ only in their source handling
    val keys = Seq(3L, 21L, 22L, 45L).toDF("id").coalesce(1)
    val viaKeys =
      jobsDuring(Merge.deleteKeysDvCols(spark, a, keys, Seq("id")))
    val viaMerge = jobsDuring(Merge.mergeMatchedDv(spark, b, keys,
      Seq("id")))
    info(s"jobs: mergeMatchedDv $viaMerge, deleteKeysDvCols $viaKeys")
    assert(viaMerge - viaKeys == 1,
      s"mergeMatchedDv $viaMerge jobs vs deleteKeysDvCols $viaKeys")
    assert(Manifest.read(spark, a).collect().toSet ==
      Manifest.read(spark, b).collect().toSet)
    assert(Manifest.read(spark, b).count() == 76L)
  }

  test("the in-scan bitmap filter and the shuffle anti-join (past the " +
    "size gate) hide the same rows: stacked DVs, time travel, and a " +
    "DV'd SQL read") {
    import org.apache.spark.sql.Row
    val tbl = freshTable()
    seed(tbl)
    Merge.deleteWhereDv(spark, tbl, col("id").isin(1L, 21L))       // v5
    Merge.deleteWhereDv(spark, tbl, col("id").isin(22L, 45L, 60L)) // v6
    Merge.updateWhereDv(spark, tbl, col("id") === 61L,
      Seq("v" -> lit(-1)))                                          // v7
    val deleted = Map(5L -> Set(1L, 21L),
      6L -> Set(1L, 21L, 22L, 45L, 60L),
      7L -> Set(1L, 21L, 22L, 45L, 60L))
    def applied(v: Long, limit: Long): (Set[Row], String) = {
      val base = spark.read.schema(Manifest.at(tbl, v).schema)
        .parquet(Manifest.at(tbl, v).files
          .map(f => Paths.get(tbl).resolve(f).toString): _*)
      val df = Manifest.dvJoin(spark, tbl, Manifest.at(tbl, v).dv,
        Manifest.withPos(base), limit).drop("__dv_f", "__dv_p")
      (df.collect().toSet, df.queryExecution.executedPlan.toString)
    }
    for (v <- 5L to 7L) {
      val (viaFilter, pf) = applied(v, Manifest.DvBroadcastLimit)
      val (viaJoin, pj) = applied(v, 0L)
      assert(pf.contains("graft_dv_live") && !pf.contains("Join"), pf)
      assert(pj.contains("LeftAnti") && !pj.contains("graft_dv_live"), pj)
      assert(viaFilter == viaJoin, s"v$v: filter and anti-join disagree")
      assert(viaFilter == Manifest.read(spark, tbl, v).collect().toSet)
      val ids = viaFilter.map(_.getLong(0))
      assert(ids == (0L until 80L).toSet -- deleted(v), s"v$v: $ids")
    }
    assert(applied(7L, 0L)._1.exists(r => r.getLong(0) == 61L &&
      r.getInt(2) == -1), "the update's image reads on both paths")
    // the SQL read (DvReadRewrite over the catalog) agrees with the
    // shuffle path at the head and on a time-traveled version
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    for (v <- Seq(6L, 7L)) {
      val sql = spark.sql(s"SELECT * FROM graft.`$tbl` VERSION AS OF $v")
      assert(sql.collect().toSet == applied(v, 0L)._1, s"SQL v$v")
    }
  }
}
