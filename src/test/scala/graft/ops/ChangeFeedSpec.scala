package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Change-data-feed contracts over [[Manifest]] tables: append steps are
  * file-level inserts (no key, scan = added files only), replace steps
  * are key-based snapshot diffs with Delta-CDF change types, a pure
  * compaction diffs to an EMPTY feed, and the replica-sync loop applies
  * the feed with the atomic-watermark resume contract. */
class ChangeFeedSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("cdc_tbl").toString

  test("append-only chain: feed is per-version inserts, needs no key, " +
    "and a since-bounded feed reads ONLY the added files") {
    val tbl = freshTable()
    Manifest.commit(Seq(1, 2).toDF("x"), tbl)
    Manifest.commit(Seq(3).toDF("x"), tbl)
    Manifest.commit(Seq(4, 5).toDF("x"), tbl)
    val full = ChangeFeed.changes(spark, tbl, sinceVersion = 0L)
    assert(full.columns.toSeq ==
      Seq(ChangeFeed.VersionCol, ChangeFeed.TypeCol, "x"))
    val rows = full.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set((1L, "insert", 1), (1L, "insert", 2),
      (2L, "insert", 3), (3L, "insert", 4), (3L, "insert", 5)))
    // incremental consumer: only the tail, and only its files are read
    val tail = ChangeFeed.changes(spark, tbl, sinceVersion = 2L)
    assert(tail.select("x").as[Int].collect().sorted.toSeq == Seq(4, 5))
    assert(tail.inputFiles.forall(_.contains("b000003")),
      s"tail feed read beyond v3's batch: ${tail.inputFiles.toSeq}")
  }

  test("snapshotDiff: planted insert/delete/update emit exactly the " +
    "four tagged images; unchanged rows emit nothing") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val nu = Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val diff = ChangeFeed.snapshotDiff(old, nu, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(diff == Set(
      ("delete", 1L, "a"),
      ("update_preimage", 2L, "b"), ("update_postimage", 2L, "B"),
      ("insert", 4L, "d")))
  }

  test("replace commit: diff requires keyCols (loud failure without), " +
    "and a pure compaction replace yields an EMPTY feed") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    Manifest.commit(Seq((3L, "c")).toDF("id", "v"), tbl)
    // compaction: same rows, one file — OPTIMIZE changes no data
    Manifest.commit(Manifest.read(spark, tbl).repartition(1), tbl,
      replace = true)
    intercept[IllegalArgumentException](
      ChangeFeed.changes(spark, tbl, sinceVersion = 2L))
    assert(ChangeFeed.changes(spark, tbl, sinceVersion = 2L,
      keyCols = Seq("id")).count() == 0L,
      "compaction must emit an empty change feed")
    // a real rewrite: drop id=1, update id=2, insert id=4
    Manifest.commit(Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("id", "v"),
      tbl, replace = true)
    val feed = ChangeFeed.changes(spark, tbl, sinceVersion = 3L,
        keyCols = Seq("id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((4L, "delete", 1L), (4L, "update_preimage", 2L),
      (4L, "update_postimage", 2L), (4L, "insert", 4L)))
  }

  test("data_change=false flagged replace: changes() skips it with no " +
    "key and no diff; syncReplica advances the watermark key-free") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    Manifest.commit(Manifest.read(spark, tbl).repartition(1), tbl,
      replace = true, meta = Map(ChangeFeed.DataChangeKey -> "false"))
    Manifest.commit(Seq((3L, "c")).toDF("id", "v"), tbl)
    // no keyCols anywhere: the flagged replace never reaches the diff
    val feed = ChangeFeed.changes(spark, tbl, sinceVersion = 0L)
    assert(feed.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(ChangeFeed.changes(spark, tbl, sinceVersion = 1L,
      toVersion = 2L).count() == 0L, "flagged range must be empty")
    val rep = freshTable() + "/replica"
    assert(ChangeFeed.syncReplica(spark, tbl, rep,
      keyCols = Seq.empty) == (3L, 3))
    assert(Manifest.read(spark, rep).as[(Long, String)].collect()
      .sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("syncReplica: filtered replica tracks appends incrementally, " +
    "survives a replace via one key-merge, resumes idempotently, and " +
    "always equals transform(snapshot)") {
    val src = freshTable()
    val rep = freshTable() + "/replica"
    val evens = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("id") % 2 === 0)
    def sync() = ChangeFeed.syncReplica(spark, src, rep,
      keyCols = Seq("id"), transform = evens)
    Manifest.commit(Seq((1L, 10), (2L, 20)).toDF("id", "v"), src)
    Manifest.commit(Seq((3L, 30), (4L, 40)).toDF("id", "v"), src)
    assert(sync() == (2L, 2)) // one replica commit per source version
    assert(ChangeFeed.replicaSourceVersion(rep) == 2L)
    assert(Manifest.read(spark, rep).as[(Long, Int)].collect().sorted
      .toSeq == Seq((2L, 20), (4L, 40)))
    // replace: delete id=2, update id=4, insert id=5/6
    Manifest.commit(
      Seq((1L, 10), (3L, 30), (4L, 44), (5L, 50), (6L, 60))
        .toDF("id", "v"), src, replace = true)
    assert(sync() == (3L, 1))
    assert(sync() == (3L, 0)) // idle no-op
    val replica = Manifest.read(spark, rep).as[(Long, Int)].collect()
      .sorted.toSeq
    assert(replica == Seq((4L, 44), (6L, 60)))
    // equals transform(final snapshot), and history stayed readable
    val oneShot = evens(Manifest.read(spark, src)).as[(Long, Int)]
      .collect().sorted.toSeq
    assert(replica == oneShot)
    assert(Manifest.read(spark, rep, 1L).as[(Long, Int)].collect()
      .sorted.toSeq == Seq((2L, 20)))
    // a pure source compaction advances the watermark WITHOUT
    // rewriting the replica: its file list must be carried forward
    val filesBefore = Manifest.at(rep).files.toSet
    Manifest.commit(Manifest.read(spark, src).repartition(1), src,
      replace = true)
    assert(sync() == (4L, 1))
    assert(ChangeFeed.replicaSourceVersion(rep) == 4L)
    assert(filesBefore.subsetOf(Manifest.at(rep).files.toSet),
      "compaction sync must not rewrite replica files")
    assert(Manifest.read(spark, rep).as[(Long, Int)].collect().sorted
      .toSeq == oneShot)
  }

  test("syncReplica applies a merge-on-read DELETE step (DV growth, no " +
    "file change): the erased keys leave the replica, the replica then " +
    "equals transform(snapshot), the later DV-absorbing rewrite diffs " +
    "to an empty feed (files carried), and a keyless sync of a DV step " +
    "fails loudly instead of silently dropping the deletion") {
    val src = freshTable()
    val rep = freshTable() + "/replica"
    def sync() = ChangeFeed.syncReplica(spark, src, rep,
      keyCols = Seq("id"))
    Manifest.commit(Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "v")
      .coalesce(1), src)                                           // v1
    Manifest.commit(Seq((4L, 40), (5L, 50)).toDF("id", "v")
      .coalesce(1), src)                                           // v2
    assert(sync() == (2L, 2))
    // a keyless replica synced through the appends — fine so far
    val rep2 = freshTable() + "/replica2"
    ChangeFeed.syncReplica(spark, src, rep2, keyCols = Seq.empty)
    // GDPR erasure: ids 2 and 4 hide behind a DV — zero files move
    val filesBefore = Manifest.at(src).files
    Merge.deleteKeysDv(spark, src, Seq(2L, 4L).toDF("id"), "id")   // v3
    assert(Manifest.at(src).files == filesBefore)
    assert(sync() == (3L, 1))
    def repRows() = Manifest.read(spark, rep).as[(Long, Int)]
      .collect().sorted.toSeq
    assert(repRows() == Seq((1L, 10), (3L, 30), (5L, 50)),
      "the erased keys must leave the replica")
    // the silent-divergence trap: dropping the DV step would surface
    // here — the absorbing rewrite diffs two DV-applied snapshots to
    // an EMPTY feed, so the erased rows could never leave later
    Manifest.commit(Manifest.read(spark, src).repartition(1), src,
      replace = true)                                              // v4
    val repFiles = Manifest.at(rep).files.toSet
    assert(sync() == (4L, 1))
    assert(repFiles.subsetOf(Manifest.at(rep).files.toSet),
      "the absorption rewrite must sync as a watermark-only append")
    assert(repRows() == Seq((1L, 10), (3L, 30), (5L, 50)))
    // keyless sync cannot apply a DV step: loud, not silent
    val e = intercept[IllegalArgumentException](
      ChangeFeed.syncReplica(spark, src, rep2, keyCols = Seq.empty))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
  }

  test("schema evolution across the feed: a range spanning an s23-style " +
    "column-add emits null-padded change rows in the final column set, " +
    "each step read under ITS version's recorded schema; syncReplica " +
    "applies the evolved appends") {
    val src = freshTable()
    Manifest.commit(Seq((1L, "a")).toDF("id", "s"), src)
    // evolved append: new column n; v1's files never carried it
    Manifest.commit(Seq((2L, "b", 10)).toDF("id", "s", "n"), src)
    val feed = ChangeFeed.changes(spark, src, sinceVersion = 0L)
    assert(feed.columns.toSet ==
      Set(ChangeFeed.VersionCol, ChangeFeed.TypeCol, "id", "s", "n"))
    val rows = feed.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getString(3),
      if (r.isNullAt(4)) None else Some(r.getInt(4)))).toSet
    assert(rows == Set(
      (1L, "insert", 1L, "a", None), // pre-evolution step: n null-padded
      (2L, "insert", 2L, "b", Some(10))))
    // a replica synced ACROSS the evolution commit lands both steps,
    // evolving its own schema append-compatibly
    val rep = freshTable() + "/replica"
    ChangeFeed.syncReplica(spark, src, rep, keyCols = Seq("id"),
      transform = identity)
    assert(ChangeFeed.replicaSourceVersion(rep) == 2L)
    val repRows = Manifest.read(spark, rep).select("id", "s", "n")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(repRows == Set((1L, "a", None), (2L, "b", Some(10))))
  }
}
