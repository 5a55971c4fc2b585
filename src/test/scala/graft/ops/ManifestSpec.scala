package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Versioned-manifest table contracts: append/replace commits, pinned
  * reads (snapshot isolation by immutability), and time travel. */
class ManifestSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("manifest_tbl").toString

  test("commits version in order; read defaults to the newest") {
    val tbl = freshTable()
    assert(Manifest.version(tbl) == 0L)
    assert(Manifest.commit(Seq(1, 2).toDF("x"), tbl) == 1L)
    assert(Manifest.commit(Seq(3).toDF("x"), tbl) == 2L)
    assert(Manifest.version(tbl) == 2L)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3))
    assert(Manifest.read(spark, tbl, 1L).as[Int].collect().sorted.toSeq ==
      Seq(1, 2))
  }

  test("a frame resolved at version N is pinned: later commits cannot " +
    "change what it reads") {
    val tbl = freshTable()
    Manifest.commit(Seq(10, 20).toDF("x"), tbl)
    val pinned = Manifest.read(spark, tbl) // resolves v1's file list NOW
    Manifest.commit(Seq(30).toDF("x"), tbl)
    assert(pinned.as[Int].collect().sorted.toSeq == Seq(10, 20))
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(10, 20, 30))
  }

  test("replace commit rewrites the file list, preserves content, and " +
    "keeps every prior version readable (OPTIMIZE shape)") {
    val tbl = freshTable()
    Manifest.commit((1 to 50).toDF("x"), tbl)
    Manifest.commit((51 to 100).toDF("x"), tbl)
    val before = Manifest.read(spark, tbl)
    val v3 = Manifest.commit(before.repartition(1), tbl, replace = true)
    assert(v3 == 3L)
    val after = Manifest.read(spark, tbl)
    assert(after.as[Int].collect().sorted.toSeq == (1 to 100))
    assert(after.inputFiles.length == 1, "compacted to one file")
    assert(before.inputFiles.length > 1)
    // time travel to the pre-compaction versions still works
    assert(Manifest.read(spark, tbl, 1L).count() == 50L)
    assert(Manifest.read(spark, tbl, 2L).count() == 100L)
  }

  test("reading an uncommitted version or an empty table fails loudly") {
    val tbl = freshTable()
    intercept[IllegalArgumentException](Manifest.read(spark, tbl))
    Manifest.commit(Seq(1).toDF("x"), tbl)
    intercept[IllegalArgumentException](Manifest.read(spark, tbl, 7L))
  }

  private def tableParquets(tbl: String): Seq[String] = {
    val root = java.nio.file.Paths.get(tbl)
    val s = Files.walk(root)
    try s.toArray.map(_.toString).toSeq
      .filter(_.endsWith(".parquet"))
      .map(p => root.relativize(java.nio.file.Paths.get(p)).toString)
      .sorted
    finally s.close()
  }

  test("vacuum keeps retained versions byte-identical and actually " +
    "deletes the files only dropped versions referenced") {
    val tbl = freshTable()
    Manifest.commit((1 to 50).toDF("x"), tbl)            // v1 append
    Manifest.commit((51 to 100).toDF("x"), tbl)          // v2 append
    Manifest.commit(                                     // v3 replace
      Manifest.read(spark, tbl).repartition(1), tbl, replace = true)
    val before = Manifest.read(spark, tbl, 3L).as[Int].collect().sorted.toSeq
    val filesBefore = tableParquets(tbl)

    val (dropped, gone) = Manifest.vacuum(tbl, retainLast = 1)
    assert(dropped == Seq(1L, 2L))
    // v1/v2's files are unreferenced by the retained replace commit: gone
    assert(gone.nonEmpty)
    gone.foreach(rel => assert(
      !Files.exists(java.nio.file.Paths.get(tbl).resolve(rel))))
    assert(tableParquets(tbl) == (filesBefore.toSet -- gone).toSeq.sorted)
    // the retained version reads back identically post-vacuum
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      before)
    assert(Manifest.version(tbl) == 3L)
  }

  test("vacuum under a pure append chain reclaims nothing: every dropped " +
    "version's files are shared with (carried forward by) the retained one") {
    val tbl = freshTable()
    Manifest.commit(Seq(1, 2).toDF("x"), tbl)   // v1
    Manifest.commit(Seq(3).toDF("x"), tbl)      // v2 carries v1's files
    Manifest.commit(Seq(4).toDF("x"), tbl)      // v3 carries v1+v2's files
    val filesBefore = tableParquets(tbl)
    val (dropped, gone) = Manifest.vacuum(tbl, retainLast = 1)
    assert(dropped == Seq(1L, 2L))
    assert(gone.isEmpty, "append lineage shares every file with the head")
    assert(tableParquets(tbl) == filesBefore)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4))
  }

  test("reading a vacuumed version fails loudly; newer survivors still " +
    "time-travel") {
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl)                       // v1
    Manifest.commit(Seq(2).toDF("x"), tbl, replace = true)       // v2
    Manifest.commit(Seq(3).toDF("x"), tbl)                       // v3
    Manifest.vacuum(tbl, retainLast = 2)
    val err = intercept[IllegalArgumentException](
      Manifest.read(spark, tbl, 1L))
    assert(err.getMessage.contains("is not committed"))
    assert(Manifest.read(spark, tbl, 2L).as[Int].collect().toSeq == Seq(2))
    assert(Manifest.read(spark, tbl, 3L).as[Int].collect().sorted.toSeq ==
      Seq(2, 3))
  }

  test("re-vacuum after an interrupted run (manifests gone, data files " +
    "stranded) sweeps the strays; retaining everything is a no-op") {
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl)                       // v1
    Manifest.commit(Seq(2).toDF("x"), tbl, replace = true)       // v2
    // retaining at least as many versions as exist drops nothing and —
    // with no strays yet — deletes nothing
    assert(Manifest.vacuum(tbl, retainLast = 5) == (Seq.empty, Seq.empty))
    // simulate a vacuum that died between its two phases: the covering
    // checkpoint written (checkpoints go FIRST — the crash-safety
    // order), v1's manifest already deleted, v1's data files still on
    // disk
    Manifest.writeCheckpoint(tbl, 2L)
    Files.delete(java.nio.file.Paths.get(tbl, "_manifests", "v000001.txt"))
    val strays = tableParquets(tbl).filter(_.contains("b000001"))
    assert(strays.nonEmpty)
    val (dropped, gone) = Manifest.vacuum(tbl, retainLast = 1)
    assert(dropped.isEmpty, "no committed version was dropped this run")
    assert(gone == strays, "the sweep reclaims orphans whose manifest is " +
      "already gone")
    assert(tableParquets(tbl).forall(!_.contains("b000001")))
    assert(Manifest.read(spark, tbl).as[Int].collect().toSeq == Seq(2))
  }

  test("vacuum never touches a batch dir above the newest committed " +
    "version (an in-flight commit's data lands before its manifest)") {
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl)                       // v1
    // simulate an in-flight v2: data written, manifest not yet published
    val inflight = java.nio.file.Paths.get(tbl, "data", "b000002")
    Seq(99).toDF("x").write.parquet(inflight.toString)
    val inflightFiles = tableParquets(tbl).filter(_.contains("b000002"))
    assert(inflightFiles.nonEmpty)
    val (_, gone) = Manifest.vacuum(tbl, retainLast = 1)
    assert(gone.isEmpty)
    assert(tableParquets(tbl).filter(_.contains("b000002")) == inflightFiles)
    intercept[IllegalArgumentException](Manifest.vacuum(tbl, 0))
  }

  test("commit metadata publishes atomically with the version and reads " +
    "back per version; invalid keys/values fail before any write") {
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl, meta = Map("day" -> "2026-08-14"))
    Manifest.commit(Seq(2).toDF("x"), tbl) // no meta
    Manifest.commit(Seq(3).toDF("x"), tbl,
      meta = Map("day" -> "2026-08-15", "src" -> "a=b")) // '=' in value ok
    assert(Manifest.at(tbl, 1L).meta == Map("day" -> "2026-08-14"))
    assert(Manifest.at(tbl, 2L).meta == Map.empty)
    assert(Manifest.at(tbl).meta == Map("day" -> "2026-08-15", "src" -> "a=b"))
    // meta lines never leak into the file list
    assert(Manifest.at(tbl).files.forall(_.endsWith(".parquet")))
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3))
    intercept[IllegalArgumentException](Manifest.commit(
      Seq(4).toDF("x"), tbl, meta = Map("bad=key" -> "v")))
    intercept[IllegalArgumentException](Manifest.commit(
      Seq(4).toDF("x"), tbl, meta = Map("k" -> "two\nlines")))
  }

  test("Materialize.refresh: incremental folds equal a from-scratch " +
    "recompute, scan only the delta, and never double-apply") {
    val src = freshTable()
    val agg = freshTable() + "_agg"
    val partial = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("v").cast("decimal(18,2)")).cast("decimal(18,2)").as("m"))
    val merge = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("g")).agg(sum(col("cnt")).as("cnt"),
        sum(col("m")).cast("decimal(18,2)").as("m"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("g"), col("cnt"), col("m").cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val day1 = Seq(("a", 1.5), ("b", 2.0), ("a", 3.0)).toDF("g", "v")
    val day2 = Seq(("b", 4.25), ("c", 0.5)).toDF("g", "v")
    Manifest.commit(day1.coalesce(1), src)
    val (v1, d1) = Materialize.refresh(spark, src, agg, partial, merge)
    assert(v1 == 1L && d1 == 1)
    assert(Materialize.sourceVersion(agg) == 1L)
    Manifest.commit(day2.coalesce(1), src)
    val (v2, d2) = Materialize.refresh(spark, src, agg, partial, merge)
    assert(v2 == 2L && d2 == 1, "second refresh must fold ONLY day2's file")
    // combiner law on this instance: incremental == one-shot
    assert(rows(Manifest.read(spark, agg)) ==
      rows(merge(partial(day1.unionByName(day2)))))
    // idle refresh is a no-op commit-wise
    val (v3, d3) = Materialize.refresh(spark, src, agg, partial, merge)
    assert(v3 == 2L && d3 == 0)
    assert(Manifest.version(agg) == 2L, "no-op must not commit a version")
    // pre-refresh aggregate versions stay readable (replace lineage)
    assert(rows(Manifest.read(spark, agg, 1L)) ==
      rows(merge(partial(day1))))
  }

  test("schema evolution in the log: appends add columns (old files read " +
    "null), omitted columns survive, time travel pins each version's own " +
    "schema, type changes fail loudly, replace resets") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, "a")).toDF("id", "s"), tbl)
    // v2 appends a column; v3 omits one — both diagonal directions
    Manifest.commit(Seq((2L, "b", 10.0)).toDF("id", "s", "x"), tbl)
    Manifest.commit(Seq((3L, 30.0)).toDF("id", "x"), tbl)
    val full = Manifest.read(spark, tbl)
    assert(full.columns.toSeq == Seq("id", "s", "x"))
    val rows = full.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1L, Some("a"), None), (2L, Some("b"), Some(10.0)),
      (3L, None, Some(30.0))))
    // time travel sees the schema THAT version published
    assert(Manifest.read(spark, tbl, 1L).columns.toSeq == Seq("id", "s"))
    assert(Manifest.read(spark, tbl, 2L).columns.toSeq ==
      Seq("id", "s", "x"))
    // incompatible type change is loud; replace legitimizes the rewrite
    val e = intercept[IllegalArgumentException](
      Manifest.commit(Seq((4L, 9)).toDF("id", "x"), tbl))
    assert(e.getMessage.contains("cannot change column"))
    Manifest.commit(Seq((5L, 9)).toDF("id", "x"), tbl, replace = true)
    assert(Manifest.read(spark, tbl).columns.toSeq == Seq("id", "x"))
    assert(Manifest.at(tbl).schema.fieldNames.toSeq == Seq("id", "x"))
  }

  test("CHECK constraints: declared once, gate every later commit " +
    "(violations abort with nothing written), survive replace, and " +
    "dropConstraint lifts the gate") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 10), (2L, 20)).toDF("id", "v"), tbl)
    // cannot declare an invariant the table already breaks
    val e0 = intercept[IllegalArgumentException](
      Manifest.addConstraint(spark, tbl, "big", "v > 15"))
    assert(e0.getMessage.contains("existing"))
    Manifest.addConstraint(spark, tbl, "positive", "v > 0")
    assert(Manifest.at(tbl).constraints == Map("positive" -> "v > 0"))
    // a violating commit aborts loudly and publishes NOTHING
    val vBefore = Manifest.version(tbl)
    val filesBefore = Manifest.at(tbl).files
    val e = intercept[IllegalArgumentException](
      Manifest.commit(Seq((3L, -5), (4L, 40)).toDF("id", "v"), tbl))
    assert(e.getMessage.contains("positive") &&
      e.getMessage.contains("1 rows"))
    assert(Manifest.version(tbl) == vBefore)
    assert(Manifest.at(tbl).files == filesBefore)
    // valid commits pass; the constraint survives a replace commit
    Manifest.commit(Seq((5L, 50)).toDF("id", "v"), tbl)
    Manifest.commit(Manifest.read(spark, tbl).repartition(1), tbl,
      replace = true)
    assert(Manifest.at(tbl).constraints == Map("positive" -> "v > 0"))
    intercept[IllegalArgumentException](
      Manifest.commit(Seq((6L, 0)).toDF("id", "v"), tbl))
    // dropping the constraint lifts the gate
    Manifest.dropConstraint(spark, tbl, "positive")
    assert(Manifest.at(tbl).constraints.isEmpty)
    Manifest.commit(Seq((6L, 0)).toDF("id", "v"), tbl)
    assert(Manifest.read(spark, tbl).count() == 4L)
    intercept[IllegalArgumentException](
      Manifest.dropConstraint(spark, tbl, "positive"))
  }

  test("pre-schema-tracking manifests (no recorded schema) refuse " +
    "loudly, naming the version") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, "a")).toDF("id", "s"), tbl)
    // strip the schema line, simulating a table written before tracking
    val mf = java.nio.file.Paths.get(tbl, "_manifests", "v000001.txt")
    val kept = java.nio.file.Files.readAllLines(mf).toArray.map(_.toString)
      .filterNot(_.startsWith(s"#${Manifest.SchemaKey}="))
    java.nio.file.Files.write(mf, kept.mkString("\n").getBytes)
    // every publish path records the schema, so a manifest without one
    // refuses like a pre-delta-log manifest — no footer inference
    val e = intercept[IllegalStateException](Manifest.read(spark, tbl))
    assert(e.getMessage.contains("manifest v1 ") &&
      e.getMessage.contains(s"#${Manifest.SchemaKey}="), e.getMessage)
  }

  test("Materialize.refresh fails loudly when a replace commit severed " +
    "the append lineage (folding would double-count)") {
    val src = freshTable()
    val agg = freshTable() + "_agg"
    val partial = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val merge = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
    Manifest.commit(Seq(("a", 1)).toDF("g", "v").coalesce(1), src)
    Materialize.refresh(spark, src, agg, partial, merge)
    // compaction rewrites the table: v1's files are no longer listed
    Manifest.commit(Manifest.read(spark, src).coalesce(1), src,
      replace = true)
    val e = intercept[IllegalArgumentException](
      Materialize.refresh(spark, src, agg, partial, merge))
    assert(e.getMessage.contains("severed"))
  }

  test("Materialize.refresh refuses a merge-on-read DELETE step (the " +
    "hidden rows are already folded; the file diff alone reads as " +
    "'nothing new'), and a from-scratch refresh over a DV-carrying " +
    "source folds the DV-APPLIED view") {
    val src = freshTable()
    val agg = freshTable() + "_agg"
    val partial = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val merge = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("g")).agg(sum(col("cnt")).as("cnt"))
    Manifest.commit(Seq(("a", 1), ("a", 2), ("b", 3)).toDF("g", "v")
      .coalesce(1), src)
    Materialize.refresh(spark, src, agg, partial, merge)
    // GDPR erasure on the source: no files change, so without the DV
    // guard the next refresh would commit a zero-delta watermark
    // advance and keep g=a's erased row in the aggregate FOREVER
    Merge.deleteWhereDv(spark, src, col("v") === 2)
    val e = intercept[IllegalArgumentException](
      Materialize.refresh(spark, src, agg, partial, merge))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    // the recompute path: a fresh aggregate folds the DV-applied view
    val agg2 = freshTable() + "_agg2"
    Materialize.refresh(spark, src, agg2, partial, merge)
    assert(Manifest.read(spark, agg2).as[(String, Long)].collect()
      .sorted.toSeq == Seq(("a", 1L), ("b", 1L)))
    // after maintenance absorbs the DV, the severed-lineage guard takes
    // over for the stale aggregate (same loud recompute contract)
    Manifest.commit(Manifest.read(spark, src).coalesce(1), src,
      replace = true)
    assert(intercept[IllegalArgumentException](
      Materialize.refresh(spark, src, agg, partial, merge))
      .getMessage.contains("severed"))
  }

  test("commit timestamps + versionAsOf: every commit records its " +
    "publish time (reserved, hidden from meta), TIMESTAMP AS OF " +
    "resolution is running-max adjusted against clock skew, pre-stamp " +
    "manifests fall back to file mtime, and a too-early timestamp " +
    "fails loudly") {
    val tbl = freshTable()
    val t0 = System.currentTimeMillis() - 1
    Manifest.commit(Seq((1L, "a")).toDF("id", "s"), tbl)         // v1
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    Manifest.commit(Seq((2L, "b")).toDF("id", "s"), tbl)         // v2
    val t2 = System.currentTimeMillis()
    assert(Manifest.at(tbl, 1L).commitTime <= Manifest.at(tbl, 2L).commitTime)
    assert(Manifest.versionAsOf(tbl, t1) == 1L)
    assert(Manifest.versionAsOf(tbl, t2) == 2L)
    assert(Manifest.versionAsOf(tbl, System.currentTimeMillis()) == 2L)
    val e = intercept[IllegalArgumentException](
      Manifest.versionAsOf(tbl, t0))
    assert(e.getMessage.contains("no version"), e.getMessage)
    // the stamp is reserved: hidden from meta(), refused as user meta
    assert(!Manifest.at(tbl).meta.contains(Manifest.CommitTsKey))
    intercept[IllegalArgumentException](
      Manifest.commit(Seq((3L, "c")).toDF("id", "s"), tbl,
        meta = Map(Manifest.CommitTsKey -> "0")))
    // clock-skew adjustment: doctor v1's stamp (and its recorded
    // running max — the write-time adjustment a real fast-clock writer
    // would have produced) FORWARD past v2's. Resolution must follow
    // version order, never serve v2 for a timestamp that already
    // covers a later stamp.
    val mf = java.nio.file.Paths.get(tbl, "_manifests", "v000001.txt")
    val doctored = new String(java.nio.file.Files.readAllBytes(mf))
      .linesIterator.map { l =>
        if (l.startsWith("#committs=")) s"#committs=${t2 + 60000}"
        else if (l.startsWith("#maxts=")) s"#maxts=${t2 + 60000}"
        else l
      }.mkString("\n")
    java.nio.file.Files.write(mf, doctored.getBytes)
    assert(Manifest.versionAsOf(tbl, t2 + 60000) == 2L,
      "running-max adjustment: v2's effective time is max(v1, v2)")
    intercept[IllegalArgumentException](
      Manifest.versionAsOf(tbl, t2)) // both versions now after t2
    // pre-stamp manifests (no #committs line): mtime fallback resolves
    val legacy = new String(java.nio.file.Files.readAllBytes(mf))
      .linesIterator.filterNot(_.startsWith("#committs=")).mkString("\n")
    java.nio.file.Files.write(mf, legacy.getBytes)
    assert(Manifest.at(tbl, 1L).commitTime ==
      java.nio.file.Files.getLastModifiedTime(mf).toMillis)
  }

  test("history: change types classify (append / replace / rewrite), " +
    "row deltas count each file once, metadata-only commits read as " +
    "zero-row appends, and the data_change flag surfaces") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 10), (2L, 20)).toDF("id", "v")
      .coalesce(1), tbl)                                          // v1
    Manifest.commit(Seq((3L, 30)).toDF("id", "v").coalesce(1), tbl) // v2
    Manifest.commit(Manifest.read(spark, tbl).coalesce(1), tbl,   // v3
      replace = true, meta = Map(ChangeFeed.DataChangeKey -> "false"))
    Manifest.addConstraint(spark, tbl, "v_pos", "v > 0")          // v4
    Merge.upsert(spark, tbl,                                      // v5
      Seq((3L, 33), (9L, 90)).toDF("id", "v"), Seq("id"))
    val h = Manifest.history(spark, tbl)
      .map(i => (i.version, i.change_type, i.rows_added,
        i.rows_removed, i.data_change))
    assert(h == Seq(
      (1L, "append", 2L, 0L, true),
      (2L, "append", 1L, 0L, true),
      (3L, "replace", 3L, 3L, false),
      (4L, "append", 0L, 0L, true), // constraint = zero-row metadata
      (5L, "rewrite", 4L, 3L, true))) // 3 carried-rows + insert; file out
    // file accounting: the compaction dropped 2 files for 1
    val v3 = Manifest.history(spark, tbl).find(_.version == 3L).get
    assert(v3.files_added == 1L && v3.files_removed == 2L)
  }

  test("history is METADATA-ONLY on stats-bearing tables: every commit " +
    "records per-file row counts, so the audit answers with the data " +
    "directory renamed away; pre-stats manifests fall back to one read " +
    "of exactly the uncovered files") {
    import java.nio.file.{Files => JFiles, Paths}
    import java.nio.charset.StandardCharsets
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 10), (2L, 20)).toDF("id", "v")
      .coalesce(1), tbl)                                            // v1
    Manifest.commit(Seq((3L, 30)).toDF("id", "v").coalesce(1), tbl) // v2
    Merge.deleteWhere(spark, tbl, col("id") === 3L)                 // v3
    val expected = Manifest.history(spark, tbl)
      .map(i => (i.version, i.change_type, i.rows_added, i.rows_removed))
    assert(expected == Seq((1L, "append", 2L, 0L),
      (2L, "append", 1L, 0L), (3L, "rewrite", 0L, 1L)))
    // the zero-read proof: hide the data, history still answers
    val data = Paths.get(tbl, "data")
    val hidden = Paths.get(tbl, "data_hidden")
    JFiles.move(data, hidden)
    try {
      val h = Manifest.history(spark, tbl)
        .map(i => (i.version, i.change_type, i.rows_added,
          i.rows_removed))
      assert(h == expected, "history touched data files")
    } finally JFiles.move(hidden, data)
    // metadata-only COUNT(*): every version's exact row count from the
    // manifests, time travel included, across the cow delete
    assert(Manifest.at(tbl, 1L).rowCount.contains(2L))
    assert(Manifest.at(tbl, 2L).rowCount.contains(3L))
    assert(Manifest.at(tbl).rowCount.contains(2L)) // v3: (3L,30) deleted
    // a PRE-STATS writer's manifest (no #filerows. lines): strip v1's
    // and history must fall back to reading exactly v1's file
    val mf = Paths.get(tbl, "_manifests", "v000001.txt")
    val stripped = new String(JFiles.readAllBytes(mf),
      StandardCharsets.UTF_8).linesIterator
      .filterNot(_.startsWith("#" + Manifest.FileRowsPrefix))
      .mkString("\n")
    JFiles.write(mf, stripped.getBytes(StandardCharsets.UTF_8))
    assert(Manifest.history(spark, tbl)
      .map(i => (i.version, i.change_type, i.rows_added, i.rows_removed))
      == expected)
    // rowCount refuses to guess for pre-stats files: v1's file is live
    // at v2 but its count is gone — None, caller falls back to a read
    assert(Manifest.at(tbl, 2L).rowCount.isEmpty)
  }

  test("restore: rollback is a METADATA-ONLY commit (answers with the " +
    "data dir hidden) that re-lists the target version's files, schema " +
    "and constraints; history keeps the undone version; a vacuumed " +
    "target and a concurrent publish fail loudly") {
    import java.nio.file.{Files => JFiles, Paths}
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 5), (2L, 6)).toDF("id", "v").coalesce(1),
      tbl)                                                         // v1
    Manifest.addConstraint(spark, tbl, "v_pos", "v > 0")           // v2
    Merge.deleteWhere(spark, tbl, col("id") === 2L)                // v3
    assert(Manifest.read(spark, tbl).count() == 1L)
    // restore to the pre-delete state WITHOUT touching data bytes
    val data = Paths.get(tbl, "data")
    val hidden = Paths.get(tbl, "data_hidden")
    JFiles.move(data, hidden)
    val v = try Manifest.restore(tbl, 2L) finally JFiles.move(hidden, data)
    assert(v == 4L)
    assert(Manifest.at(tbl, 4L).files == Manifest.at(tbl, 2L).files)
    assert(Manifest.read(spark, tbl).count() == 2L)
    assert(Manifest.at(tbl).meta.get("restore.of").contains("2"))
    // the restored state carries the target's constraints forward
    intercept[IllegalArgumentException](
      Manifest.commit(Seq((9L, -1)).toDF("id", "v"), tbl))
    // the undone version stays readable (restore appends, never rewinds)
    assert(Manifest.read(spark, tbl, 3L).count() == 1L)
    assert(Manifest.at(tbl, 3L).rowCount.contains(1L))
    // a vacuumed target version fails loudly
    val tbl2 = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl2)
    Manifest.commit(Seq(2).toDF("x"), tbl2, replace = true)
    Manifest.vacuum(tbl2, retainLast = 1)
    intercept[IllegalArgumentException](Manifest.restore(tbl2, 1L))
    // a restore losing a publish race aborts (never rebases) — the
    // seam lands a competing append between resolve and link
    Manifest.commit(Seq(3).toDF("x"), tbl2)
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(Seq(4).toDF("x"), tbl2)
    }
    val e = try intercept[IllegalStateException](
      Manifest.restore(tbl2, 2L))
    finally Manifest.beforePublish = () => ()
    assert(e.getMessage.contains("concurrent commit"))
  }

  test("min/max file stats: recorded per fresh file atomically with " +
    "the version, hidden from meta(), carried for life; readPruned " +
    "keeps boundary touches and unprunable stat-less files") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, "a"), (5L, "b")).toDF("k", "s").coalesce(1),
      tbl, statsCols = Seq("k"))
    Manifest.commit(Seq((10L, "c"), (20L, "d")).toDF("k", "s")
      .coalesce(1), tbl, statsCols = Seq("k"))
    // a commit WITHOUT stats: its file must stay unprunable
    Manifest.commit(Seq((100L, "e")).toDF("k", "s").coalesce(1), tbl)
    val stats = Manifest.at(tbl).fileStats
    assert(stats.size == 2) // only the stats-recorded files
    // recorded bounds are ulp-WIDENED (conservative even when a long
    // past 2^53 rounds under the double cast) — contain the true range,
    // tight to within a couple of ulps
    val bounds = stats.values.map(_("k")).toSeq.sortBy(_._1)
    assert(bounds.zip(Seq((1.0, 5.0), (10.0, 20.0))).forall {
      case ((lo, hi), (mn, mx)) => lo <= mn && hi >= mx &&
        mn - lo <= 2 * math.ulp(mn) && hi - mx <= 2 * math.ulp(mx) },
      bounds.toString)
    assert(Manifest.at(tbl).meta.isEmpty) // filestats.* is internal
    // probe [4, 9]: file 1 overlaps at its max (boundary kept), file 2
    // is disjoint (skipped), the stat-less file is kept conservatively
    val (df, kept, skipped) = Manifest.readPruned(spark, tbl, "k", 4, 9)
    assert(kept == 2 && skipped == 1)
    assert(df.select("k").as[Long].collect().toSet == Set(1L, 5L, 100L))
    // pruned + exact predicate == full read + exact predicate
    assert(df.filter(col("k") >= 4 && col("k") <= 9).count() ==
      Manifest.read(spark, tbl)
        .filter(col("k") >= 4 && col("k") <= 9).count())
    // fully disjoint probe: only the unprunable file survives
    val (_, k2, s2) = Manifest.readPruned(spark, tbl, "k", 1000, 2000)
    assert(k2 == 1 && s2 == 2)
  }

  test("optimistic concurrency: a pure append losing the version race " +
    "REBASES onto the new head (both writers land, both file sets " +
    "present); replace and constraint-change conflicts fail loudly " +
    "with the winner intact") {
    import java.nio.file.{Files => JFiles, Paths}
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl) // v1
    // deterministic interleave: the seam fires between the loser's
    // manifest construction and its publish link, where a competing
    // append steals the version number
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(Seq(100).toDF("x"), tbl) // the winner takes v2
    }
    try {
      val v = Manifest.commit(Seq(2).toDF("x"), tbl)
      assert(v == 3L, "the losing append must rebase to the next slot")
    } finally Manifest.beforePublish = () => ()
    // both appends landed: v2 = winner, v3 = loser carrying v2's files
    assert(Manifest.version(tbl) == 3L)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 100))
    assert(Manifest.at(tbl, 2L).files.toSet.subsetOf(
      Manifest.at(tbl, 3L).files.toSet), "rebase must carry the winner")
    val mdir = Paths.get(tbl, "_manifests")
    val tmpLeft = {
      val s = JFiles.list(mdir)
      try s.toArray.map(_.toString).count(_.endsWith(".tmp"))
      finally s.close()
    }
    assert(tmpLeft == 0, "publish retries must clean their tmp files")
    // a REPLACE losing the race cannot rebase: loud abort, winner
    // intact, the loser's claimed batch dir reclaimed
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(Seq(200).toDF("x"), tbl) // winner takes v4
    }
    val e = try intercept[IllegalStateException](
      Manifest.commit(Seq(9).toDF("x"), tbl, replace = true))
    finally Manifest.beforePublish = () => ()
    assert(e.getMessage.contains("concurrent commit"))
    assert(Manifest.version(tbl) == 4L)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 100, 200))
    // an append racing a CONSTRAINT change aborts too — its rows were
    // validated against a base whose invariants no longer hold
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.addConstraint(spark, tbl, "x_pos", "x > 0") // v5
    }
    val e2 = try intercept[IllegalStateException](
      Manifest.commit(Seq(7).toDF("x"), tbl))
    finally Manifest.beforePublish = () => ()
    assert(e2.getMessage.contains("constraints changed"))
    assert(Manifest.version(tbl) == 5L)
    // and after the dust settles a plain append still works (and is
    // validated against the new constraint)
    assert(Manifest.commit(Seq(8).toDF("x"), tbl) == 6L)
    intercept[IllegalArgumentException](
      Manifest.commit(Seq(-1).toDF("x"), tbl))
  }

  test("publishStaged is IDEMPOTENT: a replay after the link-then-" +
    "cleanup crash window returns the already-published version (no " +
    "double rows), and the loser of two same-stage publishers " +
    "surrenders to the winner") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 1)).toDF("id", "n"), tbl)
    Manifest.stageCommit(Seq((2L, 2)).toDF("id", "n"), tbl, "w")
    val wapF = JPaths.get(tbl, "_manifests", "wap-w.txt")
    val wapBytes = JFiles.readAllBytes(wapF)
    val v = Manifest.publishStaged(spark, tbl, "w")
    assert(v == 2L && Manifest.read(spark, tbl).count() == 2L)
    // crash-window replay: the wap file "survived" the publish
    JFiles.write(wapF, wapBytes)
    assert(Manifest.publishStaged(spark, tbl, "w") == v)
    assert(!JFiles.exists(wapF), "the replay finishes the cleanup")
    assert(Manifest.read(spark, tbl).count() == 2L, "no double publish")
    // concurrent publishers of the SAME stage: the seam completes a
    // competing publish first; the loser must surrender to its version
    Manifest.stageCommit(Seq((3L, 3)).toDF("id", "n"), tbl, "w2")
    var winnerV = -1L
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      winnerV = Manifest.publishStaged(spark, tbl, "w2")
    }
    val loserV = try Manifest.publishStaged(spark, tbl, "w2")
    finally Manifest.beforePublish = () => ()
    assert(loserV == winnerV && winnerV == 3L)
    assert(Manifest.read(spark, tbl).count() == 3L,
      "the stage landed exactly once")
    assert(Manifest.stagedIds(tbl).isEmpty)
  }

  test("transaction read-version: a conflicting commit landing BETWEEN " +
    "an op's resolve and its commit() call is conflict-checked — a " +
    "stale rewrite cannot silently resurrect a racing DV delete") {
    import org.apache.spark.sql.functions.col
    val tbl = freshTable()
    Manifest.commit((0L until 10L).toDF("id").coalesce(1), tbl,
      statsCols = Seq("id"))
    // an operator resolves a compaction: targets + content AT rv
    val rv = Manifest.version(tbl)
    val targets = Manifest.at(tbl, rv).files
    val content = Manifest.read(spark, tbl, rv).coalesce(1)
    // ... and BEFORE it commits, a DV delete lands on the target file
    Merge.deleteWhereDv(spark, tbl, col("id") === 3L)
    // without the read-version the stale content (still holding id 3)
    // would publish as a clean rewrite; with it, the very first loop
    // iteration sees the DV anchor moved since rv and aborts loudly
    val e = intercept[IllegalStateException](
      Manifest.commit(content, tbl, removeFiles = targets,
        statsCols = Seq("id"), base = Manifest.at(tbl, rv)))
    assert(e.getMessage.contains("concurrent commit"))
    assert(!Manifest.read(spark, tbl).select("id").as[Long]
      .collect().contains(3L), "the delete stays in force")
    // the retried op resolves fresh (DV-applied) and absorbs the DV
    val rv2 = Manifest.version(tbl)
    Manifest.commit(Manifest.read(spark, tbl, rv2).coalesce(1), tbl,
      removeFiles = Manifest.at(tbl, rv2).files, statsCols = Seq("id"),
      base = Manifest.at(tbl, rv2))
    assert(Manifest.at(tbl).dv.isEmpty)
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq == (0L until 10L).filterNot(_ == 3L))
    // a bogus read-version fails before any write
    intercept[IllegalArgumentException](Manifest.at(tbl, 99L))
  }

  test("mixed-writer stress across the FULL rebase matrix: concurrent " +
    "appends, keyed DV deletes and range compactions (production " +
    "retry-on-conflict) all land exactly once — final content is the " +
    "interleave-invariant fixed point, nothing lost, nothing doubled") {
    import org.apache.spark.sql.functions.col
    val tbl = freshTable()
    for (i <- 0 until 8)
      Manifest.commit(
        (i * 100 until i * 100 + 100).map(_.toLong).toDF("id")
          .coalesce(1), tbl, statsCols = Seq("id"))
    def retrying(op: () => Unit): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try { op(); done = true }
        catch {
          case e: IllegalStateException
              if e.getMessage.contains("concurrent commit") &&
                attempts < 50 => attempts += 1
        }
      }
    }
    val appender = new Thread(() => {
      for (k <- 0 until 15)
        retrying(() => { Manifest.commit(
          Seq(10000L + k).toDF("id"), tbl); () })
    })
    val eraser = new Thread(() => {
      for (i <- 0 until 8)
        retrying(() => { Merge.deleteWhereDv(spark, tbl,
          col("id") === (i * 100L + 1L)); () })
    })
    val compactor = new Thread(() => {
      for (i <- (0 until 8).reverse) // opposite order: force collisions
        retrying(() => {
          // resolve-then-commit with the transaction read-version: the
          // eraser's DV can land between this resolve and the publish,
          // and MUST conflict (this content was read pre-DV)
          val rv = Manifest.version(tbl)
          val lo = i * 100.0; val hi = lo + 99.0
          val targets = Manifest.at(tbl, rv).fileStats.collect {
            case (f, st) if st.get("id").exists { case (mn, mx) =>
              mn >= lo - 1 && mx <= hi + 1 } => f
          }.toSeq
          if (targets.nonEmpty) {
            Manifest.commit(
              Manifest.read(spark, tbl, rv)
                .filter(col("id") >= lo && col("id") <= hi).coalesce(1),
              tbl, removeFiles = targets, statsCols = Seq("id"),
              base = Manifest.at(tbl, rv))
          }
          ()
        })
    })
    Seq(appender, eraser, compactor).foreach(_.start())
    Seq(appender, eraser, compactor).foreach(_.join(300000))
    val got = Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq
    val want = ((0L until 800L).filterNot(i => i % 100 == 1 && i < 800) ++
      (0 until 15).map(10000L + _)).sorted
    assert(got == want,
      s"lost=${(want.toSet -- got).size} doubled=${got.size - got.distinct.size} " +
        s"extra=${(got.toSet -- want).size}")
    // every writer's op landed exactly once: 8 seeds + 15 appends +
    // 8 deletes + the compactions that found a target
    assert(Manifest.version(tbl) >= 8L + 15L + 8L)
  }

  test("write-audit-publish: a staged commit is invisible and vacuum-" +
    "protected; the audit reads head ⊎ staged (DV-applied); publish " +
    "fast-forwards over interim appends with the constraint gate held; " +
    "drop reclaims immediately; duplicate ids fail loudly") {
    import org.apache.spark.sql.functions.col
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 5), (2L, 7)).toDF("id", "n"), tbl) // v1
    Merge.deleteWhereDv(spark, tbl, col("id") === 2L)           // v2+DV
    Manifest.addConstraint(spark, tbl, "n_pos", "n > 0")        // v3
    Manifest.stageCommit(Seq((3L, 9)).toDF("id", "n"), tbl, "w1")
    intercept[IllegalArgumentException](
      Manifest.stageCommit(Seq((9L, 9)).toDF("id", "n"), tbl, "w1"))
    assert(Manifest.stagedIds(tbl) == Seq("w1"))
    // invisible: version unmoved, head read unchanged
    assert(Manifest.version(tbl) == 3L)
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L))
    // the audit view is head (DV applied: id 2 hidden) ⊎ staged
    assert(Manifest.readStaged(spark, tbl, "w1").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    // an interim append lands (its claim passes the staged dir's
    // number), then a deep vacuum: the staged batch is now at-or-below
    // the head — only the wap manifest's reference protects it
    Manifest.commit(Seq((4L, 1)).toDF("id", "n"), tbl)          // v4
    Manifest.vacuum(tbl, retainLast = 1)
    assert(Manifest.readStaged(spark, tbl, "w1").select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L),
      "vacuum must not reclaim an undecided stage")
    // publish fast-forwards over the interim append
    assert(Manifest.publishStaged(spark, tbl, "w1") == 5L)
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L))
    assert(Manifest.stagedIds(tbl).isEmpty)
    // publish validated and inherited the constraint; a violating
    // stage is refused with the stage INTACT, then drops with
    // immediate batch-dir reclaim
    Manifest.stageCommit(Seq((5L, -1)).toDF("id", "n"), tbl, "w2")
    val e = intercept[IllegalArgumentException](
      Manifest.publishStaged(spark, tbl, "w2"))
    assert(e.getMessage.contains("n_pos"))
    assert(Manifest.stagedIds(tbl) == Seq("w2"), "stage intact")
    def parquets(): Long = {
      val w = java.nio.file.Files.walk(
        java.nio.file.Paths.get(tbl, "data"))
      try w.filter(_.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    val before = parquets()
    assert(Manifest.dropStaged(tbl, "w2"))
    assert(!Manifest.dropStaged(tbl, "w2"))
    assert(parquets() < before, "drop reclaims the staged batch dir")
    assert(Manifest.version(tbl) == 5L &&
      Manifest.read(spark, tbl).count() == 3L, "table untouched")
  }

  test("tags (named refs): immutable pins that vacuum retains — " +
    "manifest, data files AND DV state — until deleted; invalid names " +
    "and uncommitted versions fail loudly; resolveRef round-trips") {
    import org.apache.spark.sql.functions.col
    val tbl = freshTable()
    // v1 = a REPLACE-able base, v2 = its replacement: replace severs
    // the file lineage, so v1's files are reclaimable — exactly what a
    // tag must prevent
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl)
    Merge.deleteWhereDv(spark, tbl, col("id") === 2L)        // v2 + DV
    Manifest.commit(Seq((9L, "z")).toDF("id", "s"), tbl,
      replace = true)                                        // v3
    assert(Manifest.tag(tbl, "audit.point-1", 2L) == 2L)
    assert(Manifest.tags(tbl) == Map("audit.point-1" -> 2L))
    assert(Manifest.resolveRef(tbl, "audit.point-1") == 2L)
    // immutable: re-tagging fails loudly; bad names and bad versions too
    intercept[IllegalArgumentException](
      Manifest.tag(tbl, "audit.point-1", 3L))
    intercept[IllegalArgumentException](Manifest.tag(tbl, "-bad", 3L))
    intercept[IllegalArgumentException](Manifest.tag(tbl, "a/b", 3L))
    intercept[IllegalArgumentException](Manifest.tag(tbl, "nope", 7L))
    intercept[IllegalArgumentException](
      Manifest.resolveRef(tbl, "absent"))
    // vacuum keeps the pinned version through a lineage-severing
    // replace: its manifest, its data files, and its DV dir all survive
    val (dropped, _) = Manifest.vacuum(tbl, retainLast = 1)
    assert(dropped == Seq(1L))
    assert(Manifest.read(spark, tbl, 2L).select("id")
      .as[Long].collect().toSeq == Seq(1L), "DV state survives the pin")
    intercept[IllegalArgumentException](Manifest.read(spark, tbl, 1L))
    // untag → the NEXT vacuum reclaims version, files and DV dir
    assert(Manifest.deleteTag(tbl, "audit.point-1"))
    assert(!Manifest.deleteTag(tbl, "audit.point-1"))
    val (dropped2, goneFiles) = Manifest.vacuum(tbl, retainLast = 1)
    assert(dropped2 == Seq(2L) && goneFiles.nonEmpty)
    intercept[IllegalArgumentException](Manifest.read(spark, tbl, 2L))
    val dvRoot = java.nio.file.Paths.get(tbl, "dv")
    assert(!java.nio.file.Files.isDirectory(dvRoot) ||
      ls(dvRoot).isEmpty, "the pinned DV dir reclaims once untagged")
    assert(Manifest.read(spark, tbl).select("id").as[Long]
      .collect().toSeq == Seq(9L))
  }

  private def ls(p: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(p)
    try s.toArray.map(_.toString).toSeq finally s.close()
  }

  test("copy-on-write rebase (compaction-under-ingest liveness): a " +
    "rewrite losing the race to a pure append REBASES (no lost or " +
    "duplicated rows); overlapping rewrites and a DV landing on a " +
    "removed file abort loudly; the aborted compaction retries clean") {
    val tbl = freshTable()
    for (i <- 0 until 4)
      Manifest.commit(
        (i * 10 until i * 10 + 10).map(_.toLong).toDF("id").coalesce(1),
        tbl, statsCols = Seq("id"))
    def fileOf(lo: Double, hi: Double): Seq[String] =
      Manifest.at(tbl).fileStats.collect {
        case (f, s) if s("id")._1 >= lo - 1 && s("id")._2 <= hi + 1 => f
      }.toSeq
    def ids(): Seq[Long] =
      Manifest.read(spark, tbl).select("id").as[Long].collect()
        .sorted.toSeq
    // 1) compaction of files A+B races a pure append: the rewrite
    // rebases — removed files untouched by the window, fresh files
    // disjoint, the appended file re-carries
    val ab = fileOf(0, 19)
    assert(ab.size == 2)
    val compacted = Manifest.read(spark, tbl)
      .filter(col("id") < 20L).coalesce(1)
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(Seq(100L).toDF("id"), tbl)
    }
    try Manifest.commit(compacted, tbl, removeFiles = ab,
      statsCols = Seq("id"))
    finally Manifest.beforePublish = () => ()
    assert(ids() == ((0L until 40L) :+ 100L).sorted,
      "rebased compaction must lose nothing and duplicate nothing")
    assert(fileOf(0, 19).size == 1, "A+B really compacted")
    // 2) OVERLAPPING rewrites: both remove file C — the loser's
    // rewrite binds to a now-dead file and must abort
    val fC = fileOf(20, 29)
    assert(fC.size == 1)
    val rewriteC = () => Manifest.read(spark, tbl)
      .filter(col("id") >= 20L && col("id") < 30L).coalesce(1)
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Manifest.commit(rewriteC(), tbl, removeFiles = fC,
        statsCols = Seq("id"))
    }
    val e = try intercept[IllegalStateException](
      Manifest.commit(rewriteC(), tbl, removeFiles = fC,
        statsCols = Seq("id")))
    finally Manifest.beforePublish = () => ()
    assert(e.getMessage.contains("rewritten away"))
    assert(ids() == ((0L until 40L) :+ 100L).sorted, "winner intact")
    // 3) a DV landing mid-window on a file the compaction removes:
    // the compaction read the pre-DV rows and would resurrect the
    // winner's delete — loud abort
    val fD = fileOf(30, 39)
    assert(fD.size == 1)
    val rewriteD = () => Manifest.read(spark, tbl)
      .filter(col("id") >= 30L && col("id") < 40L).coalesce(1)
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      Merge.deleteWhereDv(spark, tbl, col("id") === 35L)
    }
    val e2 = try intercept[IllegalStateException](
      Manifest.commit(rewriteD(), tbl, removeFiles = fD,
        statsCols = Seq("id")))
    finally Manifest.beforePublish = () => ()
    assert(e2.getMessage.contains("deletion-vector writer"))
    assert(!ids().contains(35L), "the DV delete is in force")
    // …and the retried compaction (now reading the DV-applied view)
    // succeeds, absorbing the DV
    Manifest.commit(rewriteD(), tbl, removeFiles = fD,
      statsCols = Seq("id"))
    assert(Manifest.at(tbl).dv.isEmpty)
    assert(ids() ==
      ((0L until 40L).filterNot(_ == 35L) :+ 100L).sorted)
  }

  test("commitOnce (the Delta txn recipe): a replayed (appId, txn) " +
    "commits NOTHING, apps track independently, stamps hide from meta() " +
    "and survive interleaved plain commits") {
    val tbl = freshTable()
    assert(Manifest.lastTxn(tbl, "app") == -1L)
    assert(Manifest.commitOnce(Seq(1).toDF("x"), tbl, "app", 0L)
      .contains(1L))
    assert(Manifest.lastTxn(tbl, "app") == 0L)
    // replay: same txn version — dropped, nothing published
    assert(Manifest.commitOnce(Seq(1).toDF("x"), tbl, "app", 0L).isEmpty)
    assert(Manifest.version(tbl) == 1L)
    // monotone: a STALE txn below the watermark is dropped too
    assert(Manifest.commitOnce(Seq(9).toDF("x"), tbl, "app", 1L)
      .contains(2L))
    assert(Manifest.commitOnce(Seq(0).toDF("x"), tbl, "app", 0L).isEmpty)
    // a different app id is tracked independently on the same table
    assert(Manifest.commitOnce(Seq(7).toDF("x"), tbl, "other", 0L)
      .contains(3L))
    assert(Manifest.lastTxn(tbl, "app") == 1L)
    assert(Manifest.lastTxn(tbl, "other") == 0L)
    // txn.* is internal bookkeeping: invisible to user metadata
    assert((1L to 3L).forall(v =>
      Manifest.at(tbl, v).meta.keys.forall(!_.startsWith(Manifest.TxnPrefix))))
    // a plain commit in between must not blind the newest-first scan
    Manifest.commit(Seq(5).toDF("x"), tbl)
    assert(Manifest.lastTxn(tbl, "app") == 1L)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 5, 7, 9))
    // appIds that would corrupt the manifest line are rejected up front
    intercept[IllegalArgumentException](
      Manifest.commitOnce(Seq(1).toDF("x"), tbl, "bad=app", 9L))
  }

  test("commit validates the WRITTEN files from ONE materialization: a " +
    "violating commit leaves no batch-dir debris, and orphan debris " +
    "from a crashed commit never blocks the retry") {
    import java.nio.file.{Files => JFiles, Paths}
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 10)).toDF("id", "v"), tbl)
    Manifest.addConstraint(spark, tbl, "positive", "v > 0")
    // violating commit: aborts AND deletes the batch dir it wrote
    val nextV = Manifest.version(tbl) + 1
    val bdir = Paths.get(tbl, "data", f"b$nextV%06d")
    intercept[IllegalArgumentException](
      Manifest.commit(Seq((2L, -1)).toDF("id", "v"), tbl))
    assert(!JFiles.exists(bdir), s"abort left batch-dir debris at $bdir")
    // simulate a crash BETWEEN data write and manifest publish: the
    // orphan dir exists with junk — INCLUDING the nested _temporary/
    // task tree a crash mid-df.write really leaves. The retry (the
    // foreachBatch replay path) SKIPS the debris (claims the next dir;
    // it never reclaims, so it can never destroy a concurrent writer's
    // in-flight batch) and still publishes the expected version —
    // batch-dir names are storage addresses, not version numbers.
    JFiles.createDirectories(bdir.resolve("_temporary").resolve("0"))
    JFiles.write(bdir.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    JFiles.write(bdir.resolve("_temporary").resolve("0")
      .resolve("task.bin"), Array[Byte](4, 5))
    Manifest.commit(Seq((3L, 30)).toDF("id", "v"), tbl)
    assert(Manifest.version(tbl) == nextV)
    assert(Manifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 10), (3L, 30)))
    // vacuum is the reclaimer: its recursive sweep eats the nested
    // debris tree (a flat delete would throw DirectoryNotEmpty and
    // block retention forever)
    Manifest.vacuum(tbl, retainLast = 10)
    assert(!JFiles.exists(bdir), "vacuum must reclaim nested debris")
    assert(Manifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 10), (3L, 30)))
  }

  test("footer-stats fast path: a constraint-less commit publishes the " +
    "IDENTICAL #filerows/#filestats values the fused data pass records " +
    "— including >2^53 longs, doubles, all-null and string columns — " +
    "without launching a job over the batch") {
    // same frame committed twice: tbl A has a (vacuous) CHECK constraint
    // so its commit takes the fused validation pass; tbl B has none and
    // takes the footer harvest. The published stats must agree exactly.
    val df = Seq(
      ((1L << 53) + 1L, 2.5, Option(3L), "x"),
      ((1L << 53) + 5L, -1.5, None, "y"),
      (42L, 0.0, Option(9L), "z"))
      .toDF("big", "d", "maybe", "s").coalesce(1)
    val cols = Seq("big", "d", "maybe", "s")
    val tblA = freshTable(); val tblB = freshTable()
    Manifest.commit(df.limit(0), tblA, meta =
      Map(s"${Manifest.ConstraintPrefix}t" -> "1 = 1")) // arm the data pass
    Manifest.commit(df, tblA, statsCols = cols)
    Manifest.commit(df, tblB, statsCols = cols)
    def statsOf(t: String) = Manifest.at(t).fileStats.values.toSeq
    assert(statsOf(tblA) == statsOf(tblB),
      s"footer bounds must equal data-pass bounds: " +
        s"${statsOf(tblA)} vs ${statsOf(tblB)}")
    // string col records no bound on either path; the others do
    assert(statsOf(tblB).head.keySet == Set("big", "d", "maybe"))
    assert(Manifest.at(tblA).rowCount.contains(3L) &&
      Manifest.at(tblB).rowCount.contains(3L))
    // zero-row batch file: explicit 0 count, no bounds, still countable
    val tblC = freshTable()
    Manifest.commit(df.limit(0).coalesce(1), tblC, statsCols = cols)
    assert(Manifest.at(tblC).rowCount.contains(0L))
  }

  test("txn conflict check in the rebase loop: two writers replaying " +
    "the same (appId, txn) land it EXACTLY once — the loser surrenders " +
    "as the idempotent None instead of rebasing a double-apply " +
    "(zombie-writer replay)") {
    import java.nio.file.{Files => JFiles, Paths}
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl) // v1
    // Both writers pass commitOnce's pre-check (lastTxn < 7 when each
    // resolves). The seam fires between the loser's manifest build and
    // its publish link: the competing writer lands the SAME transaction
    // first, so the loser's link loses the version race and rebases —
    // where the txn conflict check must catch the duplicate.
    Manifest.beforePublish = () => {
      Manifest.beforePublish = () => ()
      assert(Manifest.commitOnce(Seq(42).toDF("x"), tbl, "app", 7L)
        .contains(2L), "the competing writer is the winner")
    }
    val res = try Manifest.commitOnce(Seq(42).toDF("x"), tbl, "app", 7L)
    finally Manifest.beforePublish = () => ()
    assert(res.isEmpty, "the losing replay must surrender, not rebase")
    assert(Manifest.version(tbl) == 2L)
    assert(Manifest.lastTxn(tbl, "app") == 7L)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      Seq(1, 42), "the batch must be applied exactly once")
    // the surrendered batch dir was reclaimed: only the two LIVE
    // versions' batch dirs remain under data/
    val dirs = {
      val s = JFiles.list(Paths.get(tbl, "data"))
      try s.toArray.map(_.toString).length finally s.close()
    }
    assert(dirs == 2, s"loser must delete its claimed batch dir ($dirs)")
    // the surrender is per-stamp, not sticky: the app's NEXT txn lands
    assert(Manifest.commitOnce(Seq(43).toDF("x"), tbl, "app", 8L)
      .contains(3L))
  }

  test("multi-writer stress: 2 threads x 20 racing commutable appends " +
    "all land as 40 versions whose head file list is the disjoint-" +
    "complete union of every commit's fresh files") {
    val tbl = freshTable()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try
          for (i <- 0 until 20)
            Manifest.commit(Seq(t * 100 + i).toDF("x").coalesce(1), tbl)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty,
      s"racing commutable appends must all rebase and land: ${errs.peek()}")
    assert(Manifest.version(tbl) == 40L)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq ==
      ((0 until 20) ++ (100 until 120)).toSeq,
      "every append applied exactly once")
    // the version chain is linear: each version's fresh file set is
    // non-empty and pairwise disjoint, and their union IS the head list
    val head = Manifest.at(tbl, 40L).files
    assert(head.distinct.size == head.size, "no double-listed file")
    val fresh = (1L to 40L).map { v =>
      val prev = if (v == 1L) Set.empty[String]
        else Manifest.at(tbl, v - 1).files.toSet
      Manifest.at(tbl, v).files.toSet -- prev
    }
    assert(fresh.forall(_.nonEmpty), "every commit contributed a file")
    assert(fresh.map(_.size).sum == head.size &&
      fresh.reduce(_ ++ _) == head.toSet,
      "head must be the disjoint-complete union of all fresh sets")
  }

  test("DELTA LOG: a pure append's manifest is O(files added), not " +
    "O(table file count) — the 30th append lists exactly its own file; " +
    "checkpoints appear on the interval and resolution matches the " +
    "running truth at every version") {
    import java.nio.file.Paths
    val tbl = freshTable()
    (1 to 30).foreach(i =>
      Manifest.commit(Seq(i).toDF("x").coalesce(1), tbl,
        statsCols = Seq("x")))
    // the head manifest carries ONE plain file line no matter how many
    // live files the table has (30 here; at 10⁶ the property is the
    // point) — commit metadata bytes ∝ the batch, never the table
    val mf30 = Paths.get(tbl, "_manifests", "v000030.txt")
    val lines30 = Files.readAllLines(mf30).toArray.map(_.toString)
      .filter(_.nonEmpty)
    assert(lines30.count(l => !l.startsWith("#") && !l.startsWith("-"))
      == 1, s"delta manifest must list only its own add:\n$lines30")
    assert(Manifest.at(tbl).files.size == 30,
      "resolution still sees every live file")
    // checkpoints pin the resolved state every CheckpointInterval
    assert(Files.exists(Paths.get(tbl, "_manifests", "v000010.ckpt")) &&
      Files.exists(Paths.get(tbl, "_manifests", "v000020.ckpt")) &&
      Files.exists(Paths.get(tbl, "_manifests", "v000030.ckpt")))
    // every version resolves to exactly its prefix (across checkpoint
    // boundaries and between them)
    Seq(1, 9, 10, 11, 19, 25, 30).foreach { v =>
      assert(Manifest.read(spark, tbl, v.toLong).as[Int]
        .collect().sorted.toSeq == (1 to v),
        s"version $v must resolve through the delta chain")
      assert(Manifest.at(tbl, v.toLong).files.size == v)
    }
    // data-skipping stats survive the delta encoding
    val (_, kept, skipped) = Manifest.readPruned(spark, tbl, "x",
      5.0, 7.0)
    assert(kept == 3 && skipped == 27,
      "per-file min/max pruning over the delta log")
    // metadata-only rowCount too
    assert(Manifest.at(tbl).rowCount.contains(30L))
  }

  test("vacuum CHECKPOINTS before it breaks the delta chain: retained " +
    "and tagged versions stay readable after their ancestors' " +
    "manifests drop, and reading a dropped version is loud") {
    import java.nio.file.Paths
    val tbl = freshTable()
    (1 to 7).foreach(i =>
      Manifest.commit(Seq(i).toDF("x").coalesce(1), tbl)) // v1..v7
    Manifest.tag(tbl, "pin-v3", 3L)
    val (dropped, _) = Manifest.vacuum(tbl, retainLast = 2)
    assert(dropped == Seq(1L, 2L, 4L, 5L),
      "v3 is tag-pinned, v6/v7 retained")
    // v6's chain to v1 is gone — vacuum must have materialized its
    // state; same for the pinned v3
    assert(Manifest.read(spark, tbl, 6L).as[Int].collect().sorted.toSeq
      == (1 to 6))
    assert(Manifest.read(spark, tbl, 7L).as[Int].collect().sorted.toSeq
      == (1 to 7))
    assert(Manifest.read(spark, tbl, 3L).as[Int].collect().sorted.toSeq
      == (1 to 3), "the tagged version reads via its vacuum checkpoint")
    assert(Files.exists(Paths.get(tbl, "_manifests", "v000003.ckpt")) &&
      Files.exists(Paths.get(tbl, "_manifests", "v000006.ckpt")))
    intercept[IllegalArgumentException](Manifest.read(spark, tbl, 4L))
    // history over the gapped chain still answers (the first surviving
    // version reads as the append that created its state)
    val hist = Manifest.history(spark, tbl)
    assert(hist.map(_.version) == Seq(3L, 6L, 7L))
    // per-file row counts ride the checkpoints: the metadata-only
    // COUNT(*) still answers AFTER the adding manifests were vacuumed
    // (pre-r15 this degraded to a data read)
    assert(Manifest.at(tbl).rowCount.contains(7L))
    assert(Manifest.at(tbl, 3L).rowCount.contains(3L))
    // and a follow-up append + vacuum keeps working on the gapped log
    Manifest.commit(Seq(8).toDF("x"), tbl)
    assert(Manifest.read(spark, tbl).as[Int].collect().sorted.toSeq
      == (1 to 8))
    assert(Manifest.at(tbl).rowCount.contains(8L))
  }

  test("restore carries the target's row counts and stats across its " +
    "replace wall: metadata-only COUNT(*) and file pruning still " +
    "answer on and after the rollback") {
    val tbl = freshTable()
    (1 to 3).foreach(i => Manifest.commit(
      Seq(i * 10).toDF("x").coalesce(1), tbl, statsCols = Seq("x")))
    Manifest.restore(tbl, 2L) // v4 = v2's state behind a replace flag
    assert(Manifest.at(tbl).rowCount.contains(2L))
    val (_, kept, skipped) = Manifest.readPruned(spark, tbl, "x",
      9.0, 11.0)
    assert(kept == 1 && skipped == 1,
      "stats must survive the restore for pruning")
  }

  test("dropStaged in publishStaged's crash window (wap file survived " +
    "the publish) deletes only the wap file — never the now-live data " +
    "files") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 1)).toDF("id", "n"), tbl)
    Manifest.stageCommit(Seq((2L, 2)).toDF("id", "n"), tbl, "w")
    val wapF = JPaths.get(tbl, "_manifests", "wap-w.txt")
    val wapBytes = JFiles.readAllBytes(wapF)
    val v = Manifest.publishStaged(spark, tbl, "w")
    // crash window: the wap file "survived" the publish; the natural
    // operator recovery for an apparent orphan stage is dropStaged —
    // it must NOT rmTree the staged batch dirs (they are the head)
    JFiles.write(wapF, wapBytes)
    assert(Manifest.dropStaged(tbl, "w"))
    assert(!JFiles.exists(wapF))
    assert(Manifest.read(spark, tbl, v).count() == 2L,
      "the published head must stay readable after the recovery drop")
    // a genuinely unpublished stage still reclaims its files
    Manifest.stageCommit(Seq((3L, 3)).toDF("id", "n"), tbl, "w2")
    assert(Manifest.dropStaged(tbl, "w2"))
    assert(Manifest.read(spark, tbl).count() == 2L)
  }

  test("stageCommit rejects meta VALUES spanning lines (the manifest-" +
    "injection guard commit() has) and reserved keys; tag names cannot " +
    "be all digits (version-number shadowing)") {
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl)
    intercept[IllegalArgumentException](
      Manifest.stageCommit(Seq(2).toDF("x"), tbl, "bad",
        meta = Map("note" -> "a\ndata/forged.parquet")))
    intercept[IllegalArgumentException](
      Manifest.stageCommit(Seq(2).toDF("x"), tbl, "bad2",
        meta = Map(Manifest.SchemaKey -> "{}")))
    intercept[IllegalArgumentException](Manifest.tag(tbl, "2026"))
    Manifest.tag(tbl, "audit-2026") // letters allowed, of course
    assert(Manifest.tags(tbl) == Map("audit-2026" -> 1L))
    // every write gate refuses the same meta: line-spanning values,
    // malformed structured values (a published 'txn.x=abc' would make
    // every later resolution's toLong throw) and the six reserved keys
    Manifest.branch(tbl, "gate")
    val gates: Seq[(String, Map[String, String] => Any)] = Seq(
      "commit" -> (m => Manifest.commit(Seq(2).toDF("x"), tbl, meta = m)),
      "stageCommit" -> (m =>
        Manifest.stageCommit(Seq(2).toDF("x"), tbl, "bad3", meta = m)),
      "commitBranch" -> (m =>
        Manifest.commitBranch(Seq(2).toDF("x"), tbl, "gate", meta = m)),
      "restore" -> (m => Manifest.restore(tbl, 1L, meta = m)))
    val badMeta = Seq(Map("note" -> "a\ndata/forged.parquet"),
      Map("txn.x" -> "abc"), Map("dv.f" -> "bad")) ++
      Seq(Manifest.SchemaKey, Manifest.CommitTsKey, Manifest.ReplaceKey,
        Manifest.LogFormatKey, Manifest.FeaturesKey, Manifest.MaxTsKey)
        .map(k => Map(k -> "1"))
    for ((gate, write) <- gates; m <- badMeta) withClue(s"$gate $m: ") {
      intercept[IllegalArgumentException](write(m))
    }
    assert(Manifest.version(tbl) == 1L && Manifest.stagedIds(tbl).isEmpty &&
      Manifest.branches(tbl) == Map("gate" -> (1L, 0L)))
    assert(Manifest.read(spark, tbl).count() == 1L)
  }

  /** Count manifest/checkpoint file reads during `body` via the
    * [[Manifest.onMetaRead]] seam. */
  private def countingReads[T](body: => T): (T, Int) = {
    var n = 0
    Manifest.onMetaRead = _ => n += 1
    try { val r = body; (r, n) }
    finally Manifest.onMetaRead = _ => ()
  }

  private def countingLists[T](body: => T): (T, Int) = {
    var n = 0
    Manifest.onDirList = _ => n += 1
    try { val r = body; (r, n) }
    finally Manifest.onDirList = _ => ()
  }

  test("txn state rides the checkpoint fold: cold-appId lastTxn on a " +
    "50-version table is a BOUNDED metadata read (<= interval + 2), " +
    "and a stamp survives vacuum dropping its recording manifest") {
    val tbl = freshTable()
    // v1 carries the only stamp for 'cold'; v2..v50 are plain appends
    // stamped by 'hot' (the steady streaming writer)
    assert(Manifest.commitOnce(Seq(0).toDF("x"), tbl, "cold", 7L)
      .contains(1L))
    (2 to 50).foreach(i =>
      Manifest.commitOnce(Seq(i).toDF("x"), tbl, "hot", i.toLong))
    val (hot, hotReads) = countingReads(Manifest.lastTxn(tbl, "hot"))
    assert(hot == 50L)
    assert(hotReads <= 2,
      s"steady-writer lastTxn must answer from the head manifest, read " +
        s"$hotReads")
    val (cold, coldReads) = countingReads(Manifest.lastTxn(tbl, "cold"))
    assert(cold == 7L)
    assert(coldReads <= Manifest.CheckpointInterval + 2,
      s"cold-appId lastTxn must resolve from checkpoint + <= interval " +
        s"deltas, read $coldReads manifests on a 50-version table")
    val (none, noneReads) = countingReads(Manifest.lastTxn(tbl, "nobody"))
    assert(none == -1L && noneReads <= Manifest.CheckpointInterval + 2)
    // vacuum drops v1..v48 — 'cold's recording manifest is GONE, but
    // the stamp persists through the checkpoints: replaying txn 7 still
    // commits nothing (the exactly-once contract survives retention)
    val (dropped, _) = Manifest.vacuum(tbl, retainLast = 2)
    assert(dropped.contains(1L))
    assert(Manifest.lastTxn(tbl, "cold") == 7L)
    assert(Manifest.commitOnce(Seq(99).toDF("x"), tbl, "cold", 7L).isEmpty)
    assert(Manifest.lastTxn(tbl, "hot") == 50L)
    // and a replace wall does not forget txn state (SetTransaction
    // semantics): stamps survive a compaction
    Manifest.commit(Manifest.read(spark, tbl).repartition(1), tbl,
      replace = true)
    assert(Manifest.lastTxn(tbl, "cold") == 7L)
    assert(Manifest.commitOnce(Seq(99).toDF("x"), tbl, "cold", 7L).isEmpty)
  }

  test("fileInventory resolves adding versions from the Snap fold: " +
    "bounded reads, exact attribution even after vacuum dropped the " +
    "adding manifests, replace/restore attribute to themselves") {
    val tbl = freshTable()
    (1 to 25).foreach(i => Manifest.commit(Seq(i).toDF("x"), tbl))
    val (inv, reads) = countingReads(Manifest.at(tbl).fileInventory)
    assert(inv.size == 25)
    assert(reads <= Manifest.CheckpointInterval + 2,
      s"fileInventory must be checkpoint-bounded, read $reads")
    // exact attribution: each file belongs to the version that added it
    assert(inv.map(_._2).sorted == (1L to 25L))
    // vacuum v1..v23: attribution survives through the checkpoints
    Manifest.vacuum(tbl, retainLast = 2)
    assert(Manifest.at(tbl).fileInventory.map(_._2).sorted == (1L to 25L))
    // restore is a replace-flagged full state: files re-attribute to it
    val rv = Manifest.restore(tbl, 24L)
    assert(Manifest.at(tbl).fileInventory.map(_._2).distinct == Seq(rv))
  }

  test("legacy formats refuse loudly: a manifest without #log=delta " +
    "(pre-delta-log full carry) and a checkpoint without #ckptver=2 " +
    "(no txn state) both name the remedy instead of mis-resolving") {
    val tbl = freshTable()
    (1 to 12).foreach(i => Manifest.commit(Seq(i).toDF("x"), tbl))
    val mf = java.nio.file.Paths.get(tbl, "_manifests", "v000012.txt")
    val body = new String(Files.readAllBytes(mf), "UTF-8")
    Files.write(mf, body.linesIterator
      .filterNot(_.startsWith(s"#${Manifest.LogFormatKey}="))
      .mkString("\n").getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException](Manifest.at(tbl).files)
    assert(e1.getMessage.contains("pre-delta-log"))
    Files.write(mf, body.getBytes("UTF-8")) // repair
    assert(Manifest.at(tbl).files.size == 12)
    val ck = java.nio.file.Paths.get(tbl, "_manifests", "v000010.ckpt")
    val ckBody = new String(Files.readAllBytes(ck), "UTF-8")
    Files.write(ck, ckBody.linesIterator
      .filterNot(_ == "#ckptver=2").mkString("\n").getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException](Manifest.at(tbl, 10L).files)
    assert(e2.getMessage.contains("ckptver"))
  }

  test("per-file byte sizes ride commits, checkpoints and restore: " +
    "fileBytes matches the on-disk truth with zero storage I/O after " +
    "the commit") {
    val tbl = freshTable()
    Manifest.commit((1 to 100).toDF("x"), tbl)
    (2 to 11).foreach(i => Manifest.commit(Seq(i).toDF("x"), tbl))
    val bytes = Manifest.at(tbl).bytes
    val files = Manifest.at(tbl).files
    assert(bytes.keySet == files.toSet, "every live file has a size")
    files.foreach { rel =>
      assert(bytes(rel) ==
        Files.size(java.nio.file.Paths.get(tbl).resolve(rel)))
    }
    // restore re-carries sizes across its replace wall
    val rv = Manifest.restore(tbl, 5L)
    val restored = Manifest.at(tbl, rv).bytes
    assert(restored.keySet == Manifest.at(tbl, rv).files.toSet)
    // vacuum everything below the restore: sizes still answer (fold
    // state, not manifest walks)
    Manifest.vacuum(tbl, retainLast = 1)
    assert(Manifest.at(tbl).bytes.keySet == Manifest.at(tbl).files.toSet)
  }

  test("type-widening schema evolution is an EXPLICIT opt-in: a long " +
    "batch into an int column widens the column (old files read " +
    "correctly, no rewrite), the default still refuses naming the " +
    "opt-in, and non-lossless changes refuse even with it") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val tbl = freshTable()
    Manifest.commit(spark.range(5).selectExpr("cast(id as int) as x"),
      tbl)
    // default: exact-type rule, and the error NAMES the opt-in since
    // this change is losslessly widenable
    val e = intercept[IllegalArgumentException](
      Manifest.commit(spark.range(5, 8).selectExpr("id as x"), tbl))
    assert(e.getMessage.contains("allowTypeWidening"))
    // opt-in: the column widens to long; every generation reads under
    // the widened schema via the readers' native promotion — no rewrite
    val filesBefore = Manifest.at(tbl).files
    Manifest.commit(spark.range(5, 8).selectExpr("id as x"), tbl,
      allowTypeWidening = true)
    assert(Manifest.at(tbl).schema("x").dataType == LongType)
    assert(filesBefore.toSet.subsetOf(Manifest.at(tbl).files.toSet),
      "widening is metadata-only — no file rewritten")
    assert(Manifest.read(spark, tbl).selectExpr("sum(x)")
      .head().getLong(0) == (0L until 8L).sum)
    // a NARROWER batch into the widened column also lands under the
    // opt-in (merged type stays long; its int files read as long)
    Manifest.commit(spark.range(8, 10).selectExpr("cast(id as int) as x"),
      tbl, allowTypeWidening = true)
    assert(Manifest.at(tbl).schema("x").dataType == LongType)
    assert(Manifest.read(spark, tbl).count() == 10L)
    // time travel sees each version's own schema
    assert(Manifest.at(tbl, 1L).schema("x").dataType == IntegerType)
    // non-lossless changes refuse even with the opt-in
    val e2 = intercept[IllegalArgumentException](
      Manifest.commit(spark.range(2).selectExpr("cast(id as string) as x"),
        tbl, allowTypeWidening = true))
    assert(e2.getMessage.contains("replace = true"))
  }

  test("structured meta values are validated at the write gate: a " +
    "malformed txn./filerows./filebytes./dv./filestats. value refuses " +
    "BEFORE publishing (one bad commit would brick every later " +
    "snapshot resolution of the table)") {
    val tbl = freshTable()
    Manifest.commit(Seq(1).toDF("x"), tbl)
    def refused(kv: (String, String)): Unit = {
      intercept[IllegalArgumentException](
        Manifest.commit(Seq(2).toDF("x"), tbl, meta = Map(kv)))
      intercept[IllegalArgumentException](
        Manifest.stageCommit(Seq(2).toDF("x"), tbl, "w_" +
          math.abs(kv._1.hashCode).toString, meta = Map(kv)))
    }
    refused(s"${Manifest.TxnPrefix}note" -> "hello")
    refused(s"${Manifest.FileRowsPrefix}f.parquet" -> "-3")
    refused(s"${Manifest.FileBytesPrefix}f.parquet" -> "12x")
    // ADVICE r16: validation is by ACTUAL parse — a 19-digit value above
    // Long.MaxValue passes a digit/length scan yet bricks the Snap fold
    refused(s"${Manifest.FileRowsPrefix}f.parquet" -> "9999999999999999999")
    refused(s"${Manifest.FileBytesPrefix}f.parquet" -> "9999999999999999999")
    // ...and txn.* shares the non-negative digit-only policy (a recorded
    // '-1' would collide with lastTxn's never-wrote sentinel; '+n' would
    // parse but re-serialize differently)
    refused(s"${Manifest.TxnPrefix}app" -> "-1")
    refused(s"${Manifest.TxnPrefix}app" -> "+5")
    refused(s"${Manifest.TxnPrefix}app" -> "9999999999999999999")
    refused(s"${Manifest.DvPrefix}f.parquet" -> "no-colon")
    refused(s"${Manifest.FileStatsPrefix}f.parquet" -> "col:1:2:3|")
    // nothing published, table still healthy, valid stamps still land
    assert(Manifest.version(tbl) == 1L)
    assert(Manifest.commitOnce(Seq(2).toDF("x"), tbl, "app", 5L)
      .contains(2L))
    assert(Manifest.read(spark, tbl).count() == 2L)
  }

  test("versionAsOf binary-searches the recorded running-max stamps: " +
    "O(log n) metadata reads on a 60-version table, exact resolution " +
    "(boundaries included), still exact after vacuum gaps") {
    val tbl = freshTable()
    (1 to 60).foreach(i => Manifest.commit(Seq(i).toDF("x"), tbl))
    val t30 = Manifest.at(tbl, 30L).commitTime
    val t31 = Manifest.at(tbl, 31L).commitTime
    val (hit, reads) = countingReads(Manifest.versionAsOf(tbl, t30))
    // adjusted times are nondecreasing; same-millisecond neighbors all
    // resolve to the newest version at that stamp
    assert(hit >= 30L && Manifest.at(tbl, hit).commitTime <= t31)
    assert(reads <= 16,
      s"versionAsOf must be O(log n) reads on 60 versions, read $reads")
    assert(Manifest.versionAsOf(tbl, System.currentTimeMillis + 10000)
      == 60L)
    intercept[IllegalArgumentException](
      Manifest.versionAsOf(tbl, Manifest.at(tbl, 1L).commitTime - 10))
    // vacuum gaps don't break the search: each version carries the
    // whole prefix's running max itself
    Manifest.vacuum(tbl, retainLast = 20)
    assert(Manifest.versionAsOf(tbl,
      System.currentTimeMillis + 10000) == 60L)
    val tMid = Manifest.at(tbl, 50L).commitTime
    val hit2 = Manifest.versionAsOf(tbl, tMid)
    assert(hit2 >= 50L && hit2 <= 60L)
  }

  test("head hint kills the directory listing: steady-state version() " +
    "and versionAsOf are hint-served (zero manifest-dir lists, O(log) " +
    "reads); stale/garbage hints fall back safely; vacuum's gap " +
    "ceiling keeps the forward probe sound under a tagged-survivor gap") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val tbl = freshTable()
    (1 to 25).foreach(i => Manifest.commit(Seq(i).toDF("x"), tbl))
    val hintF = JPaths.get(tbl, "_manifests", "_head")
    assert(JFiles.exists(hintF), "every publish must record the hint")
    // steady state: no listing for head discovery or time travel
    val (v0, lists0) = countingLists(Manifest.version(tbl))
    assert(v0 == 25L && lists0 == 0,
      s"hinted version() must not list the manifest dir (listed $lists0)")
    val ((hit, reads), listsT) = countingLists(
      countingReads(Manifest.versionAsOf(tbl,
        Manifest.at(tbl, 12L).commitTime)))
    assert(hit >= 12L && listsT == 0 && reads <= 16,
      s"versionAsOf must be list-free and O(log n) (lists=$listsT, " +
        s"reads=$reads)")
    // a LAGGING hint (crashed writer) forward-probes to the true head
    // with no listing — versions above any hint are contiguous
    JFiles.write(hintF, "3".getBytes)
    val (v1, lists1) = countingLists(Manifest.version(tbl))
    assert(v1 == 25L && lists1 == 0)
    // garbage hints are advisory: fall back to the listing, stay exact,
    // and SELF-HEAL — the fallback repairs the hint so the listing is
    // paid once, not on every subsequent read
    JFiles.write(hintF, "not-a-number".getBytes)
    val (v2, lists2) = countingLists(Manifest.version(tbl))
    assert(v2 == 25L && lists2 == 1)
    val (v2b, lists2b) = countingLists(Manifest.version(tbl))
    assert(v2b == 25L && lists2b == 0,
      "fallback must repair the hint (healed read lists again)")
    JFiles.write(hintF, "999".getBytes) // beyond head: manifest missing
    assert(Manifest.version(tbl) == 25L)
    assert(new String(JFiles.readAllBytes(hintF)).trim == "25",
      "a beyond-head garbage hint heals to the true head")
    // the soundness case the gap ceiling exists for: a TAGGED version
    // survives vacuum BELOW a gap; a stale hint pointing at it must
    // not forward-probe into the gap and report an ancient head
    Manifest.tag(tbl, "audit", 3L)
    Manifest.vacuum(tbl, retainLast = 5)
    assert(Manifest.at(tbl, 3L).files.nonEmpty, "tagged v3 retained")
    val (v3, lists3) = countingLists(Manifest.version(tbl))
    assert(v3 == 25L && lists3 == 0, "post-vacuum head is hint-served")
    JFiles.write(hintF, "3".getBytes) // stale hint at the tagged island
    val (v4, lists4) = countingLists(Manifest.version(tbl))
    assert(v4 == 25L,
      "a hint below the gap ceiling must never under-report the head")
    assert(lists4 == 1, "below-ceiling hint pays exactly one listing")
    // time travel across the vacuum gap stays exact and list-free once
    // the hint is healthy again (the next publish heals it)
    Manifest.commit(Seq(26).toDF("x"), tbl)
    val (v5, lists5) = countingLists(
      Manifest.versionAsOf(tbl, System.currentTimeMillis + 10000))
    assert(v5 == 26L && lists5 == 0)
    val mid = Manifest.at(tbl, 23L).commitTime
    val h2 = Manifest.versionAsOf(tbl, mid)
    assert(h2 >= 23L && h2 <= 26L)
  }

  test("log feature gating: every publish stamps the baseline " +
    "#features= set (manifests AND checkpoints), and a manifest or " +
    "checkpoint carrying an unknown feature refuses loudly NAMING the " +
    "feature — the next format evolution degrades to a self-describing " +
    "refusal instead of a bespoke wall") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val tbl = freshTable()
    (1 to 11).foreach(i => Manifest.commit(Seq(i).toDF("x"), tbl))
    // every manifest and the v10 checkpoint carry the baseline set
    val feats = Manifest.delta(tbl, 1L).meta(Manifest.FeaturesKey)
    assert(feats.split(',').toSet == Manifest.SupportedFeatures)
    val ckpt = JPaths.get(tbl, "_manifests", "v000010.ckpt")
    assert(JFiles.exists(ckpt), "interval checkpoint expected at v10")
    val featLine = s"#${Manifest.FeaturesKey}=$feats"
    assert(JFiles.readAllLines(ckpt).contains(featLine))
    // the internal key stays out of the user-meta surface
    assert(!Manifest.at(tbl).meta.contains(Manifest.FeaturesKey))
    // an unknown manifest feature refuses naming it
    val m11 = JPaths.get(tbl, "_manifests", "v000011.txt")
    val orig = JFiles.readAllLines(m11).asScala.toSeq
    JFiles.write(m11, orig.map(l =>
      if (l.startsWith(featLine)) l + ",frobnicate" else l)
      .mkString("\n").getBytes)
    val e1 = intercept[IllegalStateException](
      Manifest.read(spark, tbl).count())
    assert(e1.getMessage.contains("frobnicate") &&
      e1.getMessage.contains("upgrade"), e1.getMessage)
    JFiles.write(m11, orig.mkString("\n").getBytes)
    assert(Manifest.read(spark, tbl).count() == 11L, "restored reads")
    // an unknown checkpoint feature refuses the same way (head
    // resolution rides the v10 checkpoint)
    val origC = JFiles.readAllLines(ckpt).asScala.toSeq
    JFiles.write(ckpt, origC.map(l =>
      if (l.startsWith(featLine)) l + ",frobnicate" else l)
      .mkString("\n").getBytes)
    val e2 = intercept[IllegalStateException](
      Manifest.read(spark, tbl).count())
    assert(e2.getMessage.contains("frobnicate"), e2.getMessage)
    JFiles.write(ckpt, origC.mkString("\n").getBytes)
    assert(Manifest.read(spark, tbl).count() == 11L)
  }

  test("writable branch refs: fork → append commits land on the branch " +
    "only (isolation both directions), the constraint gate is " +
    "fork-frozen, fastForward publishes the net state as ONE " +
    "metadata-only commit (idempotent replay returns it), divergence " +
    "refuses loudly, vacuum pins the base and protects branch files, " +
    "drop reclaims, and the schema evolves along the branch") {
    import org.apache.spark.sql.functions.col
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 10L)).toDF("id", "v"), tbl)       // v1
    Manifest.addConstraint(spark, tbl, "v_nonneg", "v >= 0")   // v2
    val base = Manifest.branch(tbl, "ingest")
    assert(base == 2L)
    Manifest.commitBranch(Seq((2L, 20L)).toDF("id", "v"), tbl, "ingest")
    Manifest.commitBranch(Seq((3L, 30L)).toDF("id", "v"), tbl, "ingest")
    // isolation both directions: main readers see nothing of the
    // branch; the branch view = fork state + branch commits
    assert(Manifest.version(tbl) == 2L, "no main version moved")
    assert(Manifest.read(spark, tbl).count() == 1L)
    assert(Manifest.readBranch(spark, tbl, "ingest").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(Manifest.branches(tbl) == Map("ingest" -> ((2L, 2L))))
    // the fork-frozen CHECK gate fires AT the branch commit — nothing
    // lands
    val e = intercept[Exception](Manifest.commitBranch(
      Seq((9L, -1L)).toDF("id", "v"), tbl, "ingest"))
    assert(e.getMessage.contains("v_nonneg"), e.getMessage)
    assert(Manifest.readBranch(spark, tbl, "ingest").count() == 3L)
    // fast-forward: ONE metadata-only main commit carrying the net
    // branch state — no data file moves (the published adds ARE the
    // branch's batch-dir files), constraints carry, branch retires
    val dataBefore = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(tbl, "data"))
      try st.filter(_.toString.endsWith(".parquet")).count
      finally st.close()
    }
    val v3 = Manifest.fastForward(spark, tbl, "ingest")
    assert(v3 == 3L)
    val dataAfter = {
      val st = java.nio.file.Files.walk(
        java.nio.file.Paths.get(tbl, "data"))
      try st.filter(_.toString.endsWith(".parquet")).count
      finally st.close()
    }
    assert(dataAfter == dataBefore, "fast-forward is metadata-only")
    assert(Manifest.read(spark, tbl).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(Manifest.branches(tbl).isEmpty, "published branch retired")
    assert(Manifest.at(tbl).constraints.contains("v_nonneg"))
    assert(Manifest.history(spark, tbl).last.change_type == "append")
    // idempotent replay (the link-then-cleanup crash window): a second
    // fastForward of the same name returns the published version
    assert(Manifest.fastForward(spark, tbl, "ingest") == v3)
    // divergence: a main commit after the fork makes fastForward refuse
    // loudly; vacuum meanwhile pins the branch base OUTSIDE the
    // retention window and protects the branch's data files
    Manifest.branch(tbl, "late")                               // base 3
    Manifest.commitBranch(Seq((4L, 40L)).toDF("id", "v"), tbl, "late")
    Manifest.commit(Seq((5L, 50L)).toDF("id", "v"), tbl)       // v4
    Manifest.vacuum(tbl, retainLast = 1)
    assert(Manifest.at(tbl, 3L).files.nonEmpty,
      "the branch base version survives vacuum outside the window")
    assert(Manifest.readBranch(spark, tbl, "late").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L),
      "branch files survive vacuum")
    val e2 = intercept[IllegalStateException](
      Manifest.fastForward(spark, tbl, "late"))
    assert(e2.getMessage.contains("diverged"), e2.getMessage)
    assert(Manifest.dropBranch(tbl, "late"))
    assert(Manifest.branches(tbl).isEmpty)
    assert(!Manifest.dropBranch(tbl, "late"), "second drop is false")
    // append-compatible schema evolution along the branch rides the
    // publish; old rows read the new column as null
    Manifest.branch(tbl, "evo")                                // base 4
    Manifest.commitBranch(Seq((6L, 60L, "x")).toDF("id", "v", "tag"),
      tbl, "evo")
    Manifest.fastForward(spark, tbl, "evo")
    assert(Manifest.at(tbl).schema.fieldNames.toSeq ==
      Seq("id", "v", "tag"))
    assert(Manifest.read(spark, tbl).filter(col("tag").isNull)
      .count() == 4L, "pre-evolution rows read null")
    // duplicate branch names refuse; reserved commit-suffix names
    // refuse
    Manifest.branch(tbl, "dup")
    intercept[IllegalArgumentException](Manifest.branch(tbl, "dup"))
    intercept[IllegalArgumentException](
      Manifest.branch(tbl, "bad-c000001"))
    Manifest.dropBranch(tbl, "dup")
  }

  test("ADVICE r15: dropStaged after vacuum dropped the PUBLISHING " +
    "version's manifest (crash-window wap file survived) still treats " +
    "the stage as published — live data files are never reclaimed") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 1)).toDF("id", "n"), tbl)
    Manifest.stageCommit(Seq((2L, 2)).toDF("id", "n"), tbl, "w")
    val wapF = JPaths.get(tbl, "_manifests", "wap-w.txt")
    val wapBytes = JFiles.readAllBytes(wapF)
    val pubV = Manifest.publishStaged(spark, tbl, "w")
    // crash window: wap file resurrects after the publish...
    JFiles.write(wapF, wapBytes)
    // ...then ENOUGH history lands for vacuum to drop the publishing
    // version's manifest (its txn stamp now lives only in checkpoints)
    (1 to 12).foreach(i => Manifest.commit(Seq((10L + i, i)).toDF("id", "n"),
      tbl))
    val (dropped, _) = Manifest.vacuum(tbl, retainLast = 2)
    assert(dropped.contains(pubV),
      "precondition: the publishing version's manifest must be gone")
    assert(Manifest.dropStaged(tbl, "w"))
    assert(!JFiles.exists(wapF))
    // the staged rows are live in the retained head — still readable
    assert(Manifest.read(spark, tbl)
      .filter(col("id") === 2L).count() == 1L,
      "published-then-vacuumed stage's files must survive dropStaged")
  }

  test("branch commits are listed by exact name: branches 'x-c5' and " +
    "'x-cab' beside 'x' are never read as commits of 'x'") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, 10L)).toDF("id", "v"), tbl)       // v1
    Seq("x", "x-c5", "x-cab").foreach(Manifest.branch(tbl, _))
    Manifest.commitBranch(Seq((2L, 20L)).toDF("id", "v"), tbl, "x")
    assert(Manifest.branches(tbl) == Map("x" -> ((1L, 1L)),
      "x-c5" -> ((1L, 0L)), "x-cab" -> ((1L, 0L))))
    assert(Manifest.readBranch(spark, tbl, "x").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    Manifest.vacuum(tbl, retainLast = 1)
    assert(Manifest.fastForward(spark, tbl, "x") == 2L)
    assert(Manifest.read(spark, tbl).count() == 2L)
    assert(Manifest.branches(tbl) == Map("x-c5" -> ((1L, 0L)),
      "x-cab" -> ((1L, 0L))))
  }
}
