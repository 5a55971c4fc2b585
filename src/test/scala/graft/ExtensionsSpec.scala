package graft

/** graft's custom expressions must be reachable from plain SQL once the
  * extension is installed (live-session path; the construction-time path
  * uses the identical function list). */
class ExtensionsSpec extends SparkSpec {

  test("installed SQL functions evaluate like their Column twins") {
    GraftExtensions.install(spark)
    val row = spark.sql(
      "SELECT slugify('Ñandú  Café!'), strip_accents('ñandú'), " +
        "rolling_hash('abc'), dot_product(array(1.0F, 2.0F), array(3.0D, 4.0D))")
      .collect().head
    assert(row.getString(0) == "nandu_cafe")
    assert(row.getString(1) == "nandu")
    assert(row.getLong(2) == 96354L) // matches the DuckDB list_reduce fold
    assert(row.getDouble(3) == 11.0)
  }

  test("text-kernel SQL functions evaluate like their Column twins") {
    GraftExtensions.install(spark)
    val row = spark.sql(
      "SELECT shingle_array(array('a', 'b', 'c'), 2), " +
        "ngram_dup_fraction(array('a', 'b', 'a', 'b', 'a'), 2), " +
        "ngram_top_fraction(array('a', 'b', 'a', 'b', 'a'), 2)")
      .collect().head
    assert(row.getSeq[String](0) == Seq("a b", "b c"))
    // 2-grams: [a b, b a, a b, b a] -> 2 of 4 are repeats; top gram holds 2/4
    assert(row.getDouble(1) == 0.5)
    assert(row.getDouble(2) == 0.5)
  }

  test("graft catalog: SQL VERSION AS OF reads equal Manifest.read at " +
    "the same version — head, history, and a restored table — the " +
    "catalog is read-only, and a DV'd version serves the DV-APPLIED " +
    "read through the analysis rewrite (plans pinned: DV-less = " +
    "join-free native scan, DV'd = anti-join with pushdown intact)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat").toString
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", root)
    val tbl = s"$root/t1"
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl) // v1
    Manifest.commit(Seq((3L, "c")).toDF("id", "s"), tbl)           // v2
    def sqlRead(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def apiRead(v: Long) = Manifest.read(spark, tbl, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sqlRead("SELECT * FROM graft.t1") == apiRead(2L))
    assert(sqlRead("SELECT * FROM graft.t1 VERSION AS OF 1") ==
      apiRead(1L))
    // the catalog resolution pins files; predicates still push down
    // into the native parquet scan (it IS Spark's v2 parquet table)
    val plan = spark.sql(
      "SELECT * FROM graft.t1 WHERE id = 3").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,3)]"),
      plan)
    // restore: VERSION AS OF keeps working on and across the rollback
    Manifest.restore(tbl, 1L)                                      // v3
    assert(sqlRead("SELECT * FROM graft.t1") == apiRead(1L))
    assert(sqlRead("SELECT * FROM graft.t1 VERSION AS OF 2") ==
      apiRead(2L))
    // absolute-path identifier (the delta.`/path` convention)
    assert(sqlRead(s"SELECT * FROM graft.`$tbl` VERSION AS OF 2") ==
      apiRead(2L))
    // a DV-less read stays the join-free native v2 scan (the rewrite
    // must cost nothing when no DV is in force)
    assert(!spark.sql("SELECT * FROM graft.t1").queryExecution
      .executedPlan.toString.contains("Join"))
    // a DV'd version serves the DV-APPLIED read: the analysis rewrite
    // replaces the marked relation with Manifest.read's plan
    Manifest.commit(Seq((4L, "d")).toDF("id", "s"), tbl)           // v4
    Merge.deleteWhereDv(spark, tbl, col("id") === 1L)              // v5
    assert(sqlRead("SELECT * FROM graft.t1") ==
      Set((2L, "b"), (4L, "d")), "SQL must hide the DV'd position")
    assert(sqlRead("SELECT * FROM graft.t1") == apiRead(5L))
    // the DV'd plan carries the in-scan position filter (no join, no
    // exchange), and predicates still push into the inner parquet scan
    val dvPlan = spark.sql("SELECT * FROM graft.t1 WHERE id = 4")
      .queryExecution.executedPlan.toString
    assert(dvPlan.contains("graft_dv_live"), dvPlan)
    assert(!dvPlan.contains("Join") && !dvPlan.contains("Exchange"), dvPlan)
    assert(dvPlan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,4)]"),
      dvPlan)
    // pre-DV versions still serve join-free
    assert(sqlRead("SELECT * FROM graft.t1 VERSION AS OF 4") ==
      apiRead(4L))
    // the rewrite reaches DV'd tables inside SUBQUERIES too (an
    // escaped path would fail loudly at the marker's scan refusal —
    // never resurrect — but it must not escape)
    assert(spark.sql("SELECT count(*) AS n FROM range(10) WHERE id IN " +
      "(SELECT id FROM graft.t1)").collect().head.getLong(0) == 2L)
    // read-only: DDL/DML refuse
    intercept[Exception](spark.sql("DROP TABLE graft.t1"))
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("t1"))
  }

  test("graft catalog: the root is read at every resolution — after " +
    "spark.sql.catalog.graft.root moves, a name resolves under the new " +
    "root") {
    import java.nio.file.Files
    import graft.ops.Manifest
    import spark.implicits._
    val key = "spark.sql.catalog.graft.root"
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    val prior = scala.util.Try(spark.conf.get(key)).toOption
    val a = Files.createTempDirectory("graft_cat_a").toString
    val b = Files.createTempDirectory("graft_cat_b").toString
    Manifest.commit(Seq(1L).toDF("id"), s"$a/t")
    Manifest.commit(Seq(2L, 3L).toDF("id"), s"$b/t")
    try {
      spark.conf.set(key, a)
      assert(spark.sql("SELECT * FROM graft.t").count() == 1L)
      spark.conf.set(key, b)
      assert(spark.sql("SELECT * FROM graft.t").count() == 2L)
    } finally prior match {
      case Some(r) => spark.conf.set(key, r)
      case None => spark.conf.unset(key)
    }
  }

  test("graft catalog: SELECT * FROM graft.<t>.history equals " +
    "Manifest.history — merge-on-read deletes read as optype=delete " +
    "with their DV row deltas — and a real table named 'history' " +
    "would win over the metadata table") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    // the catalog instance is CACHED per session once resolved, so a
    // later conf change can't re-root it: reuse the active root (or
    // register it if this test runs first)
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    val root = scala.util.Try(
      spark.conf.get("spark.sql.catalog.graft.root")).getOrElse {
      val r = Files.createTempDirectory("graft_cat_h").toString
      spark.conf.set("spark.sql.catalog.graft.root", r)
      r
    }
    val tbl = s"$root/t2"
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl) // v1
    Manifest.commit(Seq((3L, "c")).toDF("id", "s"), tbl)           // v2
    Merge.deleteWhereDv(spark, tbl, col("id") === 2L)              // v3
    val api = Manifest.history(spark, tbl).map(c => (c.version,
      c.change_type, c.files_added, c.files_removed, c.rows_added,
      c.rows_removed, c.data_change, c.commit_ts))
    val viaSql = spark.sql(
      "SELECT * FROM graft.t2.history ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
        r.getTimestamp(7).getTime))
      .toSeq
    assert(viaSql == api, s"sql=$viaSql api=$api")
    assert(api.map(_._8).sorted == api.map(_._8),
      "commit timestamps are monotone along the version chain here")
    assert(viaSql.exists(r => r._2 == "delete" && r._6 == 1L),
      "the erasure must read as a delete with its DV row delta")
    // a REAL manifest table named history shadows the metadata table
    val shadow = s"$root/t3/history"
    Manifest.commit(Seq((9L, "z")).toDF("id", "s"), shadow)
    assert(spark.sql("SELECT * FROM graft.t3.history").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("graft catalog: SELECT * FROM graft.<t>.files is the live-file " +
    "inventory (adding version, recorded rows, DV'd positions) and " +
    "reconciles with the metadata rowCount") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    val root = scala.util.Try(
      spark.conf.get("spark.sql.catalog.graft.root")).getOrElse {
      val r = Files.createTempDirectory("graft_cat_f").toString
      spark.conf.set("spark.sql.catalog.graft.root", r)
      r
    }
    val tbl = s"$root/t5"
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), tbl)                                           // v1
    Manifest.commit(Seq((3L, "c")).toDF("id", "s").coalesce(1), tbl) // v2
    Merge.deleteWhereDv(spark, tbl, col("id") === 1L)              // v3
    val viaSql = spark.sql(
      "SELECT * FROM graft.t5.files ORDER BY file").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
      .toSeq
    assert(viaSql == Manifest.at(tbl).fileInventory.sortBy(_._1))
    assert(viaSql.map(_._2).toSet == Set(1L, 2L),
      "adding versions: one file from each append")
    assert(viaSql.map(_._4).sum == 1L, "one DV'd position")
    val logical = viaSql.flatMap(_._3).sum - viaSql.map(_._4).sum
    assert(Manifest.at(tbl).rowCount.contains(logical) &&
      Manifest.read(spark, tbl).count() == logical)
    // metadata tables serve VERSION AS OF (the Iceberg per-snapshot
    // convention): .files at v1 shows only v1's file with no DV, and
    // .detail at v1 reports v1's facts — both ≡ the API at that version
    def filesAsOf(v: Long) = spark.sql(
      s"SELECT * FROM graft.t5.files VERSION AS OF $v ORDER BY file")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
      .toSeq
    assert(filesAsOf(1L) == Manifest.at(tbl, 1L).fileInventory.sortBy(_._1))
    assert(filesAsOf(1L).size == 1 && filesAsOf(1L).head._4 == 0L,
      "v1: one file, no DV yet")
    assert(filesAsOf(2L) == Manifest.at(tbl, 2L).fileInventory.sortBy(_._1))
    val d1 = spark.sql(
      "SELECT * FROM graft.t5.detail VERSION AS OF 1").collect().head
    assert(d1.getLong(0) == 1L && d1.getLong(1) == 1L &&
      d1.getLong(2) == 2L && d1.getLong(3) == 0L)
    // history/tags are whole-table surfaces: AS OF refuses loudly
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val eH = intercept[Exception](spark.sql(
      "SELECT * FROM graft.t5.history VERSION AS OF 1").collect())
    assert(msgs(eH).exists(_.contains("does not support AS OF")), msgs(eH))
  }

  test("graft catalog: TIMESTAMP AS OF serves the newest version " +
    "committed at or before the timestamp, and a pre-table timestamp " +
    "fails loudly") {
    import java.nio.file.Files
    import graft.ops.Manifest
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    val root = scala.util.Try(
      spark.conf.get("spark.sql.catalog.graft.root")).getOrElse {
      val r = Files.createTempDirectory("graft_cat_t").toString
      spark.conf.set("spark.sql.catalog.graft.root", r)
      r
    }
    val tbl = s"$root/t4"
    val t0 = System.currentTimeMillis() - 1
    Manifest.commit(Seq((1L, "a")).toDF("id", "s"), tbl)        // v1
    val t1 = System.currentTimeMillis()
    Thread.sleep(25)
    Manifest.commit(Seq((2L, "b")).toDF("id", "s"), tbl)        // v2
    def ids(q: String) = spark.sql(q).collect().map(_.getLong(0)).toSet
    assert(ids(s"SELECT id FROM graft.t4 TIMESTAMP AS OF " +
      s"timestamp_millis(${t1}L)") == Set(1L))
    assert(ids("SELECT id FROM graft.t4 TIMESTAMP AS OF " +
      "current_timestamp()") == Set(1L, 2L))
    val e = intercept[Exception](ids(s"SELECT id FROM graft.t4 " +
      s"TIMESTAMP AS OF timestamp_millis(${t0}L)"))
    assert(e.getMessage.contains("no version"), e.getMessage)
  }

  test("graft catalog: VERSION AS OF '<tag>' resolves named refs to " +
    "their pinned version (≡ the numeric read), graft.<t>.tags lists " +
    "them, and an absent tag fails loudly") {
    import java.nio.file.Files
    import graft.ops.Manifest
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    val root = scala.util.Try(
      spark.conf.get("spark.sql.catalog.graft.root")).getOrElse {
      val r = Files.createTempDirectory("graft_cat_tags").toString
      spark.conf.set("spark.sql.catalog.graft.root", r)
      r
    }
    val tbl = s"$root/t_tags"
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl) // v1
    Manifest.commit(Seq((3L, "c")).toDF("id", "s"), tbl)           // v2
    Manifest.tag(tbl, "audit-1", 1L)
    val byTag = spark.sql(
      "SELECT id FROM graft.t_tags VERSION AS OF 'audit-1' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(byTag == Seq(1L, 2L))
    assert(byTag == spark.sql(
      "SELECT id FROM graft.t_tags VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq)
    assert(spark.sql("SELECT * FROM graft.t_tags.tags").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("audit-1", 1L)))
    val e = intercept[Exception](spark.sql(
      "SELECT id FROM graft.t_tags VERSION AS OF 'nope'").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no tag")), msgs(e))
  }

  test("SQL DML over governed tables: DELETE/UPDATE ≡ the Scala API " +
    "(same survivors, deletion-vector commit shape earned — zero file " +
    "rewrites, MoR history), num_affected_rows returned, subqueries " +
    "and the remaining verbs still refuse loudly") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_dml").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // absolute-path identifiers (the delta.`/path` convention): the
    // session's cached catalog instance may carry another test's root
    def seed(name: String): String = {
      val p = s"$root/$name"
      Manifest.commit((0L until 20L).map(i => (i, i * 10))
        .toDF("id", "v").coalesce(2), p, statsCols = Seq("id"))
      p
    }
    def pairs(p: String) = Manifest.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // DELETE: SQL vs API twins on identical tables
    val sqlT = seed("sql_t"); val apiT = seed("api_t")
    val del = spark.sql(
      s"DELETE FROM graft.`$sqlT` WHERE id % 7 = 3 OR id = 19")
    assert(del.columns.toSeq == Seq("num_affected_rows") &&
      del.collect().head.getLong(0) == 4L) // ids 3, 10, 17, 19
    Merge.deleteWhereDv(spark, apiT,
      col("id") % 7 === 3L || col("id") === 19L)
    assert(pairs(sqlT) == pairs(apiT), "SQL DELETE ≡ API DELETE")
    // the commit shape is merge-on-read: no data file moved, DV lines
    // published, history reads as a delete
    assert(Manifest.at(sqlT).files == Manifest.at(sqlT, 1L).files,
      "zero rewrites — the DELETE must publish only deletion vectors")
    assert(Manifest.at(sqlT).dv.nonEmpty)
    assert(Manifest.history(spark, sqlT).last.change_type == "delete")
    assert(Manifest.history(spark, sqlT).last.rows_removed == 4L)
    // UPDATE: SQL vs API, with an int literal cast onto the bigint
    // column (the alignment a raw parsed assignment lacks)
    spark.sql(s"UPDATE graft.`$sqlT` SET v = v + 5, id = 1000 WHERE id = 4")
    Merge.updateWhereDv(spark, apiT, col("id") === 4L,
      sets = Seq("v" -> (col("v") + 5L), "id" -> lit(1000L)))
    assert(pairs(sqlT) == pairs(apiT), "SQL UPDATE ≡ API UPDATE")
    assert(pairs(sqlT).contains((1000L, 45L)))
    // SQL reads over the DML'd table serve the DV-applied view
    assert(spark.sql(s"SELECT count(*) FROM graft.`$sqlT`")
      .collect().head.getLong(0) == 16L)
    // subqueries outside the DELETE-IN carve-out refuse loudly,
    // naming the Scala API (the carve-out has its own spec below)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e = intercept[Exception](spark.sql(
      s"UPDATE graft.`$sqlT` SET v = " +
        s"(SELECT max(id) FROM graft.`$apiT`) WHERE id = 1"))
    assert(msgs(e).exists(_.contains("deleteKeysDv")), msgs(e))
    // the read-only rule still holds for DDL (DML verbs route through
    // the governed commit protocol — INSERT has its own spec)
    val e2 = intercept[Exception](spark.sql(
      s"DROP TABLE graft.`$sqlT`"))
    assert(msgs(e2).exists(_.contains("read-only")), msgs(e2))
    // DML on a table under CHECK constraints still validates: the
    // update images go through the same gated commit
    Manifest.addConstraint(spark, sqlT, "v_nonneg", "v >= 0")
    val e4 = intercept[Exception](spark.sql(
      s"UPDATE graft.`$sqlT` SET v = -1 WHERE id = 5"))
    assert(msgs(e4).exists(_.contains("v_nonneg")), msgs(e4))
    assert(pairs(sqlT).contains((5L, 50L)), "failed UPDATE changed nothing")
    // DESCRIBE DETAIL convention: graft.<t>.detail is one metadata-only
    // row of table facts, consistent with the API answers
    val detail = spark.sql(s"SELECT * FROM graft.`$sqlT`.detail")
      .collect().head
    assert(detail.getLong(0) == Manifest.version(sqlT))
    assert(detail.getLong(1) == Manifest.at(sqlT).files.size.toLong)
    assert(detail.getLong(2) ==
      Manifest.read(spark, sqlT).count(), "metadata rows ≡ real count")
    assert(detail.getLong(3) ==
      Manifest.at(sqlT).dv.values.map(_._2).sum)
    assert(detail.getLong(5) == 1L, "the v_nonneg constraint counts")
    // MERGE INTO (upsert-by-key): SQL ≡ the Merge.upsert API — updates
    // replace matched keys, unmatched keys insert
    (0L until 6L).map(i => (i * 2, i * 2 * 10 + 7))
      .toDF("id", "v").createOrReplaceTempView("s38_src")
    val mrg = spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING s38_src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    assert(mrg.collect().head.getLong(0) == 6L)
    Merge.upsert(spark, apiT,
      (0L until 6L).map(i => (i * 2, i * 2 * 10 + 7)).toDF("id", "v"),
      Seq("id"))
    assert(pairs(sqlT) == pairs(apiT), "SQL MERGE ≡ API upsert")
    assert(pairs(sqlT).contains((0L, 7L)) && pairs(sqlT).contains((8L, 87L)))
    // unsupported merge shapes refuse loudly naming the Scala API
    // (NOT MATCHED BY SOURCE — conditional/partial MATCHED-ONLY forms
    // are supported since r17 with their own spec)
    val e5 = intercept[Exception](spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING s38_src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"))
    assert(msgs(e5).exists(_.contains("Merge.upsert")), msgs(e5))
  }

  test("SQL DELETE … WHERE k IN (SELECT …) ≡ Merge.deleteKeysDv: the " +
    "set-shaped GDPR verb lowers to the MoR keyed erasure (zero file " +
    "rewrites, DV commit shape), replays idempotently, and the " +
    "correlated / non-deterministic / NOT IN shapes keep the loud " +
    "refusal") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_delin").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def seed(name: String): String = {
      val p = s"$root/$name"
      Manifest.commit((0L until 30L).map(i => (i, i * 10))
        .toDF("id", "v").coalesce(2), p, statsCols = Seq("id"))
      p
    }
    def pairs(p: String) = Manifest.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sqlT = seed("sql_t"); val apiT = seed("api_t")
    Seq(3L, 7L, 11L, 999L).toDF("id")
      .createOrReplaceTempView("delin_req")
    val stmt = s"DELETE FROM graft.`$sqlT` WHERE id IN " +
      "(SELECT id FROM delin_req WHERE id < 100)"
    val del = spark.sql(stmt)
    assert(del.columns.toSeq == Seq("num_affected_rows"))
    assert(del.collect().head.getLong(0) == 3L) // 999 matches nothing
    Merge.deleteKeysDv(spark, apiT,
      Seq(3L, 7L, 11L).toDF("id"), "id")
    assert(pairs(sqlT) == pairs(apiT), "SQL DELETE-IN ≡ API deleteKeysDv")
    // MoR commit shape earned: no data file moved, DVs published
    assert(Manifest.at(sqlT).files == Manifest.at(sqlT, 1L).files,
      "zero rewrites — only deletion vectors publish")
    assert(Manifest.at(sqlT).dv.nonEmpty)
    assert(Manifest.history(spark, sqlT).last.change_type == "delete")
    // idempotent replay: the same statement hides nothing new
    assert(spark.sql(stmt).collect().head.getLong(0) == 0L)
    assert(pairs(sqlT) == pairs(apiT))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // a correlated subquery cannot materialize once — refuse
    val e1 = intercept[Exception](spark.sql(
      s"DELETE FROM graft.`$sqlT` t WHERE id IN " +
        "(SELECT id FROM delin_req r WHERE r.id = t.v)"))
    assert(msgs(e1).exists(m => m.contains("deleteKeysDv") ||
      m.contains("correlated")), msgs(e1))
    // a non-deterministic key set erases an unauditable population —
    // refuse
    val e2 = intercept[Exception](spark.sql(
      s"DELETE FROM graft.`$sqlT` WHERE id IN " +
        "(SELECT CAST(rand() * 30 AS BIGINT) FROM delin_req)"))
    assert(msgs(e2).exists(_.contains("deleteKeysDv")), msgs(e2))
    // NOT IN is not the erasure verb (keep the loud refusal: its
    // semantics over nulls diverge from an anti-join erasure)
    val e3 = intercept[Exception](spark.sql(
      s"DELETE FROM graft.`$sqlT` WHERE id NOT IN " +
        "(SELECT id FROM delin_req)"))
    assert(msgs(e3).exists(_.contains("deleteKeysDv")), msgs(e3))
    // UPDATE … WHERE k IN (SELECT …): the same carve-out applied to
    // UPDATE — the deduplicated key set drives the keyed MoR update
    Seq(4L, 5L, 5L, 999L).toDF("id")
      .createOrReplaceTempView("delin_upd")
    val nUp = spark.sql(
      s"UPDATE graft.`$sqlT` SET v = v + 1000 WHERE id IN " +
        "(SELECT id FROM delin_upd)").collect().head.getLong(0)
    assert(nUp == 2L, "dup keys dedup; 999 matches nothing")
    Merge.mergeMatchedDv(spark, apiT, Seq(4L, 5L).toDF("id"),
      Seq("id"), Seq("v" -> (col("v") + 1000L)))
    assert(pairs(sqlT) == pairs(apiT), "SQL UPDATE-IN ≡ API")
    assert(pairs(sqlT).contains((4L, 1040L)) &&
      pairs(sqlT).contains((5L, 1050L)))
    // a subquery in the SET value keeps the loud refusal
    val e5 = intercept[Exception](spark.sql(
      s"UPDATE graft.`$sqlT` SET v = (SELECT max(id) FROM delin_upd) " +
        "WHERE id IN (SELECT id FROM delin_upd)"))
    assert(msgs(e5).exists(_.contains("deleteKeysDv")), msgs(e5))
  }

  test("SQL INSERT INTO / OVERWRITE ≡ the API append/replace (commit " +
    "shape earned, schema evolution included, constraint violations " +
    "abort loudly) and MERGE-DELETE ≡ Merge.deleteKeysDv — both with " +
    "exact num_affected_rows from metadata alone") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ins").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def seed(name: String): String = {
      val p = s"$root/$name"
      Manifest.commit((0L until 20L).map(i => (i, i * 10))
        .toDF("id", "v").coalesce(2), p, statsCols = Seq("id"))
      p
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val sqlT = seed("ins_sql"); val apiT = seed("ins_api")
    def rows(p: String) = Manifest.read(spark, p).select("id", "v")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) Long.MinValue else r.getLong(1))).toSet
    // plain by-position INSERT (int literals cast onto bigint columns)
    val ins = spark.sql(
      s"INSERT INTO graft.`$sqlT` VALUES (100, 1), (101, 2)")
    assert(ins.columns.toSeq == Seq("num_affected_rows") &&
      ins.collect().head.getLong(0) == 2L)
    Manifest.commit(Seq((100L, 1L), (101L, 2L)).toDF("id", "v"), apiT)
    assert(rows(sqlT) == rows(apiT), "SQL INSERT ≡ API append")
    // commit shape: a PURE APPEND — v1's files all carried, history says
    // append, and the pre-insert version still time-travels
    assert(Manifest.at(sqlT).files.toSet
      .intersect(Manifest.at(sqlT, 1L).files.toSet) ==
      Manifest.at(sqlT, 1L).files.toSet)
    assert(Manifest.history(spark, sqlT).last.change_type == "append")
    assert(Manifest.read(spark, sqlT, 1L).count() == 20L)
    // explicit column list: reorder + fill unnamed columns with null
    spark.sql(s"INSERT INTO graft.`$sqlT` (v, id) VALUES (3, 102)")
    assert(rows(sqlT).contains((102L, 3L)))
    spark.sql(s"INSERT INTO graft.`$sqlT` (id) VALUES (103)")
    assert(Manifest.read(spark, sqlT)
      .filter(col("id") === 103L && col("v").isNull).count() == 1L)
    // SCHEMA-EVOLVING insert: a column-list name the table lacks
    // appends as a new column; every earlier row reads it as null
    val ev = spark.sql(
      s"INSERT INTO graft.`$sqlT` (id, v, tag) VALUES (300, 4, 'fresh')")
    assert(ev.collect().head.getLong(0) == 1L)
    val evolved = Manifest.read(spark, sqlT)
    assert(evolved.columns.toSeq == Seq("id", "v", "tag"))
    assert(evolved.filter(col("tag") === "fresh").count() == 1L)
    assert(evolved.filter(col("tag").isNull).count() ==
      evolved.count() - 1L)
    // arity mismatch refuses loudly with remedies — EVEN when the
    // query's names happen to cover the table's columns (a plain
    // INSERT must never evolve the schema without the explicit
    // column-list / BY NAME opt-in)
    val eAr = intercept[Exception](spark.sql(
      s"INSERT INTO graft.`$sqlT` VALUES (1, 2)"))
    assert(msgs(eAr).exists(m => m.contains("BY NAME") ||
      m.contains("column list") || m.contains("data columns")), msgs(eAr))
    val eEv = intercept[Exception](spark.sql(
      s"INSERT INTO graft.`$sqlT` SELECT 1L AS id, 2L AS v, " +
        "'x' AS tag, 9 AS sneaky"))
    assert(msgs(eEv).exists(_.contains("BY NAME")), msgs(eEv))
    assert(!Manifest.read(spark, sqlT).columns.contains("sneaky"),
      "plain INSERT must not silently evolve the schema")
    // CHECK constraints gate SQL INSERT like any commit
    Manifest.addConstraint(spark, sqlT, "v_nonneg", "v >= 0 OR v IS NULL")
    val before = rows(sqlT)
    val eC = intercept[Exception](spark.sql(
      s"INSERT INTO graft.`$sqlT` (id, v) VALUES (400, -5)"))
    assert(msgs(eC).exists(_.contains("v_nonneg")), msgs(eC))
    assert(rows(sqlT) == before, "failed INSERT published nothing")
    // INSERT OVERWRITE = the replace commit: content swaps, history keeps
    val headBefore = Manifest.version(sqlT)
    val ow = spark.sql(
      s"INSERT OVERWRITE graft.`$sqlT` (id, v, tag) " +
        "VALUES (1, 10, 'a'), (2, 20, 'b')")
    assert(ow.collect().head.getLong(0) == 2L)
    assert(Manifest.read(spark, sqlT).count() == 2L)
    assert(Manifest.history(spark, sqlT).last.change_type == "replace")
    assert(Manifest.read(spark, sqlT, headBefore).count() ==
      before.size.toLong, "pre-overwrite version still time-travels")
    // MERGE-DELETE (the GDPR request-set verb): SQL ≡ deleteKeysDv,
    // merge-on-read shape earned (zero rewrites, DV lines, MoR history)
    val mdSql = seed("md_sql"); val mdApi = seed("md_api")
    Seq(3L, 7L, 11L, 99L).toDF("id").createOrReplaceTempView("md_req")
    val md = spark.sql(
      s"MERGE INTO graft.`$mdSql` AS t USING md_req AS s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
    assert(md.collect().head.getLong(0) == 3L, "99 matches nothing")
    Merge.deleteKeysDv(spark, mdApi, Seq(3L, 7L, 11L, 99L).toDF("id"),
      "id")
    assert(rows(mdSql) == rows(mdApi), "SQL MERGE-DELETE ≡ API erasure")
    assert(Manifest.at(mdSql).files == Manifest.at(mdSql, 1L).files,
      "zero rewrites — deletion vectors only")
    assert(Manifest.at(mdSql).dv.nonEmpty)
    assert(Manifest.history(spark, mdSql).last.change_type == "delete")
    // a replayed request set matches nothing: idempotent by construction
    assert(spark.sql(
      s"MERGE INTO graft.`$mdSql` AS t USING md_req AS s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE").collect().head.getLong(0) == 0L)
    // a duplicate-key request set dedupes (a pure key set, like
    // DELETE … IN): (3),(3),(7) hides 2 rows and reports 2
    val mdDup = seed("md_dup")
    Seq(3L, 3L, 7L).toDF("id").createOrReplaceTempView("md_dup_req")
    assert(spark.sql(
      s"MERGE INTO graft.`$mdDup` AS t USING md_dup_req AS s " +
        "ON t.id = s.id WHEN MATCHED THEN DELETE")
      .collect().head.getLong(0) == 2L)
    assert(rows(mdDup) == rows(seed("md_dup_ref"))
      .filterNot(r => r._1 == 3L || r._1 == 7L))
    // composite-key MERGE-DELETE (the multi-tenant request shape):
    // only the WHOLE key tuple matches — a half-matching tuple
    // deletes nothing — and SQL ≡ Merge.deleteKeysDvCols
    Seq((5L, 50L), (6L, 999L)).toDF("id", "v")
      .createOrReplaceTempView("md_req2")
    val mdc = spark.sql(
      s"MERGE INTO graft.`$mdSql` AS t USING md_req2 AS s " +
        "ON t.id = s.id AND t.v = s.v WHEN MATCHED THEN DELETE")
    assert(mdc.collect().head.getLong(0) == 1L,
      "only the full tuple (5, 50) matches")
    assert(!rows(mdSql).exists(_._1 == 5L) &&
      rows(mdSql).exists(_._1 == 6L))
    Merge.deleteKeysDvCols(spark, mdApi,
      Seq((5L, 50L), (6L, 999L)).toDF("id", "v"), Seq("id", "v"))
    assert(rows(mdSql) == rows(mdApi),
      "SQL composite MERGE-DELETE ≡ API deleteKeysDvCols")
    // INSERT into a DV-CARRYING table (the DSv2 AppendData path — a
    // DV-marked target never falls back to V1): appends land, deleted
    // rows stay hidden
    assert(Manifest.at(mdSql).dv.nonEmpty, "precondition")
    val insDv = spark.sql(
      s"INSERT INTO graft.`$mdSql` VALUES (500, 5000)")
    assert(insDv.collect().head.getLong(0) == 1L)
    assert(rows(mdSql).contains((500L, 5000L)))
    assert(!rows(mdSql).exists(_._1 == 3L), "DV'd rows stay hidden")
    assert(Manifest.at(mdSql).dv.nonEmpty,
      "append inherits the DV state")
    // INSERT OVERWRITE on the DV table = the replace commit (whole
    // state swaps; a partial overwrite condition would refuse)
    val owDv = spark.sql(
      s"INSERT OVERWRITE graft.`$mdSql` VALUES (1, 10), (2, 20)")
    assert(owDv.collect().head.getLong(0) == 2L)
    assert(rows(mdSql) == Set((1L, 10L), (2L, 20L)))
    assert(Manifest.at(mdSql).dv.isEmpty,
      "replace drops the DV state with the files")
  }

  test("every keyed SQL form reads its source once: DELETE-IN, " +
    "UPDATE-IN, MERGE-DELETE and MERGE matched-UPDATE each scan a " +
    "parquet source in exactly one executed plan (the engine's " +
    "checkpoint)") {
    import java.nio.file.Files
    import graft.ops.Manifest
    import spark.implicits._
    val root = Files.createTempDirectory("graft_k1").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val src = Files.createTempDirectory("kq").resolve("req").toString
    Seq((3L, 1000L), (7L, 2000L), (99L, 0L)).toDF("id", "w")
      .write.parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("k1_req")
    def seed(name: String): String = {
      val p = s"$root/$name"
      Manifest.commit((0L until 20L).map(i => (i, i * 10))
        .toDF("id", "v").coalesce(2), p, statsCols = Seq("id"))
      p
    }
    val forms = Seq(
      "DELETE-IN" -> ((t: String) =>
        s"DELETE FROM graft.`$t` WHERE id IN (SELECT id FROM k1_req)"),
      "UPDATE-IN" -> ((t: String) =>
        s"UPDATE graft.`$t` SET v = v + 1 WHERE id IN " +
          "(SELECT id FROM k1_req)"),
      "MERGE-DELETE" -> ((t: String) =>
        s"MERGE INTO graft.`$t` AS t USING k1_req AS s ON t.id = s.id " +
          "WHEN MATCHED THEN DELETE"),
      "MERGE matched-UPDATE" -> ((t: String) =>
        s"MERGE INTO graft.`$t` AS t USING k1_req AS s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.w"))
    for (((form, stmt), i) <- forms.zipWithIndex) {
      val t = seed(s"t$i")
      var n = -1L
      val reads = plansDuring {
        n = spark.sql(stmt(t)).collect().head.getLong(0)
      }.filter(p => p.contains("FileScan parquet") && p.contains(src))
      assert(n == 2L, s"$form: 3 and 7 match, 99 does not")
      assert(reads.size == 1,
        s"$form read its source ${reads.size} times:\n" +
          reads.mkString("\n---\n"))
    }
  }

  test("SQL MERGE matched-only forms ≡ Merge.mergeMatchedDv: " +
    "WHEN MATCHED AND cond THEN UPDATE SET <partial> updates exactly " +
    "the matched-and-passing rows in ONE MoR commit (zero rewrites), " +
    "conditional DELETE erases on source-side flags, SET * " +
    "matched-only works (key no-op drops out), a non-identity SET on " +
    "a merge key refuses, duplicate-key sources refuse, and partial " +
    "SET combined with INSERT keeps the loud refusal") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mm").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    def seed(name: String): String = {
      val p = s"$root/$name"
      Manifest.commit((0L until 20L).map(i => (i, i * 10))
        .toDF("id", "v").coalesce(2), p, statsCols = Seq("id"))
      p
    }
    def pairs(p: String) = Manifest.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sqlT = seed("mm_sql"); val apiT = seed("mm_api")
    // conditional PARTIAL update: of the matched ids {4, 6, 8}, only
    // rows passing t.v >= 60 update; the value mixes both sides
    Seq((4L, 4000L), (6L, 6000L), (8L, 8000L)).toDF("id", "nv")
      .createOrReplaceTempView("mm_src")
    val up = spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING mm_src AS s ON t.id = s.id " +
        "WHEN MATCHED AND t.v >= 60 THEN UPDATE SET v = s.nv + t.id")
    assert(up.collect().head.getLong(0) == 2L,
      "id 4 fails the condition — 2 rows update")
    assert(pairs(sqlT).contains((4L, 40L)) &&
      pairs(sqlT).contains((6L, 6006L)) &&
      pairs(sqlT).contains((8L, 8008L)))
    Merge.mergeMatchedDv(spark, apiT,
      Seq((4L, 4000L), (6L, 6000L), (8L, 8000L)).toDF("id", "nv"),
      Seq("id"), Seq("v" -> (Merge.srcCol("nv") + col("id"))),
      Some(col("v") >= 60L))
    assert(pairs(sqlT) == pairs(apiT),
      "SQL conditional partial MERGE-UPDATE ≡ API mergeMatchedDv")
    assert(Manifest.at(sqlT).files.filter(_.contains("b000001")) ==
      Manifest.at(sqlT, 1L).files.filter(_.contains("b000001")),
      "MoR: the original files carry, only update images add")
    assert(Manifest.at(sqlT).dv.nonEmpty)
    // conditional DELETE on a source-side flag
    Seq((2L, 1L), (3L, 0L), (9L, 1L)).toDF("id", "flag")
      .createOrReplaceTempView("mm_req")
    val del = spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING mm_req AS s ON t.id = s.id " +
        "WHEN MATCHED AND s.flag = 1 THEN DELETE")
    assert(del.collect().head.getLong(0) == 2L, "flag=0 row survives")
    assert(!pairs(sqlT).exists(_._1 == 2L) &&
      pairs(sqlT).exists(_._1 == 3L) && !pairs(sqlT).exists(_._1 == 9L))
    Merge.mergeMatchedDv(spark, apiT,
      Seq((2L, 1L), (3L, 0L), (9L, 1L)).toDF("id", "flag"),
      Seq("id"), cond = Some(Merge.srcCol("flag") === 1L))
    assert(pairs(sqlT) == pairs(apiT),
      "SQL conditional MERGE-DELETE ≡ API")
    // SET * matched-only: full update of matched keys, no INSERT
    // clause — the analyzer's key no-op assignment drops out
    Seq((5L, 555L), (99L, 999L)).toDF("id", "v")
      .createOrReplaceTempView("mm_full")
    val fu = spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING mm_full AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET *")
    assert(fu.collect().head.getLong(0) == 1L, "99 matches nothing")
    assert(pairs(sqlT).contains((5L, 555L)) &&
      !pairs(sqlT).exists(_._1 == 99L))
    // refusals: non-identity SET on a merge key; duplicate-key source;
    // partial SET combined with INSERT
    val e1 = intercept[Exception](spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING mm_src AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET id = s.nv"))
    assert(msgs(e1).exists(_.contains("match identity")), msgs(e1))
    Seq((5L, 1L), (5L, 2L)).toDF("id", "nv")
      .createOrReplaceTempView("mm_dup")
    val e2 = intercept[Exception](spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING mm_dup AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv"))
    assert(msgs(e2).exists(_.contains("duplicate key")), msgs(e2))
    val e3 = intercept[Exception](spark.sql(
      s"MERGE INTO graft.`$sqlT` AS t USING mm_full AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(msgs(e3).exists(_.contains("Merge.upsert")), msgs(e3))
  }

  test("SQL CREATE TABLE / CTAS / CREATE OR REPLACE ≡ Manifest.commit: " +
    "an empty CREATE publishes a schema-bearing v1 that INSERT builds " +
    "on, CTAS commits the query, REPLACE keeps history, IF NOT EXISTS " +
    "no-ops, and partitioning/properties/DROP refuse loudly") {
    import java.nio.file.Files
    import graft.ops.Manifest
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ddl").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // empty CREATE: v1 with the declared schema, zero rows — then
    // INSERT appends into it (the create-then-load flow)
    val t1 = s"$root/ddl_t1"
    spark.sql(s"CREATE TABLE graft.`$t1` (id BIGINT, v STRING)")
    assert(Manifest.version(t1) == 1L)
    assert(Manifest.at(t1).schema.fieldNames.toSeq == Seq("id", "v"))
    assert(Manifest.read(spark, t1).count() == 0L)
    spark.sql(s"INSERT INTO graft.`$t1` VALUES (1, 'a'), (2, 'b')")
    assert(Manifest.read(spark, t1).count() == 2L)
    // bare CREATE on an existing table refuses; IF NOT EXISTS no-ops
    val e1 = intercept[Exception](spark.sql(
      s"CREATE TABLE graft.`$t1` (id BIGINT)"))
    assert(msgs(e1).exists(_.contains("already exists")), msgs(e1))
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.`$t1` (id BIGINT)")
    assert(Manifest.read(spark, t1).count() == 2L, "no-op kept the rows")
    // the creating commit is REPLACE-flagged: a concurrent CREATE
    // losing the publish race aborts loudly through the
    // never-rebases-a-replace rule instead of appending its rows onto
    // the winner (ManifestSpec pins the abort; this pins the flag)
    assert(graft.ops.Manifest.delta(t1, 1L).replace,
      "CREATE must publish through the non-rebasable replace path")
    // CTAS ≡ commit(query result)
    val t2 = s"$root/ddl_t2"
    spark.sql(s"CREATE TABLE graft.`$t2` AS " +
      s"SELECT id, v FROM graft.`$t1` WHERE id = 1")
    assert(Manifest.read(spark, t2).collect().map(_.getLong(0)).toSeq ==
      Seq(1L))
    // CREATE OR REPLACE: the replace commit — content swaps, v1 still
    // time-travels
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$t2` AS " +
      s"SELECT id * 10 AS id, v FROM graft.`$t1`")
    assert(Manifest.read(spark, t2).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(10L, 20L))
    assert(Manifest.read(spark, t2, 1L).count() == 1L,
      "pre-replace version keeps time-traveling")
    assert(Manifest.history(spark, t2).last.change_type == "replace")
    // refusals: partitioning, properties, DROP
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE graft.`$root/ddl_t3` (id BIGINT) PARTITIONED BY (id)"))
    assert(msgs(e2).exists(_.contains("Layout.zOrderWrite")), msgs(e2))
    val e3 = intercept[Exception](spark.sql(
      s"CREATE TABLE graft.`$root/ddl_t4` (id BIGINT) " +
        "TBLPROPERTIES ('k'='v')"))
    assert(msgs(e3).exists(_.contains("CHECK constraints")), msgs(e3))
    val e4 = intercept[Exception](spark.sql(s"DROP TABLE graft.`$t2`"))
    assert(msgs(e4).exists(_.contains("read-only")), msgs(e4))
    // ALTER TABLE ADD COLUMNS: a metadata-only evolving commit — old
    // rows read the new column as null, INSERT can fill it, and the
    // pre-ALTER version still time-travels with its own schema
    val vBefore = Manifest.version(t1)
    spark.sql(s"ALTER TABLE graft.`$t1` ADD COLUMNS (tag STRING)")
    assert(Manifest.at(t1).schema.fieldNames.toSeq ==
      Seq("id", "v", "tag"))
    assert(Manifest.version(t1) == vBefore + 1)
    assert(spark.sql(s"SELECT * FROM graft.`$t1` WHERE tag IS NULL")
      .count() == 2L)
    spark.sql(s"INSERT INTO graft.`$t1` VALUES (3, 'c', 'fresh')")
    assert(spark.sql(
      s"SELECT * FROM graft.`$t1` WHERE tag = 'fresh'").count() == 1L)
    assert(Manifest.at(t1, vBefore).schema.fieldNames.length == 2,
      "time travel keeps the pre-ALTER schema")
    // refusals: NOT NULL add, DROP COLUMN, duplicate add
    val e5 = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t1` ADD COLUMNS (n INT NOT NULL)"))
    assert(msgs(e5).exists(_.contains("nullable")), msgs(e5))
    val e6 = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t1` DROP COLUMN v"))
    assert(msgs(e6).exists(_.contains("read-only")), msgs(e6))
    val e7 = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t1` ADD COLUMNS (tag STRING)"))
    assert(msgs(e7).exists(_.contains("already exists")), msgs(e7))
  }

  test("SQL constraint DDL ≡ the API: ADD CONSTRAINT validates existing " +
    "rows then gates every later commit, DROP CONSTRAINT re-opens " +
    "(IF EXISTS no-ops, missing refuses, CASCADE refuses), ALTER " +
    "COLUMN TYPE widens losslessly (narrowing refuses), and SQL " +
    "REPLACE TABLE starts a FRESH constraint slate while the API " +
    "replace keeps inheriting") {
    import java.nio.file.Files
    import graft.ops.Manifest
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cddl").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val t1 = s"$root/c_t1"
    Manifest.commit((0L until 10L).map(i => (i, i * 10L))
      .toDF("id", "v").coalesce(1), t1)
    // a constraint the table already breaks refuses — and records
    // nothing
    val e0 = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t1` ADD CONSTRAINT v_big CHECK (v >= 100)"))
    assert(msgs(e0).nonEmpty)
    assert(Manifest.at(t1).constraints.isEmpty,
      "a failed ADD CONSTRAINT must record nothing")
    // a holding constraint records, and gates every later commit —
    // SQL INSERT and API commit alike
    spark.sql(s"ALTER TABLE graft.`$t1` ADD CONSTRAINT v_nonneg " +
      "CHECK (v >= 0)")
    assert(Manifest.at(t1).constraints == Map("v_nonneg" -> "v >= 0"))
    val e1 = intercept[Exception](spark.sql(
      s"INSERT INTO graft.`$t1` VALUES (100, -5)"))
    assert(msgs(e1).exists(_.contains("v_nonneg")), msgs(e1))
    val e2 = intercept[Exception](Manifest.commit(
      Seq((101L, -1L)).toDF("id", "v"), t1))
    assert(msgs(e2).exists(_.contains("v_nonneg")), msgs(e2))
    assert(Manifest.read(spark, t1).count() == 10L,
      "failed inserts changed nothing")
    // DROP CONSTRAINT re-opens; IF EXISTS no-ops; missing refuses;
    // CASCADE refuses (no dependency graph to cascade through)
    spark.sql(s"ALTER TABLE graft.`$t1` DROP CONSTRAINT v_nonneg")
    assert(Manifest.at(t1).constraints.isEmpty)
    spark.sql(s"INSERT INTO graft.`$t1` VALUES (100, -5)")
    assert(Manifest.read(spark, t1).count() == 11L)
    spark.sql(s"ALTER TABLE graft.`$t1` DROP CONSTRAINT IF EXISTS nope")
    val e3 = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t1` DROP CONSTRAINT nope"))
    assert(msgs(e3).exists(_.contains("nope")), msgs(e3))
    val e3c = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t1` ADD CONSTRAINT v2 CHECK (v >= -5) " +
        "NOT ENFORCED"))
    assert(msgs(e3c).exists(_.contains("ENFORCED")), msgs(e3c))
    // ALTER COLUMN TYPE: the lossless widening rides the
    // allowTypeWidening opt-in as a metadata-only commit — old files
    // read through the widened schema, no rewrite
    val t2 = s"$root/c_t2"
    Manifest.commit(Seq((1, 1.5f), (2, 2.5f)).toDF("i", "f")
      .coalesce(1), t2)
    val filesBefore = Manifest.at(t2).files
    spark.sql(s"ALTER TABLE graft.`$t2` ALTER COLUMN i TYPE BIGINT")
    assert(Manifest.at(t2).schema("i").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(Manifest.at(t2).files == filesBefore,
      "widening is metadata-only — zero data files moved")
    assert(Manifest.read(spark, t2).select("i").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "old files read through the widened schema")
    // narrowing / lossy changes refuse loudly — Spark's own canUpCast
    // gate fires first (NOT_SUPPORTED_CHANGE_COLUMN); the commit's
    // evolve gate stays behind it as defense in depth
    val e4 = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$t2` ALTER COLUMN f TYPE INT"))
    assert(msgs(e4).exists(m => m.contains("NOT_SUPPORTED_CHANGE_COLUMN")
      || m.contains("lossless") || m.contains("widen")), msgs(e4))
    assert(Manifest.at(t2).schema("f").dataType ==
      org.apache.spark.sql.types.FloatType, "nothing published")
    // SQL REPLACE TABLE is a REDEFINITION: the replaced table's
    // constraints do NOT carry over (pre-fix this aborted on the
    // dropped column's unresolved constraint)
    val t3 = s"$root/c_t3"
    spark.sql(s"CREATE TABLE graft.`$t3` AS SELECT 1L AS id, 5L AS v")
    Manifest.addConstraint(spark, t3, "v_pos", "v > 0")
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$t3` AS SELECT 2L AS id")
    assert(Manifest.at(t3).constraints.isEmpty,
      "SQL REPLACE starts a fresh constraint slate")
    assert(Manifest.read(spark, t3).collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    // …while the API's content-preserving replace (the
    // OPTIMIZE/restore shape) keeps inheriting — the s24 contract
    Manifest.addConstraint(spark, t3, "id_pos", "id > 0")
    Manifest.commit(Seq(3L).toDF("id"), t3, replace = true)
    assert(Manifest.at(t3).constraints == Map("id_pos" -> "id > 0"),
      "the API replace keeps the constraint set")
  }

  test("SQL maintenance verbs ≡ the API: OPTIMIZE [WHERE] routes to " +
    "Layout.compact/optimizeWhere (data_change=false, DVs absorbed, " +
    "stats re-harvested), VACUUM RETAIN n VERSIONS to Manifest.vacuum " +
    "(tags retained; bare VACUUM refuses), RESTORE TO VERSION/" +
    "TIMESTAMP AS OF to Manifest.restore (metadata-only) — and a " +
    "non-graft identifier refuses loudly") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.ops.{Manifest, Merge}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_maint").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val t1 = s"$root/m_t1"
    for (i <- 0 until 4)
      Manifest.commit((i * 10 until (i + 1) * 10)
        .map(j => (j.toLong, j * 2L)).toDF("id", "v").coalesce(1),
        t1, statsCols = Seq("id"))
    Merge.deleteWhereDv(spark, t1, col("id") % 7 === 0)
    assert(Manifest.at(t1).dv.nonEmpty)
    // OPTIMIZE (bare): whole-table bin-pack into one file, DV
    // materialized away, stats re-harvested, flagged data_change=false
    val opt = spark.sql(s"OPTIMIZE graft.`$t1`").collect().head
    assert(opt.getLong(1) == 4L && opt.getLong(2) == 0L)
    assert(Manifest.at(t1).files.size == 1)
    assert(Manifest.at(t1).dv.isEmpty, "OPTIMIZE absorbs DVs")
    assert(Manifest.at(t1).fileStats.values.exists(_.contains("id")),
      "previously stats-bearing columns re-harvest")
    assert(Manifest.history(spark, t1)
      .find(_.version == opt.getLong(0)).exists(!_.data_change))
    assert(Manifest.read(spark, t1).count() == 34L,
      "compaction preserved the MoR-visible content")
    // OPTIMIZE WHERE ≡ Layout.optimizeWhere on a fragmented twin
    val t2 = s"$root/m_t2"
    for (i <- 0 until 4)
      Manifest.commit((i * 10 until (i + 1) * 10)
        .map(j => (j.toLong, j * 2L)).toDF("id", "v").coalesce(1),
        t2, statsCols = Seq("id"))
    val ow = spark.sql(
      s"OPTIMIZE graft.`$t2` WHERE id BETWEEN 0 AND 19 INTO 1 FILES")
      .collect().head
    assert(ow.getLong(1) == 2L && ow.getLong(2) == 2L,
      "only the stats-intersecting files rewrite")
    assert(Manifest.at(t2).files.size == 3)
    // OPTIMIZE ZORDER BY (single column = range clustering): the
    // compacted t1 re-clusters into 2 files and a half-range probe
    // prunes structurally; WHERE + ZORDER together refuse loudly
    val zo = spark.sql(
      s"OPTIMIZE graft.`$t1` ZORDER BY (id) INTO 2 FILES")
      .collect().head
    assert(zo.getLong(1) == 1L && Manifest.at(t1).files.size == 2)
    val (_, zKept, zSkipped) = Manifest.readPruned(spark, t1,
      "id", 0.0, 9.0)
    assert(zKept == 1 && zSkipped == 1,
      s"clustered halves must prune (kept=$zKept, skipped=$zSkipped)")
    assert(Manifest.read(spark, t1).count() == 34L,
      "clustering preserved the content")
    val eZW = intercept[Exception](spark.sql(
      s"OPTIMIZE graft.`$t1` WHERE id BETWEEN 0 AND 9 " +
        "ZORDER BY (id, v)"))
    assert(msgs(eZW).exists(_.contains("not both")), msgs(eZW))
    // RESTORE TO VERSION AS OF: metadata-only rollback after a junk
    // append — no data file written, state equals the target's
    val junkV = Manifest.commit(Seq((999L, 999L)).toDF("id", "v"), t2)
    def dataFiles(p: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count
      finally s.close()
    }
    val before = dataFiles(t2)
    val res = spark.sql(
      s"RESTORE TABLE graft.`$t2` TO VERSION AS OF ${junkV - 1}")
      .collect().head
    assert(res.getLong(1) == junkV - 1)
    assert(dataFiles(t2) == before, "restore is metadata-only")
    assert(Manifest.at(t2).files == Manifest.at(t2, junkV - 1).files)
    assert(Manifest.read(spark, t2).filter(col("id") === 999L).count()
      == 0L)
    // RESTORE TO TIMESTAMP AS OF resolves through the adjusted stamps
    val ts = new java.sql.Timestamp(
      Manifest.at(t2, junkV - 1).commitTime).toString
    val res2 = spark.sql(
      s"RESTORE graft.`$t2` TO TIMESTAMP AS OF '$ts'").collect().head
    assert(res2.getLong(1) >= junkV - 1)
    // VACUUM RETAIN: drops history beyond the horizon, keeps tagged
    // versions' files; bare VACUUM refuses naming the clause
    Manifest.tag(t2, "keep", 2L)
    val eBare = intercept[Exception](spark.sql(s"VACUUM graft.`$t2`"))
    assert(msgs(eBare).exists(_.contains("RETAIN")), msgs(eBare))
    val vac = spark.sql(s"VACUUM graft.`$t2` RETAIN 2 VERSIONS")
      .collect().head
    assert(vac.getLong(0) > 0L, "versions beyond the horizon dropped")
    assert(Manifest.at(t2, 2L).files.nonEmpty, "tagged version retained")
    assert(Manifest.read(spark, t2).count() == 40L,
      "head reads exactly after the sweep")
    // a non-graft catalog refuses loudly at run time
    val eCat = intercept[Exception](spark.sql(
      "OPTIMIZE spark_catalog.default.nope"))
    assert(msgs(eCat).exists(_.contains("GraftCatalog")), msgs(eCat))
  }

  test("round-6 kernel SQL functions: minhash signature and BPE pair ops") {
    GraftExtensions.install(spark)
    val row = spark.sql(
      "SELECT size(minhash_sig_array(array('a b c', 'b c d'))), " +
        "minhash_sig_array(cast(array() AS array<string>)), " +
        "bpe_pair_array(array('a', 'b', 'c')), " +
        "bpe_rewrite(array('a', 'b', 'c'), array(struct('a', 'b')))")
      .collect().head
    assert(row.getInt(0) == graft.functions.hashing.NumHashes)
    assert(row.isNullAt(1), "empty shingles -> null signature")
    assert(row.getSeq[org.apache.spark.sql.Row](2).map(r =>
      (r.getString(0), r.getString(1))) == Seq(("a", "b"), ("b", "c")))
    assert(row.getSeq[String](3) == Seq("a b", "c"))
  }
}
