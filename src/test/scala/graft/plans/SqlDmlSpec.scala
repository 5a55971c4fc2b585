package graft.plans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Manifest

/** Unit contracts of the SQL-DML plan rule's helpers — the pieces whose
  * failure modes are races the end-to-end SQL path cannot stage
  * deterministically (ExtensionsSpec covers the happy SQL paths). */
class SqlDmlSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("sqldml_tbl").toString

  private def liveAbs(tbl: String): Seq[String] =
    Manifest.at(tbl).files.map(rel =>
      Paths.get(tbl).resolve(rel).toAbsolutePath.normalize.toString)

  test("ADVICE r16: V1 INSERT-target recovery — live files resolve to " +
    "the governed table; a STALE relation (file retired by a concurrent " +
    "replace) refuses loudly instead of falling through to the " +
    "ungoverned raw-path insert; non-graft shapes stay None") {
    val tbl = freshTable()
    Manifest.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl)
    val v1Files = liveAbs(tbl)
    // the head's live files ARE the governed target
    assert(GraftSqlDml.recoverInsertTarget(v1Files).contains(
      Paths.get(tbl).toString))
    // a concurrent replace retires v1's files (still on disk — old
    // versions keep time-traveling) — the pinned relation is now stale:
    // loud refusal, never None (None = Spark's raw parquet insert)
    Manifest.commit(Seq((3L, "c")).toDF("id", "s"), tbl, replace = true)
    assert(v1Files.forall(f => Files.exists(Paths.get(f))),
      "precondition: the retired files must still exist on disk")
    val e = intercept[IllegalStateException](
      GraftSqlDml.recoverInsertTarget(v1Files))
    assert(e.getMessage.contains("stale relation"))
    assert(e.getMessage.contains(Paths.get(tbl).toString))
    // the fresh head's files resolve again
    assert(GraftSqlDml.recoverInsertTarget(liveAbs(tbl)).contains(
      Paths.get(tbl).toString))
    // mixed live + stale is still a refusal (the relation spans a
    // retired file — any raw insert through it is ungoverned)
    intercept[IllegalStateException](GraftSqlDml.recoverInsertTarget(
      liveAbs(tbl) ++ v1Files.take(1)))
    // non-graft shapes: no manifest at the recovered path, or not the
    // data/bNNNNNN layout at all
    val plain = Files.createTempDirectory("plain_pq").toString
    Seq(1, 2).toDF("x").write.parquet(s"$plain/data/b000001")
    val plainFile = Files.list(Paths.get(plain, "data", "b000001"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).head
    assert(GraftSqlDml.recoverInsertTarget(Seq(plainFile)).isEmpty,
      "batch-shaped path without a committed manifest is not a target")
    assert(GraftSqlDml.recoverInsertTarget(
      Seq(s"$tbl/other/b000001/f.parquet")).isEmpty,
      "non-'data' segment is not the governed layout")
    assert(GraftSqlDml.recoverInsertTarget(
      Seq("/tmp/f.parquet")).isEmpty, "too-short path is never a target")
  }

  test("governed SQL INSERT still routes through the manifest after the " +
    "recovery hardening (end-to-end guard)") {
    val tbl = freshTable()
    Files.delete(Paths.get(tbl))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"CREATE TABLE graft.`$tbl` (id BIGINT, s STRING)")
    spark.sql(s"INSERT INTO graft.`$tbl` VALUES (1, 'a'), (2, 'b')")
    assert(Manifest.version(tbl) == 2L)
    assert(Manifest.read(spark, tbl).count() == 2L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$tbl`")
      .head().getLong(0) == 2L)
  }

  test("GraftInsertCommand num_affected_rows on a MULTI-FILE insert is " +
    "the exact inserted-row count from commit metadata alone (sum of " +
    "the fresh files' recorded #filerows — no second scan)") {
    val tbl = freshTable()
    Files.delete(Paths.get(tbl))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"CREATE TABLE graft.`$tbl` (id BIGINT, v BIGINT)")
    (0L until 100L).map(i => (i, i * 3L)).toDF("id", "v")
      .repartition(4).createOrReplaceTempView("sqldml_multi_src")
    val n = spark.sql(
      s"INSERT INTO graft.`$tbl` SELECT id, v FROM sqldml_multi_src")
      .head().getLong(0)
    assert(n == 100L, s"num_affected_rows must be exact, got $n")
    val v = Manifest.version(tbl)
    val freshFiles = Manifest.delta(tbl, v).added
    assert(freshFiles.size == 4,
      s"the insert must land multiple files, got ${freshFiles.size}")
    assert(Manifest.read(spark, tbl).count() == 100L)
    // the count came from the commit's own recorded per-file rows
    val recorded = Manifest.delta(tbl, v).meta.collect {
      case (k, rows) if k.startsWith(Manifest.FileRowsPrefix) =>
        rows.toLong }.sum
    assert(recorded == 100L)
  }
}
