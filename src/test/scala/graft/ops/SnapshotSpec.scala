package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Table state as a value: a statement resolves ONE snapshot of its
  * table and passes it down, so the bounded checkpoint+delta fold runs
  * once per statement, not once per metadata question. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  /** `.ckpt` reads (the [[Manifest.onMetaRead]] seam) during `body`:
    * every resolution of a version above the v10 checkpoint reads it
    * exactly once. */
  private def ckptReads(body: => Unit): Int = {
    var n = 0
    Manifest.onMetaRead = p => if (p.toString.endsWith(".ckpt")) n += 1
    try body finally Manifest.onMetaRead = _ => ()
    n
  }

  test("resolve once: upsert, deleteWhereDv and optimizeWhere read the " +
    "checkpoint once; SQL DELETE/UPDATE/MERGE INTO at most twice (the " +
    "catalog load plus the statement)") {
    // a catalog of its own: the session caches a catalog instance once
    // resolved, and other suites root `graft` where they need it
    spark.conf.set("spark.sql.catalog.snapshot_spec",
      "graft.sources.GraftCatalog")
    val tbl = Files.createTempDirectory("snapshot_tbl").toString
    // v1..v13: a checkpoint at v10 plus three deltas; the statements
    // below publish v14..v19, never on a checkpoint boundary
    for (i <- 0 until 13)
      Manifest.commit((i * 20L until i * 20L + 20L)
        .map(id => (id, (id % 4).toInt, id)).toDF("id", "k", "v")
        .coalesce(1), tbl, statsCols = Seq("id"))
    assert(Files.exists(java.nio.file.Paths.get(tbl, "_manifests",
      "v000010.ckpt")))
    Seq((10L, 1, -10L), (300L, 2, 300L)).toDF("id", "k", "v")
      .createOrReplaceTempView("snapshot_src")
    val statements: Seq[(String, () => Unit)] = Seq(
      "upsert" -> (() => Merge.upsert(spark, tbl,
        Seq((5L, 1, -5L), (400L, 0, 400L)).toDF("id", "k", "v"),
        Seq("id"))),
      "deleteWhereDv" -> (() =>
        Merge.deleteWhereDv(spark, tbl, col("id") === 7L)),
      "optimizeWhere" -> (() =>
        Layout.optimizeWhere(spark, tbl, "id", 0.0, 39.0)),
      "SQL DELETE" -> (() =>
        spark.sql(s"DELETE FROM snapshot_spec.`$tbl` WHERE id = 41")),
      "SQL UPDATE" -> (() =>
        spark.sql(s"UPDATE snapshot_spec.`$tbl` SET v = v + 1 " +
          "WHERE id = 42")),
      "SQL MERGE INTO" -> (() => spark.sql(
        s"MERGE INTO snapshot_spec.`$tbl` AS t USING snapshot_src AS s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")))
    val reads = statements.zipWithIndex.map { case ((name, run), i) =>
      val n = ckptReads(run())
      assert(Manifest.version(tbl) == 14L + i,
        s"$name must publish exactly one version")
      name -> n
    }
    info(s".ckpt reads per statement: ${reads.mkString(", ")}")
    val byName = reads.toMap
    Seq("upsert", "deleteWhereDv", "optimizeWhere").foreach(s =>
      assert(byName(s) == 1, s"$s resolved its table ${byName(s)} times"))
    Seq("SQL DELETE", "SQL UPDATE", "SQL MERGE INTO").foreach(s =>
      assert(byName(s) <= 2, s"$s resolved its table ${byName(s)} times"))
    val got = Manifest.read(spark, tbl).as[(Long, Int, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.size == 260 && got(5L) == -5L && got(10L) == -10L &&
      got(42L) == 43L && got(300L) == 300L && got(400L) == 400L &&
      !got.contains(7L) && !got.contains(41L))
  }
}
