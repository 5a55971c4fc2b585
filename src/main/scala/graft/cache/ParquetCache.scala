package graft.cache

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.Relational

/** Parquet-backed wide-table read-through cache — the Spark re-expression of
  * the reference's SQLite series cache (`perustats/BCRP/cache.py`):
  * one wide table per (frequency, start, end), columns = `date` + one column
  * per series code, schema evolving as new codes arrive, rows merging by
  * date on re-save (SURVEY §3.1 steps 3–5).
  *
  * Differences by design, for scale:
  *  - storage is columnar parquet, not a row-store: a projected `load`
  *    reads only the requested code columns (column pruning at the scan);
  *  - the upsert is a keyed full-outer join on `date`
  *    ([[Relational.upsertWide]]), which shuffles only on the key and lets
  *    AQE broadcast the small (incoming) side, instead of the reference's
  *    whole-table in-memory rewrite (`perustats/BCRP/cache.py:162-169`);
  *  - saves write to a fresh versioned directory then flip a `_CURRENT`
  *    pointer, so readers never see a partial write (the reference relies on
  *    SQLite transactionality for this).
  */
final class ParquetCache(spark: SparkSession, root: String) extends SeriesCache {
  private val fsRoot = new java.io.File(root)

  private def tableDir(freq: String, start: String, end: String): java.io.File =
    new java.io.File(fsRoot, s"sr_${freq}_${start}_$end".replaceAll("[^A-Za-z0-9_]", "_"))

  private def currentVersion(dir: java.io.File): Option[String] = {
    val ptr = new java.io.File(dir, "_CURRENT")
    if (ptr.exists) Some(new String(java.nio.file.Files.readAllBytes(ptr.toPath)).trim)
    else None
  }

  /** One version directory, flat and written by one Spark write: its
    * schema is read from a footer on the driver, no inference job. */
  private def read(version: java.io.File): DataFrame =
    spark.read.schema(Bridge.footerSchema(spark, version.getPath))
      .parquet(version.getPath)

  /** Column names cached for this (freq, start, end) key, minus `date`.
    * Footer-only read on the driver — no Spark job, no data scan.
    * Reference `perustats/BCRP/cache.py:105-117`. */
  def cachedCodes(freq: String, start: String, end: String): Seq[String] = {
    val dir = tableDir(freq, start, end)
    currentVersion(dir) match {
      case Some(v) =>
        Bridge.footerSchema(spark, new java.io.File(dir, v).getPath)
          .fieldNames.toSeq.filter(c => c != "date" && c != "yq")
      case None => Nil
    }
  }

  /** Upsert `incoming` (wide: date + code columns) into the cache table:
    * full-outer merge on `date`, incoming values win, new codes become new
    * columns. Reference `perustats/BCRP/cache.py:143-169`.
    *
    * Concurrency contract (SCALING.md §cache): readers NEVER see a torn
    * write — the merged table is staged under a hidden directory (ignored
    * by readers, which only follow `_CURRENT`), claimed as `vN` with an
    * atomic directory rename (two writers racing the same N: exactly one
    * rename succeeds, the loser reclaims N+1), and published with an
    * atomic replace of the `_CURRENT` pointer file. Concurrent saves are
    * last-publish-wins: each merges from the version it READ, so the
    * earlier writer's rows are absent from the later writer's merge unless
    * the later writer started after the earlier published (serialize
    * writers externally if lost updates matter — same contract as the
    * reference's single-process SQLite cache). */
  def save(freq: String, start: String, end: String, incoming: DataFrame): Unit = {
    val dir = tableDir(freq, start, end)
    val merged = currentVersion(dir) match {
      case Some(v) =>
        val existing = read(new java.io.File(dir, v))
        Relational.upsertWide(existing, incoming, "date")
      case None => incoming
    }
    dir.mkdirs()
    // Stage fully, then claim a version slot by atomic rename. On a
    // rename-less store (S3) swap the staging step for a commit protocol;
    // on local fs / HDFS a directory rename is atomic.
    val staging = new java.io.File(dir,
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    merged.write.mode("overwrite").parquet(staging.getPath)
    var next = currentVersion(dir).map(v => v.stripPrefix("v").toInt + 1)
      .getOrElse(0)
    var claimed = false
    while (!claimed) {
      try {
        java.nio.file.Files.move(staging.toPath,
          new java.io.File(dir, s"v$next").toPath)
        claimed = true
      } catch {
        // POSIX rename reports a taken slot as FileAlreadyExists (empty
        // target) or DirectoryNotEmpty/FileSystemException (a rival's
        // complete version, never empty); reclaim N+1 in every such case,
        // rethrow anything where the slot is genuinely free.
        case _: java.nio.file.FileAlreadyExistsException => next += 1
        case e: java.nio.file.FileSystemException
            if new java.io.File(dir, s"v$next").exists() => next += 1
      }
    }
    // Publish: write-then-atomic-replace so a concurrent reader sees either
    // the old pointer or the new one, never a partially-written file.
    val tmp = new java.io.File(dir, s"_CURRENT.tmp$next")
    java.nio.file.Files.write(tmp.toPath, s"v$next".getBytes)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, "_CURRENT").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Projected read: only `date` + the requested codes that exist reach the
    * scan (parquet column pruning). Reference `perustats/BCRP/cache.py:119-141`. */
  def load(freq: String, start: String, end: String, codes: Seq[String]): DataFrame = {
    val dir = tableDir(freq, start, end)
    val v = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no cache table for ($freq,$start,$end)"))
    val df = read(new java.io.File(dir, v))
    val available = df.columns.toSet
    val wanted = codes.filter(available.contains)
    df.select(("date" +: wanted).map(col): _*)
  }
}
