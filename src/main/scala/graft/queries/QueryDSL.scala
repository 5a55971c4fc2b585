package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** One declared operator query: a Spark pipeline plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver replays at sf0.01.
  */
case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object QueryDSL {

  /** DuckDB twin of `textstats.tokens` — THE tokenizer contract every
    * text oracle shares (whitespace split of the lowercased text, empties
    * dropped). ONE definition: a drifting copy would silently break
    * exactly the cross-engine match the oracle exists to pin. */
  val sqlToks: String =
    """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""

  /** Load a driver testdata table from the given scale-factor directory.
    * The schema comes from the table's parquet footer, read on the driver
    * ([[org.apache.spark.sql.graftbridge.Bridge.footerSchema]]): a bare
    * `spark.read.parquet` would run Spark's one-task schema-inference job
    * on every call. */
  def T(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Bridge.footerSchema(spark, path)).parquet(path)
  }

  /** Collision-resistant tag for an input dir, safe in catalog table and
    * streaming-query names. Replaces `dir.hashCode.abs`, whose Int range
    * collides across sf dirs sharing a metastore and whose .abs is
    * negative for Int.MinValue (an invalid identifier character). */
  def dirTag(sfDir: String): String =
    graft.functions.hashing.md5Long(sfDir).toHexString.take(8)

  /** Per-(name, input-dir) scratch path for sinks and persisted tables.
    * The input-dir hash suffix keeps two concurrent runs over different sf
    * dirs (the realistic overlap: Verify at sf0.01 while Bench runs sf0.1
    * on one checkout) from racing on a single directory. */
  def scratch(name: String, sfDir: String): String = {
    val suffix = dirTag(sfDir)
    val dir = new java.io.File("/root/repo/target/scratch", s"${name}_$suffix")
    dir.mkdirs()
    dir.getPath
  }

  /** Recursively delete a scratch path (no-op when absent). */
  def wipe(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete()
    }
    val f = new java.io.File(path)
    if (f.exists) rec(f)
  }

  /** The events table: every consumer sees `ts` as BIGINT nanos-since-epoch
    * plus a derived microsecond `ts_utc` timestamp — the same values DuckDB's
    * `epoch_ns(ts)` / `ts::TIMESTAMP` produce, whatever the file's physical
    * type. The generator has shipped `ts` both as TIMESTAMP(NANOS) (read as
    * long via the legacy conf) and as TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ); the timestamp path converts via `timestampdiff` against
    * the NTZ epoch, which is wall-clock arithmetic — no session-timezone
    * dependence, matching DuckDB's treat-naive-as-UTC `epoch_ns`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = T(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long generation
        raw.withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP(MICROS) generation (TIMESTAMP_NTZ in Spark)
        raw
          .withColumn("ts_us", expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"))
          .withColumn("ts", expr("ts_us * 1000L"))
          .withColumn("ts_utc", timestamp_micros(expr("ts_us")))
          .drop("ts_us")
    }
  }

  /** Spread a small-bytes / high-CPU input across the full shuffle-partition
    * width before expensive per-row work (regex tokenization, shingling,
    * hashing). A corpus that arrives as few files otherwise serializes all
    * map-side compute into a handful of input splits; the explicit count
    * pins the exchange so AQE does not coalesce it back (it optimizes for
    * bytes, not CPU). Only valid upstream of order-independent consumers
    * (aggregates, joins) — which every declared query is.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Exact-money cast. All double SUMs go through DECIMAL so the aggregate is
    * exact integer arithmetic — identical in any summation order, on any
    * partitioning, and across engines (Spark vs DuckDB). The final value is
    * cast back to double for a stable hash representation. Raw double sums
    * are partition-order-dependent and would be oracle-unstable.
    */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** DuckDB replay of [[graft.ops.Sampling.temperatureSample]]'s rate
    * derivation over relation `rel` (α = 0.5): group counts → √n weights →
    * rounded rate → integer coin threshold, as CTEs `counts`/`wts`/`tots`/
    * `thr` (thr: (g, thr) with the 2^20 coin scale). The caller applies
    * the coin — `h64(id) % 1048576 < thr` — shared by t17 and e6 so the
    * threshold arithmetic lives in ONE place. */
  def sqlTempMixThresholds(rel: String, groupCol: String,
      targetFrac: Double): String =
    s"""counts AS (
         SELECT $groupCol AS g, count(*) AS n FROM $rel GROUP BY $groupCol),
       wts AS (SELECT g, n,
           round(sqrt(CAST(n AS DOUBLE)), 9) AS w FROM counts),
       tots AS (SELECT
           CAST(sum(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS sw,
           CAST(sum(n) AS DOUBLE) AS nn FROM wts),
       thr AS (SELECT g,
           CAST(floor(round(least(1.0,
             $targetFrac * t.nn * c.w / (t.sw * CAST(c.n AS DOUBLE))), 9)
             * 1048576) AS BIGINT) AS thr
         FROM wts c CROSS JOIN tots t)"""
}
