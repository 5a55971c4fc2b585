package graft.queries

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec
import graft.cache.ParquetCache

/** `Bridge.footerSchema` is a driver-side stand-in for Spark's schema
  * inference: it must return exactly the schema `spark.read.parquet`
  * infers, under either `nanosAsLong` setting, and run no Spark job. */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("footerSchema equals the inferred schema for every input table at " +
    "sf0.001 and sf0.01, with nanosAsLong on and off") {
    val sf001 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01")
    for (dir <- Seq(sf, sf001.getPath);
         nanos <- Seq("true", "false"); t <- tables)
      withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
        val p = s"$dir/$t.parquet"
        assert(Bridge.footerSchema(spark, p) == spark.read.parquet(p).schema,
          s"$p nanosAsLong=$nanos")
      }
  }

  test("footerSchema equals the inferred schema of a multi-file " +
    "ParquetCache version written by a save that adds a column") {
    val root = QueryDSL.scratch("footer_cache", sf)
    QueryDSL.wipe(root)
    val c = new ParquetCache(spark, root)
    c.save("M", "2020", "2021",
      Seq(("2020-01-01", 1.0), ("2020-02-01", 2.0)).toDF("date", "A1"))
    withConf("spark.sql.files.maxRecordsPerFile", "1") {
      c.save("M", "2020", "2021",
        Seq(("2020-02-01", 3.0, 7L), ("2020-03-01", 4.0, 8L))
          .toDF("date", "A1", "B2"))
    }
    val v1 = new java.io.File(root, "sr_M_2020_2021/v1")
    val files = v1.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length > 1, files.mkString(", "))
    val schema = Bridge.footerSchema(spark, v1.getPath)
    assert(schema == spark.read.parquet(v1.getPath).schema)
    assert(schema.fieldNames.toSeq == Seq("date", "A1", "B2"))
    assert(c.cachedCodes("M", "2020", "2021") == Seq("A1", "B2"))
  }

  test("T, events, the events-stream probe and footerSchema run no " +
    "Spark job; a bare inferring read runs one") {
    assert(jobsDuring {
      QueryDSL.T(spark, sf, "lineitem")
      QueryDSL.events(spark, sf)
      graft.streaming.Streams.readEventsStream(spark, sf)
      Bridge.footerSchema(spark, sf, "orders.parquet")
    } == 0)
    // the listener does see the inference job the helper replaces
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet")) == 1)
  }

  test("a partitioned directory and a directory with no matching file " +
    "both throw") {
    val dir = QueryDSL.scratch("footer_partitioned", sf)
    QueryDSL.wipe(dir)
    Seq((1L, "a"), (2L, "b")).toDF("k", "p")
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException](
      Bridge.footerSchema(spark, dir))
    assert(e.getMessage.contains("p=a"), e.getMessage)
    intercept[AnalysisException](
      Bridge.footerSchema(spark, sf, "no_such_*.parquet"))
    intercept[AnalysisException](
      Bridge.footerSchema(spark, s"$sf/no_such_table.parquet"))
  }
}
