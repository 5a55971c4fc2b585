package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal private-API bridge between graft's custom Catalyst expressions and
  * the public `Column` surface. This is the standard pattern used by Spark
  * extension libraries (a single object placed under `org.apache.spark.sql`
  * to reach `private[sql]` members); everything else in graft stays on public
  * API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over an already-analyzed logical plan (the SQL-DML
    * command path: re-execute a MERGE statement's source query). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function into a LIVE session (the extensions conf only
    * applies at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** Resolve a registered catalog plugin by name (the SQL maintenance
    * commands resolve their graft catalog at run time — the parser
    * that produced them cannot see catalogs). */
  def catalog(spark: org.apache.spark.sql.SparkSession, name: String)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.catalog(name)

  /** The schema `spark.read.parquet(path)` infers, read from ONE parquet
    * footer on the driver: Spark's inference runs a one-task footer job
    * on every read, this runs none. Spark's own footer conversion reads
    * the CURRENT session conf (nanosAsLong, NTZ inference, int96), and the
    * result is nullable as every file relation's schema is. The file is
    * Spark's non-merge choice: `path` itself, or for a flat directory the
    * first visible file in path order whose name matches `glob` (names
    * starting with `_` or `.` are hidden). A directory with subdirectories
    * (a partitioned layout) throws, with no fallback to inference; a
    * missing path or no matching file throws Spark's own PATH_NOT_FOUND /
    * UNABLE_TO_INFER_SCHEMA. */
  def footerSchema(spark: org.apache.spark.sql.SparkSession, path: String,
      glob: String = "*"): org.apache.spark.sql.types.StructType = {
    import org.apache.hadoop.fs.{GlobFilter, Path}
    import org.apache.spark.sql.errors.QueryCompilationErrors
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status =
      try fs.getFileStatus(root)
      catch {
        case _: java.io.FileNotFoundException =>
          throw QueryCompilationErrors.dataPathNotExistError(path)
      }
    val file =
      if (status.isFile) status
      else {
        val visible = fs.listStatus(root).filterNot { f =>
          val n = f.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        val dirs = visible.filter(_.isDirectory)
        if (dirs.nonEmpty)
          throw new IllegalArgumentException(s"footerSchema reads flat " +
            s"directories only; $path has subdirectories " +
            dirs.map(_.getPath.getName).sorted.mkString("[", ", ", "]"))
        val matches = new GlobFilter(glob)
        visible.filter(f => matches.accept(f.getPath))
          .minByOption(_.getPath.toString)
          .getOrElse(throw QueryCompilationErrors
            .dataSchemaNotSpecifiedError("Parquet"))
      }
    // explicit read options: the one-argument open builds a fresh Hadoop
    // Configuration per call
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** A STREAMING-tagged parquet scan over explicit files, for a v1
    * streaming `Source.getBatch`: the plan is the same `LogicalRelation`
    * a batch `spark.read.parquet` produces — so column pruning and
    * filter pushdown from the surrounding streaming query reach the
    * parquet reader — but carries `isStreaming = true`, which
    * `MicroBatchExecution` asserts on every v1 batch. This is exactly
    * how Spark's own `FileStreamSource` (and Delta's streaming source)
    * builds its batches. Empty file list ⇒ an empty streaming frame of
    * the same schema. */
  def streamingParquetScan(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (paths.isEmpty)
      cs.internalCreateDataFrame(
        cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
        schema, isStreaming = true)
    else {
      val rel = org.apache.spark.sql.execution.datasources.DataSource(
        sparkSession = cs,
        className = "parquet",
        paths = paths,
        userSpecifiedSchema = Some(schema))
        .resolveRelation(checkFilesExist = false)
      org.apache.spark.sql.classic.Dataset.ofRows(cs,
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel, isStreaming = true))
    }
  }

  /** Wrap an arbitrary BATCH frame as a streaming-tagged one (RDD
    * boundary — the surrounding query can no longer push into it; used
    * only where the batch plan is already join-shaped, e.g. a
    * deletion-vector-applied snapshot). */
  def streamingWrap(batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = batch.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(batch.queryExecution.toRdd, batch.schema,
      isStreaming = true)
  }

  /** The inverse of [[streamingWrap]], for a v1 `Sink.addBatch`: the
    * frame Spark hands a sink wraps the micro-batch's ALREADY-PLANNED
    * incremental execution (and may still carry streaming-tagged
    * leaves) — re-wrap its RDD as a plain batch frame before handing it
    * to batch writers, exactly how Spark's own `ForeachBatchSink`
    * prepares the user-visible frame. */
  def batchWrap(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = data.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(data.queryExecution.toRdd, data.schema,
      isStreaming = false)
  }
}
