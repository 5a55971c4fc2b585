package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.{ChangeFeed, Manifest}

/** A [[graft.ops.Manifest]] table as a genuine Structured Streaming
  * SOURCE — the Delta streaming-source shape: offsets are table VERSIONS
  * (the commit log is the replay log), the first batch is the table
  * snapshot as of the stream's start, and every later batch is exactly
  * the rows APPENDED by the versions in `(start, end]`. Downstream
  * pipelines `readStream` a table another pipeline writes, with
  * exactly-once end-to-end when the sink is idempotent per batch (the
  * house `commitOnce` sinks): offsets live in the checkpoint, and a
  * replayed range re-reads the same manifests — versions are immutable.
  *
  * At 100 TB the per-trigger cost is the point: a trigger reads ONE
  * manifest head (driver-side, KB) to discover new versions, and each
  * batch scans only the files those versions ADDED — never the table.
  * The batch plan is a plain parquet `LogicalRelation`
  * ([[Bridge.streamingParquetScan]]), so the streaming query's filters
  * and projections push into the scan exactly as in batch.
  *
  * NON-APPEND commits (copy-on-write rewrites/compactions, deletion-
  * vector deletes/updates, restores) change or remove rows already
  * served, which a pure tail cannot represent: the stream FAILS LOUDLY
  * at that version by default — the Delta contract — or skips those
  * commits entirely under `skipChangeCommits=true` (compactions skip
  * losslessly: their rows were already served from the original files;
  * deletes/updates skip by design — the tail keeps what it saw).
  *
  * The schema is pinned per run at source creation (the head's recorded
  * schema); older files missing later-added columns read as nulls,
  * exactly like the batch reader. A mid-stream schema commit that ADDS
  * columns fails the stream loudly (restart to pin the evolved schema;
  * `ignoreAddedColumns=true` accepts the documented drop instead).
  *
  * ADMISSION CONTROL: `maxFilesPerTrigger=N` (and its bytes twin
  * `maxBytesPerTrigger`) bound each catch-up trigger to whole versions
  * totaling ≤ N added files / bytes (≥ 1 version per trigger so an
  * oversized commit still drains) — a stream restarted far behind
  * catches up in bounded batches instead of one backlog-sized batch.
  * A tail that fell behind VACUUM retention fails with the recovery
  * contract spelled out (fresh-checkpoint snapshot, or startingVersion
  * at a retained version).
  */
class TableStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The SINK half — `writeStream.format("graft.sources.
    * TableStreamProvider").start(<tablePath>)`: every micro-batch
    * appends to the Manifest table EXACTLY-ONCE via the (appId,
    * batchId) txn stamp ([[Manifest.commitOnce]] — a replayed batch
    * after checkpoint recovery publishes nothing), with the skip-empty
    * contract (an empty batch publishes no version). Paired with the
    * source half, `readStream(up) → writeStream(down)` is end-to-end
    * exactly-once table replication with no user code. Append-only by
    * design: aggregation output modes need a merge, which is
    * `foreachBatch` + `Merge.upsertOnce` territory. Options:
    * `txnAppId` (namespace the stamp when several queries feed one
    * table), `statsCols` (record per-file min/max for data skipping). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink takes no partition columns — the manifest (and " +
        "its per-file stats) is the layout")
    require(outputMode == OutputMode.Append(),
      s"graft-table sink is append-only, got $outputMode — " +
        "aggregation modes need foreachBatch + Merge")
    new TableStreamSink(pathOf(parameters),
      parameters.getOrElse("txnAppId", "graft_table_sink"),
      parameters.get("statsCols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-table stream needs .load(<tablePath>)"))

  private def pinnedSchema(tablePath: String): StructType = {
    val head = Manifest.at(tablePath)
    require(head.version > 0,
      s"graft-table stream: no committed version at $tablePath — the " +
        "table must exist before the stream starts (the pinned schema " +
        "and the initial snapshot both come from its head)")
    head.schema
  }

  private def cdc(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.trim.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(pinnedSchema(pathOf(parameters)))
    (shortName(),
      if (cdc(parameters)) TableStreamSource.cdcSchema(base) else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    // `schema` here is what sourceSchema returned — in CDC mode that is
    // the tagged schema; the source wants the BASE table schema and
    // re-derives the tagged one itself
    val base = if (cdc(parameters)) pinnedSchema(path)
      else schema.getOrElse(pinnedSchema(path))
    // startingVersion (the Delta option): serve only commits AFTER this
    // version — no initial snapshot. 'latest' = the head at stream
    // creation, i.e. "only data from now on".
    val startAfter = parameters.get("startingVersion").map(_.trim).map {
      case s if s.equalsIgnoreCase("latest") => Manifest.version(path)
      case s => try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"startingVersion must be a version number or 'latest', got '$s'")
      }
    }
    // maxFilesPerTrigger (the Delta option): ADMISSION CONTROL for the
    // tail — a stream restarted N versions behind catches up in bounded
    // batches (whole versions, cumulative added-file count per trigger)
    // instead of serving the entire backlog as one OOM-sized batch
    def positive(opt: String): Option[Long] =
      parameters.get(opt).map { s =>
        val n = try s.trim.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$opt must be a positive integer, got '$s'")
        }
        require(n > 0, s"$opt must be positive, got $n")
        n
      }
    new TableStreamSource(sqlContext, path, base,
      parameters.get("skipChangeCommits").exists(_.trim.toBoolean),
      readChangeFeed = cdc(parameters),
      keyCols = parameters.get("keyCols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      startAfter = startAfter,
      maxFilesPerTrigger = positive("maxFilesPerTrigger"),
      maxBytesPerTrigger = positive("maxBytesPerTrigger"),
      ignoreAddedColumns =
        parameters.get("ignoreAddedColumns").exists(_.trim.toBoolean))
  }
}

/** See [[TableStreamProvider.createSink]]. */
class TableStreamSink(tablePath: String, appId: String,
    statsCols: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the handed frame wraps the micro-batch's incremental execution —
    // re-wrap as a plain batch frame before the batch write path
    val batch = Bridge.batchWrap(data)
    if (!batch.isEmpty)
      Manifest.commitOnce(batch, tablePath, appId, batchId,
        statsCols = statsCols)
    ()
  }

  override def toString: String = s"TableStreamSink[$tablePath]"
}

object TableStreamSource {
  /** CDC-mode output schema: the Delta CDF column convention —
    * `_commit_version`, `_change_type`, then the table's columns. */
  def cdcSchema(base: StructType): StructType = StructType(
    StructField(ChangeFeed.VersionCol, LongType, nullable = false) +:
    StructField(ChangeFeed.TypeCol, StringType, nullable = false) +:
    base.fields)
}

/** See [[TableStreamProvider]]. One instance per streaming query run.
  *
  * `readChangeFeed = true` switches the source to CDC MODE — the Delta
  * CDF streaming shape, which serves what the plain tail refuses: batch
  * 1 is the snapshot tagged as inserts, and every later batch is the
  * CHANGE IMAGES of the versions in `(start, end]`
  * ([[graft.ops.ChangeFeed.changes]] — appended rows as inserts,
  * deletion-vector deltas as deletes, rewrites as key-diffed
  * update/insert/delete images via `keyCols`, writer-flagged
  * compactions as nothing). A downstream applier that reduces each
  * batch to latest-change-per-key and applies upserts + deletes
  * maintains an exact replica THROUGH deletes and updates. */
class TableStreamSource(sqlContext: SQLContext, tablePath: String,
    baseSchema: StructType, skipChangeCommits: Boolean,
    readChangeFeed: Boolean = false, keyCols: Seq[String] = Seq.empty,
    startAfter: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    ignoreAddedColumns: Boolean = false)
    extends Source {

  override val schema: StructType =
    if (readChangeFeed) TableStreamSource.cdcSchema(baseSchema)
    else baseSchema

  private def spark = sqlContext.sparkSession

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  private def abs(rel: String): String =
    Paths.get(tablePath).resolve(rel).toString

  // Highest version this run has served or offered — the admission
  // baseline. Recovered from the checkpointed offsets via getBatch /
  // commit after a restart (both fire before the next fresh trigger
  // whenever an uncommitted batch exists, which is the recovery case
  // admission control is for).
  private var lastOffered: Long = -1L

  // per-run memo of each version's (added-file count, added bytes) for
  // the admission walk (versions are immutable for the lifetime of a
  // source instance). Bytes come from the manifest's own `#filebytes.`
  // lines — the commit recorded them while the files were written, so
  // a long catch-up admission walk is PURE metadata I/O (zero storage
  // HEAD requests); files from pre-recording writers fall back to one
  // driver-side stat each, once per run.
  private val addedSizes =
    scala.collection.mutable.Map.empty[Long, (Long, Long)]

  private def addedSizeOf(v: Long): (Long, Long) =
    addedSizes.getOrElseUpdate(v, {
      val d = deltaAt(v)
      val bytes =
        if (maxBytesPerTrigger.isEmpty) 0L
        else d.added.map { rel =>
          d.meta.get(s"${Manifest.FileBytesPrefix}$rel")
            .map(_.toLong).getOrElse {
              try java.nio.file.Files.size(
                Paths.get(tablePath).resolve(rel))
              catch { case _: java.io.IOException => 0L }
            }
        }.sum
      (d.added.size.toLong, bytes)
    })

  /** Translate a vacuumed-version failure anywhere in batch
    * construction into the recovery contract (a tail that fell behind
    * the table's retention cannot resume in place). */
  private def vacuumGuard[T](body: => T): T =
    try body
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null &&
            e.getMessage.contains("not committed") =>
        val oldest = Manifest.committedVersions(tablePath)
          .headOption.getOrElse(0L)
        throw new IllegalStateException(
          s"graft-table stream on $tablePath: a version this stream's " +
            "position needs was VACUUMED — the tail cannot resume in " +
            "place. Recover by (a) restarting with a FRESH checkpoint " +
            "(the first batch re-serves the current snapshot), or (b) " +
            "setting startingVersion to a retained version (oldest " +
            s"retained: $oldest) on a fresh checkpoint, accepting the " +
            "gap.", e)
    }

  private def deltaAt(v: Long): Manifest.CommitDelta =
    vacuumGuard(Manifest.delta(tablePath, v))

  /** Fail loudly when version `v` recorded a schema that ADDS columns
    * over the pinned run schema — served batches would silently DROP
    * the new columns until a restart (the Delta contract is to stop and
    * ask for one). `ignoreAddedColumns=true` documents the drop
    * instead. A TYPE change of a pinned column (the opt-in widening
    * evolution) always fails loudly — the new files cannot be read
    * under the pinned narrower type at all, so there is nothing to
    * opt into except a restart. */
  private def checkSchema(v: Long, d: Manifest.CommitDelta): Unit =
    d.meta.get(Manifest.SchemaKey).foreach { json =>
      val recorded = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
      val pinnedTypes = baseSchema.fields
        .map(f => f.name -> f.dataType).toMap
      val retyped = recorded.fields.filter(f =>
        pinnedTypes.get(f.name).exists(_ != f.dataType))
      if (retyped.nonEmpty) throw new IllegalStateException(
        s"graft-table stream on $tablePath: version $v changed the " +
          "TYPE of pinned column(s) " +
          retyped.map(f =>
            s"${f.name} (${pinnedTypes(f.name)} -> ${f.dataType})")
            .mkString(", ") +
          " (type-widening evolution) — files written under the new " +
          "type cannot be served under this stream's pinned schema. " +
          "RESTART the stream to pin the widened schema (the " +
          "checkpoint keeps its position).")
      if (!ignoreAddedColumns) {
        val added = recorded.fieldNames
          .filterNot(baseSchema.fieldNames.contains)
        if (added.nonEmpty) throw new IllegalStateException(
          s"graft-table stream on $tablePath: version $v evolved the " +
            s"table schema (added column(s) ${added.mkString(", ")}), " +
            "but this stream's schema was pinned at start — serving on " +
            "would silently drop the new column(s) from every batch. " +
            "RESTART the stream to pin the evolved schema (the " +
            "checkpoint keeps its position), or set " +
            "ignoreAddedColumns=true to accept the documented drop.")
      }
    }

  override def getOffset: Option[Offset] = {
    val head = Manifest.version(tablePath)
    if (head <= 0) return None
    val limited =
      if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) head
      else {
        val base = if (lastOffered >= 0) lastOffered
          else startAfter.getOrElse(-1L)
        if (base < 0 || base >= head) head
        else {
          // admit whole versions until the cumulative added-file count
          // or byte size passes its cap — always at least one version,
          // so a single oversized commit still drains (Delta's
          // semantics). Sizes memoize per run (committed versions are
          // immutable), so a long catch-up reads each backlog manifest
          // (and stats its files) once, not once per trigger.
          var v = base
          var files = 0L
          var bytes = 0L
          var stop = false
          while (!stop && v < head) {
            val (f, b) = addedSizeOf(v + 1)
            files += f; bytes += b
            val over = maxFilesPerTrigger.exists(files > _) ||
              maxBytesPerTrigger.exists(bytes > _)
            if (over && v > base) stop = true
            else v += 1
          }
          v
        }
      }
    lastOffered = math.max(lastOffered, limited)
    Some(LongOffset(limited))
  }

  override def commit(end: Offset): Unit = {
    lastOffered = math.max(lastOffered, ver(end))
  }

  override def getBatch(start: Option[Offset],
      end: Offset): DataFrame = vacuumGuard {
    val endV = ver(end)
    lastOffered = math.max(lastOffered, endV)
    // startingVersion turns the would-be snapshot batch into a plain
    // version walk from that point (no snapshot is ever served)
    val effStart = start.map(ver).orElse(startAfter)
    if (readChangeFeed) getCdcBatch(effStart, endV)
    else effStart match {
      case None =>
        // initial batch = the snapshot as of endV. A version with
        // deletion vectors in force snapshots through the DV-applied
        // read (join-shaped, so it rides the streaming tag as an RDD
        // boundary); the common DV-less case stays a pure pushdown-
        // capable parquet relation. Unbounded by maxFilesPerTrigger by
        // design (one snapshot = one batch; use startingVersion to
        // skip it).
        val snap = Manifest.at(tablePath, endV)
        if (snap.dv.isEmpty)
          Bridge.streamingParquetScan(spark, baseSchema,
            snap.files.map(abs))
        else
          Bridge.streamingWrap(snap.read(spark)
            .select(baseSchema.fieldNames.map(col).toSeq: _*))
      case Some(startV) =>
        // incremental DELTA WALK: one small manifest read per version —
        // never a snapshot re-resolution per version served
        val added = (math.max(startV, 0L) + 1 to endV).flatMap { v =>
          val d = deltaAt(v)
          checkSchema(v, d)
          val pureAppend = !d.replace && d.removed.isEmpty &&
            d.dvSet.isEmpty
          if (pureAppend) d.added
          else if (skipChangeCommits) Seq.empty
          else throw new IllegalStateException(
            s"graft-table stream on $tablePath: version $v is not a " +
              "pure append (" +
              (if (d.replace) "replace/restore commit"
               else if (d.removed.nonEmpty)
                 s"${d.removed.size} file(s) removed"
               else "deletion-vector state changed") +
              ") — a tail cannot represent rows changing after they " +
              "were served; set skipChangeCommits=true to skip such " +
              "commits, or readChangeFeed=true to receive them as " +
              "change images")
        }
        Bridge.streamingParquetScan(spark, baseSchema, added.map(abs))
    }
  }

  /** CDC-mode batches (see class doc). Both shapes are join-bearing
    * plans, so they ride the streaming tag as an RDD boundary
    * ([[Bridge.streamingWrap]]); the column order is pinned to
    * [[TableStreamSource.cdcSchema]]. */
  private def getCdcBatch(startV: Option[Long], endV: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    // pre-walk the range's deltas (small reads): surface the vacuumed-
    // version recovery contract and the pinned-schema drop LOUDLY here,
    // before ChangeFeed silently pads the batch to the pinned columns
    startV.foreach { s =>
      (math.max(s, 0L) + 1 to endV).foreach { v =>
        checkSchema(v, deltaAt(v))
      }
    }
    val ordered = (df: DataFrame) => df.select(
      (col(ChangeFeed.VersionCol).cast("long") +:
        col(ChangeFeed.TypeCol) +:
        baseSchema.fieldNames.map(col).toSeq): _*)
    val batch = startV match {
      case None =>
        Manifest.read(spark, tablePath, endV)
          .withColumn(ChangeFeed.VersionCol, lit(endV))
          .withColumn(ChangeFeed.TypeCol, lit("insert"))
      case Some(s) if s >= endV =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          TableStreamSource.cdcSchema(baseSchema))
      case Some(s) =>
        ChangeFeed.changes(spark, tablePath, s, endV, keyCols)
    }
    Bridge.streamingWrap(ordered(batch))
  }

  override def stop(): Unit = ()

  override def toString: String = s"TableStreamSource[$tablePath]"
}
