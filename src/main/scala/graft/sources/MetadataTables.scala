package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Marker table [[GraftCatalog]] returns for a version that carries
  * DELETION VECTORS: it resolves with the right name and schema (so
  * analysis, column references and star-expansion all work), and
  * [[graft.plans.DvReadRewrite]] — injected by `graft.GraftExtensions`
  * — replaces its relation with the DV-applied read of the snapshot
  * the catalog resolved (`snapshot.read`) during analysis.
  * Any scan attempt that ESCAPES the rewrite (extensions not
  * installed) fails loudly here instead of serving the raw files:
  * silently resurrecting deleted rows is the one unacceptable
  * behavior. */
final class DvMarkedTable(tableName: String,
    val snapshot: graft.ops.Manifest.Snapshot) extends Table
    with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = snapshot.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      s"version ${snapshot.version} of ${snapshot.tablePath} carries " +
        "deletion vectors; SQL reads need the DV rewrite rule — install " +
        "graft.GraftExtensions " +
        "(spark.sql.extensions=graft.GraftExtensions at session build) " +
        "or read through Manifest.read. Refusing the raw scan: it would " +
        "resurrect deleted rows.")
}

/** A tiny driver-computed metadata table served through DSv2 — the
  * vehicle for `SELECT * FROM graft.t.history` (the Delta/Iceberg
  * metadata-table convention). Rows are Catalyst [[InternalRow]]s
  * computed once at resolution (history is pure manifest metadata,
  * O(versions) driver work) and shipped to executors in ONE input
  * partition — correct for audit surfaces, never for data. */
final class MetadataRowsTable(tableName: String, tableSchema: StructType,
    rows: Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = tableSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(MetadataRowsPartition(rows))
      override def createReaderFactory(): PartitionReaderFactory =
        new MetadataRowsReaderFactory
      override def description(): String = s"graft metadata: $tableName"
    }
}

private case class MetadataRowsPartition(rows: Array[InternalRow])
  extends InputPartition

private class MetadataRowsReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[MetadataRowsPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
  }
}
