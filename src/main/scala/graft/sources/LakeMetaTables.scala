package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Versioned

/** Iceberg-style metadata tables over the lake, addressed through
  * [[LakeCatalog]] with a `$`-suffix (the Iceberg/Delta convention):
  *
  * {{{
  * SELECT * FROM lake.`/data/events$files`    -- (f, stats_json)
  * SELECT * FROM lake.`/data/events$history`  -- (version, operation, files)
  * }}}
  *
  * `$files` is served by scanning the version's parquet MANIFEST
  * itself — metadata as data: one task per manifest part file, no
  * driver materialization, so listing a million-file table
  * parallelizes like any other scan. `$history` reads the commit
  * log's per-version operation labels (bounded by version count).
  * Both compose with `VERSION AS OF`. */
object LakeMetaTables {

  val filesSchema: StructType = StructType(Seq(
    StructField("f", StringType),
    StructField("stats_json", StringType)))

  val historySchema: StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("operation", StringType),
    StructField("files", LongType)))
}

/** `$files`: the manifest's own parquet parts through the lake's
  * reader. */
final class LakeFilesTable(path: String, version: Option[Long])
  extends Table with SupportsRead {

  override def name(): String = s"graft-lake:$path$$files"
  override def schema(): StructType = LakeMetaTables.filesSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = LakeMetaTables.filesSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val spark = SparkSession.active
        val v = Versioned.resolveVersion(spark, path, version)
        val parts = Versioned.manifestPartFiles(spark, path, v)
        require(parts.nonEmpty,
          s"$$files needs a parquet manifest: $path v$v is legacy text")
        parts.map(f =>
          LakeInputPartition(f, Array.empty): InputPartition).toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        LakeReaderFactory(SparkSession.active, LakeMetaTables.filesSchema)
    }
}

/** `$history`: the commit log as rows (bounded by version count). */
final class LakeHistoryTable(path: String) extends Table with SupportsRead {

  override def name(): String = s"graft-lake:$path$$history"
  override def schema(): StructType = LakeMetaTables.historySchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = LakeMetaTables.historySchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val spark = SparkSession.active
        val rows = Versioned.history(spark, path)
          .map(ci => (ci.version, ci.operation, ci.nFiles)).toArray
        Array(HistoryPartition(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(
              p: InputPartition): PartitionReader[InternalRow] = {
            val rows = p.asInstanceOf[HistoryPartition].rows
            new PartitionReader[InternalRow] {
              private var i = -1
              override def next(): Boolean = { i += 1; i < rows.length }
              override def get(): InternalRow = {
                val (v, op, nf) = rows(i)
                InternalRow(v, UTF8String.fromString(op), nf)
              }
              override def close(): Unit = ()
            }
          }
        }
    }
}

final case class HistoryPartition(rows: Array[(Long, String, Long)])
  extends InputPartition
