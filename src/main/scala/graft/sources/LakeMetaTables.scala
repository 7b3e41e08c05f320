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
  * Both are served as driver rows: `$files` lists the version's
  * manifest entries — segment refs expanded, from the same cached
  * entries scan planning uses — and `$history` reads the commit log's
  * per-version operation labels (bounded by version count). `$files`
  * composes with `VERSION AS OF`. */
object LakeMetaTables {

  val filesSchema: StructType = StructType(Seq(
    StructField("f", StringType),
    StructField("stats_json", StringType)))

  val historySchema: StructType = StructType(Seq(
    StructField("version", LongType),
    StructField("operation", StringType),
    StructField("files", LongType)))
}

/** A metadata table whose rows are computed on the driver at scan
  * planning and served as one partition. */
abstract class DriverRowsTable(tableName: String, tableSchema: StructType)
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema

  /** The rows, computed when the scan plans. */
  protected def rows(spark: SparkSession): Array[InternalRow]

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = tableSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(DriverRowsPartition(rows(SparkSession.active)))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(
              p: InputPartition): PartitionReader[InternalRow] = {
            val rs = p.asInstanceOf[DriverRowsPartition].rows
            new PartitionReader[InternalRow] {
              private var i = -1
              override def next(): Boolean = { i += 1; i < rs.length }
              override def get(): InternalRow = rs(i)
              override def close(): Unit = ()
            }
          }
        }
    }
}

final case class DriverRowsPartition(rows: Array[InternalRow])
  extends InputPartition

/** `$files`: the version's manifest entries, segment refs expanded. */
final class LakeFilesTable(path: String, version: Option[Long])
  extends DriverRowsTable(s"graft-lake:$path$$files",
    LakeMetaTables.filesSchema) {
  override protected def rows(spark: SparkSession): Array[InternalRow] =
    Versioned.manifestEntries(spark, path,
      Versioned.resolveVersion(spark, path, version)).map { case (f, sj) =>
      InternalRow(UTF8String.fromString(f),
        sj.map(UTF8String.fromString).orNull)
    }.toArray
}

/** `$history`: the commit log as rows (bounded by version count). */
final class LakeHistoryTable(path: String)
  extends DriverRowsTable(s"graft-lake:$path$$history",
    LakeMetaTables.historySchema) {
  override protected def rows(spark: SparkSession): Array[InternalRow] =
    Versioned.history(spark, path).map(ci =>
      InternalRow(ci.version, UTF8String.fromString(ci.operation),
        ci.nFiles)).toArray
}
