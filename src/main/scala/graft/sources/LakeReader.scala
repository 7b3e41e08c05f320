package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Versioned

/** One lake file plus the row positions its deletion vector voids,
  * sorted ascending. */
final case class LakeInputPartition(file: String,
    dvPositions: Array[Long]) extends InputPartition

/** The one reader of lake data files: every read of the DataFrame
  * API ([[graft.ops.Versioned.read]] and the engine's internal
  * reads), SQL, streaming and row-level DML decodes here, into
  * `InternalRow`s of the requested LOGICAL schema, through Spark's
  * own `ParquetFileFormat`. It is the only place that maps columns,
  * fills partition values and skips deleted positions. The reader
  * function is built ONCE per scan on the driver; each
  * [[LakeInputPartition]] becomes a `PartitionedFile`.
  *
  * Per field: the file's column under the field's PHYSICAL name
  * (column mapping; rows are positional, so logical names come for
  * free), else — when the file lacks it, as partitioned writes never
  * store their partition column — the file's partition directory
  * segment, else NULL (additive schema evolution). The row index
  * Spark's reader computes is exactly the identity
  * [[graft.ops.Versioned]]'s deletion vectors key on, so deleted
  * positions are skipped by walking the sorted vector with a cursor.
  * No data filter is passed: file pruning stays in the manifest. */
final class LakeReaderFactory private (schema: StructType,
    read: PartitionedFile => Iterator[InternalRow], timeZone: String)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val lp = p.asInstanceOf[LakeInputPartition]
    val file = PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(lp.file), 0L, Long.MaxValue)
    new LakePartitionReader(lp.file, lp.dvPositions, schema,
      read(file), timeZone)
  }
}

object LakeReaderFactory {

  /** The reader row's row-index column, after the data fields. It
    * must be nullable: a required column absent from the file fails
    * the scan with "Required column is missing". */
  private val rowIndex = StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
    nullable = true)

  /** The requested fields the file supplies (everything but the
    * row-id metadata columns), under their physical names. */
  private[sources] def dataFields(schema: StructType): Seq[StructField] =
    schema.fields.toSeq
      .filterNot(f => f.name == LakeRowLevel.FileCol ||
        f.name == LakeRowLevel.PosCol)
      .map(f => f.copy(name = Versioned.physicalNameOf(f), nullable = true))

  def apply(spark: SparkSession, schema: StructType): LakeReaderFactory = {
    val required = StructType(dataFields(schema) :+ rowIndex)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, required, StructType(Nil), required, Seq.empty,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    new LakeReaderFactory(schema, read,
      spark.sessionState.conf.sessionLocalTimeZone)
  }
}

final class LakePartitionReader(file: String, dv: Array[Long],
    schema: StructType, rows: Iterator[InternalRow], timeZone: String)
  extends PartitionReader[InternalRow] {

  private val FileSlot = -1
  private val PosSlot = -2

  /** Per output field, its ordinal in the reader row (or a slot). */
  private val source: Array[Int] = {
    var next = 0
    schema.fields.map { f =>
      if (f.name == LakeRowLevel.FileCol) FileSlot
      else if (f.name == LakeRowLevel.PosCol) PosSlot
      else { next += 1; next - 1 }
    }
  }

  private val posOrdinal = source.count(_ >= 0)

  private val types = schema.fields.map(_.dataType)

  /** Partition-directory value per field (null when the file has no
    * segment for it), parsed once per file from the file KEY only. */
  private val partValue: Array[Any] = {
    val segs = Versioned.partitionSegmentsOf(file)
    schema.fields.map { f =>
      segs.get(ExternalCatalogUtils.escapePathName(
          Versioned.physicalNameOf(f))) match {
        case Some(raw0) =>
          val raw = ExternalCatalogUtils.unescapePathName(raw0)
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else Cast(Literal(raw), f.dataType, Some(timeZone)).eval()
        case None => null
      }
    }
  }

  // the file's manifest KEY — the deletion vectors' own keying
  private val fileKeyStr =
    UTF8String.fromString(Versioned.fileKeyOf(file))

  private val out = new GenericInternalRow(schema.length)
  private var cur: InternalRow = _
  private var d = 0

  override def next(): Boolean = {
    while (rows.hasNext) {
      cur = rows.next()
      val pos = cur.getLong(posOrdinal)
      while (d < dv.length && dv(d) < pos) d += 1
      if (d == dv.length || dv(d) != pos) return true
    }
    false
  }

  override def get(): InternalRow = {
    var i = 0
    while (i < source.length) {
      val j = source(i)
      out.update(i,
        if (j == FileSlot) fileKeyStr
        else if (j == PosSlot) cur.getLong(posOrdinal)
        else if (cur.isNullAt(j)) partValue(i)
        else cur.get(j, types(i)))
      i += 1
    }
    out
  }

  override def close(): Unit = rows match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }
}
