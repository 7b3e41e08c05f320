package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Versioned

/** Delta-based DSv2 row-level operations — SQL `UPDATE`, `MERGE
  * INTO`, and predicate `DELETE`, planned by Spark's own
  * `RewriteUpdateTable`/`RewriteMergeIntoTable` rewrites and executed
  * MERGE-ON-READ:
  *
  *  - the operation's scan reads the table plus two hidden row-id
  *    metadata columns (`__lake_file` = the file's manifest key,
  *    `__lake_pos` = the row's physical position — exactly the
  *    identity the engine's deletion vectors key on);
  *  - Spark evaluates the statement (condition, SET arithmetic, MERGE
  *    clauses — including its own cardinality check) and streams each
  *    task's row operations into a [[LakeDeltaWriter]]: DELETEs become
  *    (file, pos) pairs in a parquet deletion-vector sidecar, INSERTs
  *    (and updates, represented delete+insert) become staged parquet
  *    row files — both written ON THE EXECUTOR, nothing driver-side;
  *  - the driver commit ([[Versioned.commitRowDelta]]) folds every
  *    task's sidecars into one manifest commit: `dv(cur) ∪ delta`,
  *    `manifest(cur) ∪ staged` — ZERO pre-existing files rewritten,
  *    O(touched rows) write cost, compaction amortizes later.
  *
  * 100 TB story: `UPDATE lake.t SET … WHERE k % 7 = 3` touches a
  * billion rows across a million files without rewriting one of them,
  * with the row-op traffic fanned across the cluster and only file
  * PATHS crossing the driver. This is the same write path Iceberg
  * wires under Spark's row-level API, re-expressed over the engine's
  * own manifest/vector protocol.
  */
object LakeRowLevel {
  /** Hidden row-id metadata columns (Delta's `_metadata`-style
    * identity, keyed the way the engine's deletion vectors are). */
  val FileCol = "__lake_file"
  val PosCol = "__lake_pos"

  val rowIdRefs: Array[NamedReference] =
    Array(Expressions.column(FileCol), Expressions.column(PosCol))

  /** History label per command — receipts pin these. */
  def opNameOf(cmd: RowLevelOperation.Command): String = cmd match {
    case RowLevelOperation.Command.DELETE => "DELETE_SQL"
    case RowLevelOperation.Command.UPDATE => "UPDATE_SQL"
    case RowLevelOperation.Command.MERGE => "MERGE_SQL"
  }
}

final class LakeRowLevelOperationBuilder(path: String,
    tableSchema: StructType, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new LakeDeltaOperation(path, tableSchema, info.command)
}

final class LakeDeltaOperation(path: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command) extends SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(path, None, tableSchema, ignoreChanges = false)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new LakeDeltaWrite(path,
        info.schema(), LakeRowLevel.opNameOf(cmd))
    }

  override def rowId(): Array[NamedReference] = LakeRowLevel.rowIdRefs

  override def requiredMetadataAttributes(): Array[NamedReference] =
    LakeRowLevel.rowIdRefs

  /** Updates ride as DELETE(old id) + INSERT(new image): the vector
    * voids the old row in place, the image stages in a new file —
    * [[Versioned.updateVectored]]'s exact economics. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"graft-lake delta $cmd $path"
}

final class LakeDeltaWrite(path: String, rowSchema: StructType,
    op: String) extends DeltaWrite {

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory = {
      val spark = SparkSession.active
      new LakeDeltaWriterFactory(path, LakeParquetSink(spark, rowSchema),
        LakeParquetSink(spark, Versioned.dvFields))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.filter(_ != null)
        .map(_.asInstanceOf[LakeDeltaMessage])
      val spark = SparkSession.active
      try Versioned.commitRowDelta(spark, path,
        ms.flatMap(_.dataFiles).toSeq, ms.flatMap(_.dvFiles).toSeq, op)
      finally {
        // the DV sidecars are consumed by the commit (folded into the
        // version's vector); drop their staging dirs either way
        val f = new Path(path).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        ms.flatMap(_.dvFiles).foreach(d =>
          f.delete(new Path(d).getParent, true))
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val f = new Path(path).getFileSystem(SparkSession.active
        .sparkContext.hadoopConfiguration)
      messages.filter(_ != null).foreach {
        case m: LakeDeltaMessage =>
          (m.dataFiles ++ m.dvFiles).foreach { p0 =>
            val p = new Path(p0)
            f.delete(p.getParent, true)
          }
        case _ => ()
      }
    }
  }
}

final case class LakeDeltaMessage(dataFiles: Seq[String],
    dvFiles: Seq[String]) extends WriterCommitMessage

final class LakeDeltaWriterFactory(path: String, rows: LakeParquetSink,
    dv: LakeParquetSink) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaTaskWriter(path, rows, dv, partitionId, taskId)
}

/** Per-task row-operation writer: INSERTs stream into one staged
  * parquet row file (the table's `data/gbatch=…` convention), DELETE
  * ids into one parquet (f, pos) sidecar under `_dvstage/` — both
  * created lazily, so a task that only deletes stages no row file and
  * vice versa. Nothing accumulates in JVM memory beyond parquet's own
  * column pages. */
final class LakeDeltaTaskWriter(path: String, rowSink: LakeParquetSink,
    dvSink: LakeParquetSink, partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private var rows: LakeRowWriter = _
  private def rowWriter(): LakeRowWriter = {
    if (rows == null)
      rows = new LakeRowWriter(path, rowSink, s"rl$partitionId-$taskId")
    rows
  }

  private var dvFile: Path = _
  private var dv: OutputWriter = _
  private def dvWriter() = {
    if (dv == null) {
      dvFile = new Path(new Path(path, "_dvstage"),
        s"rl$partitionId-$taskId-${java.util.UUID.randomUUID()
          .toString.take(8)}/part-0.parquet")
      dv = dvSink.open(dvFile)
    }
    dv
  }

  private val dvRow = new GenericInternalRow(2)

  /** `id` rows follow [[LakeRowLevel.rowIdRefs]] order: (file, pos). */
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    dvRow.update(0, id.getUTF8String(0))
    dvRow.setLong(1, id.getLong(1))
    dvWriter().write(dvRow)
  }

  override def insert(row: InternalRow): Unit = rowWriter().write(row)

  /** Never called: updates are represented delete+insert. */
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val dataFiles = if (rows == null) Seq.empty[String] else {
      rows.commit() match {
        case LakeFilesMessage(fs) => fs
        case _ => Seq.empty[String]
      }
    }
    val dvFiles =
      if (dv == null) Seq.empty[String]
      else { dv.close(); Seq(dvFile.toString) }
    LakeDeltaMessage(dataFiles, dvFiles)
  }

  override def abort(): Unit = {
    if (rows != null) rows.abort()
    if (dv != null) {
      dv.close()
      dvFile.getFileSystem(dvSink.conf.value).delete(dvFile.getParent, true)
    }
  }

  override def close(): Unit = ()
}

/** The REAL V2 batch write — executors stage parquet files under the
  * table's convention and report paths in commit messages; the driver
  * turns the messages into one append-commit
  * ([[Versioned.appendStaged]]: stats stamped, CHECK constraints
  * enforced on exactly the staged batch, prior files and the deletion
  * vector carried by reference). Task retry/speculation is safe: each
  * task stages into its own uuid directory, the losing attempt's
  * `abort()` drops its directory, and a crash-orphaned directory is
  * never referenced by any manifest (vacuum sweeps it). Tables whose
  * writes need in-plan machinery (generated/identity columns, column
  * mapping, partition layouts) take the V1 fallback into
  * [[Versioned.append]] instead — see `LakeTable.newWriteBuilder`. */
final class LakeBatchWrite(path: String, schema: StructType)
  extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new LakeBatchWriterFactory(path,
      LakeParquetSink(SparkSession.active, schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.filter(_ != null).flatMap {
      case LakeFilesMessage(fs) => fs
      case _ => Seq.empty[String]
    }
    Versioned.appendStaged(SparkSession.active, path, files.toSeq,
      txn = None, opName = "APPEND")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val f = new Path(path).getFileSystem(SparkSession.active
      .sparkContext.hadoopConfiguration)
    messages.filter(_ != null).foreach {
      case LakeFilesMessage(fs) =>
        fs.foreach(p0 => f.delete(new Path(p0).getParent, true))
      case _ => ()
    }
  }
}

final class LakeBatchWriterFactory(path: String, sink: LakeParquetSink)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new LakeRowWriter(path, sink, s"ba$partitionId-$taskId")
}
