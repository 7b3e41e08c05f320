package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.ops.Versioned

/** Structured Streaming SINK into the lake — the write-side twin of
  * [[LakeMicroBatchStream]]:
  *
  * {{{
  * df.writeStream.format("graft-lake").option("path", dir)
  *   .option("checkpointLocation", cp).start()
  * }}}
  *
  * Each micro-batch's executors write parquet files straight under the
  * table's `data/gbatch=se…` staging convention (one writer task per
  * partition — rows never travel to the driver); the epoch COMMIT is
  * one [[Versioned]] append-commit of `manifest(cur) ∪ batch files`,
  * stamped with a per-query transaction sidecar (`v<N>.txn` =
  * `queryId\tepochId`). A replayed epoch after a crash-restart finds
  * its (queryId, epochId) already in the commit log, deletes its
  * duplicate files, and commits NOTHING — Delta's txn-action
  * idempotence, which is what turns at-least-once micro-batch
  * delivery into exactly-once table contents. CHECK constraints are
  * enforced on the staged batch before the commit (one bounded read);
  * tables with generated or identity columns, or partition-structured
  * layouts, refuse the streaming sink loudly — those writers go
  * through `foreachBatch` + [[Versioned.append]]/[[Versioned.merge]].
  */
final class LakeStreamingWrite(path: String, schema: StructType,
    queryId: String) extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LakeStreamWriterFactory(path, LakeParquetSink(spark, schema))

  private def spark = SparkSession.active

  // incremental idempotence cache: versions ≤ scannedTo have been
  // probed for this query's txn sidecars, `known` is the newest epoch
  // found. The first commit of a fresh query pays one walk down the
  // history; every later epoch probes only the versions committed
  // since (usually exactly one — its own predecessor).
  private var scannedTo: Long = 0L
  private var known: Option[Long] = None

  /** Newest committed epoch of this query at or before version `v`. */
  private def lastEpoch(v: Long): Option[Long] = synchronized {
    var i = v
    while (i > scannedTo) {
      Versioned.txnAt(spark, path, i).foreach { case (q, e) =>
        if (q == queryId && known.forall(_ < e)) {
          known = Some(e)
          scannedTo = v
          return known
        }
      }
      i -= 1
    }
    scannedTo = math.max(scannedTo, v)
    known
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.flatMap(_.asInstanceOf[LakeFilesMessage].files)
    val cur = Versioned.resolveVersion(spark, path, None)
    if (lastEpoch(cur).exists(_ >= epochId)) {
      // replayed epoch: the table already contains it — drop the
      // duplicate staging and commit nothing
      abort(epochId, messages)
      return
    }
    Versioned.appendStaged(spark, path, files.toSeq,
      txn = Some((queryId, epochId)))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // driver-side cleanup: the SESSION conf, so configured stores
    // (s3a endpoints, credentials) resolve exactly as the write did
    val conf = spark.sparkContext.hadoopConfiguration
    messages.filter(_ != null).foreach {
      case m: LakeFilesMessage => m.files.foreach { f =>
        // each task stages one file in its OWN gbatch directory —
        // drop the directory, not just the file, or crash-looping
        // queries would litter data/ with empty staging dirs
        val p = new Path(f)
        p.getFileSystem(conf).delete(p.getParent, true)
      }
      case _ => ()
    }
  }
}

final case class LakeFilesMessage(files: Seq[String])
  extends WriterCommitMessage

final class LakeStreamWriterFactory(path: String, sink: LakeParquetSink)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LakeRowWriter(path, sink, s"se$epochId-$partitionId")
}

/** Spark's own parquet writer, prepared on the DRIVER for one schema:
  * `ParquetFileFormat.prepareWrite` fills the job configuration (write
  * support, schema, the session's compression and
  * `outputTimestampType`), which ships through
  * [[SerializableHadoopConf]] with the serializable
  * `OutputWriterFactory`. Executor-staged files therefore encode
  * exactly as [[Versioned]]'s own staged writes do. */
final class LakeParquetSink private (val conf: SerializableHadoopConf,
    factory: OutputWriterFactory, schema: StructType) extends Serializable {

  def open(file: Path): OutputWriter =
    factory.newInstance(file.toString, schema,
      new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
}

object LakeParquetSink {
  /** Files carry PHYSICAL names (column mapping), every column
    * nullable, as Spark's file writer stores them. */
  def apply(spark: SparkSession, schema: StructType): LakeParquetSink = {
    val physical = StructType(LakeReaderFactory.dataFields(schema))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physical)
    new LakeParquetSink(new SerializableHadoopConf(job.getConfiguration),
      factory, physical)
  }
}

/** One parquet file per (task, epoch), written on the EXECUTOR under
  * the table's staging convention. Only rows the task saw are
  * buffered by parquet's own column pages — nothing accumulates in
  * JVM lists. */
final class LakeRowWriter(path: String, sink: LakeParquetSink, tag: String)
  extends DataWriter[InternalRow] {

  private val file = new Path(new Path(path, "data"),
    s"${"gbatch"}=$tag-" +
      s"${java.util.UUID.randomUUID().toString.take(8)}/part-0.parquet")

  private val writer = sink.open(file)

  private var n = 0L

  override def write(row: InternalRow): Unit = {
    writer.write(row)
    n += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (n == 0L) {
      // empty task: drop the schema-only file, contribute nothing
      file.getFileSystem(sink.conf.value).delete(file.getParent, true)
      LakeFilesMessage(Seq.empty)
    } else LakeFilesMessage(Seq(file.toString))
  }

  override def abort(): Unit = {
    writer.close()
    file.getFileSystem(sink.conf.value).delete(file.getParent, true)
  }

  override def close(): Unit = ()
}
