package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources.{And, IsNotNull, IsNull, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{streaming, BatchWrite, LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.{FileStats, Versioned}

/** DataSource V2 connector over the [[graft.ops.Versioned]] lake:
  *
  * {{{
  * spark.read.format("graft-lake").option("path", dir).load()
  * spark.read.format("graft-lake").option("path", dir)
  *   .option("versionAsOf", 3).load()               // time travel
  * spark.readStream.format("graft-lake").option("path", dir).load()
  * }}}
  *
  * The connector plans from the SAME manifest machinery the function
  * API uses, so a `spark.sql` user gets the identical table protocol:
  *
  *  - **Snapshot isolation**: the version is resolved ONCE at scan
  *    planning; concurrent commits don't tear a running query.
  *  - **Data skipping**: pushed filters on stats-registered columns
  *    prune the FILE LIST through the manifest (interval overlap over
  *    the cached entries, on the driver), and string-equality filters
  *    on partition columns prune by directory segment. All filters
  *    are also returned to Spark for row-level re-evaluation, so
  *    pruning is always a superset — `.explain` shows them under
  *    `PushedFilters`, and the `BatchScan` input is exactly the kept
  *    files.
  *  - **Deletion vectors**: each file's deleted row positions ride
  *    its input partition, taken from the version's cached driver
  *    rows; readers skip them by position — merge-on-read without a
  *    vector scan or join.
  *  - **Schema evolution + column mapping**: rows are projected
  *    through the LOGGED schema — absent physical columns surface
  *    NULL, renamed columns read by physical identity.
  *  - **Streaming** ([[LakeMicroBatchStream]]): offsets are lake
  *    versions; each micro-batch reads exactly the files ADDED by the
  *    commits in `(start, end]` — the Delta streaming-source
  *    contract, including the `ignoreChanges` gate on non-append
  *    commits.
  *
  * Scale: planning is a driver pass over immutable, cached metadata
  * — the manifest entries and the deletion vector, both bounded by
  * what every reader already held on the driver — so planning a scan
  * starts no Spark job; reads parallelize one task per file. Files
  * decode through Spark's own `ParquetFileFormat` in
  * [[LakeReaderFactory]], the one reader of lake data files: the
  * function API's reads ([[Versioned.read]], time travel, merge and
  * compaction rewrites, vectored DML matching, `changes`) plan
  * through this same scan, pinned to a version and, for internal
  * callers, to a file subset. The connector's writers encode through
  * the same format, so SQL, streaming and DSv2 callers read and write
  * every type the function API does.
  */
class LakeSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def pathOf(m: CaseInsensitiveStringMap): String = {
    val p = m.get("path")
    require(p != null && p.nonEmpty,
      "graft-lake needs .option(\"path\", <table dir>)")
    p
  }

  private def versionOf(m: CaseInsensitiveStringMap): Option[Long] =
    Option(m.get("versionAsOf")).map(_.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = pathOf(options)
    val v = Versioned.resolveVersion(spark, path, versionOf(options))
    Versioned.schemaOf(spark, path, v)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val m = new CaseInsensitiveStringMap(properties)
    new LakeTable(pathOf(m), versionOf(m), schema,
      m.getBoolean("ignoreChanges", false),
      Option(m.get("startingVersion")),
      Option(m.get("maxFilesPerTrigger")).map(_.toInt),
      Option(m.get("maxBytesPerTrigger")).map(_.toLong))
  }
}

object LakeSource {
  /** Planning observability for specs and receipts: (files planned,
    * files in the manifest) of the most recent batch scan in this
    * JVM that planned from the manifest (not a file-pinned one). */
  val lastPlanned = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
}

/** A lake table as DSv2 sees it. `pinned` is for internal readers
  * ([[Versioned]]'s reads): the scan reads exactly these files, with
  * their stats and deletion vector taken from `version` — or, with no
  * version, as staged files outside every manifest (no stats, no
  * vector). A version-pinned or file-pinned table is read-only. */
final class LakeTable(path: String, version: Option[Long],
    tableSchema: StructType, ignoreChanges: Boolean,
    startingVersion: Option[String] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    pinned: Option[Seq[String]] = None)
  extends Table with SupportsRead with SupportsWrite
  with SupportsDelete with SupportsRowLevelOperations
  with SupportsMetadataColumns {

  override def name(): String = s"graft-lake:$path"

  override def schema(): StructType = tableSchema

  /** Whether writes may take the REAL V2 path (executor-staged
    * commits). Resolved once per table load; Spark's capability check
    * requires the declared capability and the produced Write to agree,
    * so the decision is shared by [[capabilities]] and
    * [[newWriteBuilder]]. */
  private lazy val directWrite: Boolean =
    Versioned.canStageDirect(SparkSession.active, path)

  override def capabilities(): util.Set[TableCapability] =
    if (version.isDefined || pinned.isDefined)
      Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
    else
      Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
        if (directWrite) TableCapability.BATCH_WRITE
        else TableCapability.V1_BATCH_WRITE,
        TableCapability.STREAMING_WRITE).asJava

  /** The row-id identity SQL row-level DML keys on — the same
    * (file key, physical position) pair the engine's deletion vectors
    * use, surfaced as hidden metadata columns a reader can also
    * SELECT explicitly for provenance. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = LakeRowLevel.FileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest file key of the row"
    },
    new MetadataColumn {
      override def name(): String = LakeRowLevel.PosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "physical row position in its file"
    })

  /** SQL `UPDATE` / `MERGE INTO` / non-filter `DELETE` — Spark's
    * row-level rewrite plans against [[LakeDeltaOperation]]'s
    * delta-based write: vectors for deletions, staged files for
    * images, zero pre-existing files rewritten. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(version.isEmpty,
      s"cannot run row-level DML on a version-pinned table: $path " +
        s"VERSION AS OF ${version.get}")
    new LakeRowLevelOperationBuilder(path, tableSchema, info)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(path, version, tableSchema, ignoreChanges,
      startingVersion, maxFilesPerTrigger, maxBytesPerTrigger, pinned)

  private def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r))
        yield lc && rc
    case Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r))
        yield lc || rc
    case Not(c) => filterToColumn(c).map(not)
    case _ => None
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version.isEmpty && filters.forall(f => filterToColumn(f).isDefined)

  /** `DELETE FROM lake.`<path>` WHERE …` as a MERGE-ON-READ vectored
    * delete: the commit writes (file, position) entries for exactly
    * the matching rows — no file is rewritten, compaction folds the
    * vector later. Predicates Spark can't express as source filters
    * are refused by [[canDeleteWhere]], so the statement either runs
    * with the engine's delete semantics or fails loudly. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Versioned.deleteVectored(SparkSession.active, path, pred)
  }

  /** APPEND-ONLY writes. The default is the REAL V2 protocol
    * ([[LakeBatchWrite]]): executors stage parquet files under the
    * table's convention and the driver folds their commit messages
    * into one append-commit — distributed end to end, only file paths
    * cross the driver. Tables whose writes need in-plan machinery
    * (generated/identity columns, column mapping, a partition layout)
    * fall back to a `V1Write` into [[Versioned.append]], which owns
    * exactly that machinery and resolves the table's recorded layout
    * itself — the writer never states it. Overwrites are refused
    * either way: those semantics belong to the engine's merge/delete
    * primitives. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      s"cannot write to a version-pinned table: $path VERSION AS OF " +
        version.get)
    new WriteBuilder {
      override def build(): Write =
        if (directWrite) new Write {
          override def toBatch: BatchWrite =
            new LakeBatchWrite(path, info.schema())
          override def toStreaming: streaming.StreamingWrite =
            new LakeStreamingWrite(path, info.schema(), info.queryId())
        }
        else new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                if (overwrite) throw new UnsupportedOperationException(
                  "graft-lake is append-only through SQL: INSERT " +
                    "OVERWRITE must go through Versioned.merge/delete")
                // append stages under the table's own partition layout
                Versioned.append(data, path)
              }
            }
          override def toStreaming: streaming.StreamingWrite =
            new LakeStreamingWrite(path, info.schema(), info.queryId())
        }
    }
  }
}

final class LakeScanBuilder(path: String, version: Option[Long],
    fullSchema: StructType, ignoreChanges: Boolean,
    startingVersion: Option[String] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    pinned: Option[Seq[String]] = None)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  /** Keep (and report) the filters the scan can use for FILE pruning:
    * numeric intervals on stats-registered columns, string equality /
    * IN on any column (harmless when the column isn't a partition
    * directory — segment pruning only drops a file when the segment
    * PROVES a mismatch). Everything is returned to Spark for row-level
    * evaluation, so pruning can never change results. A pinned file
    * list is read as given. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (pinned.isDefined) return filters
    // registered stats columns are physical names, as stats key
    val registered = Versioned.statsColumns(SparkSession.active, path).toSet
    val physical = fullSchema.fields.map(f =>
      f.name -> Versioned.physicalNameOf(f)).toMap
    def stats(c: String) = physical.get(c).exists(registered)
    pushed = filters.filter {
      case EqualTo(c, v) => stats(c) && v.isInstanceOf[Number] ||
        v.isInstanceOf[String]
      case In(_, vs) => vs.forall(_.isInstanceOf[String])
      case GreaterThan(c, v) => stats(c) && v.isInstanceOf[Number]
      case GreaterThanOrEqual(c, v) => stats(c) && v.isInstanceOf[Number]
      case LessThan(c, v) => stats(c) && v.isInstanceOf[Number]
      case LessThanOrEqual(c, v) => stats(c) && v.isInstanceOf[Number]
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // rebuild from the table schema BY NAME so column-mapping metadata
    // (physical names) survives Spark's pruning round-trip
    val byName = fullSchema.fields.map(f => f.name -> f).toMap
    required = StructType(requiredSchema.fields.map(f =>
      byName.getOrElse(f.name, f)))
  }

  override def build(): Scan =
    new LakeScan(path, version, required, pushed, ignoreChanges,
      startingVersion, maxFilesPerTrigger, maxBytesPerTrigger, pinned)
}

final class LakeScan(path: String, version: Option[Long],
    required: StructType, pushed: Array[Filter], ignoreChanges: Boolean,
    startingVersion: Option[String] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    pinned: Option[Seq[String]] = None)
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Planner statistics from the MANIFEST, filter-aware: row count =
    * the per-file `#rows` stats (logged by every commit) summed over
    * exactly the files the pushed filters keep, size = max(pruned
    * files' actual `#bytes` sum, rows × the pruned read schema's
    * width estimate). Metadata-only — no file is opened, no
    * FileSystem call per file — so a 100 TB lake table joins with a
    * CORRECT broadcast decision: without this, a DSv2 relation
    * reports `spark.sql.defaultSizeInBytes` (effectively infinite)
    * and a 100-row filtered dimension still sort-merges. The row
    * count is a superset (outstanding deletion-vector rows not
    * subtracted) and the size takes the larger of two independent
    * over-approximations — both err toward NOT broadcasting. */
  override def estimateStatistics(): Statistics = {
    val plannedStats = prunedEntries.map(e => FileStats.decode(e._2))
    val counts = plannedStats.flatMap(_.rows)
    // size estimate: rows × the pruned read schema's fixed per-type
    // width is exact for numerics but LIES for strings (StringType's
    // defaultSize is a flat 20 bytes — a wide-text table estimated
    // that way can slip under the broadcast threshold and OOM the
    // build side). Every commit since the `#bytes` discipline also
    // logs each file's ACTUAL on-disk size (the Delta add.size
    // discipline); the estimate takes the MAX of the two — file bytes
    // catch wide strings, the width product catches heavy columnar
    // compression — so it errs pessimistic in BOTH failure modes.
    // Older manifests without `#bytes` keep the width product.
    //
    // COLUMN stats: registered stats columns log a per-file
    // DataSketches HLL at commit; sketches union losslessly, so the
    // pruned footprint's DISTINCT COUNT is one driver-side fold over
    // the manifest entries — no file opened. Reported through the
    // DSv2 `columnStats()` surface, which Spark's `transformV2Stats`
    // maps into per-attribute catalyst stats: with CBO enabled, a
    // groupBy on a low-NDV lake key is then estimated at
    // ~NDV output rows instead of falling back to the child's size —
    // the estimate that flips a post-aggregation join to a broadcast
    // AT PLAN TIME (AQE could only recover after paying the
    // sort-merge shuffle's map side). A column whose sketch is
    // missing from ANY pruned file reports nothing — conservative,
    // like every estimate here. Lookups key on the field's physical
    // name, so renamed columns keep their stats.
    val ndvByCol: Map[String, (Long, Long)] = required.fields.flatMap { f =>
      val parsed = plannedStats.map(_.sketch(f))
      if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
      else try {
        val u = new org.apache.datasketches.hll.Union(12)
        parsed.flatten.foreach { case (b, _) =>
          u.update(org.apache.datasketches.hll.HllSketch.heapify(b))
        }
        Some(f.name -> (math.max(1L, math.round(u.getEstimate)),
          parsed.flatten.map(_._2).sum))
      } catch { case _: Exception => None } // malformed sketch: no stat
    }.toMap
    // value BOUNDS for numeric stats columns, folded over the pruned
    // footprint (min of file minima / max of file maxima) in the
    // column's Catalyst value class — JoinEstimation intersects the two
    // join keys' value intervals BEFORE its NDV formula, and a
    // ColumnStat with NDV but NO bounds reads as an empty interval:
    // every CBO join estimate collapses to 0 rows and the zeroed join
    // output wipes the group-key NDVs the aggregate estimate above
    // needs. Bounds + NDV together are what make a multi-join report
    // over lake tables CBO-plannable end to end. Conservative like the
    // NDV: a column missing bounds in ANY pruned file reports none.
    val boundsByCol: Map[String, (Any, Any)] = required.fields.flatMap { f =>
      val perFile = plannedStats.map(_.catalyst(f))
      if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
      else {
        val order = Ordering.fromLessThan[Any]((x, y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y) < 0)
        val all = perFile.flatten
        Some(f.name -> (all.map(_._1).min(order), all.map(_._2).max(order)))
      }
    }.toMap
    val colStats = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      ndvByCol.foreach { case (name, (ndv, nulls)) =>
        val bounds = boundsByCol.get(name)
        m.put(
          org.apache.spark.sql.connector.expressions.Expressions
            .column(name),
          new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(ndv)
            // AggregateEstimation's hasCountStats gate needs the null
            // count too — logged exactly at commit, summed here
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nulls)
            override def min(): java.util.Optional[Object] =
              bounds.fold(java.util.Optional.empty[Object]())(b =>
                java.util.Optional.of(b._1.asInstanceOf[Object]))
            override def max(): java.util.Optional[Object] =
              bounds.fold(java.util.Optional.empty[Object]())(b =>
                java.util.Optional.of(b._2.asInstanceOf[Object]))
          })
      }
      m
    }
    new Statistics {
      override def numRows(): java.util.OptionalLong =
        if (counts.length == plannedStats.length && counts.nonEmpty)
          java.util.OptionalLong.of(counts.sum)
        else java.util.OptionalLong.empty()
      override def sizeInBytes(): java.util.OptionalLong =
        if (counts.length == plannedStats.length && counts.nonEmpty) {
          val widthEst = counts.sum * math.max(1, required.defaultSize)
          val bytes = plannedStats.flatMap(_.bytes)
          val est =
            if (bytes.length == plannedStats.length)
              math.max(bytes.sum, widthEst)
            else widthEst
          java.util.OptionalLong.of(est)
        } else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  override def description(): String =
    s"graft-lake $path ${version.fold("")(v => s"v$v ")}" +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def toBatch: Batch = this

  /** The pruned file list (with each file's manifest stats JSON),
    * computed ONCE per scan and shared by [[estimateStatistics]] (the
    * optimizer may ask before execution) and [[planInputPartitions]] —
    * the estimate and the actual scan always agree on the footprint. */
  private lazy val prunedEntries: Seq[(String, Option[String])] =
    pinned match {
      case Some(files) =>
        val stats = snapshot.fold(Map.empty[String, Option[String]])(v =>
          Versioned.manifestEntries(SparkSession.active, path, v).toMap)
        files.map(f => f -> stats.getOrElse(f, None))
      case None => manifestPruned(snapshot.get)
    }

  /** The version the scan reads, resolved ONCE: the file list and the
    * deletion vector always come from the same snapshot. None only for
    * staged files pinned without a version. */
  private lazy val snapshot: Option[Long] =
    if (pinned.isDefined) version
    else Some(Versioned.resolveVersion(SparkSession.active, path, version))

  private def manifestPruned(v: Long): Seq[(String, Option[String])] = {
    val spark = SparkSession.active
    // interval skipping over the cached manifest entries (driver)
    val ranges = pushed.toSeq.flatMap {
      case EqualTo(c, x: Number) =>
        Some((c, x.doubleValue(), x.doubleValue()))
      case GreaterThan(c, x: Number) =>
        Some((c, x.doubleValue(), Double.PositiveInfinity))
      case GreaterThanOrEqual(c, x: Number) =>
        Some((c, x.doubleValue(), Double.PositiveInfinity))
      case LessThan(c, x: Number) =>
        Some((c, Double.NegativeInfinity, x.doubleValue()))
      case LessThanOrEqual(c, x: Number) =>
        Some((c, Double.NegativeInfinity, x.doubleValue()))
      case _ => None
    }
    val kept = Versioned.candidateFiles(spark, path, v, ranges)
    // partition-directory pruning for string equality / IN
    val segAllowed: Seq[(String, Set[String])] = pushed.toSeq.collect {
      case EqualTo(c, s: String) => c -> Set(s)
      case In(c, vs) if vs.forall(_.isInstanceOf[String]) =>
        c -> vs.map(_.asInstanceOf[String]).toSet
    }
    val phys = required.fields.map(f =>
      f.name -> Versioned.physicalNameOf(f)).toMap
    totalEntryCount = Versioned.manifestEntries(spark, path, v).length
    segAllowed.foldLeft(kept) { case (es, (c, allowed)) =>
      val p = ExternalCatalogUtils.escapePathName(phys.getOrElse(c, c))
      val vals = allowed.map(ExternalCatalogUtils.escapePathName)
      // segments of the file KEY only: a `c=…` directory above the
      // table root says nothing about the file
      es.filter { case (f, _) => Versioned.partitionSegmentsOf(f).get(p)
        .forall(vals.contains) } // not partitioned by c: keep
    }
  }

  /** Total manifest entries before pruning, for the receipt counter.
    * Written when [[prunedEntries]] first evaluates; read only from
    * [[planInputPartitions]]. */
  @volatile private var totalEntryCount: Int = 0

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val files = prunedEntries.map(_._1)
    // the files_read/files_total receipt counter reflects EXECUTION
    // order: set here (partition planning), not inside the lazy
    // pruning — estimateStatistics may evaluate the lazy val at
    // OPTIMIZATION time, and in a plan with several lake scans the
    // optimizer's traversal order is not the execution order. Pinned
    // scans prune nothing and leave it alone.
    if (pinned.isEmpty)
      LakeSource.lastPlanned.set((files.length, totalEntryCount))
    val dv = snapshot.flatMap(v =>
      Versioned.deletionVectorRows(spark, path, Some(v))).getOrElse(Map.empty)
    files.map(f => LakeInputPartition(f,
      dv.getOrElse(Versioned.fileKeyOf(f), Array.empty))
      .asInstanceOf[InputPartition]).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    LakeReaderFactory(SparkSession.active, required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeMicroBatchStream(path, required, ignoreChanges, startingVersion,
      maxFilesPerTrigger, maxBytesPerTrigger)
}
