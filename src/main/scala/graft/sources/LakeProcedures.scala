package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Versioned

/** Catalog MAINTENANCE as SQL stored procedures (Spark 4's
  * `ProcedureCatalog`), closing the last "needs the Scala API" gap:
  *
  * {{{
  * CALL lake.optimize('/data/t', 4)     -- compact to ≤4 files/partition
  * CALL lake.optimize_small('/data/t', 1048576, 1)  -- slivers only
  * CALL lake.vacuum('/data/t', 2)       -- drop all but the last 2 versions
  * CALL lake.restore('/data/t', 3)      -- new commit with v3's content
  * }}}
  *
  * Each procedure returns its engine receipt as a one-row result set
  * (a [[LocalScan]] — the receipts are a handful of scalars computed
  * by the already-distributed maintenance job, so local rows are the
  * honest representation). Binding is by position or by name
  * (`CALL lake.vacuum(path => '/t', keep_last => 2)`), with the same
  * defaulting rules as any Spark procedure. */
object LakeProcedures {

  private def spark = SparkSession.active

  private def p(name: String, dt: DataType, comment: String) =
    ProcedureParameter.in(name, dt).comment(comment).build()

  /** One-row LocalScan over `schema`. */
  private final class ReceiptScan(schema: StructType, vals: Seq[Any])
    extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      Array(InternalRow.fromSeq(vals))
  }

  private def result(schema: StructType, vals: Any*): util.Iterator[Scan] =
    util.Collections.singletonList(
      new ReceiptScan(schema, vals.toSeq): Scan).iterator()

  private abstract class Proc(override val name: String,
      override val description: String) extends UnboundProcedure
    with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  val all: Map[String, UnboundProcedure] = Seq[Proc](

    new Proc("optimize",
      "compact the table to <= target_files files per partition; " +
        "folds outstanding deletion vectors away") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("target_files", IntegerType, "max files per partition after"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("files_before", LongType, nullable = false),
        StructField("files_after", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val before = Versioned.files(spark, path).length.toLong
        val v = Versioned.compact(spark, path, input.getInt(1))
        result(out, v, before,
          Versioned.files(spark, path).length.toLong)
      }
    },

    new Proc("optimize_cluster",
      "OPTIMIZE with linear clustering: rewrite into target_files " +
        "files range-clustered on the given columns so manifest " +
        "stats prune the leading dimension") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("target_files", IntegerType, "files after the rewrite"),
        p("cols", StringType, "comma-separated clustering columns"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("files_after", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val v = Versioned.compact(spark, path, input.getInt(1),
          clusterBy = input.getUTF8String(2).toString
            .split(",").map(_.trim).toSeq)
        result(out, v, Versioned.files(spark, path).length.toLong)
      }
    },

    new Proc("optimize_zorder",
      "OPTIMIZE ... ZORDER BY: rewrite into target_files files " +
        "Morton-clustered on two columns so the SAME manifest stats " +
        "prune BOTH probe dimensions") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("target_files", IntegerType, "files after the rewrite"),
        p("cols", StringType, "comma-separated z-order columns (two)"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("files_after", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val v = Versioned.compact(spark, path, input.getInt(1),
          zOrderBy = input.getUTF8String(2).toString
            .split(",").map(_.trim).toSeq)
        result(out, v, Versioned.files(spark, path).length.toLong)
      }
    },

    new Proc("optimize_small",
      "selective compaction: coalesce only files smaller than " +
        "min_bytes, carrying well-sized files by reference") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("min_bytes", LongType, "files below this size are slivers"),
        p("target_files", IntegerType, "files the slivers coalesce to"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("coalesced", IntegerType, nullable = false),
        StructField("carried", IntegerType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val c = Versioned.compactSmall(spark,
          input.getUTF8String(0).toString, input.getLong(1),
          input.getInt(2))
        result(out, c.version, c.coalesced, c.carried)
      }
    },

    new Proc("optimize_partitions",
      "OPTIMIZE ... WHERE: rewrite ONLY the named partitions into " +
        "target_files files, carrying every other partition by " +
        "reference (segment-aware — unopened refs)") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("target_files", IntegerType, "files after the rewrite"),
        p("partition_col", StringType, "partition column"),
        p("values", StringType, "comma-separated partition values"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("coalesced", IntegerType, nullable = false),
        StructField("carried", IntegerType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val c = Versioned.compactPartitions(spark,
          input.getUTF8String(0).toString,
          input.getUTF8String(2).toString,
          input.getUTF8String(3).toString.split(",").map(_.trim).toSeq,
          input.getInt(1))
        result(out, c.version, c.coalesced, c.carried)
      }
    },

    new Proc("optimize_incremental",
      "incremental clustering (ZCube shape): lay out ONLY the files " +
        "added since the last cluster rewrite on the same columns, " +
        "carrying the clustered bulk by reference; falls back to one " +
        "full clustered rewrite when no base survives") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("target_files", IntegerType, "files the new batch lays into"),
        p("mode", StringType, "'cluster' (linear) or 'zorder'"),
        p("cols", StringType, "comma-separated clustering columns"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("rewritten", IntegerType, nullable = false),
        StructField("carried", IntegerType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val cols = input.getUTF8String(3).toString
          .split(",").map(_.trim).toSeq
        val mode = input.getUTF8String(2).toString
        require(mode == "cluster" || mode == "zorder",
          s"mode must be 'cluster' or 'zorder', got '$mode'")
        val c = Versioned.compactIncremental(spark,
          input.getUTF8String(0).toString, input.getInt(1),
          clusterBy = if (mode == "cluster") cols else Seq.empty,
          zOrderBy = if (mode == "zorder") cols else Seq.empty)
        result(out, c.version, c.coalesced, c.carried)
      }
    },

    new Proc("rewrite_manifests",
      "metadata-only manifest maintenance: re-seal the file list " +
        "into one segment per partition (zero data I/O) so every " +
        "later commit carries minimal refs") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("top_rows", LongType, nullable = false),
        StructField("segments", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val v = Versioned.rewriteManifests(spark, path)
        val (top, segs) = Versioned.manifestShape(spark, path)
        result(out, v, top, segs)
      }
    },

    new Proc("vacuum",
      "drop all manifests but the newest keep_last and delete data " +
        "files no retained version references") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("keep_last", IntegerType, "number of newest versions to keep"))
      private val out = StructType(Seq(
        StructField("removed_files", IntegerType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] =
        result(out, Versioned.vacuum(spark,
          input.getUTF8String(0).toString, input.getInt(1)))
    },

    new Proc("vacuum_older_than",
      "age-based retention (VACUUM ... RETAIN): drop every version " +
        "committed before the cutoff except the tip and tag-protected " +
        "versions, then delete unreferenced data files") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("cutoff_millis", LongType,
          "epoch-millis commit-time cutoff (exclusive)"))
      private val out = StructType(Seq(
        StructField("removed_files", IntegerType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] =
        result(out, Versioned.vacuumOlderThan(spark,
          input.getUTF8String(0).toString, input.getLong(1)))
    },

    new Proc("restore",
      "RESTORE TABLE TO VERSION AS OF: commit a new version carrying " +
        "the target version's files, schema and deletion vector by " +
        "reference") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("version", LongType, "historical version to restore"))
      private val out = StructType(Seq(
        StructField("restored_as", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] =
        result(out, Versioned.restore(spark,
          input.getUTF8String(0).toString, input.getLong(1)))
    },

    new Proc("history",
      "the commit log: (version, operation, n_files) per retained " +
        "version, oldest first") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("n_files", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val hist = Versioned.history(spark,
          input.getUTF8String(0).toString)
          .map(ci => InternalRow(ci.version,
            UTF8String.fromString(ci.operation), ci.nFiles)).toArray
        util.Collections.singletonList(new LocalScan {
          override def readSchema(): StructType = out
          override def rows(): Array[InternalRow] = hist
        }: Scan).iterator()
      }
    },

    new Proc("branch",
      "cut a writable branch: a zero-copy clone of the source's " +
        "current snapshot plus the recorded (source, base) ref — " +
        "commits on the branch stay invisible to the source until " +
        "publish") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("source", StringType, "lake table directory to branch from"),
        p("branch", StringType, "directory for the new branch"))
      private val out = StructType(Seq(
        StructField("branch_version", LongType, nullable = false),
        StructField("base_version", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val src = input.getUTF8String(0).toString
        val dst = input.getUTF8String(1).toString
        val v = Versioned.branch(spark, src, dst)
        result(out, v, Versioned.branchBase(spark, dst).get._2)
      }
    },

    new Proc("publish",
      "fold a branch head back onto its source as ONE reference " +
        "commit; refused loudly with zero effect if the source moved " +
        "since the branch was cut. localize => true copies the " +
        "branch-staged files under the source root in the same " +
        "commit (the branch directory becomes disposable); the " +
        "default zero-copy publish instead marks the branch so its " +
        "drop/vacuum refuse while the source reads through it") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("branch", StringType, "branch directory to publish"),
        ProcedureParameter.in("localize", BooleanType)
          .defaultValue("false")
          .comment("copy branch-staged files under the source root")
          .build())
      private val out = StructType(Seq(
        StructField("published_as", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] =
        result(out, Versioned.publish(spark,
          input.getUTF8String(0).toString,
          localize = !input.isNullAt(1) && input.getBoolean(1)))
    },

    new Proc("clone",
      "zero-copy shallow clone (CREATE TABLE ... CLONE): publish the " +
        "source's current snapshot as version 1 of a new table by " +
        "copying the manifest/schema/deletion-vector only — data " +
        "files are shared by reference, so cloning a 100 TB table is " +
        "one small metadata write. Writes to the clone stage under " +
        "its own root; its first full rewrite ends the sharing") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("source", StringType, "lake table directory to clone"),
        p("target", StringType, "directory for the new table"))
      private val out = StructType(Seq(
        StructField("cloned_version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_shared_files", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val src = input.getUTF8String(0).toString
        val dst = input.getUTF8String(1).toString
        val v = Versioned.clone(spark, src, dst)
        result(out, v, Versioned.files(spark, dst).length.toLong,
          Versioned.foreignFileCount(spark, dst))
      }
    },

    new Proc("rename_table",
      "move the table directory and rewrite every retained version's " +
        "manifest paths (segment-aware); crash-safe and resumable") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("source", StringType, "current lake table directory"),
        p("target", StringType, "new directory"))
      private val out = StructType(Seq(
        StructField("renamed", BooleanType, nullable = false),
        StructField("version", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val src = input.getUTF8String(0).toString
        val dst = input.getUTF8String(1).toString
        Versioned.renameTable(spark, src, dst)
        result(out, true,
          Versioned.currentVersion(spark, dst).getOrElse(0L))
      }
    },

    new Proc("tag",
      "name a version (default: current) as a vacuum-protected ref " +
        "(Iceberg tag); read it back with VERSION AS OF '<name>'") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("name", StringType, "tag name"),
        ProcedureParameter.in("version", LongType)
          .defaultValue("NULL")
          .comment("version to tag (default: current)")
          .build())
      private val out = StructType(Seq(
        StructField("tagged_version", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] =
        result(out, Versioned.tag(spark,
          input.getUTF8String(0).toString,
          input.getUTF8String(1).toString,
          if (input.isNullAt(2)) None else Some(input.getLong(2))))
    },

    new Proc("drop_tag",
      "drop a tag: the version becomes vacuumable again") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"),
        p("name", StringType, "tag name"))
      private val out = StructType(Seq(
        StructField("dropped", BooleanType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        Versioned.dropTag(spark, input.getUTF8String(0).toString,
          input.getUTF8String(1).toString)
        result(out, true)
      }
    },

    new Proc("describe",
      "table health snapshot (Delta DESCRIBE DETAIL analog): current " +
        "version, live file / deletion-vector counts, partition " +
        "layout, schema width, registered skipping columns, commits") {
      override def parameters(): Array[ProcedureParameter] = Array(
        p("path", StringType, "lake table directory"))
      private val out = StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_dv_rows", LongType, nullable = false),
        StructField("partition_transform", StringType, nullable = false),
        StructField("n_columns", IntegerType, nullable = false),
        StructField("stats_cols", StringType, nullable = false),
        StructField("bloom_cols", StringType, nullable = false),
        StructField("n_commits", LongType, nullable = false),
        StructField("column_mapped", BooleanType, nullable = false),
        StructField("n_foreign_files", LongType, nullable = false),
        StructField("n_segments", LongType, nullable = false)))
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val v = Versioned.currentVersion(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"not a versioned lake table: $path"))
        val schema = Versioned.tableSchema(spark, path, Some(v))
        val nCols = Versioned.schemaOf(spark, path, v).fields.length
        val mapped = schema.exists(s0 => s0.fields.exists(f =>
          Versioned.physicalNameOf(f) != f.name))
        result(out,
          v,
          Versioned.files(spark, path).length.toLong,
          Versioned.deletionVectorRows(spark, path)
            .fold(0L)(Versioned.dvRowCount),
          UTF8String.fromString(Versioned.partitionLayout(spark, path)
            .fold("none")(l => l.transform.getOrElse(l.column))),
          nCols,
          UTF8String.fromString(
            Versioned.statsColumns(spark, path).mkString(",")),
          UTF8String.fromString(
            Versioned.bloomColumns(spark, path).mkString(",")),
          Versioned.history(spark, path).length.toLong,
          mapped,
          // shallow-clone / zero-copy-publish read dependencies: the
          // operator's cue that this table reads through foreign
          // roots (compact localizes; see publish's marker guard)
          Versioned.foreignFileCount(spark, path),
          // manifest-segment count of the head: the metadata-health
          // cue for rewrite_manifests
          Versioned.manifestShape(spark, path)._2)
      }
    }
  ).map(pr => pr.name -> (pr: UnboundProcedure)).toMap
}
