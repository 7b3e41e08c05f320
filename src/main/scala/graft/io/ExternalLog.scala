package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Delta-style EXTERNAL table log → snapshot-read API (the r7 verdict's
  * open-table-format interop item).
  *
  * Layout (the minimal add/remove subset of a Delta `_delta_log`):
  *
  * {{{
  *   <table>/_log/00000000000000000000.json   // version 0
  *   <table>/_log/00000000000000000001.json   // version 1, ...
  *   <table>/<data-dir>/part-*.parquet        // one dir per add action
  * }}}
  *
  * Each log file is JSON-lines, one ACTION per line:
  * `{"add":{"path":"<dir>"}}` or `{"remove":{"path":"<dir>"}}`, paths
  * relative to the table root. A snapshot at version v is the adds of
  * versions 0..v minus the removes of versions 0..v (a remove at or
  * after the add wins — Delta's live-set semantics).
  *
  * Scale shape: resolving a snapshot reads ONLY the log (tiny —
  * O(commits) JSON lines, parsed as one distributed `spark.read.json`
  * over the selected files); the data scan then opens exactly the live
  * files, so untouched commits cost nothing — the same
  * manifest-selection economics as [[graft.ops.Versioned]], but
  * resolved from a layout an EXTERNAL writer owns. Differences from
  * real Delta are deliberate scope: no metaData/protocol/txn actions,
  * no checkpoints parquet, no partition-values map — the add/remove
  * live-set core is what the read path needs.
  */
object ExternalLog {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new Path(path, "_log")

  private def logName(v: Long) = f"$v%020d.json"

  /** Committed versions, ascending (from log file names alone). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = logDir(path)
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted
  }

  private val actionSchema = StructType(Seq(
    StructField("add", StructType(Seq(StructField("path", StringType)))),
    StructField("remove", StructType(Seq(StructField("path", StringType))))))

  /** The live file set at `version` (default: latest). */
  def liveFiles(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no external log at $path")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in log (have ${vs.mkString(",")})")
    val selected = vs.filter(_ <= v)
      .map(x => new Path(logDir(path), logName(x)).toString)
    // the log is tiny (O(commits) lines): one distributed JSON read
    // with a PINNED schema (no sampling pass), collected to resolve
    // the live set — the only driver-side state is the file list
    val actions = spark.read.schema(actionSchema).json(selected: _*)
      .select(input_file_name().as("f"), col("add.path").as("a"),
        col("remove.path").as("r"))
      .collect()
      .sortBy(r => r.getString(0)) // filename order = version order
    val live = scala.collection.mutable.LinkedHashSet[String]()
    actions.foreach { r =>
      Option(r.getString(1)).foreach(live += _)
      Option(r.getString(2)).foreach(live -= _)
    }
    live.toSeq
  }

  /** Read a snapshot (default: latest) — exactly the live files.
    *
    * `mergeSchema = true` unions the live files' schemas (columns a
    * later commit ADDED read as NULL in older files — additive schema
    * evolution, the lakehouse upgrade path that doesn't rewrite
    * history). The footer-merge pass costs O(live files) metadata
    * reads, not data reads. Default off: a single-schema table should
    * not pay it, and a schema CONFLICT (same column, different type)
    * should fail loudly at scan rather than be silently widened. */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val files = liveFiles(spark, path, version)
    require(files.nonEmpty, s"snapshot at $path is empty")
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(files.map(f => new Path(path, f).toString): _*)
  }

  /** EXPORT a [[graft.ops.Versioned]] table's commit history as this
    * external `_log` layout at the SAME table root — the write half of
    * open-table-format interop. After export, any engine that reads
    * the add/remove JSON-lines convention sees the same table, version
    * for version (Versioned version N = log version N−1), with ZERO
    * data copied: each log commit references the table's own immutable
    * parquet files by table-relative path, so the export cost is
    * O(total files) metadata lines, independent of data size — the
    * shallow-clone economics, aimed outward.
    *
    * Incremental and idempotent: log versions already present are
    * skipped, so `export` after every few commits appends only the new
    * tail. A version carrying a DELETION VECTOR cannot be expressed as
    * an add/remove live set (the reader would resurrect its deleted
    * rows), so it is SKIPPED — the log keeps a numbering gap at that
    * version, and the next vector-free version (e.g. the
    * [[graft.ops.Versioned.compact]] that materializes the vector)
    * diffs against the last exported one, so the exported history is
    * always exactly the expressible snapshots. Exporting a table whose
    * CURRENT version carries a vector therefore publishes only its
    * pre-vector history — compact to publish the erasure. One loud
    * failure remains: a file rooted OUTSIDE the table (a shallow
    * clone's by-reference source files) cannot be written as a
    * relative path — compact to localize, then export.
    *
    * Returns the highest log version written or found, -1 if none was
    * expressible. */
  def export(spark: SparkSession, path: String): Long = {
    import graft.ops.Versioned
    val cur = Versioned.currentVersion(spark, path)
      .getOrElse(sys.error(s"uninitialized versioned table: $path"))
    // the add/remove log carries no schema actions, so an external
    // reader sees the files' PHYSICAL column names — any rename OR
    // drop in the table's retained history (not just the current
    // schema) would export silently wrong: a round-tripped rename
    // looks clean now but its exported versions lie, and a dropped
    // column's bytes would resurrect in external readers. Refuse all
    // of it (the UniForm restriction).
    require(!Versioned.hasColumnMapping(spark, path),
      s"cannot export $path: column mapping (renamed or dropped " +
        "columns) is not representable in the add/remove log format")
    val root = new Path(path).toUri.getPath.stripSuffix("/")
    def rel(f: String): String = {
      val p = new Path(f).toUri.getPath
      require(p.startsWith(root + "/"),
        s"cannot export externally-rooted file (shallow clone?): $f — " +
          "compact first to localize the data, then export")
      p.stripPrefix(root + "/")
    }
    val already = versions(spark, path).toSet
    var prevExported = Seq.empty[String]
    var latest = -1L
    (1L to cur).foreach { v =>
      val lv = v - 1
      if (!Versioned.manifestExists(spark, path, v)) {
        // vacuumed version: its manifest is gone, so its add/remove
        // delta is unknowable — leave a log gap exactly like the
        // deletion-vector case (the next retained version's delta is
        // computed against the last version actually exported), rather
        // than dying on a raw FileNotFoundException mid-export
        ()
      } else if (already.contains(lv)) {
        prevExported = Versioned.files(spark, path, Some(v))
        latest = math.max(latest, lv)
      } else if (Versioned.deletionVectorRows(spark, path, Some(v)).isEmpty) {
        val fileList = Versioned.files(spark, path, Some(v))
        val prevSet = prevExported.toSet
        val curSet = fileList.toSet
        commit(spark, path, lv,
          adds = fileList.filterNot(prevSet.contains).map(rel),
          removes = prevExported.filterNot(curSet.contains).map(rel))
        prevExported = fileList
        latest = lv
      } // else: deletion-vector version — inexpressible, leave a gap
    }
    latest
  }

  /** Append a commit (exclusive-create on the log file — a racing
    * duplicate version fails loudly rather than silently replacing,
    * the [[graft.ops.Versioned]] lock discipline). Fixture/test writer
    * — a real external table is written by its owning engine. */
  def commit(spark: SparkSession, path: String, version: Long,
      adds: Seq[String], removes: Seq[String] = Seq.empty): Unit = {
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    val target = new Path(logDir(path), logName(version))
    val out = f.create(target, false)
    try {
      val lines =
        adds.map(p => s"""{"add":{"path":"$p"}}""") ++
          removes.map(p => s"""{"remove":{"path":"$p"}}""")
      out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    } finally out.close()
  }
}
