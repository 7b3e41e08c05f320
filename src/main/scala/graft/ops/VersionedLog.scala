package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DataType, NullType, StringType, StructField, StructType}

/** The versioned lake's on-disk log: the only code that knows where a
  * table keeps its files and how they are encoded. The operation
  * families ([[VersionedReads]], [[VersionedWrites]],
  * [[VersionedRewrites]], [[VersionedSchema]], [[VersionedRefs]]) plan
  * against the narrow API below — manifest, segment, vector and schema
  * readers, one text-sidecar codec, and one commit — and never build a
  * log path themselves.
  *
  * Layout (`v<N>` = committed version N):
  * {{{
  *   data/gbatch=<N>-<id>/[<col>=<val>/]part-….parquet
  *                              immutable data files; the path from
  *                              `gbatch=` on is the file KEY
  *   _versions/v<N>.manifest    manifest: parquet directory of
  *                              (f, stats_json) rows, `seg:` rows
  *                              referencing segments (legacy: text);
  *                              a file row's stats_json is written
  *                              and read only by [[FileStats]], a
  *                              `seg:` row's holds the segment's
  *                              footprint ([[writeSegment]])
  *   _versions/segs/seg-<id>.parquet  immutable manifest segment
  *   _versions/v<N>.schema      logged table schema (JSON)
  *   _versions/v<N>.dv/         deletion vector, parquet (f, pos)
  *   _versions/v<N>.op          history label of the commit
  *   _versions/.v<N>.lock       commit claim (exclusive create)
  *   _versions/v<N>.idhw        identity high-water marks (col, mark)
  *   _versions/v<N>.txn         streaming-sink epoch (query, epoch)
  *   _versions/v<N>.cluster     clustered-layout provenance
  *   _versions/statscols        stats columns, `bloom:` Bloom columns
  *   _versions/ptransform       partition layout (column or transform)
  *   _versions/constraints      CHECK constraints (name, predicate)
  *   _versions/gencols          generated columns (column, expression)
  *   _versions/identity         identity columns (column, start, step)
  *   _versions/retired.d/<p>    retired physical column names
  *   _versions/tag.<name>       tagged version
  *   _versions/branch.<name>    branch directory cut from this table
  *   _versions/_branch_base     (source, base version) of a branch
  *   _versions/published        (source, version) of a zero-copy publish
  *   _versions/_rename_from     journal of an in-flight rename
  * }}}
  * Tuples are tab-separated lines; every text file is written through
  * [[writeText]] (tmp + rename), so no reader sees one torn.
  *
  *  - '''Commit = manifest rename.''' A writer stages its new data
  *    files, writes the next manifest to a temp name, and renames it
  *    into place (directory rename — namenode-atomic on HDFS, POSIX
  *    rename locally). Readers resolve "current" as the highest
  *    committed manifest and read exactly the files it lists — so a
  *    reader that resolved version N keeps a consistent snapshot
  *    forever (its files are never mutated or deleted until vacuum),
  *    and a half-crashed writer leaves only unreferenced stage files,
  *    never a torn table.
  *  - '''Manifest as data.''' The manifest is itself parquet: a small
  *    top level whose `seg:` rows reference immutable segment files
  *    (the Iceberg manifest-list shape), so a commit copies untouched
  *    segments forward by reference and writes O(delta) rows.
  *    Manifests, segments and vectors go through a direct parquet
  *    reader/writer (no job) plus immutability-keyed caches; scan
  *    planning (interval pruning, per-file vectors) and commit
  *    conflict checks run on the driver over those cached entries, so
  *    neither starts a Spark job.
  *  - '''Schema in the log, not the footers.''' Every commit publishes
  *    the table schema (`v<N>.schema`); reads project files through it,
  *    so a file written before a column existed reads as NULL without
  *    any per-scan footer-merge pass — additive schema evolution that
  *    never rewrites history.
  *  - '''Optimistic concurrency.''' Version N+1 is claimed by an
  *    EXCLUSIVE CREATE of a `.v<N+1>.lock` marker (O_CREAT|O_EXCL on
  *    local disks, namenode-atomic `create(overwrite=false)` on
  *    HDFS), so two writers racing to commit produce exactly one
  *    winner — the loser waits for the winner's version to publish
  *    and retries against it ([[occ]]), failing only when that
  *    version never publishes. Only the winner writes the manifest,
  *    still tmp+rename so readers never see a torn list.
  *  - '''Vectors are metadata.''' A version's deletion vector is
  *    immutable driver metadata like its manifest: written and read by
  *    the same direct parquet codec, cached per (path, version), and
  *    shipped with each file's scan partition, whose reader skips those
  *    row positions (no broadcast, no join).
  */
trait VersionedLog {

  protected def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new Path(path, "_versions")

  private def logFile(path: String, name: String) = new Path(logDir(path), name)

  private def manifestPath(path: String, v: Long) =
    logFile(path, s"v$v.manifest")

  private def dvPath(path: String, v: Long) = logFile(path, ofVersion(v, "dv"))

  /** The name of version `v`'s sidecar of kind `kind`. */
  protected def ofVersion(v: Long, kind: String): String = s"v$v.$kind"

  // ---------------------------------------------------------------- //
  // versions and text sidecars                                       //
  // ---------------------------------------------------------------- //

  /** Every retained version with its commit time (the manifest's
    * publish-rename mtime, immutable afterwards), oldest first — the
    * one parse of the manifest names. */
  protected def versionTimes(spark: SparkSession,
      path: String): Seq[(Long, Long)] = {
    val listed =
      try fs(spark, path).listStatus(logDir(path)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("v") && n.endsWith(".manifest"))
        Some((n.stripPrefix("v").stripSuffix(".manifest").toLong,
          s.getModificationTime))
      else None
    }.sortBy(_._1)
  }

  /** Every retained version, oldest first. */
  private[graft] def versions(spark: SparkSession, path: String): Seq[Long] =
    versionTimes(spark, path).map(_._1)

  /** Highest committed version, or None for an uninitialized table. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  protected def resolve(spark: SparkSession, path: String,
      version: Option[Long]): Long =
    version.orElse(currentVersion(spark, path))
      .getOrElse(sys.error(s"uninitialized versioned table: $path"))

  private[graft] def resolveVersion(spark: SparkSession, path: String,
      version: Option[Long]): Long = resolve(spark, path, version)

  /** Whether version `v`'s manifest is still retained (false after
    * vacuum dropped it) — the probe interop surfaces use to skip or
    * re-seed instead of dying on a raw FileNotFoundException. */
  private[graft] def manifestExists(spark: SparkSession, path: String,
      v: Long): Boolean =
    fs(spark, path).exists(manifestPath(path, v))

  /** The one codec for the lake's small text files (sidecars, op
    * labels, logged schemas, consumer checkpoints): the whole file as
    * UTF-8, None when it is absent. */
  protected def readText(spark: SparkSession, file: Path): Option[String] = {
    val f = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = f.open(file)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Write `text` so it can never be observed torn: to a tmp name,
    * renamed into place (atomic replace on POSIX; on stores whose
    * rename won't clobber, delete + rename — readers then see the old
    * content, briefly nothing, or the new content, never a partial
    * write). */
  protected def writeText(spark: SparkSession, file: Path,
      text: String): Unit = {
    val f = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(file.getParent,
      s".${file.getName}.tmp.${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, file)) {
      f.delete(file, false)
      require(f.rename(tmp, file), s"atomic write failed: $file")
    }
  }

  protected def readSidecar(spark: SparkSession, path: String,
      name: String): Option[String] = readText(spark, logFile(path, name))

  protected def writeSidecar(spark: SparkSession, path: String,
      name: String, text: String): Unit =
    writeText(spark, logFile(path, name), text)

  protected def dropSidecar(spark: SparkSession, path: String,
      name: String): Unit = fs(spark, path).delete(logFile(path, name), false)

  /** A sidecar's non-blank lines; empty when it is absent. */
  protected def sidecarLines(spark: SparkSession, path: String,
      name: String): Seq[String] =
    readSidecar(spark, path, name).toSeq.flatMap(_.split('\n'))
      .filter(_.nonEmpty)

  /** Replace a line sidecar; no lines removes it. */
  protected def writeSidecarLines(spark: SparkSession, path: String,
      name: String, lines: Seq[String]): Unit =
    if (lines.isEmpty) dropSidecar(spark, path, name)
    else writeSidecar(spark, path, name, lines.mkString("", "\n", "\n"))

  /** Every sidecar whose name starts with `prefix` (which may name a
    * subdirectory: `retired.d/`), as name-after-prefix → content. */
  protected def sidecars(spark: SparkSession, path: String,
      prefix: String): Map[String, String] = {
    val i = prefix.lastIndexOf('/')
    val (dir, start) =
      if (i < 0) (logDir(path), prefix)
      else (logFile(path, prefix.substring(0, i)), prefix.substring(i + 1))
    val names =
      try fs(spark, path).listStatus(dir).map(_.getPath.getName).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    names.filter(n => n.startsWith(start) && !n.startsWith("."))
      .flatMap(n => readSidecar(spark, path, prefix + n.stripPrefix(start))
        .map(n.stripPrefix(start) -> _)).toMap
  }

  // ---------------------------------------------------------------- //
  // data files                                                       //
  // ---------------------------------------------------------------- //

  // Deletion vectors and per-file stats key rows by (file KEY, row
  // position), where the key is the path RELATIVE to its data root:
  // `gbatch=<uuid>/…/part-….parquet`. A bare file NAME would NOT be
  // unique — a dynamic-partition write reuses one task's part name
  // across every partition directory it touches — while the batch
  // uuid + inner path is unique across jobs and clone roots alike.
  // Reads surface the same key and the row position as the
  // connector's row-id columns.
  protected val fileCol: String = graft.sources.LakeRowLevel.FileCol
  protected val posCol: String = graft.sources.LakeRowLevel.PosCol

  /** Batch-level directory name, partition-style (`gbatch=<v>`): the
    * file key starts at it, and no read ever surfaces it as a column. */
  private final val batchCol = "gbatch"

  protected def dataDir(path: String) = new Path(path, "data")

  /** A fresh batch directory `data/gbatch=<v>-<id>` for version `v`. */
  protected def batchDir(path: String, v: Long): Path =
    new Path(dataDir(path),
      s"$batchCol=$v-${java.util.UUID.randomUUID().toString.take(8)}")

  /** Every `.parquet` file under `dir`, recursively; empty when it is
    * absent. */
  protected def parquetFiles(spark: SparkSession, dir: Path): Seq[Path] = {
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[Path]
    if (f.exists(dir)) {
      val it = f.listFiles(dir, true)
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) out += s.getPath
      }
    }
    out.result()
  }

  /** The manifest-side rendering of the file key. */
  protected def fileKey(f: String): String = {
    val i = f.lastIndexOf(s"/data/$batchCol=")
    require(i > 0, s"manifest entry outside a data root: $f")
    f.substring(i + "/data/".length)
  }

  private[graft] def fileKeyOf(f: String): String = fileKey(f)

  /** The Hive-style `col=value` directory segments (raw, escaped) of a
    * data file, taken from its file KEY alone: a table root that sits
    * under a `col=value` directory of its own contributes none. Empty
    * for a file outside a data root. */
  private[graft] def partitionSegmentsOf(f: String): Map[String, String] = {
    val i = f.lastIndexOf(s"/data/$batchCol=")
    if (i < 0) Map.empty
    else f.substring(i + "/data/".length).split('/').toSeq
      .drop(1).dropRight(1).flatMap { s =>
        val e = s.indexOf('=')
        if (e > 0) Some(s.substring(0, e) -> s.substring(e + 1)) else None
      }.toMap
  }

  /** A path without its scheme: entries and roots compare by it. */
  private def core(p: String): String = {
    val u = new java.net.URI(p)
    Option(u.getPath).filter(_.nonEmpty).getOrElse(p)
  }

  /** Whether manifest entry `e` lives under `root`'s data directory
    * (scheme-insensitive). */
  protected def isUnderDataRoot(e: String, root: String): Boolean =
    core(e).startsWith(core(root) + "/data/")

  // ---------------------------------------------------------------- //
  // manifest I/O                                                     //
  // ---------------------------------------------------------------- //

  /** Manifests and schemas are IMMUTABLE once committed (vacuum only
    * ever deletes them), so (path, version) keys can be cached for the
    * life of the JVM; [[expire]], [[deleteTable]] and [[renameTable]]
    * invalidate their table's entries. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      Seq[(String, Option[String])]]()
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[StructType]]()
  /** Segment files are immutable for their whole life (vacuum only
    * ever deletes them), keyed (table path, `seg:` ref). */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      Seq[(String, Option[String])]]()
  /** Top-level manifest rows, segment refs UNEXPANDED — what an
    * O(delta) metadata commit copies forward. */
  private val rawTopCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      Seq[(String, Option[String])]]()

  /** Deletion vectors of committed versions, immutable like their
    * manifests; None = the version has no vector. */
  private val dvCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[DvRows]]()

  private def invalidate(path: String): Unit = {
    manifestCache.keySet.removeIf(_._1 == path)
    schemaCache.keySet.removeIf(_._1 == path)
    segmentCache.keySet.removeIf(_._1 == path)
    rawTopCache.keySet.removeIf(_._1 == path)
    dvCache.keySet.removeIf(_._1 == path)
  }

  /** `k`'s cached value, computed by `load` on a miss; a map past 256
    * entries is cleared first. */
  private def cached[K, V](cache: java.util.concurrent.ConcurrentHashMap[K, V],
      k: K)(load: => V): V = {
    val hit = cache.get(k)
    if (hit != null) hit
    else {
      val r = load
      if (cache.size > 256) cache.clear()
      cache.put(k, r)
      r
    }
  }

  /** Every record of one parquet FILE through parquet-mr's record
    * reader — no Spark job. The driver-metadata codec shared by
    * manifests, segments and deletion vectors; `each` decodes one
    * record. */
  private def foreachParquetRecord(conf: org.apache.hadoop.conf.Configuration,
      file: Path)(each: org.apache.parquet.example.data.Group => Unit): Unit = {
    val rd = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        file)
      .withConf(conf).build()
    try {
      var g = rd.read()
      while (g != null) {
        each(g)
        g = rd.read()
      }
    } finally rd.close()
  }

  private def hasValue(g: org.apache.parquet.example.data.Group,
      field: String): Boolean =
    g.getType.containsField(field) && g.getFieldRepetitionCount(field) > 0

  /** The `.parquet` part files under a parquet directory, by name (a
    * single file is its own part). */
  private def parquetParts(f: FileSystem, p: Path): Seq[Path] =
    if (!f.getFileStatus(p).isDirectory) Seq(p)
    else f.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** One parquet manifest/segment FILE → raw (f, stats_json) rows. */
  private def readParquetRows(conf: org.apache.hadoop.conf.Configuration,
      file: Path): Seq[(String, Option[String])] = {
    val out = Seq.newBuilder[(String, Option[String])]
    foreachParquetRecord(conf, file) { g =>
      out += ((g.getString("f", 0),
        if (hasValue(g, "stats_json")) Some(g.getString("stats_json", 0))
        else None))
    }
    out.result()
  }

  /** RAW rows of any manifest-format path — a parquet directory (the
    * committed shape), a single parquet file (a segment), or the
    * legacy text file — segment refs NOT expanded. */
  private def readRawRows(spark: SparkSession, path: String,
      p: Path): Seq[(String, Option[String])] = {
    val f = fs(spark, path)
    val st = f.getFileStatus(p) // throws FileNotFound for vacuumed/absent
    if (st.isDirectory || p.getName.endsWith(".parquet"))
      parquetParts(f, p).flatMap(
        readParquetRows(spark.sparkContext.hadoopConfiguration, _))
    else readText(spark, p).toSeq.flatMap(_.split('\n'))
      .filter(_.nonEmpty).map(l => (l, Option.empty[String]))
  }

  /** Direct single-file parquet write of small, already-collected
    * driver metadata — `schema` is the parquet message type, `fill`
    * sets one record's fields. The common init/compact/delete/clone
    * commit stays a metadata-speed driver write instead of a Spark
    * job. */
  private def writeParquetDirect[T](spark: SparkSession, file: Path,
      schema: String, rows: Iterator[T])(
      fill: (org.apache.parquet.example.data.Group, T) => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val conf = spark.sparkContext.hadoopConfiguration
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(mt).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(mt)
      fill(g, r)
      w.write(g)
    } finally w.close()
  }

  private def writeManifestDirect(spark: SparkSession, file: Path,
      entries: Seq[(String, Option[String])]): Unit =
    writeParquetDirect(spark, file,
      "message manifest { required binary f (UTF8); " +
        "optional binary stats_json (UTF8); }", entries.iterator) {
      case (g, (s, sj)) =>
        g.append("f", s)
        sj.foreach(g.append("stats_json", _))
    }

  // ---------------------------------------------------------------- //
  // manifest SEGMENTS — the Iceberg manifest-list shape              //
  //                                                                  //
  // A top-level manifest row `seg:segs/<name>` references an         //
  // IMMUTABLE parquet file under `_versions/segs/` holding ordinary  //
  // (f, stats_json) rows; readers splice it in place. An append or   //
  // metadata-only commit (DV delete, ALTER, RESTORE) then writes a   //
  // top level of O(segments + delta) rows — carried refs copy        //
  // forward VERBATIM — instead of re-listing every file: at 1M files //
  // the commit cost stays the delta, which is what a 100 TB table    //
  // needs. Inline rows SEAL into one new segment when they exceed    //
  // `graft.lake.manifestInlineRows` (Delta's checkpoint              //
  // amortization: one O(accumulated) write licenses thousands of     //
  // O(1) commits). Full-rewrite commits (merge, compact, clone,      //
  // publish) still write flat manifests — a natural segment          //
  // collapse. Refs are RELATIVE to `_versions/`, so a rename leaves  //
  // the REF ROWS untouched — but segment CONTENTS hold absolute data //
  // paths, so [[renameTable]] rewrites each referenced segment once  //
  // (a new immutable file) and remaps the refs; [[expire]] deletes   //
  // segments no retained version references.                         //
  // ---------------------------------------------------------------- //

  private final val segRefPrefix = "seg:"
  private def segsDir(path: String) = logFile(path, "segs")
  protected def isSegRef(e: (String, Option[String])): Boolean =
    e._1.startsWith(segRefPrefix)

  /** Seal threshold for inline top-level rows. The default keeps the
    * top level a one-block driver read; a deployment expecting larger
    * commit batches raises it to taste — the tradeoff is top-level
    * read size vs segment-file count. */
  protected def manifestInlineRows(spark: SparkSession): Int =
    spark.conf.get("graft.lake.manifestInlineRows", "4096").toInt

  protected def readSegmentRows(spark: SparkSession, path: String,
      ref: String): Seq[(String, Option[String])] =
    cached(segmentCache, (path, ref))(readRawRows(spark, path,
      logFile(path, ref.stripPrefix(segRefPrefix))))

  /** Top-level rows of version `v`, refs UNEXPANDED. For an
    * unsegmented manifest this equals the full entry list. */
  protected def rawTop(spark: SparkSession, path: String,
      v: Long): Seq[(String, Option[String])] =
    cached(rawTopCache, (path, v))(readRawRows(spark, path,
      manifestPath(path, v)))

  /** `entries` as a new immutable segment file of `path`'s log; returns
    * its ref. */
  private def newSegment(spark: SparkSession, path: String,
      entries: Seq[(String, Option[String])]): String = {
    fs(spark, path).mkdirs(segsDir(path))
    val name =
      s"seg-${java.util.UUID.randomUUID().toString.take(13)}.parquet"
    writeManifestDirect(spark, new Path(segsDir(path), name), entries)
    val ref = s"${segRefPrefix}segs/$name"
    segmentCache.put((path, ref), entries.toList)
    ref
  }

  /** Write `entries` as one immutable segment file; returns the top-
    * level ref row. Entries are commit-bounded (the staged batch, or
    * the accumulated inline rows at seal time) — one direct parquet
    * write, no job. The ref row's stats_json records the segment's
    * PARTITION FOOTPRINT (the distinct partition directory components
    * of its file keys, plus whether it holds any flat file), so a
    * partition-scoped merge can carry a disjoint segment without ever
    * opening it. */
  protected def writeSegment(spark: SparkSession, path: String,
      entries: Seq[(String, Option[String])]): (String, Option[String]) = {
    require(!entries.exists(isSegRef), "segments must not nest")
    val ref = newSegment(spark, path, entries)
    val comps = entries.map { case (f0, _) =>
      val k = fileKey(f0).split('/')
      if (k.length >= 3) Some(k(1)) else None
    }
    val parts = comps.flatten.distinct
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val footprint =
      if (parts.size > 256) // footprint unknown: always open
        JsonMethods.compact(JsonMethods.render(
          ("parts" -> org.json4s.JNull) ~ ("n" -> entries.size)))
      else
        JsonMethods.compact(JsonMethods.render(
          ("parts" -> parts) ~ ("flat" -> comps.contains(None)) ~
            ("n" -> entries.size)))
    (ref, Some(footprint))
  }

  /** The recorded row count of a segment ref, if present — what lets
    * an incremental change feed report an EXACT total without opening
    * shared segments. */
  protected def segRowCount(sj: Option[String]): Option[Long] =
    sj.flatMap { js =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(js) \ "n" match {
        case JInt(n) => Some(n.toLong)
        case _ => None
      }
    }

  /** The recorded (partition dirs, has-flat-files) footprint of a
    * segment ref row; None = unknown (open the segment). */
  protected def footprintOf(sj: Option[String]): Option[(Set[String], Boolean)] =
    sj.flatMap { js =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val j = JsonMethods.parse(js)
      j \ "parts" match {
        case JArray(vs) =>
          val flat = j \ "flat" match {
            case JBool(b) => b
            case _ => true
          }
          Some((vs.collect { case JString(s0) => s0 }.toSet, flat))
        case _ => None
      }
    }

  /** Seal `top`'s inline rows plus `staged` into a fresh segment past
    * the threshold; carried refs copy forward verbatim. */
  protected def sealTop(spark: SparkSession, path: String,
      top: Seq[(String, Option[String])],
      staged: Seq[(String, Option[String])]): Seq[(String, Option[String])] = {
    val (refs, inline) = top.partition(isSegRef)
    val combined = inline ++ staged
    if (combined.nonEmpty && combined.size > manifestInlineRows(spark))
      refs :+ writeSegment(spark, path, combined)
    else refs ++ combined
  }

  /** The NEXT version's top-level rows: `cur`'s segment refs carried
    * verbatim, `cur`'s inline rows plus the staged entries inline —
    * sealed into one fresh segment past the threshold. O(segments +
    * inline + staged) driver metadata work, never O(table files). */
  protected def segmentedTop(spark: SparkSession, path: String, cur: Long,
      staged: Seq[(String, Option[String])]): Seq[(String, Option[String])] =
    sealTop(spark, path, rawTop(spark, path, cur), staged)

  /** Segment-aware carry for a rewrite of an arbitrary HIT file set (a
    * delete's predicate footprint, a small-file compaction's slivers):
    * a segment containing no hit file keeps its ref; mixed segments
    * expand minus the hits. Segments open from the driver cache (the
    * probe that CHOSE the hits already expanded them), so the saving
    * is in the WRITE: the committed top level stays refs +
    * survivors-of-mixed-segments + inline, not a full re-listing. */
  protected def carryTopMinus(spark: SparkSession, path: String, v: Long,
      hit: Set[String]): Seq[(String, Option[String])] = {
    val (refs, inline) = rawTop(spark, path, v).partition(isSegRef)
    refs.flatMap { r =>
      val rows = readSegmentRows(spark, path, r._1)
      if (!rows.exists(e => hit(e._1))) Seq(r)
      else rows.filterNot(e => hit(e._1))
    } ++ inline.filterNot(e => hit(e._1))
  }

  /** Segment-aware partition split of version `v`'s manifest for a
    * partition-scoped rewrite: a segment whose recorded footprint is
    * DISJOINT from `touched` is carried verbatim — never opened;
    * overlapping and unknown-footprint segments expand (driver,
    * cached). Returns (carried top rows, hit entries), hit = files in
    * touched partitions. Files OUTSIDE any `pcPhys=` directory (the
    * schema-only placeholder, pre-layout-evolution files) follow
    * `keepFlat`: a merge always REWRITES them (false — carrying them
    * next to partitioned files would present an inconsistent directory
    * structure), a partition drop KEEPS them (true — they belong to no
    * droppable partition); a flat-bearing segment carries only under
    * `keepFlat`. At 100 TB this is what makes a two-partition daily
    * merge a two-partition commit: the other thousands of partitions
    * ride as a handful of unopened refs. */
  protected def splitTopByPartitions(spark: SparkSession, path: String,
      v: Long, pcPhys: String, touched: Set[String],
      keepFlat: Boolean = false)
      : (Seq[(String, Option[String])], Seq[(String, Option[String])]) = {
    val pfx = pcPhys + "="
    def partOf(f0: String): Option[String] = {
      val k = fileKey(f0).split('/')
      if (k.length >= 3 && k(1).startsWith(pfx)) Some(k(1)) else None
    }
    val (refs, inline) = rawTop(spark, path, v).partition(isSegRef)
    val carried = Seq.newBuilder[(String, Option[String])]
    val opened = Seq.newBuilder[(String, Option[String])]
    refs.foreach { r =>
      footprintOf(r._2) match {
        case Some((parts, flat)) if (keepFlat || !flat) &&
            parts.forall(p => p.startsWith(pfx) && !touched(p)) =>
          carried += r
        case _ => opened ++= readSegmentRows(spark, path, r._1)
      }
    }
    val (hit, keep) = (inline ++ opened.result()).partition {
      case (f0, _) => partOf(f0) match {
        case Some(p) => touched(p)
        case None => !keepFlat
      }
    }
    (carried.result() ++ keep, hit)
  }

  /** (top-level manifest rows, segment refs among them) of version
    * `v` — the receipt that a commit's metadata cost was O(delta). */
  def manifestShape(spark: SparkSession, path: String,
      version: Option[Long] = None): (Long, Long) = {
    val top = rawTop(spark, path, resolve(spark, path, version))
    (top.size.toLong, top.count(isSegRef).toLong)
  }

  /** Driver-side manifest read — (path, stats) entries — raw top
    * level with segment refs spliced in place, behind the
    * immutability cache. */
  private[graft] def manifestEntries(spark: SparkSession, path: String,
      v: Long): Seq[(String, Option[String])] =
    cached(manifestCache, (path, v)) {
      val raw = rawTop(spark, path, v)
      if (!raw.exists(isSegRef)) raw
      else raw.flatMap { e =>
        if (isSegRef(e)) readSegmentRows(spark, path, e._1) else Seq(e)
      }
    }

  protected def readManifest(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    manifestEntries(spark, path, v).map(_._1)

  /** The files of version `v` (default: current). */
  def files(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] =
    readManifest(spark, path, resolve(spark, path, version))

  /** Entries of version `v` whose stats MAY satisfy every (column,
    * lo, hi) interval — the one data-skipping test, shared by the
    * connector's scan planning and `readRange`. It runs on the driver
    * over the cached manifest entries (no Spark job), and is a superset
    * by construction: an entry without stats, without an entry for a
    * constrained column, or with unparsable stats is KEPT. */
  private[graft] def candidateFiles(spark: SparkSession, path: String,
      v: Long, ranges: Seq[(String, Double, Double)])
      : Seq[(String, Option[String])] = {
    val entries = manifestEntries(spark, path, v)
    if (ranges.isEmpty) entries
    else {
      val keyed = ranges.map { case (c, lo, hi) =>
        (statsFieldOf(spark, path, v, c), lo, hi) }
      entries.filter { case (_, sj) =>
        val stats = FileStats.decode(sj)
        keyed.forall { case (f, lo, hi) =>
          stats.units(f).forall { case (mn, mx) => mn <= hi && mx >= lo } }
      }
    }
  }

  // ---------------------------------------------------------------- //
  // logged schemas and column mapping                                //
  // ---------------------------------------------------------------- //

  /** The committed table schema of version `v` (default: current);
    * None for legacy tables committed before schemas were logged. */
  def tableSchema(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[StructType] = {
    val v = resolve(spark, path, version)
    cached(schemaCache, (path, v))(
      readSidecar(spark, path, ofVersion(v, "schema"))
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  /** Version `v`'s schema: the logged one, or — for a version
    * committed before schemas were logged — its first file's footer
    * schema plus that file's partition-directory columns (strings). */
  private[graft] def schemaOf(spark: SparkSession, path: String,
      v: Long): StructType =
    tableSchema(spark, path, Some(v)).getOrElse {
      val f0 = readManifest(spark, path, v).head
      val conf = spark.sparkContext.hadoopConfiguration
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f0), conf))
      val meta = try r.getFooter.getFileMetaData finally r.close()
      val data = Option(meta.getKeyValueMetaData.get(sparkRowMetadata))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
      val parts = partitionSegmentsOf(f0).keys.toSeq.sorted
        .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName)
        .filterNot(data.fieldNames.contains)
      StructType(data.fields ++ parts.map(StructField(_, StringType)))
    }

  /** The footer key Spark's parquet writer stores the row schema under. */
  private final val sparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** Logged-schema fields carry their PHYSICAL (on-disk) name in
    * field metadata under this key when it differs from the logical
    * name; files are always written under physical names, reads
    * translate back. A field without the key is its own physical
    * name — the universal pre-rename case, which therefore pays
    * nothing for the machinery. */
  protected final val physicalKey = "graft.physical"

  protected def physicalOf(f: StructField): String =
    if (f.metadata.contains(physicalKey)) f.metadata.getString(physicalKey)
    else f.name

  private[graft] def physicalNameOf(f: StructField): String = physicalOf(f)

  protected def hasMapping(s: StructType): Boolean =
    s.fields.exists(f => physicalOf(f) != f.name)

  /** The logged-schema field whose per-file stats answer for
    * `column` — stats key on its PHYSICAL name ([[FileStats]]), which
    * is invariant under renames, so historical per-file stats stay
    * valid forever. A name absent from the logged schema is an error,
    * NOT a raw-key fallback: a pre-rename name must not silently
    * answer with the renamed column's stats. A legacy table without a
    * logged schema keys on the name itself. */
  protected def statsFieldOf(spark: SparkSession, path: String, v: Long,
      column: String): StructField =
    tableSchema(spark, path, Some(v)) match {
      case None => StructField(column, NullType)
      case Some(s0) =>
        val f0 = s0.fields.find(_.name == column)
        require(f0.isDefined, s"no such column '$column' on $path at v$v")
        f0.get
    }

  /** Schema identity for the rebase conflict check: field names,
    * PHYSICAL names (column mapping) and data types. Nullability and
    * field ORDER are deliberately ignored — a merge's union widens
    * nullability, and partition discovery re-appends the partition
    * column last, so both churn on every ordinary merge without
    * changing what is on disk; refusing a rebase over them would make
    * the fast path unreachable. */
  private def schemaSig(s: Option[StructType]): Option[String] =
    s.map(_.fields.map(f =>
      s"${f.name}|${physicalOf(f)}|${f.dataType.simpleString}")
      .sorted.mkString(";"))

  // ---------------------------------------------------------------- //
  // deletion vectors                                                 //
  // ---------------------------------------------------------------- //

  /** A deletion vector on the driver: file key → that file's deleted
    * row positions, sorted ascending and distinct. Keys never map to
    * an empty array. */
  private[graft] type DvRows = Map[String, Array[Long]]

  /** The deletion vector of version `v` (default: current) as driver
    * rows — None when the version has no outstanding vectored
    * deletes. Reads every parquet part under `v<N>.dv/` through the
    * direct codec (no Spark job), so the multi-part vectors older
    * commits wrote through the engine read too, and caches the result
    * per (path, version): a committed vector never changes. Readers
    * already needed the whole vector on the driver (each scan plans
    * its files' positions from it), so holding it as metadata adds no
    * driver-size limit; it is bounded by outstanding deletes, which
    * compaction folds away. */
  def deletionVectorRows(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[DvRows] = {
    val v = resolve(spark, path, version)
    val k = (path, v)
    val hit = dvCache.get(k)
    if (hit != null) return hit
    val f = fs(spark, path)
    val p = dvPath(path, v)
    val r =
      if (!f.exists(p)) None
      else Some(readDv(spark, parquetParts(f, p))).filter(_.nonEmpty)
    // cache only a PUBLISHED version: the lock winner writes the
    // vector before the manifest rename makes the version visible
    if (f.exists(manifestPath(path, v))) {
      if (dvCache.size > 256) dvCache.clear()
      dvCache.put(k, r)
    }
    r
  }

  /** Deletion-vector rows, also the connector's DV sidecar schema. */
  private[graft] val dvFields = StructType(Seq(
    StructField("f", StringType),
    StructField("pos", org.apache.spark.sql.types.LongType)))

  private final val dvMessage =
    "message dv { required binary f (UTF8); required int64 pos; }"

  /** (f, pos) records of parquet files → driver rows; records with a
    * NULL key or position name no row and are skipped. */
  private def readDv(spark: SparkSession, files: Seq[Path]): DvRows = {
    val conf = spark.sparkContext.hadoopConfiguration
    val acc = scala.collection.mutable.HashMap[String,
      scala.collection.mutable.ArrayBuilder.ofLong]()
    files.foreach(foreachParquetRecord(conf, _) { g =>
      if (hasValue(g, "f") && hasValue(g, "pos"))
        acc.getOrElseUpdate(g.getString("f", 0),
          new scala.collection.mutable.ArrayBuilder.ofLong) +=
          g.getLong("pos", 0)
    })
    acc.iterator.map { case (f0, b) => f0 -> sortedDistinct(b.result()) }
      .toMap
  }

  /** The vector the executors of a row-level write staged as parquet
    * sidecars under `dirs`. */
  protected def stagedDv(spark: SparkSession, dirs: Seq[String]): DvRows =
    readDv(spark, dirs.flatMap(d => parquetParts(fs(spark, d), new Path(d))))

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    val s0 = a.clone()
    java.util.Arrays.sort(s0)
    var n = 0
    var i = 0
    while (i < s0.length) {
      if (n == 0 || s0(n - 1) != s0(i)) { s0(n) = s0(i); n += 1 }
      i += 1
    }
    if (n == s0.length) s0 else java.util.Arrays.copyOf(s0, n)
  }

  /** Collected (file key, row position) rows → driver rows. */
  protected def dvOf(rows: Array[Row]): DvRows =
    rows.groupBy(_.getString(0)).map { case (f0, rs) =>
      f0 -> sortedDistinct(rs.map(_.getLong(1))) }

  /** `prev` ∪ `delta`: successive vectored deletes accumulate. */
  protected def dvUnion(prev: Option[DvRows], delta: DvRows): DvRows =
    prev.fold(delta)(p0 => (p0.keySet ++ delta.keySet).iterator.map { k =>
      k -> sortedDistinct(p0.getOrElse(k, Array.emptyLongArray) ++
        delta.getOrElse(k, Array.emptyLongArray))
    }.toMap)

  /** `dv` minus the entries of files `drop` names (the files a rewrite
    * materialized); None once nothing is left. */
  protected def dvWithout(dv: Option[DvRows])(
      drop: String => Boolean): Option[DvRows] =
    dv.map(_.filterNot(e => drop(e._1))).filter(_.nonEmpty)

  /** Whether two versions' vectors name the same rows (no vector ≡
    * empty vector). */
  private[graft] def sameDv(a: Option[DvRows], b: Option[DvRows]): Boolean = {
    val (x, y) = (a.getOrElse(Map.empty), b.getOrElse(Map.empty))
    x.keySet == y.keySet &&
      x.forall { case (k, ps) => java.util.Arrays.equals(ps, y(k)) }
  }

  /** Total deleted rows a vector names. */
  private[graft] def dvRowCount(dv: DvRows): Long =
    dv.valuesIterator.map(_.length.toLong).sum

  // ---------------------------------------------------------------- //
  // commit                                                           //
  // ---------------------------------------------------------------- //

  /** Atomically commit a file list as version `v`, together with the
    * version's schema, (optionally) its deletion vector, its history
    * label `op` and per-version `extras` ((kind, text) sidecars such as
    * the identity high-water `idhw`). True iff this writer won the
    * race for `v`.
    *
    * The lock is an EXCLUSIVE CREATE of `.v<v>.lock` — on a local
    * filesystem that is a real O_CREAT|O_EXCL via java.nio (POSIX
    * rename would silently overwrite, so exists()+rename is
    * check-then-act there); on HDFS `create(overwrite = false)` is
    * namenode-atomic. Only the lock winner writes sidecars, vector and
    * manifest, all BEFORE the manifest DIRECTORY rename, which is the
    * publish point — so readers never observe a torn version, or a
    * version without its sidecars. The vector and the top-level
    * manifest rows (driver rows) are written by the direct parquet
    * writer — no job — and enter the caches once published. Writers
    * that may retry reach this only through [[occ]] and [[rebase]]. */
  protected def commit(spark: SparkSession, path: String, v: Long,
      fileList: Seq[(String, Option[String])], schema: Option[StructType],
      dv: Option[DvRows], op: String,
      extras: Seq[(String, String)] = Seq.empty): Boolean = {
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    // a commit may only ever create the NEXT version: if `v` is at or
    // below the current tip the slot is taken — or was VACUUMED, whose
    // lock-file cleanup would otherwise let a stale pinned writer
    // "win" a recreated historical version and silently lose its data
    // below the tip
    if (currentVersion(spark, path).exists(_ >= v)) return false
    val lock = logFile(path, s".v$v.lock")
    val won =
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(lock.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        // hadoop's FileAlreadyExistsException extends IOException; any
        // other IO failure here is indistinguishable from a lost race;
        // [[occ]] surfaces a persistent one as a never-published version
        try { f.create(lock, false).close(); true }
        catch { case _: java.io.IOException => false }
      }
    if (!won) return false
    (Seq("op" -> op) ++ schema.map("schema" -> _.json) ++ extras).foreach {
      case (kind, text) => writeSidecar(spark, path, ofVersion(v, kind), text)
    }
    val vector = dv.filter(_.nonEmpty)
    vector.foreach { d =>
      val dir = dvPath(path, v)
      f.delete(dir, true)
      f.mkdirs(dir)
      writeParquetDirect(spark, new Path(dir, "part-00000.parquet"), dvMessage,
        d.iterator.flatMap { case (k, ps) => ps.iterator.map(k -> _) }) {
        case (g, (k, pos)) =>
          g.append("f", k)
          g.append("pos", pos)
      }
    }
    val tmp = logFile(path, s".v$v.manifest.tmp.${java.util.UUID.randomUUID()}")
    f.mkdirs(tmp)
    writeManifestDirect(spark, new Path(tmp, "part-00000.parquet"), fileList)
    // a segmented top level's expanded-entry cache fills on first read
    if (!fileList.exists(isSegRef)) manifestCache.put((path, v), fileList.toList)
    rawTopCache.put((path, v), fileList.toList)
    val published = f.rename(tmp, manifestPath(path, v))
    if (published) {
      if (dvCache.size > 256) dvCache.clear()
      dvCache.put((path, v), vector)
    }
    published
  }

  /** One optimistic attempt's commit, built against version `cur`:
    * the next version's top-level rows, schema, vector and op record,
    * the receipt of the version it lands as, the staging directory to
    * remove if it loses, and per-version sidecars. `rebase`, when set,
    * re-points the already-staged files at a newer tip before the
    * attempt is re-run from scratch. */
  protected case class Commit[R](top: Seq[(String, Option[String])],
      schema: Option[StructType], dv: Option[DvRows], op: String,
      receipt: Long => R, staged: Option[Path] = None,
      extras: Seq[(String, String)] = Seq.empty,
      rebase: Option[Rebase] = None)

  /** How a lost [[Commit]] rebases: `meta` is the
    * [[metadataFingerprint]] the writer validated against, `op` the
    * history record of a rebased commit, and `onto(newest)` the
    * top-level rows and vector against tip `newest` — None when the
    * winners' commits overlap the writer's footprint. */
  protected case class Rebase(meta: String, op: String,
      onto: Long => Option[(Seq[(String, Option[String])], Option[DvRows])])

  /** One string capturing every piece of table metadata a write
    * validates against BEFORE staging. A rebase is only sound if none
    * of it moved while the writer raced. */
  protected def metadataFingerprint(spark: SparkSession, path: String): String

  /** A metadata-only [[Commit]]: version `from`'s top-level rows and
    * deletion vector carried forward under `schema`. */
  protected def carryForward(spark: SparkSession, path: String, from: Long,
      schema: Option[StructType], op: String): Either[Long, Commit[Long]] =
    Right(Commit(segmentedTop(spark, path, from, Seq.empty), schema,
      deletionVectorRows(spark, path, Some(from)), op, identity))

  /** The one optimistic-concurrency loop, run by every writer that
    * retries. `attempt(cur, first)` computes the write against version
    * `cur` (`pinned` on the first attempt, else the tip) and returns a
    * result that needs no commit (Left) or the [[Commit]] of version
    * `cur + 1`. A lost race first tries the commit's [[rebase]]; failing
    * that it removes the staging directory, waits for the version it
    * lost to publish ([[awaitPublished]]) and re-runs the attempt on the
    * new tip. There is no retry count: every lost race means another
    * writer's version landed, and the loop fails only when the lost
    * version never publishes. */
  protected def occ[R](spark: SparkSession, path: String, what: String,
      pinned: Option[Long] = None)(
      attempt: (Long, Boolean) => Either[R, Commit[R]]): R = {
    @annotation.tailrec
    def run(cur: Long, first: Boolean): R = attempt(cur, first) match {
      case Left(r) => r
      case Right(c) =>
        var won: Option[Long] = None
        try won =
          if (commit(spark, path, cur + 1, c.top, c.schema, c.dv, c.op,
              c.extras)) Some(cur + 1)
          else c.rebase.flatMap(rebase(spark, path, what, cur, c, _))
        finally if (won.isEmpty) c.staged.foreach(fs(spark, path).delete(_, true))
        won match {
          case Some(v) => c.receipt(v)
          case None => run(awaitPublished(spark, path, what, cur + 1), false)
        }
    }
    run(pinned.getOrElse(resolve(spark, path, None)), first = true)
  }

  /** The one rebase loop: re-commit a lost [[Commit]]'s ALREADY-STAGED
    * files on top of newer tips — no data re-read or re-write — while
    * the table metadata and schema are unchanged since `base` (the
    * snapshot the writer validated and staged against) and `rb.onto`
    * finds the winners disjoint. An append's always are (appends never
    * conflict on data); a merge's are when no commit since `base` added
    * or removed a manifest or vector entry inside its touched
    * partitions. Each round first waits for the version it lost to
    * publish. Returns the committed version, or None on a conflict
    * (the caller restages). */
  private def rebase(spark: SparkSession, path: String, what: String,
      base: Long, c: Commit[_], rb: Rebase): Option[Long] = {
    val sig = schemaSig(tableSchema(spark, path, Some(base)))
    @annotation.tailrec
    def onto(lost: Long): Option[Long] = {
      val newest = awaitPublished(spark, path, what, lost)
      val next =
        if (metadataFingerprint(spark, path) != rb.meta ||
            schemaSig(tableSchema(spark, path, Some(newest))) != sig) None
        else rb.onto(newest)
      next match {
        case None => None
        case Some((top, dv)) =>
          if (commit(spark, path, newest + 1, top, c.schema, dv, rb.op,
              c.extras)) Some(newest + 1)
          else onto(newest + 1)
      }
    }
    onto(base + 1)
  }

  /** Wait for version `v`, whose commit race this writer just lost, to
    * publish, and return the tip. A winner's manifest lands moments
    * after its lock; a version that does not publish within the grace
    * has a stale lock (its writer died between lock and publish) or a
    * persistent IO fault ([[commit]]), and no retry can get past it. */
  private def awaitPublished(spark: SparkSession, path: String,
      what: String, v: Long): Long = {
    var newest = resolve(spark, path, None)
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (newest < v && System.nanoTime() < deadline) {
      Thread.sleep(50)
      newest = resolve(spark, path, None)
    }
    if (newest < v) sys.error(s"$what lost the commit race for v$v of " +
      s"$path, and v$v never published (stale .v$v.lock or a " +
      "persistent IO fault)")
    newest
  }

  // ---------------------------------------------------------------- //
  // retention and table moves                                        //
  // ---------------------------------------------------------------- //

  /** How old an unreferenced segment file must be before vacuum
    * collects it: younger ones may belong to an in-flight append. */
  private[graft] val segGraceMs: Long = 15 * 60 * 1000L

  /** Remove versions `drop` from the log (vacuum): each one's manifest,
    * schema, vector, op label, cluster mark and lock. Its `idhw`/`txn`
    * marks go only when a KEPT version strictly newer than it carries
    * every key they hold — per column for `idhw` (an identity
    * declaration writes a single-column mark, merges write all
    * columns), per query for `txn` — because their scan-back readers
    * walk newest-first, so an older kept copy (a tag-pinned v1) must
    * never license deleting the newest mark. Then unreferenced
    * segments are collected and the table's cache entries dropped. */
  protected def expire(spark: SparkSession, path: String, drop: Seq[Long],
      keep: Seq[Long]): Unit = {
    val f = fs(spark, path)
    val scanBack = Seq("idhw", "txn")
    def keys(v: Long, kind: String): Set[String] =
      sidecarLines(spark, path, ofVersion(v, kind)).map(_.takeWhile(_ != '\t'))
        .toSet
    val kept = scanBack.map(k =>
      k -> keep.map(v => (v, keys(v, k))).filter(_._2.nonEmpty)).toMap
    drop.foreach { v =>
      f.delete(manifestPath(path, v), true)
      f.delete(dvPath(path, v), true)
      Seq("schema", "op", "cluster").foreach(k =>
        dropSidecar(spark, path, ofVersion(v, k)))
      scanBack.foreach { kind =>
        val ks = keys(v, kind)
        if (ks.nonEmpty && ks.forall(c =>
            kept(kind).exists { case (w, cs) => w > v && cs.contains(c) }))
          dropSidecar(spark, path, ofVersion(v, kind))
      }
      dropSidecar(spark, path, s".v$v.lock")
    }
    // segment GC: a manifest segment lives exactly as long as some
    // RETAINED version's top level references it. Two races with an
    // in-flight append (which seals segments on routine commits):
    // (1) the writer WINS its commit lock after vacuum computed its
    //     keep set — the new version is durable, so its segments must
    //     survive: re-list the versions HERE (post-drop) and union refs
    //     of EVERY version now present, not the stale keep;
    // (2) the writer sealed a segment but hasn't won the lock yet at
    //     GC instant — no manifest references it anywhere, so only its
    //     AGE can save it: skip segments younger than a grace window
    //     ([[segGraceMs]], mtime-based, the standard lake-vacuum
    //     guard). A LOSING writer's orphaned segment ages past the
    //     grace and is collected next vacuum.
    val segD = segsDir(path)
    if (f.exists(segD)) {
      val liveSegs = versions(spark, path).filterNot(drop.contains).flatMap { v =>
        // fresh commits carry NEW (path, v) cache keys — rawTop
        // cannot serve a stale entry for them
        try rawTop(spark, path, v).filter(isSegRef)
          .map(r => new Path(r._1.stripPrefix(segRefPrefix)).getName)
        catch { case _: java.io.FileNotFoundException => Seq.empty[String] }
      }.toSet
      val now = System.currentTimeMillis()
      f.listStatus(segD).foreach { s0 =>
        if (!liveSegs.contains(s0.getPath.getName) &&
            now - s0.getModificationTime >= segGraceMs)
          f.delete(s0.getPath, true)
      }
    }
    invalidate(path)
  }

  /** Delete the table directory — data, log and history — and its
    * cache entries (they are keyed (path, version): without this, a
    * table re-created at the same path would serve the old schema and
    * manifests). */
  protected def deleteTable(spark: SparkSession, path: String): Boolean = {
    val ok = fs(spark, path).delete(new Path(path), true)
    invalidate(path)
    ok
  }

  /** RENAME (move) the table directory and re-root its log. Data,
    * deletion vectors, schema log and history travel with the move (DV
    * and stats entries key on RELATIVE file keys), but manifests
    * reference data files by ABSOLUTE path, so after the one-filesystem-op
    * directory move every surviving version's manifest gets its
    * `<src>/data/` prefix rewritten to `<dst>/data/` (entries under
    * OTHER roots — clone sources — are left untouched: those files did
    * not move). O(segments + inline rows) driver metadata work, zero
    * data I/O.
    *
    * Crash safety: the move is JOURNALED (`_rename_from` in the
    * destination's log, written right after the directory move) and
    * each per-version manifest swap is two atomic renames (old aside,
    * then rewritten in), so a crash never loses a manifest, and
    * re-running the SAME `renameTable(src, dst)` after a crash resumes and completes the
    * rewrite (the per-version swap is idempotent; versions already
    * rewritten compare equal and are skipped). A call whose `src` is
    * gone resumes only a journaled move of this exact `src`. */
  def renameTable(spark: SparkSession, src: String, dst: String): Unit = {
    val f = fs(spark, src)
    // normalize scheme-qualified entry prefixes by suffix match: an
    // entry `file:/a/t/data/gbatch=…` moves when its root core ends
    // with the src path's core
    val (srcCore, dstCore) = (core(src), core(dst))
    val journal = "_rename_from"
    currentVersion(spark, src) match {
      case Some(_) =>
        require(currentVersion(spark, dst).isEmpty,
          s"rename target already exists: $dst")
        val dstPath = new Path(dst)
        Option(dstPath.getParent).foreach(f.mkdirs)
        require(f.rename(new Path(src), dstPath),
          s"filesystem refused rename $src -> $dst")
        writeSidecar(spark, dst, journal, srcCore)
      case None =>
        val resumable = currentVersion(spark, dst).isDefined &&
          readSidecar(spark, dst, journal).exists(_.trim == srcCore)
        require(resumable, s"not a versioned lake table: $src")
    }
    invalidate(src)
    invalidate(dst)
    val cur = currentVersion(spark, dst).getOrElse(
      sys.error(s"rename lost the table: $dst"))
    def rewriteRow(e: String, sj: Option[String]) = {
      val i = e.lastIndexOf(s"/data/$batchCol=")
      if (i > 0 && core(e.substring(0, i)) == srcCore)
        // dropping the core keeps the entry's own scheme spelling
        (e.substring(0, i).dropRight(srcCore.length) + dstCore +
          e.substring(i), sj)
      else (e, sj)
    }
    // SEGMENT-AWARE rewrite: refs are relative, so the REF ROWS need
    // no path surgery — but the segment FILES' contents hold absolute
    // data paths. Rewrite each referenced segment ONCE (segments are
    // immutable and shared across versions — a new immutable file with
    // rewritten rows, SAME footprint stats since file keys are
    // relative), then remap refs in each version's top level. Keeps
    // the manifest segmented and the cost O(segments + inline rows),
    // not O(versions × table files); a segment with no src-rooted
    // entry (clone sources) keeps its old ref. Old segment files go
    // unreferenced and are GC'd by vacuum. Idempotent on resume: an
    // already-remapped top finds its segments changeless and skips.
    val segRemap = scala.collection.mutable.HashMap[String, String]()
    def remapRef(ref: String): String = segRemap.getOrElseUpdate(ref, {
      val rows = readSegmentRows(spark, dst, ref)
      val rewritten = rows.map { case (e, sj) => rewriteRow(e, sj) }
      if (rewritten == rows) ref else newSegment(spark, dst, rewritten)
    })
    (1L to cur).foreach { v =>
      val dir = manifestPath(dst, v)
      val old = logFile(dst, s".rename-$v-old")
      val tmp = logFile(dst, s".rename-$v-tmp")
      // recovery: a crash between the two swap renames below left the
      // old manifest aside and the rewritten one never landed
      if (!f.exists(dir) && f.exists(old))
        require(f.rename(old, dir), s"manifest recovery failed: $dst v$v")
      f.delete(tmp, true)
      f.delete(old, true)
      try {
        val top = rawTop(spark, dst, v)
        val rewritten = top.map {
          case (e, sj) if e.startsWith(segRefPrefix) => (remapRef(e), sj)
          case (e, sj) => rewriteRow(e, sj)
        }
        if (rewritten != top) {
          f.mkdirs(tmp)
          writeManifestDirect(spark, new Path(tmp, "part-00000.parquet"),
            rewritten)
          require(f.rename(dir, old) && f.rename(tmp, dir),
            s"manifest rewrite failed for $dst v$v")
          f.delete(old, true)
        }
      } catch { case _: java.io.FileNotFoundException => () /* vacuumed */ }
    }
    dropSidecar(spark, dst, journal)
    invalidate(dst)
  }
}
