package graft.ops

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Snapshot-isolated MERGE over immutable parquet files — the
  * poor-man's lakehouse the incremental-ingest gate's output needs,
  * built from the two primitives a plain filesystem gives you:
  * immutable data files and an atomic rename.
  *
  * Layout:
  * {{{
  *   <table>/data/b<version>/…             immutable parquet batches
  *   <table>/_versions/v<version>.manifest  PARQUET manifest directory
  *                                          (one `f` path per row);
  *                                          legacy text files readable
  *   <table>/_versions/v<version>.schema    table schema as JSON
  *   <table>/_versions/v<version>.dv        deletion vector (parquet,
  *                                          (file key, row_index))
  * }}}
  *
  *  - '''Commit = manifest rename.''' A writer stages its new data
  *    files, writes the next manifest to a temp name, and renames it
  *    into place (directory rename — namenode-atomic on HDFS, POSIX
  *    rename locally). Readers resolve "current" as the highest
  *    committed manifest and read exactly the files it lists — so a
  *    reader that resolved version N keeps a consistent snapshot
  *    forever (its files are never mutated or deleted until
  *    [[vacuum]]), and a half-crashed writer leaves only unreferenced
  *    stage files, never a torn table.
  *  - '''Manifest as data.''' The manifest is itself parquet: a
  *    small top level whose `seg:` rows reference immutable segment
  *    files (the Iceberg manifest-list shape), so a commit copies
  *    untouched segments forward by reference and writes O(delta)
  *    rows. Manifests go through a direct parquet reader/writer (no
  *    job) plus an immutability-keyed cache; scan planning (interval
  *    pruning, per-file vectors) and commit conflict checks run on
  *    the driver over those cached entries, so neither starts a
  *    Spark job.
  *  - '''Schema in the log, not the footers.''' Every commit publishes
  *    the table schema (`v<N>.schema`); reads project files through it,
  *    so a file written before a column existed reads as NULL without
  *    any per-scan footer-merge pass — additive schema evolution, the
  *    Delta/Iceberg upgrade path that never rewrites history (see
  *    [[merge]]'s `evolveSchema`).
  *  - '''One read path.''' Every read of data files — [[read]], time
  *    travel, [[readRange]], merge and compaction rewrites, vectored
  *    DML matching, [[changes]], the commit-time stats pass — is a
  *    DSv2 scan over the connector's `LakeTable` ([[readLive]]),
  *    pinned to a version and, internally, to a file subset. Its one
  *    reader maps columns, fills partition values and skips deleted
  *    positions; row identity is its `__lake_file`/`__lake_pos`
  *    columns, the key the vectors use.
  *  - '''Optimistic concurrency.''' Version N+1 is claimed by an
  *    EXCLUSIVE CREATE of a `.v<N+1>.lock` marker (O_CREAT|O_EXCL on
  *    local disks, namenode-atomic `create(overwrite=false)` on
  *    HDFS), so two writers racing to commit produce exactly one
  *    winner — the loser waits for the winner's version to publish
  *    and retries against it ([[occ]]), failing only when that
  *    version never publishes. Only the winner writes the manifest,
  *    still tmp+rename so readers never see a torn list.
  *  - '''Partition-scoped rewrite.''' MERGE with `partitionCol`
  *    rewrites only the partitions present in the source batch:
  *    untouched partitions' files carry over into the new manifest BY
  *    REFERENCE (never copied — at 100 TB the daily delta touches
  *    days, not the table). Within touched partitions the surviving
  *    target rows and the source rows are one anti-join + union,
  *    shuffling only those partitions' data.
  *  - '''Merge-on-read deletes.''' [[deleteVectored]] commits a
  *    DELETE as a deletion vector — (file, row position) pairs stored
  *    beside the manifest — rewriting ZERO data files. A version's
  *    vector is immutable driver METADATA like its manifest: written
  *    and read by the same direct parquet codec, cached per (path,
  *    version), and shipped with each file's scan partition, whose
  *    reader skips those row positions (no broadcast, no join);
  *    [[compact]] materializes and drops it. [[delete]] remains the
  *    copy-on-write path. At 100 TB with frequent small erasures, vectored delete is
  *    the right amortization: O(deleted rows) write now, one bounded
  *    rewrite at the next compaction.
  *
  * MERGE semantics (whole-row, the standard upsert):
  * source row matches target on `keys` → source version wins
  * (UPDATE); no match → INSERT; source rows flagged by `deleteCol`
  * → DELETE (matched target rows disappear, the flagged source rows
  * are not inserted).
  */
object Versioned {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_versions")

  private def manifestPath(path: String, v: Long) =
    new Path(manifestDir(path), s"v$v.manifest")

  /** Whether version `v`'s manifest is still retained (false after
    * [[vacuum]] dropped it) — the probe interop surfaces use to skip
    * or re-seed instead of dying on a raw FileNotFoundException. */
  private[graft] def manifestExists(spark: SparkSession, path: String,
      v: Long): Boolean =
    fs(spark, path).exists(manifestPath(path, v))

  private def schemaPath(path: String, v: Long) =
    new Path(manifestDir(path), s"v$v.schema")

  private def dvPath(path: String, v: Long) =
    new Path(manifestDir(path), s"v$v.dv")

  private def opPath(path: String, v: Long) =
    new Path(manifestDir(path), s"v$v.op")

  /** Small-metadata write that can never be observed torn: write to a
    * tmp name, rename into place (atomic replace on POSIX; on stores
    * whose rename won't clobber, fall back to delete+rename — readers
    * then see old content, briefly nothing, or new content, but never
    * a partial write). Used for every mutable pointer file (tags,
    * consumer checkpoints, constraints); manifests have their own
    * directory-rename publish. */
  private def atomicWrite(f: FileSystem, target: Path,
      bytes: Array[Byte]): Unit = {
    val tmp = new Path(target.getParent,
      s".${target.getName}.tmp.${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!f.rename(tmp, target)) {
      f.delete(target, false)
      require(f.rename(tmp, target), s"atomic write failed: $target")
    }
  }


  /** Highest committed version, or None for an uninitialized table. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) None
    else {
      val vs = f.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong }
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  private def resolve(spark: SparkSession, path: String,
      version: Option[Long]): Long =
    version.orElse(currentVersion(spark, path))
      .getOrElse(sys.error(s"uninitialized versioned table: $path"))

  // ---------------------------------------------------------------- //
  // manifest I/O                                                     //
  // ---------------------------------------------------------------- //

  /** Manifests and schemas are IMMUTABLE once committed (vacuum only
    * ever deletes them), so (path, version) keys can be cached for the
    * life of the JVM; [[vacuum]] invalidates its table's entries. */
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
    val conf = spark.sparkContext.hadoopConfiguration
    val st = f.getFileStatus(p) // throws FileNotFound for vacuumed/absent
    if (st.isDirectory || p.getName.endsWith(".parquet"))
      parquetParts(f, p).flatMap(readParquetRows(conf, _))
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(l => (l, Option.empty[String])).toList
      finally in.close()
    }
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
  // collapse. Refs are RELATIVE to `_versions/`, so [[renameTable]]  //
  // leaves the REF ROWS untouched — but segment CONTENTS hold        //
  // absolute data paths, so it rewrites each referenced segment once //
  // (new immutable file) and remaps the refs; [[vacuum]] deletes     //
  // segments no retained version references.                         //
  // ---------------------------------------------------------------- //

  private val segRefPrefix = "seg:"
  private def segsDir(path: String) = new Path(manifestDir(path), "segs")
  private def isSegRef(e: (String, Option[String])): Boolean =
    e._1.startsWith(segRefPrefix)

  /** Seal threshold for inline top-level rows. The default keeps the
    * top level a one-block driver read; a deployment expecting larger
    * commit batches raises it to taste — the tradeoff is top-level
    * read size vs segment-file count. */
  private def manifestInlineRows(spark: SparkSession): Int =
    spark.conf.get("graft.lake.manifestInlineRows", "4096").toInt

  private def readSegmentRows(spark: SparkSession, path: String,
      ref: String): Seq[(String, Option[String])] = {
    val k = (path, ref)
    val hit = segmentCache.get(k)
    if (hit != null) return hit
    val r = readRawRows(spark, path,
      new Path(manifestDir(path), ref.stripPrefix(segRefPrefix)))
    if (segmentCache.size > 256) segmentCache.clear()
    segmentCache.put(k, r)
    r
  }

  /** Top-level rows of version `v`, refs UNEXPANDED. For an
    * unsegmented manifest this equals the full entry list. */
  private def rawTop(spark: SparkSession, path: String,
      v: Long): Seq[(String, Option[String])] = {
    val k = (path, v)
    val hit = rawTopCache.get(k)
    if (hit != null) return hit
    val r = readRawRows(spark, path, manifestPath(path, v))
    if (rawTopCache.size > 256) rawTopCache.clear()
    rawTopCache.put(k, r)
    r
  }

  /** Write `entries` as one immutable segment file; returns the top-
    * level ref row. Entries are commit-bounded (the staged batch, or
    * the accumulated inline rows at seal time) — one direct parquet
    * write, no job. The ref row's stats_json records the segment's
    * PARTITION FOOTPRINT (the distinct partition directory components
    * of its file keys, plus whether it holds any flat file), so a
    * partition-scoped [[merge]] can carry a disjoint segment without
    * ever opening it. */
  private def writeSegment(spark: SparkSession, path: String,
      entries: Seq[(String, Option[String])]): (String, Option[String]) = {
    require(!entries.exists(isSegRef), "segments must not nest")
    val f = fs(spark, path)
    f.mkdirs(segsDir(path))
    val name =
      s"seg-${java.util.UUID.randomUUID().toString.take(13)}.parquet"
    writeManifestDirect(spark, new Path(segsDir(path), name), entries)
    val ref = s"${segRefPrefix}segs/$name"
    segmentCache.put((path, ref), entries.toList)
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
    * an incremental [[changes]] feed report an EXACT total without
    * opening shared segments. */
  private def segRowCount(sj: Option[String]): Option[Long] =
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
  private def footprintOf(sj: Option[String]): Option[(Set[String], Boolean)] =
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
  private def sealTop(spark: SparkSession, path: String,
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
  private def segmentedTop(spark: SparkSession, path: String, cur: Long,
      staged: Seq[(String, Option[String])]): Seq[(String, Option[String])] =
    sealTop(spark, path, rawTop(spark, path, cur), staged)

  /** Segment-aware carry for a rewrite of an arbitrary HIT file set
    * ([[delete]]'s predicate footprint, [[compactSmall]]'s small
    * files): a segment containing no hit file keeps its ref; mixed
    * segments expand minus the hits. Segments open from the driver
    * cache (the probe that CHOSE the hits already expanded them), so
    * the saving is in the WRITE: the committed top level stays
    * refs + survivors-of-mixed-segments + inline, not a full
    * re-listing. */
  private def carryTopMinus(spark: SparkSession, path: String, v: Long,
      hit: Set[String]): Seq[(String, Option[String])] = {
    val (refs, inline) = rawTop(spark, path, v).partition(isSegRef)
    refs.flatMap { r =>
      val rows = readSegmentRows(spark, path, r._1)
      if (!rows.exists(e => hit(e._1))) Seq(r)
      else rows.filterNot(e => hit(e._1))
    } ++ inline.filterNot(e => hit(e._1))
  }

  /** The recorded `#bytes` of a manifest entry's stats (logged on
    * every commit since the byte-grounded statistics round). */
  private def bytesStatOf(js: String): Option[Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(js) \ "#bytes" \ "mnl" match {
      case JInt(n) => Some(n.toLong)
      case _ => None
    }
  }

  /** Segment-aware partition split of version `v`'s manifest for a
    * partition-scoped rewrite: a segment whose recorded footprint is
    * DISJOINT from `touched` is carried verbatim — never opened;
    * overlapping and unknown-footprint segments expand (driver,
    * cached). Returns (carried top rows, hit entries), hit = files in
    * touched partitions. Files OUTSIDE any `pcPhys=` directory (the
    * schema-only placeholder, pre-layout-evolution files) follow
    * `keepFlat`: [[merge]] always REWRITES them (false — carrying
    * them next to partitioned files would present an inconsistent
    * directory structure), [[dropPartitions]] KEEPS them (true —
    * they belong to no droppable partition); a flat-bearing segment
    * carries only under `keepFlat`. At 100 TB this is what makes a
    * two-partition daily merge a two-partition commit: the other
    * thousands of partitions ride as a handful of unopened refs. */
  private def splitTopByPartitions(spark: SparkSession, path: String,
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
  private def readManifestEntries(spark: SparkSession, path: String,
      v: Long): Seq[(String, Option[String])] = {
    val k = (path, v)
    val hit = manifestCache.get(k)
    if (hit != null) return hit
    val raw = rawTop(spark, path, v)
    val r =
      if (!raw.exists(isSegRef)) raw
      else raw.flatMap { e =>
        if (isSegRef(e)) readSegmentRows(spark, path, e._1) else Seq(e)
      }
    if (manifestCache.size > 256) manifestCache.clear()
    manifestCache.put(k, r)
    r
  }

  private def readManifest(spark: SparkSession, path: String,
      v: Long): Seq[String] =
    readManifestEntries(spark, path, v).map(_._1)

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

  // ------------------------------------------------------------------
  // per-file column statistics (data skipping inside the manifest)
  // ------------------------------------------------------------------

  private def statsColsPath(path: String) =
    new Path(manifestDir(path), "statscols")

  /** The table's registered stats columns (set at [[init]]); every
    * commit computes min/max for ITS staged files over these, carried
    * files keep their manifest stats untouched. Lines prefixed
    * `bloom:` register per-file BLOOM sidecars instead (see
    * [[readPoint]]). */
  def statsColumns(spark: SparkSession, path: String): Seq[String] =
    registeredCols(spark, path).filterNot(_.startsWith("bloom:"))

  /** Columns with per-file Bloom membership sidecars. */
  def bloomColumns(spark: SparkSession, path: String): Seq[String] =
    registeredCols(spark, path).collect {
      case c if c.startsWith("bloom:") => c.stripPrefix("bloom:") }

  private def registeredCols(spark: SparkSession,
      path: String): Seq[String] = {
    val f = fs(spark, path)
    val p = statsColsPath(path)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Per-file Bloom budget: sized for the expected rows of one
    * well-formed file. ~20 KB serialized per (file, column) — manifest
    * metadata, amortized by point lookups that then open ONE file. */
  private val bloomExpected = 20000L
  private val bloomBits = 160000L

  /** Run `f` over every staged file with a bounded driver thread pool
    * — staged batches are bounded by the COMMIT, not the table, so a
    * small pool beats a Spark job's scheduling floor — falling back to
    * ONE distributed pass past 4096 files. Each pooled task gets its
    * OWN `Configuration` copy (Hadoop's Configuration is not safe to
    * share across threads under mutation, and a copy is cheap next to
    * any filesystem call), and a task failure rethrows its ORIGINAL
    * cause, not the pool's ExecutionException wrapper — a footer
    * IOException must surface as itself in commit failure reports. */
  private def perStagedFile[T](spark: SparkSession, staged: Seq[String])(
      f: (String, org.apache.hadoop.conf.Configuration) => T)(
      implicit ct: scala.reflect.ClassTag[T]): Seq[(String, T)] = {
    if (staged.isEmpty) Seq.empty
    else if (staged.size <= 4096) {
      val base = spark.sparkContext.hadoopConfiguration
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(16, staged.size))
      try {
        staged.map { p0 =>
          val conf = new org.apache.hadoop.conf.Configuration(base)
          p0 -> pool.submit(new java.util.concurrent.Callable[T] {
            override def call(): T = f(p0, conf)
          })
        }.map { case (p0, fut) =>
          (p0, try fut.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause })
        }
      } finally pool.shutdown()
    } else {
      val hconf = new graft.sources.SerializableHadoopConf(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(staged, math.max(1, math.min(staged.size, 256)))
        .map(p0 => (p0, f(p0, hconf.value)))
        .collect().toSeq
    }
  }

  /** Per-staged-file ON-DISK byte size (one FileStatus call each,
    * commit-bounded) — logged as `#bytes` so the DSv2 connector can
    * report a size estimate grounded in the files' ACTUAL footprint
    * (the Delta `add.size` discipline) instead of a fixed per-type
    * width guess. Keyed by file NAME. */
  private def stagedBytes(spark: SparkSession,
      staged: Seq[String]): Map[String, Long] =
    perStagedFile(spark, staged) { (p0, conf) =>
      val p = new Path(p0)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.map { case (p0, n) => fileKey(p0) -> n }.toMap

  /** Exact per-staged-file min/max of the registered stats columns —
    * ONE bounded aggregate over the just-staged batch (not the
    * table), grouped by file. Long-family columns render as
    * {"t":"l","mnl":…,"mxl":…}, double-family as
    * {"t":"d","mnd":…,"mxd":…}; other types carry no stats (never
    * pruned — conservative and exact). All-NULL columns carry no
    * entry either (kept on probe; their rows can't match a range
    * anyway). Every staged file additionally carries `#rows` and
    * `#bytes`. `written` is the schema the files were staged with,
    * under PHYSICAL names (what stats key on). Returned map is keyed
    * by file NAME. */
  private def statsJsonFor(spark: SparkSession, path: String,
      staged: Seq[String], written: StructType, cols: Seq[String],
      bloomCols: Seq[String]): Map[String, String] = {
    if (staged.isEmpty) return Map.empty
    if (cols.isEmpty && bloomCols.isEmpty) {
      // No registered stats columns: still log per-file `#rows`
      // (the Delta numRecords discipline) so COUNT(*) answers from
      // the manifest and the DSv2 scan can report planner statistics
      // on ANY table, plus `#bytes` (the file's actual footprint —
      // same open, `HadoopInputFile` carries the FileStatus).
      // Parquet FOOTERS only — zero data read.
      return perStagedFile(spark, staged) { (p0, conf) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(p0), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val rows = try r.getRecordCount finally r.close()
        (rows, in.getLength)
      }.map { case (p0, (n, b)) =>
        fileKey(p0) -> (s"""{"#rows":{"t":"l","mnl":$n,"mxl":$n},""" +
          s""""#bytes":{"t":"l","mnl":$b,"mxl":$b}}""")
      }.toMap
    }
    val bytes = stagedBytes(spark, staged)
    val df = scan(spark, path, None, written, Some(staged), keepMeta = true)
    val schema = df.schema
    val present = cols.filter(c => schema.fieldNames.contains(c))
    val bloomPresent = bloomCols.filter(c => schema.fieldNames.contains(c))
    // NDV sketches ride the SAME bounded aggregate: every registered
    // stats column of a sketchable type logs a per-file DataSketches
    // HLL next to its min/max. Sketches union losslessly, so the DSv2
    // scan can report a table- (or pruned-footprint-) level distinct
    // count to the CBO without opening a file — the estimate that
    // turns a post-aggregation join on a low-NDV key into a broadcast
    // instead of a sort-merge. ~1.6 KB per (file, column) at the
    // default lgK=12 — manifest-cheap.
    //
    // Spark's hll_sketch_agg accepts ONLY int/bigint/string/binary
    // (ExpectsInputTypes, no implicit widening — short/byte fail at
    // analysis), so every sketchable type is mapped to a
    // DISTINCT-PRESERVING long or string first. Integrals all go
    // through long so every file's sketch hashes the same physical
    // type regardless of the column's declared width; dates become
    // epoch-days, timestamps epoch-micros, decimals their canonical
    // string form (exact at the column's fixed scale — a double cast
    // would collide above 2^53).
    val hllInput: PartialFunction[
        (String, org.apache.spark.sql.types.DataType), Column] = {
      case (c, org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.ByteType) => col(c).cast("long")
      case (c, org.apache.spark.sql.types.StringType) => col(c)
      case (c, org.apache.spark.sql.types.DateType) => unix_date(col(c)).cast("long")
      case (c, org.apache.spark.sql.types.TimestampType) => unix_micros(col(c))
      case (c, _: org.apache.spark.sql.types.DecimalType) => col(c).cast("string")
    }
    val hllPresent = present.filter(c => hllInput.isDefinedAt((c, schema(c).dataType)))
    // r16 (r15 ADVICE #1): date/timestamp stats columns fold to
    // epoch-day / epoch-micros longs IN-PLAN — min/max commute with
    // the monotonic conversion, and no java.sql external round-trip
    // ever touches the JVM default timezone. Without bounds these
    // columns surfaced NDV-only ColumnStats, which JoinEstimation
    // reads as an EMPTY value interval: every CBO join keyed on a
    // date/timestamp/decimal stats column collapsed to 0-row
    // estimates — the exact failure the long/double bounds work fixed,
    // re-introduced for the three types the NDV expansion added.
    def boundInput(c: String): Column = schema(c).dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(c)).cast("long")
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c)
    }
    val aggs = present.flatMap(c =>
      Seq(min(boundInput(c)).as(s"mn_$c"), max(boundInput(c)).as(s"mx_$c"))) ++
      bloomPresent.map(c =>
        // Spark's base64 chunks with CR/LF (MIME) — illegal inside a
        // JSON string; strip to the continuous RFC4648 form
        regexp_replace(base64(graft.functions.Bloom.bloomAgg(col(c),
          bloomExpected, bloomBits)), "[\\r\\n]", "").as(s"bl_$c")) ++
      hllPresent.flatMap(c => Seq(
        regexp_replace(base64(hll_sketch_agg(
          hllInput((c, schema(c).dataType)))), "[\\r\\n]", "")
          .as(s"hl_$c"),
        // exact non-null count: the CBO's AggregateEstimation demands
        // BOTH distinctCount and nullCount (hasCountStats) before it
        // trusts an NDV — a sketch without the null count is ignored
        count(col(c)).as(s"nn_$c"))) :+
      count(lit(1)).as("__n")
    val rows = df.groupBy(col(fileCol)).agg(aggs.head, aggs.tail: _*).collect()
    rows.flatMap { r =>
      val rowCount = r.getLong(r.fieldIndex("__n"))
      val extras =
        Seq(s""""#rows":{"t":"l","mnl":$rowCount,"mxl":$rowCount}""") ++
        bytes.get(r.getString(r.fieldIndex(fileCol))).map(b =>
          s""""#bytes":{"t":"l","mnl":$b,"mxl":$b}""") ++
        bloomPresent.flatMap { c =>
          val i = r.fieldIndex(s"bl_$c")
          if (r.isNullAt(i)) None
          else Some(s""""#bloom:$c":{"t":"b","b":"${r.getString(i)}"}""")
        } ++
        hllPresent.flatMap { c =>
          val i = r.fieldIndex(s"hl_$c")
          if (r.isNullAt(i)) None
          else {
            val nulls = rowCount - r.getLong(r.fieldIndex(s"nn_$c"))
            Seq(s""""#hll:$c":{"t":"h","b":"${r.getString(i)}"}""",
              s""""#nulls:$c":{"t":"l","mnl":$nulls,"mxl":$nulls}""")
          }
        }
      val parts = extras ++ present.flatMap { c =>
        val mnI = r.fieldIndex(s"mn_$c")
        val mxI = r.fieldIndex(s"mx_$c")
        if (r.isNullAt(mnI) || r.isNullAt(mxI)) None
        else schema(c).dataType match {
          case org.apache.spark.sql.types.LongType |
              org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.ByteType |
              // dates/timestamps arrive pre-folded to longs (above)
              org.apache.spark.sql.types.DateType |
              org.apache.spark.sql.types.TimestampType =>
            val mn = r.getAs[Number](mnI).longValue()
            val mx = r.getAs[Number](mxI).longValue()
            Some(s""""$c":{"t":"l","mnl":$mn,"mxl":$mx}""")
          case dt: org.apache.spark.sql.types.DecimalType
              if dt.precision <= 18 =>
            // unscaled long at the column's fixed scale — exact (a
            // double render would collide above 2^53, like the HLL
            // input's canonical-string rationale)
            def unscaled(i: Int): Long = r.getAs[java.math.BigDecimal](i)
              .setScale(dt.scale).unscaledValue().longValueExact()
            Some(s""""$c":{"t":"l","mnl":${unscaled(mnI)},"mxl":${unscaled(mxI)}}""")
          case org.apache.spark.sql.types.DoubleType |
              org.apache.spark.sql.types.FloatType =>
            val mn = r.getAs[Number](mnI).doubleValue()
            val mx = r.getAs[Number](mxI).doubleValue()
            Some(s""""$c":{"t":"d","mnd":$mn,"mxd":$mx}""")
          case _ => None
        }
      }
      if (parts.isEmpty) None
      else Some(r.getString(r.fieldIndex(fileCol)) -> parts.mkString("{", ",", "}"))
    }.toMap
  }

  /** Staged paths → manifest entries carrying freshly computed stats:
    * per-file `#rows` ALWAYS (footer-read when nothing else is
    * registered), min/max + Bloom for the registered columns. */
  private def stagedEntries(spark: SparkSession, path: String,
      staged: Seq[String],
      written: StructType): Seq[(String, Option[String])] = {
    val stats = statsJsonFor(spark, path, staged, written,
      statsColumns(spark, path), bloomColumns(spark, path))
    staged.map(p => (p, stats.get(fileKey(p))))
  }

  /** The files of version `v` (default: current). */
  def files(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[String] =
    readManifest(spark, path, resolve(spark, path, version))

  // ------------------------------------------------------------------
  // DataSource V2 connector surface (graft.sources.LakeSource): the
  // connector plans scans from the SAME manifest/stats/DV/schema
  // machinery the function API uses — these shims expose exactly what
  // its planning needs, nothing else.
  // ------------------------------------------------------------------

  private[graft] def resolveVersion(spark: SparkSession, path: String,
      version: Option[Long]): Long = resolve(spark, path, version)

  private[graft] def manifestEntries(spark: SparkSession, path: String,
      v: Long): Seq[(String, Option[String])] =
    readManifestEntries(spark, path, v)

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

  /** Pre-parsed stats document: parse each manifest entry's stats JSON
    * ONCE per scan and probe the tree for every required column —
    * string-based probes re-parsed per (file × column × probe), an
    * O(files × cols) pile of full JSON parses on every planning pass
    * of a large manifest. */
  private[graft] type StatsDoc = org.json4s.JValue

  private[graft] def parseStatsDoc(sj: String): Option[StatsDoc] =
    try Some(org.json4s.jackson.JsonMethods.parse(sj))
    catch { case _: Exception => None }

  /** The recorded HLL NDV sketch (continuous base64) of column `c` in
    * a parsed stats document, if present — what the DSv2 scan unions
    * into a planner-facing distinct count. */
  private[graft] def hllStatIn(doc: StatsDoc, c: String): Option[String] = {
    import org.json4s._
    doc \ s"#hll:$c" \ "b" match {
      case JString(b) => Some(b)
      case _ => None
    }
  }

  /** The recorded exact null count of column `c` in a parsed stats
    * document, if present (logged next to the HLL sketch — the
    * planner's `hasCountStats` gate needs both). */
  private[graft] def nullStatIn(doc: StatsDoc, c: String): Option[Long] = {
    import org.json4s._
    doc \ s"#nulls:$c" \ "mnl" match {
      case JInt(n) => Some(n.toLong)
      case _ => None
    }
  }

  private[graft] def hllStatOf(sj: String, c: String): Option[String] =
    parseStatsDoc(sj).flatMap(hllStatIn(_, c))

  private[graft] def nullStatOf(sj: String, c: String): Option[Long] =
    parseStatsDoc(sj).flatMap(nullStatIn(_, c))

  /** The recorded integral min/max of column `c` in a parsed stats
    * document ("t":"l" entries). Surfaced as planner column bounds:
    * Spark's JoinEstimation intersects the two keys' value intervals
    * BEFORE the NDV formula, and a ColumnStat without bounds reads as
    * an empty interval — every CBO join estimate collapses to 0 rows
    * (and zeroed stats wipe the column NDVs the aggregate estimate
    * above the join needs). */
  private[graft] def longMinMaxIn(doc: StatsDoc,
      c: String): Option[(Long, Long)] = {
    import org.json4s._
    (doc \ c \ "mnl", doc \ c \ "mxl") match {
      case (JInt(mn), JInt(mx)) => Some((mn.toLong, mx.toLong))
      case _ => None
    }
  }

  /** The recorded floating min/max of column `c` ("t":"d" entries). */
  private[graft] def doubleMinMaxIn(doc: StatsDoc,
      c: String): Option[(Double, Double)] = {
    import org.json4s._
    (doc \ c \ "mnd", doc \ c \ "mxd") match {
      case (JDouble(mn), JDouble(mx)) => Some((mn, mx))
      case (JInt(mn), JInt(mx)) => Some((mn.toDouble, mx.toDouble))
      case _ => None
    }
  }

  /** The recorded `#bytes` of a manifest entry's stats, if present —
    * what the streaming source's byte-based admission control reads. */
  private[graft] def entryBytes(sj: Option[String]): Option[Long] =
    sj.flatMap(bytesStatOf)

  /** Whether the connector may commit executor-staged files directly
    * (the real V2 write path): tables with generated/identity columns
    * need in-plan computation, column-mapped tables need
    * physical-name translation, and partition-structured layouts need
    * the partition writer — those route through [[append]]'s driver
    * API instead. */
  private[graft] def canStageDirect(spark: SparkSession,
      path: String): Boolean = {
    val cur = resolve(spark, path, None)
    generatedColumns(spark, path).isEmpty &&
      identityColumns(spark, path).isEmpty &&
      // a registered partition layout (DDL-created) must route through
      // appendAuto so batches land partitioned, even while the table is
      // still empty of partition directories
      hiddenTransform(spark, path).isEmpty &&
      tableSchema(spark, path, Some(cur))
        .forall(_.fields.forall(f => physicalOf(f) == f.name)) &&
      !readManifestEntries(spark, path, cur).exists { case (f0, _) =>
        val k = fileKey(f0)
        k.indexOf('/') >= 0 && k.substring(k.indexOf('/') + 1).contains("=")
      }
  }

  /** Commit a DISTRIBUTED row-level delta — the DSv2
    * `SupportsDelta`/`WriteDelta` protocol's driver step, shared by
    * SQL `UPDATE`, `MERGE INTO`, and predicate `DELETE`s Spark can't
    * express as source filters. Executors have already (a) staged the
    * INSERTED row images as parquet under the table's `data/gbatch=…`
    * convention and (b) written their DELETED (file key, row position)
    * pairs as parquet sidecars; this turns both into ONE merge-on-read
    * commit: `manifest(cur) ∪ staged` plus `dv(cur) ∪ delta` — zero
    * pre-existing files rewritten, O(touched rows) I/O, the exact
    * economics of [[updateVectored]] but computed by Spark's own
    * row-level rewrite plan on the executors.
    *
    * Concurrency: the delta's (file, pos) references are only valid
    * against a manifest that still CONTAINS those files. Before
    * committing, every referenced file key is checked against the
    * current manifest; a concurrent rewrite (merge/compaction) that
    * dropped one fails the statement loudly — re-running re-plans
    * against the new snapshot (Delta's serializable-conflict answer).
    * Concurrent APPENDs keep positions valid and simply retry. */
  private[graft] def commitRowDelta(spark: SparkSession, path: String,
      dataFiles: Seq[String], dvStagedDirs: Seq[String],
      op: String): Long = {
    require(generatedColumns(spark, path).isEmpty &&
      identityColumns(spark, path).isEmpty,
      s"SQL row-level DML refuses generated/identity tables: $path — " +
        "those writers need Versioned.merge/updateVectored's in-plan " +
        "machinery")
    require(!hasColumnMapping(spark, path),
      s"SQL row-level DML refuses column-mapped tables: $path — the " +
        "executor writers speak the query schema, which carries no " +
        "physical-name mapping")
    require(hiddenTransform(spark, path).forall(t =>
        tableSchema(spark, path, Some(resolve(spark, path, None)))
          .exists(_.fieldNames.contains(t))),
      s"SQL row-level DML refuses hidden-transform tables: $path — " +
        "updated row images would lack the derived partition column; " +
        "use Versioned.mergeHidden/updateVectored (identity layouts " +
        "are fine: the partition column is a real user column)")
    val newDv: Option[DvRows] =
      if (dvStagedDirs.isEmpty) None
      else Some(readDv(spark, dvStagedDirs.flatMap(d =>
        parquetParts(fs(spark, path), new Path(d)))))
    if (dataFiles.isEmpty && newDv.isEmpty) return resolve(spark, path, None)
    // the executors staged the images in the table's own schema
    val written = schemaOf(spark, path, resolve(spark, path, None))
    if (dataFiles.nonEmpty)
      enforceConstraints(spark, path,
        scan(spark, path, None, written, Some(dataFiles), keepMeta = false))
    val stagedE =
      if (dataFiles.isEmpty) Seq.empty
      else stagedEntries(spark, path, dataFiles, written)
    occ(spark, path, "row-level delta") { (cur, _) =>
      newDv.foreach { d =>
        val curKeys = readManifestEntries(spark, path, cur)
          .map(e => fileKey(e._1)).toSet
        val stale = d.keys.toSeq.filterNot(curKeys)
        require(stale.isEmpty,
          s"row-level delta is stale: ${stale.length} referenced " +
            "file(s) left the manifest (concurrent rewrite?) — re-run " +
            s"the statement. First: ${stale.take(3).mkString(", ")}")
      }
      val prev = deletionVectorRows(spark, path, Some(cur))
      Right(Commit(readManifestEntries(spark, path, cur) ++ stagedE,
        tableSchema(spark, path, Some(cur)),
        newDv.fold(prev)(n => Some(dvUnion(prev, n))), op, identity))
    }
  }

  private[graft] def physicalNameOf(f: StructField): String = physicalOf(f)

  /** Entries of version `v` whose stats MAY satisfy every (column,
    * lo, hi) interval — the one data-skipping test, shared by the
    * connector's scan planning and [[readRange]]. It runs on the driver
    * over the cached manifest entries (no Spark job), and is a superset
    * by construction: an entry without stats, without an entry for a
    * constrained column, or with unparsable stats is KEPT. */
  private[graft] def candidateFiles(spark: SparkSession, path: String,
      v: Long, ranges: Seq[(String, Double, Double)])
      : Seq[(String, Option[String])] = {
    val entries = readManifestEntries(spark, path, v)
    if (ranges.isEmpty) entries
    else {
      val keyed = ranges.map { case (c, lo, hi) =>
        (statsKeyOf(spark, path, v, c), lo, hi) }
      entries.filter { case (_, sj) =>
        sj.flatMap(parseStatsDoc).forall(doc => keyed.forall {
          case ((k, scale), lo, hi) => boundsIn(doc, k, scale)
            .forall { case (mn, mx) => mn <= hi && mx >= lo } })
      }
    }
  }

  /** The recorded [min, max] of stats key `key` in a parsed stats
    * document, in column units: a DECIMAL column logs its unscaled
    * long at the column's `scale` ("t":"l"), so it is divided back —
    * exactly, via BigDecimal, so it compares as the same double as a
    * filter value. None when the entry is absent or incomplete. */
  private def boundsIn(doc: StatsDoc, key: String,
      scale: Int): Option[(Double, Double)] = {
    import org.json4s._
    def units(n: Long): Double =
      if (scale == 0) n.toDouble
      else java.math.BigDecimal.valueOf(n, scale).doubleValue
    doc \ key \ "t" match {
      case JString("l") => longMinMaxIn(doc, key).map { case (mn, mx) =>
        (units(mn), units(mx)) }
      case JString("d") => doubleMinMaxIn(doc, key)
      case _ => None
    }
  }

  /** The committed table schema of version `v` (default: current);
    * None for legacy tables committed before schemas were logged. */
  def tableSchema(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[StructType] = {
    val v = resolve(spark, path, version)
    val k = (path, v)
    val hit = schemaCache.get(k)
    if (hit != null) return hit
    val f = fs(spark, path)
    val p = schemaPath(path, v)
    val r =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(DataType.fromJson(txt).asInstanceOf[StructType])
      }
    if (schemaCache.size > 256) schemaCache.clear()
    schemaCache.put(k, r)
    r
  }

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
    * [[compact]] folds away. */
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

  /** The deletion vector of version `v` (default: current) as a
    * DataFrame of (f = file key, pos = row index) — a local view over
    * [[deletionVectorRows]] for inspection; None when the version has
    * no outstanding vectored deletes. Reads never join it: the scan
    * skips the positions per file. */
  def deletionVector(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[DataFrame] =
    deletionVectorRows(spark, path, version).map { dv =>
      val rows = new java.util.ArrayList[Row]()
      dv.foreach { case (f0, ps) => ps.foreach(pos => rows.add(Row(f0, pos))) }
      spark.createDataFrame(rows, dvFields)
    }

  /** Deletion-vector rows, also the connector's DV sidecar schema. */
  private[graft] val dvFields = StructType(Seq(
    StructField("f", StringType),
    StructField("pos", org.apache.spark.sql.types.LongType)))

  private val dvMessage =
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
  private def dvOf(rows: Array[Row]): DvRows =
    rows.groupBy(_.getString(0)).map { case (f0, rs) =>
      f0 -> sortedDistinct(rs.map(_.getLong(1))) }

  /** `prev` ∪ `delta`: successive vectored deletes accumulate. */
  private def dvUnion(prev: Option[DvRows], delta: DvRows): DvRows =
    prev.fold(delta)(p0 => (p0.keySet ++ delta.keySet).iterator.map { k =>
      k -> sortedDistinct(p0.getOrElse(k, Array.emptyLongArray) ++
        delta.getOrElse(k, Array.emptyLongArray))
    }.toMap)

  /** `dv` minus the entries of files `drop` names (the files a rewrite
    * materialized); None once nothing is left. */
  private def dvWithout(dv: Option[DvRows])(
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

  /** The one inverse test, for [[changes]]: true iff `dv` names the
    * row, over the connector's (file key, row position) columns. The
    * vector rides the task closure as the per-file sorted position
    * arrays — no broadcast relation, no join, no extra stage. */
  private def dvNames(dv: DvRows): Column =
    udf((f0: String, pos: Long) =>
      dv.get(f0).exists(java.util.Arrays.binarySearch(_, pos) >= 0))
      .apply(col(fileCol), col(posCol))

  // Deletion vectors and per-file stats key rows by (file KEY, row
  // position), where the key is the path RELATIVE to its data root:
  // `gbatch=<uuid>/…/part-….parquet`. A bare file NAME would NOT be
  // unique — a dynamic-partition write reuses one task's part name
  // across every partition directory it touches — while the batch
  // uuid + inner path is unique across jobs and clone roots alike.
  // Reads surface the same key and the row position as the
  // connector's row-id columns.
  private val fileCol = graft.sources.LakeRowLevel.FileCol
  private val posCol = graft.sources.LakeRowLevel.PosCol

  /** The manifest-side rendering of the file key. */
  private def fileKey(f: String): String = {
    val i = f.lastIndexOf(s"/data/$batchCol=")
    require(i > 0, s"manifest entry outside a data root: $f")
    f.substring(i + "/data/".length)
  }

  /** Batch-level directory name, partition-style (`gbatch=<v>`): the
    * file key starts at it, and no read ever surfaces it as a column. */
  private val batchCol = "gbatch"

  // ---------------------------------------------------------------- //
  // column mapping (RENAME COLUMN without rewriting a single file)    //
  // ---------------------------------------------------------------- //

  /** Logged-schema fields carry their PHYSICAL (on-disk) name in
    * field metadata under this key when it differs from the logical
    * name; files are always written under physical names, reads
    * translate back. A field without the key is its own physical
    * name — the universal pre-rename case, which therefore pays
    * nothing for the machinery. */
  private val physicalKey = "graft.physical"

  private def physicalOf(f: StructField): String =
    if (f.metadata.contains(physicalKey)) f.metadata.getString(physicalKey)
    else f.name

  private def hasMapping(s: StructType): Boolean =
    s.fields.exists(f => physicalOf(f) != f.name)

  /** Manifest stats (and Bloom sidecars) are keyed by the PHYSICAL
    * column name — the name is invariant under renames, so historical
    * per-file stats stay valid forever; lookups translate. A name
    * absent from the logged schema is an error, NOT a raw-key
    * fallback: a pre-rename name must not silently answer with the
    * renamed column's stats. Also returns the column's decimal scale
    * (0 for other types): a DECIMAL logs its bounds unscaled. */
  private def statsKeyOf(spark: SparkSession, path: String, v: Long,
      column: String): (String, Int) =
    tableSchema(spark, path, Some(v)) match {
      case None => (column, 0) // legacy table without a logged schema
      case Some(s0) =>
        val f0 = s0.fields.find(_.name == column)
        require(f0.isDefined, s"no such column '$column' on $path at v$v")
        (physicalOf(f0.get), f0.get.dataType match {
          case d: org.apache.spark.sql.types.DecimalType => d.scale
          case _ => 0
        })
    }

  /** Rename `df`'s columns logical→physical per `schema` (identity
    * when the schema carries no mapping). The write-side twin of the
    * connector reader's column mapping. */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    if (!hasMapping(schema)) df
    else {
      val m = schema.fields.map(f => f.name -> physicalOf(f)).toMap
      df.select(df.columns.map(c =>
        col(s"`$c`").as(m.getOrElse(c, c))).toSeq: _*)
    }

  /** `field` with a FRESH physical name when its logical name would
    * shadow a live or retired physical name — old bytes stay dead. */
  private def freshPhysical(field: StructField,
      taken: Set[String]): StructField =
    if (!taken.contains(field.name)) field
    else field.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(field.metadata)
        .putString(physicalKey, field.name + "_" +
          java.util.UUID.randomUUID().toString.take(8)).build())

  /** The LIVE rows of version `v` over `subset` (default: all its
    * files): the one lake read path. A DSv2 scan over
    * [[graft.sources.LakeTable]] pinned to the version (and to the
    * subset), so the connector's reader maps columns through the
    * version's schema, fills partition values and skips the version's
    * deleted positions. `keepMeta` adds the row-id columns
    * (`__lake_file` = file key, `__lake_pos` = row position). */
  private def readLive(spark: SparkSession, path: String, v: Long,
      subset: Option[Seq[String]], keepMeta: Boolean): DataFrame =
    scan(spark, path, Some(v), schemaOf(spark, path, v), subset, keepMeta)

  /** A lake scan as a DataFrame: [[graft.sources.LakeTable]] over
    * `schema` (every column nullable: an older file may lack one),
    * pinned to `version` and `files`; with files and no version they
    * are staged files outside every manifest. */
  private def scan(spark: SparkSession, path: String,
      version: Option[Long], schema: StructType,
      files: Option[Seq[String]], keepMeta: Boolean): DataFrame = {
    val table = new graft.sources.LakeTable(path, version,
      StructType(schema.fields.map(_.copy(nullable = true))),
      ignoreChanges = false, pinned = files)
    val df = org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(table, None, None,
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()))
    if (!keepMeta) df
    else df.select(df.columns.map(c => df.col(s"`$c`")).toSeq ++
      Seq(df.metadataColumn(fileCol), df.metadataColumn(posCol)): _*)
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
  private val sparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** Read a snapshot (default: current): the manifest's files through
    * the version's logged schema, minus its deletion vector — the
    * connector's scan ([[readLive]]), so filters on the frame prune
    * files as they do on the SQL surface. */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    readLive(spark, path, resolve(spark, path, version), None,
      keepMeta = false)

  /** Stage a batch's rows as immutable files under a UNIQUE
    * `data/gbatch=<v>-<uuid>/` directory and return (dir, paths, the
    * schema written under physical names). The
    * uuid suffix is what makes the optimistic-concurrency story sound:
    * two writers racing toward the same version stage into DISJOINT
    * directories, so neither the loser's overwrite nor its post-loss
    * cleanup can touch the winner's committed files. (The gbatch value
    * is partition-style only so mixed-batch manifests present one
    * consistent directory layout; the column is dropped on read, so
    * the suffix is invisible to consumers.) */
  private def stage(df: DataFrame, path: String, v: Long,
      partitionCol: Option[String],
      logicalSchema: Option[StructType] = None)
      : (Path, Seq[String], StructType) = {
    val unique = s"$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val dir = new Path(new Path(path, "data"), s"$batchCol=$unique")
    // under column mapping, files (and partition directories) carry
    // PHYSICAL names; the frame arrives logical
    val (dfW, pcW) = logicalSchema match {
      case Some(s0) if hasMapping(s0) =>
        val m = s0.fields.map(f => f.name -> physicalOf(f)).toMap
        (toPhysical(df, s0), partitionCol.map(c => m.getOrElse(c, c)))
      case _ => (df, partitionCol)
    }
    val w = dfW.write.mode("overwrite")
    pcW.fold(w)(c => w.partitionBy(c)).parquet(dir.toString)
    val f = fs(df.sparkSession, path)
    val it = f.listFiles(dir, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(".parquet"))
        out += s.getPath.toString
    }
    (dir, out.result(), dfW.schema)
  }

  /** Dynamic-partition writes of an EMPTY DataFrame create zero files
    * (the writer materializes partition directories lazily), so a
    * delete/merge/compact that empties the table would otherwise
    * commit an empty manifest and leave the table unreadable. When
    * the candidate manifest would be empty, re-stage one
    * NON-partitioned schema-only parquet file (Spark writes a
    * metadata-bearing part file even for zero rows) so the empty
    * table keeps its schema; the partition column survives as a
    * regular column, which stays consistent because this file is only
    * ever the manifest's SOLE entry — and [[merge]] always rewrites
    * files that sit outside a partition directory, so it can never
    * later share a manifest with partitioned files. */
  private def ensureManifestNonEmpty(df: DataFrame, path: String,
      stagedDir: Path, staged: Seq[String],
      carriedNonEmpty: Boolean,
      logicalSchema: Option[StructType] = None): Seq[String] = {
    if (staged.nonEmpty || carriedNonEmpty) staged
    else {
      val dfW = logicalSchema.fold(df)(toPhysical(df, _))
      dfW.limit(0).coalesce(1).write.mode("overwrite")
        .parquet(stagedDir.toString)
      val f = fs(df.sparkSession, path)
      val it = f.listFiles(stagedDir, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet"))
          out += s.getPath.toString
      }
      out.result()
    }
  }

  /** Atomically commit a file list as version `v`, together with the
    * version's schema and (optionally) its deletion vector. True iff
    * this writer won the race for `v`.
    *
    * The lock is an EXCLUSIVE CREATE of `.v<v>.lock` — on a local
    * filesystem that is a real O_CREAT|O_EXCL via java.nio (POSIX
    * rename would silently overwrite, so exists()+rename is
    * check-then-act there); on HDFS `create(overwrite = false)` is
    * namenode-atomic. Only the lock winner writes schema, vector and
    * manifest; the manifest DIRECTORY rename is the publish point, so
    * readers never observe a torn version. The vector and the
    * top-level manifest rows (driver rows) are written by the direct
    * parquet writer — no job — and enter the caches once published.
    * Writers that may retry reach this only through [[occ]] and
    * [[rebase]]. */
  private def commit(spark: SparkSession, path: String, v: Long,
      fileList: Seq[(String, Option[String])],
      schema: Option[StructType] = None,
      dv: Option[DvRows] = None,
      op: Option[String] = None,
      extraFiles: Seq[(String, Array[Byte])] = Seq.empty): Boolean = {
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    // a commit may only ever create the NEXT version: if `v` is at or
    // below the current tip the slot is taken — or was VACUUMED, whose
    // lock-file cleanup would otherwise let a stale pinned writer
    // "win" a recreated historical version and silently lose its data
    // below the tip
    if (currentVersion(spark, path).exists(_ >= v)) return false
    val lock = new Path(manifestDir(path), s".v$v.lock")
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
    op.foreach { o =>
      val out = f.create(opPath(path, v), true)
      try out.write(o.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    schema.foreach { s0 =>
      val out = f.create(schemaPath(path, v), true)
      try out.write(s0.json.getBytes(StandardCharsets.UTF_8))
      finally out.close()
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
    // per-version sidecars (e.g. the identity high-water `idhw`):
    // written by the lock winner BEFORE the manifest rename publishes,
    // so no reader can observe the version without them
    extraFiles.foreach { case (suffix, bytes) =>
      val out = f.create(new Path(manifestDir(path), s"v$v.$suffix"), true)
      try out.write(bytes) finally out.close()
    }
    val tmp = new Path(manifestDir(path),
      s".v$v.manifest.tmp.${java.util.UUID.randomUUID()}")
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
  private final case class Commit[R](top: Seq[(String, Option[String])],
      schema: Option[StructType], dv: Option[DvRows], op: String,
      receipt: Long => R, staged: Option[Path] = None,
      extraFiles: Seq[(String, Array[Byte])] = Seq.empty,
      rebase: Option[Rebase] = None)

  /** How a lost [[Commit]] rebases: `meta` is the
    * [[metadataFingerprint]] the writer validated against, `op` the
    * history record of a rebased commit, and `onto(newest)` the
    * top-level rows and vector against tip `newest` — None when the
    * winners' commits overlap the writer's footprint. */
  private final case class Rebase(meta: String, op: String,
      onto: Long => Option[(Seq[(String, Option[String])], Option[DvRows])])

  /** A metadata-only [[Commit]]: version `from`'s top-level rows and
    * deletion vector carried forward under `schema`. */
  private def carryForward(spark: SparkSession, path: String, from: Long,
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
  private def occ[R](spark: SparkSession, path: String, what: String,
      pinned: Option[Long] = None)(
      attempt: (Long, Boolean) => Either[R, Commit[R]]): R = {
    @annotation.tailrec
    def run(cur: Long, first: Boolean): R = attempt(cur, first) match {
      case Left(r) => r
      case Right(c) =>
        var won: Option[Long] = None
        try won =
          if (commit(spark, path, cur + 1, c.top, c.schema, c.dv,
              Some(c.op), c.extraFiles)) Some(cur + 1)
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
    * finds the winners disjoint. [[append]]'s always are (appends never
    * conflict on data); [[merge]]'s are when no commit since `base`
    * added or removed a manifest or vector entry inside its touched
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
          if (commit(spark, path, newest + 1, top, c.schema, dv,
              Some(rb.op), c.extraFiles)) Some(newest + 1)
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

  /** Initialize the table with `df` as version 1. `statsCols`
    * registers per-file min/max statistics columns: every commit from
    * then on computes exact stats for ITS staged files (one bounded
    * aggregate over the batch), carried files keep theirs in the
    * manifest, and [[readRange]] prunes file reads by interval
    * overlap — the Delta/Iceberg data-skipping mechanic, living in
    * the manifest where a million-file table wants it. */
  def init(df: DataFrame, path: String,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      opName: String = "INIT"): Long = {
    val spark = df.sparkSession
    require(currentVersion(spark, path).isEmpty,
      s"table already initialized: $path")
    if (statsCols.nonEmpty || bloomCols.nonEmpty) {
      val f = fs(spark, path)
      f.mkdirs(manifestDir(path))
      val lines = statsCols ++ bloomCols.map("bloom:" + _)
      val out = f.create(statsColsPath(path), true)
      try out.write((lines.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // a dynamic-partition write of an EMPTY frame creates zero files
    // (SQL CREATE TABLE … PARTITIONED BY lands here); fall back to one
    // schema-only file so v1 is readable
    val (dir, staged0, written) = stage(df, path, 1L, partitionCol)
    val staged = ensureManifestNonEmpty(df, path, dir, staged0,
      carriedNonEmpty = false)
    require(commit(spark, path, 1L,
      stagedEntries(spark, path, staged, written), Some(df.schema),
      op = Some(opName)),
      s"init lost a commit race: $path")
    1L
  }

  /** MERGE `source` into the table (semantics in the object doc).
    * Returns the committed version.
    *
    * `evolveSchema = true` turns on ADDITIVE schema evolution: source
    * columns the target lacks are appended to the table schema (carried
    * files surface NULL for them through the logged-schema read — no
    * history rewrite), and target columns the source lacks are
    * NULL-filled on insert. The default stays strict: the source must
    * carry every target column and extras are dropped, so an
    * accidental extra column cannot silently change the table.
    *
    * Concurrency is OPTIMISTIC with Delta-style conflict detection: a
    * writer that loses the commit race first checks whether every
    * commit that landed since its snapshot is DISJOINT from its own
    * footprint (no manifest or deletion-vector change inside its
    * touched partitions, no schema or table-metadata change). If so,
    * the already-staged files are RE-COMMITTED against the winner's
    * manifest — a metadata-only rebase, no data re-read or re-write —
    * recorded in history as `<op>+REBASE`. Only a genuine overlap
    * pays the full re-merge. `baseVersion` pins the snapshot the
    * merge is computed against (default: current) — the lever a
    * long-running writer uses, and what makes the rebase path
    * deterministic to exercise. */
  def merge(source: DataFrame, path: String, keys: Seq[String],
      partitionCol: Option[String] = None,
      deleteCol: Option[String] = None,
      evolveSchema: Boolean = false, opName: String = "MERGE",
      baseVersion: Option[Long] = None): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val spark = source.sparkSession
    // generated columns are computed BEFORE partition attribution — a
    // source omitting the generated partition key still routes to the
    // right partitions, which is the declaration's whole point
    val gensSupplied = generatedColumns(spark, path)
      .filter { case (c, _) => source.columns.contains(c) }
    val sourceG = computeGeneratedColumns(spark, path, source)
    val idents = identityColumns(spark, path)
    // table-metadata snapshot for the rebase conflict check: a
    // concurrent constraint / generated-column / skipping-registration
    // change means our pre-staging validation may be stale
    val meta0 = metadataFingerprint(spark, path)
    occ(spark, path, "merge", baseVersion) { (cur, first) =>
      val next = cur + 1
      val curSchema = tableSchema(spark, path, Some(cur))
      // under column mapping, partition DIRECTORIES carry the
      // physical name — attribution and staging must speak it
      def physOf(c: String): String = curSchema
        .flatMap(_.fields.find(_.name == c)).map(physicalOf).getOrElse(c)

      val (carriedTop, hitList, rewriteDf, touchedSegs) = partitionCol match {
        case Some(pc) =>
          // untouched partitions carry over BY REFERENCE. Match against
          // the HIVE-ESCAPED directory name (specials are %-encoded on
          // disk, NULL becomes __HIVE_DEFAULT_PARTITION__) — a raw
          // string match would miss those partitions, carry their old
          // files alongside the new rows, and break the upsert.
          // The value string must be SPARK's cast-to-string (what the
          // dynamic-partition writer embeds in the path — e.g. a
          // timestamp renders '…00:00:00', where JVM toString yields
          // '…00:00:00.0'), so derive it with the same Cast in-plan
          // rather than Row.get(0).toString on the driver.
          import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          val touched = sourceG
            .select(col(pc).cast("string").as("p")).distinct()
            .collect().map { r =>
              ExternalCatalogUtils.getPartitionPathString(physOf(pc),
                if (r.isNullAt(0)) null else r.getString(0))
            }.toSeq
          // manifest set-split is SEGMENT-AWARE: untouched segments
          // carry as unopened refs, only the batch's partition
          // footprint (plus overlapping/unknown segments' rows)
          // materializes. Files outside any `pc=` directory (the
          // schema-only file a table-emptying commit leaves behind)
          // are ALWAYS rewritten: they can't be attributed to an
          // untouched partition, and carrying them next to partitioned
          // files would present an inconsistent directory structure to
          // partition discovery.
          val (keepTop, hitE) = splitTopByPartitions(spark, path, cur,
            physOf(pc), touched.toSet)
          val hit = hitE.map(_._1)
          (Some(keepTop), hit,
            readLive(spark, path, cur, Some(hit), keepMeta = false), touched)
        case None =>
          (None, Seq.empty[String],
            readLive(spark, path, cur, None, keepMeta = false),
            Seq.empty[String])
      }

      // identity columns: allocate past the high-water for inserted
      // keys, PRESERVE the existing value for updated keys (looked up
      // in the already-read rewrite side — partition-scoped keys live
      // in their partition), and advance the mark past supplied
      // values. Allocation ranks the batch by the merge keys, so the
      // assigned values are deterministic and SQL-replayable; the new
      // mark rides THIS commit (`idhw` sidecar).
      var sourceI = sourceG
      val idhwNext = scala.collection.mutable.LinkedHashMap[String, Long]()
      idents.foreach { case (c, _, step) =>
        val hw = identityHighWater(spark, path, cur, c)
        if (!sourceI.columns.contains(c)) {
          val prevId = "__graft_prev_id"
          val existing = rewriteDf
            .select((keys.map(col) :+ col(c).as(prevId)): _*)
          val joined = sourceI.join(existing, keys, "left")
          val matched = joined.filter(col(prevId).isNotNull)
            .withColumn(c, col(prevId)).drop(prevId)
          val unmatched = joined.filter(col(prevId).isNull).drop(prevId)
          val (allocated, nIns) =
            withAllocatedIds(unmatched, keys, c, hw, step)
          sourceI = matched.unionByName(allocated)
          idhwNext(c) = hw + step * nIns
        } else {
          val agg = if (step > 0) max(col(c)) else min(col(c))
          val m = sourceI.agg(agg).head()
          val sup = if (m.isNullAt(0)) hw else m.getLong(0)
          idhwNext(c) = if (step > 0) math.max(hw, sup)
            else math.min(hw, sup)
        }
      }
      val idExtras: Seq[(String, Array[Byte])] =
        if (idhwNext.isEmpty) Seq.empty
        else Seq(("idhw", idhwNext
          .map { case (c, h) => s"$c\t$h" }.mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)))

      val tgtCols = rewriteDf.columns.toSeq
      val srcClean = deleteCol match {
        case Some(d) if !tgtCols.contains(d) =>
          sourceI.filter(!coalesce(col(d), lit(false))).drop(d)
        case Some(d) => sourceI.filter(!coalesce(col(d), lit(false)))
        case None => sourceI
      }
      // supplied generated-column values must match their expression
      // (delete-flagged rows are already excluded — their key-only
      // images would falsely mismatch); retries keep the verdict
      if (first)
        validateGeneratedColumns(spark, path, srcClean, gensSupplied)
      val inserts =
        if (evolveSchema) srcClean else srcClean.select(tgtCols.map(col): _*)
      val survivors = rewriteDf.join(
        source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      val merged = survivors.unionByName(inserts,
        allowMissingColumns = evolveSchema)
      // CHECK constraints veto the BATCH images before staging —
      // survivors were validated by the commit that wrote them (or by
      // addConstraint's snapshot scan), so the cost is O(batch), never
      // the table; retries keep the verdict (the source is unchanged).
      // Under additive evolution the images are aligned to the union
      // schema so a constraint on a carried-only column reads NULL
      // (passes, SQL semantics) instead of failing analysis.
      if (first) {
        val images =
          if (!evolveSchema) inserts
          else merged.schema.fields.foldLeft(inserts) { (df, fld) =>
            if (df.columns.contains(fld.name)) df
            else df.withColumn(fld.name, lit(null).cast(fld.dataType))
          }
        enforceConstraints(spark, path, images)
      }

      // deletion vectors on rewritten files are materialized by the
      // rewrite; vectors on carried files carry with them (full
      // rewrite → no carried files → vector dropped entirely)
      val dvCarried = carriedTop match {
        case None => None
        case Some(_) =>
          val hitNames = hitList.map(fileKey).toSet
          dvWithout(deletionVectorRows(spark, path, Some(cur)))(hitNames)
      }

      // the logged schema must CARRY each field's column-mapping
      // metadata (the plan-derived merged.schema lost it); an appended
      // evolution field whose name shadows a live or RETIRED physical
      // name gets a FRESH physical name — otherwise old carried files
      // would resurface foreign/dead bytes under the new column.
      // Computed BEFORE staging: the stage rename must speak it.
      val outSchema = curSchema match {
        case None => merged.schema
        case Some(cs) =>
          lazy val taken =
            cs.fields.map(physicalOf).toSet ++ retiredPhysicals(spark, path)
          StructType(merged.schema.fields.map { f =>
            cs.fields.find(_.name == f.name) match {
              case Some(old) => f.copy(metadata = old.metadata)
              case None => freshPhysical(f, taken)
            }
          })
      }
      val (stagedDir, staged0, written) = stage(merged, path, next,
        partitionCol, Some(outSchema))
      val staged = ensureManifestNonEmpty(merged, path, stagedDir,
        staged0, carriedTop.exists(_.nonEmpty), Some(outSchema))
      val stagedE = stagedEntries(spark, path, staged, written)
      // a lost race first tries the fast path: re-commit the
      // ALREADY-STAGED files against the winner's manifest when every
      // commit since `cur` is disjoint from our partition footprint.
      // Only a real overlap re-merges. Identity-bearing merges never
      // rebase: two racing allocators extending from the same
      // high-water would collide, so the retry recomputes allocation
      // against the winner instead.
      val fastPath = partitionCol.filter(_ => idents.isEmpty).map { pc =>
        Rebase(meta0, opName + "+REBASE", newest =>
          partitionRebase(spark, path, cur, newest, physOf(pc),
            touchedSegs.toSet, hitList, stagedE))
      }
      Right(Commit(carriedTop.fold(stagedE)(sealTop(spark, path, _, stagedE)),
        Some(outSchema), dvCarried, opName, identity, Some(stagedDir),
        idExtras, fastPath))
    }
  }

  /** One string capturing every piece of table metadata a write
    * validates against BEFORE staging — CHECK constraints, generated
    * columns, skipping registrations. A rebase is only sound if none
    * of it moved while we raced. */
  private def metadataFingerprint(spark: SparkSession,
      path: String): String =
    (constraints(spark, path).map { case (n, p) => s"c:$n\t$p" } ++
      generatedColumns(spark, path).map { case (c, e) => s"g:$c\t$e" } ++
      identityColumns(spark, path)
        .map { case (c, s0, st) => s"i:$c\t$s0\t$st" } ++
      statsColumns(spark, path).map("s:" + _) ++
      bloomColumns(spark, path).map("b:" + _)).mkString("\n")

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

  /** [[merge]]'s [[Rebase]] onto tip `newest` for a merge computed at
    * `base` that rewrote `hitList` in the `touched` partitions. Sound
    * iff no commit in `(base, newest]` added or removed a manifest
    * entry, or changed a deletion-vector entry, inside the touched
    * partitions or outside every partition directory (the schema-only
    * root file is always rewritten, so a change there overlaps by
    * construction; a DV-only DELETE leaves the manifest intact, so the
    * vectors are compared too). Both tests are set differences of the
    * cached driver metadata — no Spark job. When disjoint, the new top
    * level is `newest`'s minus the hit files plus the staged ones, and
    * the vector is `newest`'s minus entries on hit files (the rewrite
    * materialized those rows). None on any overlap. */
  private def partitionRebase(spark: SparkSession, path: String,
      base: Long, newest: Long, pcPhys: String, touched: Set[String],
      hitList: Seq[String], stagedE: Seq[(String, Option[String])])
      : Option[(Seq[(String, Option[String])], Option[DvRows])] = {
    val segRe = ("/(" + java.util.regex.Pattern.quote(pcPhys) + "=[^/]*)/").r
    val (m0, m1) = (readManifest(spark, path, base).toSet,
      readManifest(spark, path, newest).toSet)
    val dvN = deletionVectorRows(spark, path, Some(newest))
    val (d0, d1) = (deletionVectorRows(spark, path, Some(base))
      .getOrElse(Map.empty), dvN.getOrElse(Map.empty))
    val changed = (m0 diff m1) ++ (m1 diff m0) ++ (d0.keySet ++ d1.keySet)
      .filterNot(k => java.util.Arrays.equals(d0.getOrElse(k, null),
        d1.getOrElse(k, null)))
    if (changed.exists(f => segRe.findFirstMatchIn(f)
        .forall(m => touched(m.group(1))))) None
    else {
      // the winners never touched our partitions, so the hit set
      // against `newest` must equal ours — any drift re-merges
      val (keepTop, hitN) = splitTopByPartitions(spark, path, newest,
        pcPhys, touched)
      if (hitN.map(_._1).toSet != hitList.toSet) None
      else Some((sealTop(spark, path, keepTop, stagedE),
        dvWithout(dvN)(hitList.map(fileKey).toSet)))
    }
  }

  /** INSERT-ONLY commit: stage the batch, commit `manifest(cur) ∪
    * staged` — NO existing file is read or rewritten, the prior
    * deletion vector rides unchanged, and cost is O(batch) however
    * large the table. This is the dominant write at 100 TB (hourly
    * loads, stream sinks), so it gets the cheapest possible conflict
    * model: an append is disjoint from EVERYTHING except a schema or
    * table-metadata change, so a lost commit race re-points the
    * ALREADY-STAGED files at the winner's manifest and retries —
    * never a restage (Delta's appends-never-conflict rule).
    * Identity-bearing appends re-run allocation on a lost race
    * instead (racing allocators must not share a high-water).
    *
    * CHECK constraints, generated columns (computed when omitted,
    * vetoed when supplied wrong) and identity allocation apply
    * exactly as in [[merge]]; `evolveSchema` has merge's additive
    * semantics. Note an append does NOT check keys: the caller wants
    * [[merge]] if replacing rows, and duplicate-key appends are
    * visible duplicates, as in any lake. */
  def append(source: DataFrame, path: String,
      partitionCol: Option[String] = None,
      evolveSchema: Boolean = false, opName: String = "APPEND"): Long = {
    val spark = source.sparkSession
    val gensSupplied = generatedColumns(spark, path)
      .filter { case (c, _) => source.columns.contains(c) }
    val sourceG = computeGeneratedColumns(spark, path, source)
    validateGeneratedColumns(spark, path, sourceG, gensSupplied)
    val idents = identityColumns(spark, path)
    val meta0 = metadataFingerprint(spark, path)
    occ(spark, path, "append") { (cur, first) =>
      val curSchema = tableSchema(spark, path, Some(cur))
      val tgt = schemaOf(spark, path, cur)
      // identity: every row is an insert; allocation is ranked over
      // the full row so the assigned multiset is deterministic
      var src = sourceG
      // schema enforcement with AUTOMATIC TYPE WIDENING (the Delta
      // type-widening evolution): a source column NARROWER than the
      // table up-casts in-plan (lossless); a source column WIDER
      // widens the logged schema in this same commit — carried files
      // keep their narrow encoding and widen at the scan; any other
      // mismatch refuses loudly, because no silent cast can be
      // trusted not to lose data. (Without this, a wider-typed
      // source would stage files whose physical type contradicts the
      // logged schema — a latent read failure.)
      val widenedCols =
        scala.collection.mutable.LinkedHashMap[String, DataType]()
      tgt.fields.foreach { f =>
        if (src.columns.contains(f.name)) {
          val st = src.schema(f.name).dataType
          if (st != f.dataType) {
            if (widens(st, f.dataType))
              src = src.withColumn(f.name, col(f.name).cast(f.dataType))
            else if (widens(f.dataType, st)) {
              requireWidenSafe(spark, path, f.name, via = s" via $opName")
              widenedCols(f.name) = st
            } else sys.error(
              s"append type mismatch on '${f.name}' of $path: table " +
                s"${f.dataType.simpleString}, source ${st.simpleString}" +
                " — not a lossless widening in either direction")
          }
        }
      }
      val idhwNext =
        scala.collection.mutable.LinkedHashMap[String, Long]()
      idents.foreach { case (c, _, step) =>
        val hw = identityHighWater(spark, path, cur, c)
        if (!src.columns.contains(c)) {
          val (allocated, n) =
            withAllocatedIds(src, src.columns.toSeq, c, hw, step)
          src = allocated
          idhwNext(c) = hw + step * n
        } else {
          val agg0 = if (step > 0) max(col(c)) else min(col(c))
          val m = src.agg(agg0).head()
          val sup = if (m.isNullAt(0)) hw else m.getLong(0)
          idhwNext(c) = if (step > 0) math.max(hw, sup)
            else math.min(hw, sup)
        }
      }
      val idExtras: Seq[(String, Array[Byte])] =
        if (idhwNext.isEmpty) Seq.empty
        else Seq(("idhw", idhwNext
          .map { case (c, h) => s"$c\t$h" }.mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)))
      val inserts =
        if (evolveSchema) src
        else src.select(tgt.fieldNames.toSeq.map(col): _*)
      if (first) {
        val images =
          if (!evolveSchema) inserts
          else tgt.fields.foldLeft(inserts) { (df, fld) =>
            if (df.columns.contains(fld.name)) df
            else df.withColumn(fld.name, lit(null).cast(fld.dataType))
          }
        enforceConstraints(spark, path, images)
      }
      def widenF(cs: StructType): StructType =
        if (widenedCols.isEmpty) cs
        else StructType(cs.fields.map(f =>
          widenedCols.get(f.name).fold(f)(dt => f.copy(dataType = dt))))
      val outSchema = curSchema match {
        case None => inserts.schema
        case Some(cs) if !evolveSchema => widenF(cs)
        case Some(cs) =>
          lazy val taken =
            cs.fields.map(physicalOf).toSet ++ retiredPhysicals(spark, path)
          StructType(widenF(cs).fields ++ inserts.schema.fields
            .filterNot(f => cs.fieldNames.contains(f.name))
            .map(freshPhysical(_, taken)))
      }
      val (stagedDir, staged, written) = stage(inserts, path, cur + 1,
        partitionCol, Some(outSchema))
      val stagedE = stagedEntries(spark, path, staged, written)
      // O(delta) commit: carried segment refs copy forward, staged
      // entries ride inline (sealing past the threshold) — an append
      // on a million-file table writes a delta-sized manifest
      def at(v: Long) = (segmentedTop(spark, path, v, stagedE),
        deletionVectorRows(spark, path, Some(v)))
      // appends never conflict on data: a lost race re-points the
      // staged files at each new winner, restaging only on
      // schema/metadata drift or identity allocation
      val (top, dv) = at(cur)
      Right(Commit(top, Some(outSchema), dv, opName, identity,
        Some(stagedDir), idExtras,
        Option.when(idents.isEmpty)(Rebase(meta0, opName, v => Some(at(v))))))
    }
  }

  /** The (queryId, epochId) transaction stamp of version `v`, if the
    * commit carried one (streaming-sink epochs) — Delta's txn action. */
  private[graft] def txnAt(spark: SparkSession, path: String,
      v: Long): Option[(String, Long)] = {
    val f = fs(spark, path)
    val p = new Path(manifestDir(path), s"v$v.txn")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val i = txt.indexOf('\t')
      if (i <= 0) None else Some((txt.substring(0, i),
        txt.substring(i + 1).toLong))
    }
  }

  /** Commit ALREADY-STAGED files as an append — the streaming sink's
    * epoch commit. The files were written by executor tasks under the
    * table's staging convention; this stamps stats, enforces CHECK
    * constraints on exactly the staged batch (one bounded read),
    * carries every prior file and the deletion vector by reference,
    * and records the optional `txn` (queryId, epochId) sidecar the
    * sink's idempotence check reads. Tables with generated or
    * identity columns, or a partition-structured layout, are refused:
    * those writers need [[append]]/[[merge]]'s in-plan machinery. */
  private[graft] def appendStaged(spark: SparkSession, path: String,
      files: Seq[String], txn: Option[(String, Long)],
      opName: String = "STREAM-APPEND"): Long = {
    require(generatedColumns(spark, path).isEmpty &&
      identityColumns(spark, path).isEmpty,
      s"streaming sink refuses generated/identity tables: $path — " +
        "use foreachBatch + Versioned.append")
    val cur0 = resolve(spark, path, None)
    require(tableSchema(spark, path, Some(cur0))
      .forall(_.fields.forall(f => physicalOf(f) == f.name)),
      s"streaming sink refuses column-mapped tables: $path — the " +
        "executor writers speak the QUERY schema, which carries no " +
        "physical-name mapping; use foreachBatch + Versioned.append")
    require(!readManifestEntries(spark, path, cur0).exists { case (f0, _) =>
      val k = fileKey(f0)
      k.indexOf('/') >= 0 && k.substring(k.indexOf('/') + 1).contains("=")
    }, s"streaming sink refuses partition-structured tables: $path — " +
      "use foreachBatch + Versioned.append(partitionCol = …)")
    if (files.isEmpty) return cur0
    // the sink stages rows in the table's own schema
    val written = schemaOf(spark, path, cur0)
    enforceConstraints(spark, path,
      scan(spark, path, None, written, Some(files), keepMeta = false))
    val stagedE = stagedEntries(spark, path, files, written)
    val extras = txn.map { case (q, e) =>
      ("txn", s"$q\t$e\n".getBytes(StandardCharsets.UTF_8)) }.toSeq
    occ(spark, path, "appendStaged") { (cur, _) =>
      Right(Commit(segmentedTop(spark, path, cur, stagedE),
        tableSchema(spark, path, Some(cur)),
        deletionVectorRows(spark, path, Some(cur)), opName, identity,
        extraFiles = extras))
    }
  }

  /** Receipt of a [[mergeInto]]: the committed version plus per-clause
    * row counts (SQL MERGE's standard feedback). */
  final case class MergeStats(version: Long, updated: Long, deleted: Long,
    inserted: Long)

  /** Multi-clause MERGE INTO — the full SQL/Delta statement, not just
    * the whole-row upsert [[merge]] implements:
    *
    * {{{
    * MERGE INTO target t USING source s ON <keys equal>
    *   WHEN MATCHED AND <deleteCond>  THEN DELETE
    *   WHEN MATCHED AND <updateCond>  THEN UPDATE SET <updateSet>
    *   WHEN NOT MATCHED AND <insertCond> THEN INSERT *
    * }}}
    *
    * Clause conditions and `updateSet` expressions may reference BOTH
    * sides through the `t.` / `s.` aliases (e.g.
    * `"p" -> col("t.p") + col("s.p")` is an additive update). Clause
    * order is DELETE, then UPDATE, then (for unmatched source rows)
    * INSERT — a matched pair satisfying both conditions deletes.
    * Matched target rows satisfying neither clause, and all unmatched
    * target rows, survive unchanged. A `None` condition means the
    * clause fires for every (un)matched row; `updateSet` keys must be
    * target columns, and unnamed target columns keep their value.
    *
    * Implementation composes the engine's primitives — the clause
    * evaluation is ONE inner join of the snapshot against the source
    * producing the update images and delete keys (source keys must be
    * unique, enforced like SQL MERGE's cardinality rule), and the
    * resulting row-image batch feeds [[merge]], which keeps its
    * partition-scoped carry-over: at 100 TB a MERGE INTO touching two
    * partitions still rewrites two partitions. The clause pass reads
    * the CURRENT snapshot; concurrent writers are handled by [[merge]]'s
    * optimistic commit exactly as Delta handles them — last committer
    * wins on non-overlapping keys, and the retry re-merges the same
    * precomputed images (single-logical-writer per key range is the
    * documented contract, as in every OCC lake).
    */
  def mergeInto(source: DataFrame, path: String, keys: Seq[String],
      updateSet: Map[String, Column],
      updateCond: Option[Column] = None,
      deleteCond: Option[Column] = None,
      insertCond: Option[Column] = None,
      partitionCol: Option[String] = None): MergeStats = {
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val spark = source.sparkSession
    val tgt = read(spark, path).alias("t")
    val tgtCols = tgt.columns.toSeq
    require(updateSet.keySet.subsetOf(tgtCols.toSet),
      s"updateSet names non-target columns: " +
        s"${updateSet.keySet.diff(tgtCols.toSet).mkString(", ")}")
    val dupKeys = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    require(dupKeys == 0L,
      "MERGE INTO source has duplicate keys — each target row may " +
        "match at most one source row (SQL MERGE cardinality rule)")
    val src = source.alias("s")
    // plain equality: SQL ON never matches NULL keys (and [[merge]]'s
    // key join is EqualTo too — null-safe here would double NULL-key
    // rows: kept as survivor AND inserted as update image)
    val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k"))
      .reduce(_ && _)
    // ONE outer join classifies every source row into its clause
    // (delete first — SQL clause order — then update, then insert for
    // unmatched rows); the dup-key rule above guarantees ≤1 match per
    // source row, so the snapshot is scanned once for all three
    // clauses instead of once per clause + once per count
    val tExists = "__graft_mi_t"
    val tgtM = tgt.withColumn(tExists, lit(true)).alias("t")
    val joined = src.join(tgtM, keyCond, "left_outer")
    val matchedF = coalesce(col(tExists), lit(false))
    val del = deleteCond.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    val upd = updateCond.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(true))
    val ins = insertCond.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(true))
    val clFlag = "__graft_mi_cl"
    val delFlag = "__graft_mi_del"
    // clause images: update rows rebuild the full target row with the
    // updateSet overrides, insert rows take the source's target
    // columns, delete rows carry keys only (merge drops them before
    // insert, so the non-key columns just need to exist)
    val images = joined
      .withColumn(clFlag,
        when(matchedF && del, "D").when(matchedF && upd, "U")
          .when(!matchedF && ins, "I").otherwise("N"))
      .filter(col(clFlag) =!= "N")
      .select(tgtCols.map { c =>
        val up = updateSet.getOrElse(c, col(s"t.$c"))
        // a source may omit non-key target columns (a delete-only or
        // update-only statement carries just what its clauses need);
        // an insert of such a row surfaces NULL for them
        val srcC =
          if (source.columns.contains(c)) col(s"s.$c")
          else lit(null).cast(tgt.schema(c).dataType)
        when(col(clFlag) === "U", up)
          .when(col(clFlag) === "I", srcC)
          .otherwise(if (keys.contains(c)) col(s"s.$c")
            else lit(null).cast(tgt.schema(c).dataType))
          .as(c)
      } :+ (col(clFlag) === "D").as(delFlag) :+ col(clFlag): _*)
      .persist()
    try {
      val counts = images.agg(
        count(when(col(clFlag) === "U", 1)).as("u"),
        count(when(col(clFlag) === "D", 1)).as("d"),
        count(when(col(clFlag) === "I", 1)).as("i")).head()
      val (nUpd, nDel, nIns) =
        (counts.getLong(0), counts.getLong(1), counts.getLong(2))
      if (nDel + nUpd + nIns == 0)
        return MergeStats(resolve(spark, path, None), 0L, 0L, 0L)
      val v = merge(images.drop(clFlag), path, keys, partitionCol,
        deleteCol = Some(delFlag), opName = "MERGE_INTO")
      MergeStats(v, nUpd, nDel, nIns)
    } finally images.unpersist()
  }

  /** ZERO-COPY shallow clone: publish `src`'s current snapshot as
    * version 1 of a new table at `dst` by copying the MANIFEST (plus
    * logged schema and deletion vector) only — the data files are
    * shared by reference, so cloning a 100 TB table costs one small
    * metadata write (the Delta/Iceberg shallow-clone shape: dev/test
    * sandboxes, WAP staging branches, reproducible experiment pins).
    * Writes to the clone stage their own files under the clone's
    * directory and never touch the source; the clone's first full
    * rewrite (merge without partitionCol, or compact) ends the
    * sharing entirely.
    *
    * Caveat shared with every shallow-clone design: [[vacuum]] is
    * table-local reference counting, so vacuuming the SOURCE may
    * delete files a clone still references. Vacuum only tables with no
    * live clones (or deep-copy first) — documented contract, pinned by
    * `VersionedSpec`. */
  def clone(spark: SparkSession, src: String, dst: String): Long = {
    require(currentVersion(spark, dst).isEmpty,
      s"clone target already initialized: $dst")
    val v = resolve(spark, src, None)
    val scols = registeredCols(spark, src)
    if (scols.nonEmpty) {
      val f = fs(spark, dst)
      f.mkdirs(manifestDir(dst))
      val out = f.create(statsColsPath(dst), true)
      try out.write((scols.mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    hiddenTransform(spark, src).foreach { t =>
      val f = fs(spark, dst)
      f.mkdirs(manifestDir(dst))
      val out = f.create(transformPath(dst), true)
      try out.write(t.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // table properties travel with the clone: CHECK constraints and
    // generated-column declarations too
    val cons = constraints(spark, src)
    if (cons.nonEmpty) writeConstraints(spark, dst, cons)
    val gens = generatedColumns(spark, src)
    if (gens.nonEmpty) writeGeneratedColumns(spark, dst, gens)
    retiredPhysicals(spark, src).foreach(addRetired(spark, dst, _))
    // identity declarations travel too, with the SOURCE's effective
    // high-water pinned as the clone's v1 sidecar — allocations on the
    // clone can never collide with values it inherited
    val idents = identityColumns(spark, src)
    if (idents.nonEmpty) {
      val f = fs(spark, dst)
      f.mkdirs(manifestDir(dst))
      atomicWrite(f, identityPath(dst),
        idents.map { case (c, s0, st) => s"$c\t$s0\t$st" }
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      atomicWrite(f, idhwPath(dst, 1L),
        idents.map { case (c, _, _) =>
          s"$c\t${identityHighWater(spark, src, v, c)}" }
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    require(commit(spark, dst, 1L,
      readManifestEntries(spark, src, v),
      tableSchema(spark, src, Some(v)),
      deletionVectorRows(spark, src, Some(v)),
      op = Some(s"CLONE")),
      s"clone lost a commit race: $dst")
    1L
  }

  /** Compact the current snapshot into `targetFiles` files and commit
    * the rewrite as a new version — data-identical by construction
    * (the plan is read → round-robin repartition → write; no filter,
    * no projection), with any outstanding deletion vector MATERIALIZED
    * by the rewrite and dropped from the new version. The small-file
    * problem this solves is the steady-state of any merge-maintained
    * lake: every MERGE stages a fresh batch directory, so the file
    * count grows with commit count while file SIZE shrinks toward the
    * per-task sliver, and at 100 TB the scan's task-scheduling +
    * footer overhead comes to dominate. Compaction trades one bounded
    * rewrite for a scan-optimal layout; readers of older versions are
    * untouched (their files stay until [[vacuum]]).
    *
    * The layouts (round-robin, `partitionCol`, `clusterBy`,
    * `zOrderBy`) and the concurrency story are [[rewrite]]'s. */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Seq.empty,
      zOrderBy: Seq[String] = Seq.empty): Long = {
    require(Seq(partitionCol.nonEmpty, clusterBy.nonEmpty,
        zOrderBy.nonEmpty).count(identity) <= 1,
      "partitionCol, clusterBy and zOrderBy are alternative layouts — " +
        "pick one")
    rewrite(spark, path, "COMPACT", targetFiles, partitionCol, clusterBy,
      zOrderBy)(_ => Right(Pick(None, Seq.empty, identity)))
  }

  /** What a compaction rewrites at the version it reads: `files` (None
    * = the whole live snapshot, committed as a flat manifest), the
    * top-level manifest rows that carry by reference, and the receipt
    * of the committed version. */
  private final case class Pick[R](files: Option[Seq[String]],
      carried: Seq[(String, Option[String])], receipt: Long => R)

  /** The provenance a clustered layout records (`v<N>.cluster`). */
  private def clusterMark(clusterBy: Seq[String],
      zOrderBy: Seq[String]): Option[String] =
    if (clusterBy.nonEmpty) Some(s"c:${clusterBy.mkString(",")}")
    else if (zOrderBy.nonEmpty) Some(s"z:${zOrderBy.mkString(",")}")
    else None

  /** The one rewrite core of the data compactions ([[compact]],
    * [[compactPartitions]], [[compactIncremental]], [[compactSmall]]),
    * run under [[occ]]. `pick` selects the files at the current
    * version (Left = nothing to do, with its receipt); their live rows
    * are laid out into `targetFiles` files and staged:
    *  - `partitionCol`: hash-clustered by value (`repartition(n, pc)`
    *    routes ALL rows of one value into one task) and written
    *    `partitionBy`, one file per value, which keeps partition-scoped
    *    [[merge]] carry-over working;
    *  - `clusterBy`: range-partitioned and sorted on the key(s), so
    *    each file covers a narrow key interval — the layout that makes
    *    min/max stats (and [[readRange]]) prune;
    *  - `zOrderBy`: Morton-interleaved ([[ZOrder]]), so a range probe
    *    on ANY one of the columns prunes;
    *  - otherwise round-robin, exactly `targetFiles` files whenever
    *    rows ≥ targetFiles.
    * Vector entries on the picked files are dropped (the rewrite
    * materialized them), the rest carry with the carried rows, and a
    * clustered layout records its [[clusterMark]] — what
    * [[compactIncremental]] reads to find the files already laid out on
    * those columns. A lost race re-picks against the winner, so a
    * compaction never undoes a concurrent writer's committed rows. */
  private def rewrite[R](spark: SparkSession, path: String, op: String,
      targetFiles: Int, partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Seq.empty,
      zOrderBy: Seq[String] = Seq.empty)(
      pick: Long => Either[R, Pick[R]]): R = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val mark = clusterMark(clusterBy, zOrderBy).map(m =>
      ("cluster", s"$m\n".getBytes(StandardCharsets.UTF_8))).toSeq
    occ(spark, path, op) { (cur, _) =>
      pick(cur).map { p =>
        val rows = readLive(spark, path, cur, p.files, keepMeta = false)
        val laidOut = (partitionCol, clusterBy, zOrderBy) match {
          case (Some(pc), _, _) => rows.repartition(targetFiles, col(pc))
          case (None, cs, _) if cs.nonEmpty =>
            rows.repartitionByRange(targetFiles, cs.map(col): _*)
              .sortWithinPartitions(cs.map(col): _*)
          case (None, _, zs) if zs.nonEmpty =>
            ZOrder.layout(rows, targetFiles, zs)
          case _ => rows.repartition(targetFiles)
        }
        val schema = schemaOf(spark, path, cur)
        val (stagedDir, staged0, written) = stage(laidOut, path, cur + 1,
          partitionCol, Some(schema))
        val staged = stagedEntries(spark, path, ensureManifestNonEmpty(rows,
          path, stagedDir, staged0, p.carried.nonEmpty, Some(schema)),
          written)
        val dv = p.files.flatMap { picked =>
          dvWithout(deletionVectorRows(spark, path, Some(cur)))(
            picked.map(fileKey).toSet)
        }
        Commit(p.files.fold(staged)(_ => sealTop(spark, path, p.carried, staged)),
          Some(schema), dv, op, p.receipt, Some(stagedDir), mark)
      }
    }
  }

  /** Receipt of a [[compactSmall]]: the committed version, how many
    * small files were coalesced vs large files carried by reference.
    * `version == -1` = fewer than two small files, nothing to gain,
    * nothing committed. */
  final case class Compaction(version: Long, coalesced: Int, carried: Int)

  /** REWRITE MANIFESTS (Iceberg's metadata-maintenance procedure,
    * `rewrite_manifests`): re-seal the current version's file list
    * into one segment PER PARTITION (flat files stay inline) and
    * commit the refs — ZERO data I/O at any table size. The
    * lifecycle complement to segment accrual: a long-lived
    * append-heavy table collects one segment per seal plus inline
    * slivers whose footprints straddle partitions; after this
    * rewrite every partition-scoped [[merge]]/[[dropPartitions]]
    * carries maximum refs and every O(delta) commit copies a
    * minimal top level. Unpartitioned tables seal into one segment.
    * Returns the committed version (or the current one unchanged if
    * the top level is already minimal). */
  def rewriteManifests(spark: SparkSession, path: String): Long =
    occ(spark, path, "rewriteManifests") { (cur, _) =>
      val entries = readManifestEntries(spark, path, cur)
      val groups = entries.groupBy { e =>
        val k = fileKey(e._1).split('/')
        if (k.length >= 3) Some(k(1)) else None
      }
      val partGroups = groups.collect { case (Some(p), es) => (p, es) }
        .toSeq.sortBy(_._1)
      val flatRows = groups.getOrElse(None, Seq.empty)
      // idempotence BEFORE writing anything: already one
      // single-partition segment per partition (or one sealed
      // segment for an unpartitioned table) with only flat rows
      // inline → nothing to do, no orphan segments
      val (refs0, inline0) = rawTop(spark, path, cur).partition(isSegRef)
      def isFlatRow(e: (String, Option[String])): Boolean =
        fileKey(e._1).split('/').length < 3
      val alreadyMinimal =
        if (partGroups.isEmpty) {
          if (flatRows.size > manifestInlineRows(spark))
            refs0.size == 1 && inline0.isEmpty
          else refs0.isEmpty
        } else
          inline0.forall(isFlatRow) &&
            refs0.size == partGroups.size &&
            refs0.forall(r => footprintOf(r._2).exists {
              case (ps, fl) => !fl && ps.size == 1 })
      if (alreadyMinimal) Left(cur)
      else Right(Commit(
        if (partGroups.isEmpty)
          if (flatRows.size > manifestInlineRows(spark))
            Seq(writeSegment(spark, path, flatRows))
          else flatRows
        else partGroups.map { case (_, es) =>
          writeSegment(spark, path, es) } ++ flatRows,
        tableSchema(spark, path, Some(cur)),
        deletionVectorRows(spark, path, Some(cur)), "REWRITE_MANIFESTS",
        identity))
    }

  /** Partition-scoped OPTIMIZE (Delta's `OPTIMIZE … WHERE`): rewrite
    * ONLY the named partitions' files into `targetFiles` files per
    * the partition layout, carrying every other partition by
    * reference — segment-aware, so at 100 TB compacting yesterday's
    * merge slivers costs yesterday's partition, and the other
    * thousands ride as unopened refs. Deletion-vector entries on the
    * rewritten partitions are materialized; entries on carried files
    * carry. Returns the [[Compaction]] receipt (`version == -1` =
    * no file in the named partitions, nothing committed). */
  def compactPartitions(spark: SparkSession, path: String,
      partitionCol: String, values: Seq[String],
      targetFiles: Int): Compaction = {
    require(values.nonEmpty, "compactPartitions needs at least one value")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    rewrite(spark, path, s"COMPACT_PARTITION($partitionCol)", targetFiles,
        Some(partitionCol)) { cur =>
      val pcPhys = tableSchema(spark, path, Some(cur))
        .flatMap(_.fields.find(_.name == partitionCol)).map(physicalOf)
        .getOrElse(partitionCol)
      val segs = values.map(v =>
        ExternalCatalogUtils.getPartitionPathString(pcPhys, v))
      val (keepTop, hitE) = splitTopByPartitions(spark, path, cur,
        pcPhys, segs.toSet, keepFlat = true)
      val hit = hitE.map(_._1)
      val (keepRefs, keepInline) = keepTop.partition(isSegRef)
      val refNs = keepRefs.map(r => segRowCount(r._2))
      val carriedN =
        if (refNs.forall(_.isDefined)) refNs.flatten.sum + keepInline.size
        else readManifestEntries(spark, path, cur).length - hit.size.toLong
      if (hit.isEmpty) Left(Compaction(-1L, 0, carriedN.toInt))
      else Right(Pick(Some(hit), keepTop,
        Compaction(_, hit.size, carriedN.toInt)))
    }
  }

  /** The newest RETAINED version whose cluster sidecar matches
    * `mark` (its manifest must still exist — vacuum may have dropped
    * older bases). */
  private def lastClusterVersion(spark: SparkSession, path: String,
      mark: String): Option[Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return None
    f.listStatus(dir).map(_.getPath.getName).collect {
      case n if n.startsWith("v") && n.endsWith(".cluster") =>
        n.stripPrefix("v").stripSuffix(".cluster").toLong
    }.sorted.reverse.find { v =>
      manifestExists(spark, path, v) && {
        val in = f.open(new Path(dir, s"v$v.cluster"))
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        txt == mark
      }
    }
  }

  /** INCREMENTAL clustering (the ZCube / liquid-clustering shape):
    * lay out ONLY the files added since the last cluster rewrite on
    * the same columns, carrying the already-clustered bulk by
    * reference (segment-aware). The result is a UNION of clustered
    * groups rather than one globally-ordered layout — per-file
    * min/max stats still prune every group, which is the property
    * that matters — and at 100 TB the daily maintenance cost is the
    * day's ingest, never the table. Falls back to ONE full clustered
    * rewrite (recording the provenance sidecar) when no matching
    * base survives retention. Deletion-vector entries on rewritten
    * files materialize; carried entries ride. Receipt:
    * `Compaction(version, rewritten files, carried clustered files)`;
    * `version == -1` = nothing new since the base, no commit. */
  def compactIncremental(spark: SparkSession, path: String,
      targetFiles: Int, clusterBy: Seq[String] = Seq.empty,
      zOrderBy: Seq[String] = Seq.empty): Compaction = {
    require(clusterBy.nonEmpty ^ zOrderBy.nonEmpty,
      "compactIncremental needs exactly one of clusterBy / zOrderBy")
    val mark = clusterMark(clusterBy, zOrderBy).get
    rewrite(spark, path, "COMPACT_INCR", targetFiles, clusterBy = clusterBy,
        zOrderBy = zOrderBy) { cur =>
      lastClusterVersion(spark, path, mark) match {
        case None =>
          // no surviving base: one full clustered rewrite seeds it
          val v = compact(spark, path, targetFiles,
            clusterBy = clusterBy, zOrderBy = zOrderBy)
          Left(Compaction(v, readManifestEntries(spark, path, v).length, 0))
        case Some(base) =>
          val clustered = readManifest(spark, path, base).toSet
          val curFiles = readManifest(spark, path, cur)
          val newFiles = curFiles.filterNot(clustered.contains)
          val carriedN = curFiles.length - newFiles.length
          if (newFiles.isEmpty) Left(Compaction(-1L, 0, carriedN))
          else Right(Pick(Some(newFiles),
            carryTopMinus(spark, path, cur, newFiles.toSet),
            Compaction(_, newFiles.length, carriedN)))
      }
    }
  }

  /** OPTIMIZE-style SELECTIVE compaction: coalesce only the files
    * smaller than `minBytes` into `targetFiles` files; every
    * already-well-sized file carries into the new manifest BY
    * REFERENCE (with its stats untouched). This is the steady-state
    * maintenance shape for a merge-fed lake: each incremental commit
    * leaves a sliver batch, and periodic compaction should pay for
    * the SLIVERS, not rewrite the accumulated well-formed bulk —
    * at 100 TB, full [[compact]] is a table rewrite, `compactSmall`
    * is a rounding error. Deletion-vector entries on the coalesced
    * files are materialized by the rewrite; entries on carried files
    * carry. Sizes come from the manifest's own `#bytes` stats
    * (metadata arithmetic; a filesystem stat only for legacy entries
    * without one). */
  def compactSmall(spark: SparkSession, path: String, minBytes: Long,
      targetFiles: Int,
      partitionCol: Option[String] = None): Compaction =
    rewrite(spark, path, "COMPACT_SMALL", targetFiles, partitionCol) { cur =>
      val curEntries = readManifestEntries(spark, path, cur)
      val f = fs(spark, path)
      // size probe from the manifest's own `#bytes` stats — logged on
      // every commit — so a million-file probe is metadata arithmetic,
      // not a million FileStatus calls; legacy entries fall back
      val (smallE, bigE) = curEntries.partition { case (p, sj) =>
        sj.flatMap(bytesStatOf).getOrElse(
          f.getFileStatus(new Path(p)).getLen) < minBytes
      }
      if (smallE.length <= 1) Left(Compaction(-1L, 0, curEntries.length))
      else {
        val small = smallE.map(_._1)
        Right(Pick(Some(small), carryTopMinus(spark, path, cur, small.toSet),
          Compaction(_, smallE.length, bigE.length)))
      }
    }

  /** Receipt of a [[delete]] / [[deleteVectored]]: the committed
    * version, how many files were rewritten vs carried by reference,
    * and the matched row count. `version == -1` means the predicate
    * matched nothing and no new version was committed (a no-op
    * DELETE, like Delta's). A vectored delete always reports
    * `rewritten == 0`. */
  final case class Erasure(version: Long, rewritten: Int, carried: Int,
    deletedRows: Long)

  /** DELETE every row matching `pred` (copy-on-write), rewriting ONLY
    * the files that contain at least one matching LIVE row; all other
    * files carry into the new manifest BY REFERENCE, as do their
    * deletion-vector entries. This is the Delta `DELETE` shape and
    * the right-to-be-forgotten primitive: erasing one user from a
    * 100 TB table costs I/O proportional to that user's FILE FOOTPRINT
    * (find pass reads only the predicate's columns; rewrite pass reads
    * only the hit files), not to the table — and if ingest clustered
    * the table on the erasure key ([[compact]] with a key layout), the
    * footprint is a handful of files. Rows where `pred` evaluates NULL
    * are RETAINED (SQL DELETE erases only where the predicate IS
    * TRUE). For frequent small erasures prefer [[deleteVectored]]
    * (merge-on-read) and amortize the rewrite into [[compact]].
    *
    * Tables initialized/maintained with a `partitionCol` must pass the
    * same column here so the rewrite preserves the directory layout
    * (mixing partitioned and unpartitioned leaf directories under one
    * data root would break partition discovery).
    *
    * Concurrency: the same optimistic loop as [[merge]] — losing the
    * commit race re-resolves current and re-runs the find pass, so a
    * racing writer's committed rows are never clobbered. */
  def delete(spark: SparkSession, path: String, pred: Column,
      partitionCol: Option[String] = None): Erasure =
    occ(spark, path, "delete") { (cur, _) =>
      val curEntries = readManifestEntries(spark, path, cur)
      // find pass: which files hold matching LIVE rows? Column-pruned
      // scan (only the predicate's inputs are read); result
      // cardinality is bounded by the FILE count, so the collect is
      // manifest-scale.
      val liveMeta = readLive(spark, path, cur, None, keepMeta = true)
      val hitNames = liveMeta.filter(pred).select(col(fileCol)).distinct()
        .collect().map(_.getString(0)).toSet
      val (hitE, keepE) = curEntries.partition(e =>
        hitNames.contains(fileKey(e._1)))
      val hit = hitE.map(_._1)
      require(hit.length == hitNames.size,
        s"delete find-pass returned files outside the manifest: " +
          s"${hitNames.size} scanned vs ${hit.length} matched in $path")
      if (hit.isEmpty) Left(Erasure(-1L, 0, curEntries.length, 0L))
      else {
        val hitLive = readLive(spark, path, cur, Some(hit), keepMeta = false)
        val deletedRows = hitLive.filter(pred).count()
        // SQL DELETE removes rows where pred IS TRUE; under three-valued
        // logic `!pred` also drops NULL-evaluating rows, which must be
        // RETAINED — coalesce pins NULL to "not deleted"
        val survivors = hitLive.filter(!coalesce(pred, lit(false)))
        val schema = schemaOf(spark, path, cur)
        val (stagedDir, staged0, written) = stage(survivors, path, cur + 1,
          partitionCol, Some(schema))
        val staged = ensureManifestNonEmpty(survivors, path, stagedDir,
          staged0, keepE.nonEmpty, Some(schema))
        Right(Commit(sealTop(spark, path,
            carryTopMinus(spark, path, cur, hit.toSet),
            stagedEntries(spark, path, staged, written)), Some(schema),
          dvWithout(deletionVectorRows(spark, path, Some(cur)))(hitNames),
          "DELETE", Erasure(_, hit.length, keepE.length, deletedRows),
          Some(stagedDir)))
      }
    }

  /** DELETE every row matching `pred` as a MERGE-ON-READ deletion
    * vector: commit a new version whose file list is IDENTICAL to the
    * current one, plus a (file, row position) vector of the matched
    * live rows; [[read]] skips the vector's row positions, [[compact]]
    * materializes and drops it, [[merge]]/[[delete]] carry it for
    * files they don't rewrite. Write cost is ONE scan (the matched
    * rows' positions, collected) plus a direct vector write — zero
    * data-file rewrite — which is the right amortization for frequent
    * small erasures on a 100 TB table (Delta/Iceberg v2 deletion
    * vectors); read cost is a per-row position test until the next
    * compaction. Successive vectored deletes accumulate by UNION on
    * the driver.
    * Rows where `pred` evaluates NULL are retained, as in [[delete]].
    *
    * Concurrency: the same optimistic loop — the vector is computed
    * against the version it commits on top of. */
  def deleteVectored(spark: SparkSession, path: String,
      pred: Column): Erasure =
    occ(spark, path, "deleteVectored") { (cur, _) =>
      val curEntries = readManifestEntries(spark, path, cur)
      val live = readLive(spark, path, cur, None, keepMeta = true)
      // the ONE scan: the matched rows' (file, position) pairs, whose
      // number is the deleted count
      val hits = live.filter(pred).select(col(fileCol), col(posCol)).collect()
      val deletedRows = hits.length.toLong
      if (deletedRows == 0L) Left(Erasure(-1L, 0, curEntries.length, 0L))
      else Right(Commit(segmentedTop(spark, path, cur, Seq.empty),
        Some(schemaOf(spark, path, cur)),
        Some(dvUnion(deletionVectorRows(spark, path, Some(cur)), dvOf(hits))),
        "DELETE_VECTORED", Erasure(_, 0, curEntries.length, deletedRows)))
    }

  /** Resolve the newest version whose COMMIT TIME (the manifest's
    * filesystem mtime — set by the atomic publish rename, immutable
    * afterwards) is ≤ `tsMillis`, or None if the table didn't exist
    * yet. Timestamp-based time travel: "the table as the 03:00 job
    * saw it" without bookkeeping version numbers. */
  def versionAsOf(spark: SparkSession, path: String,
      tsMillis: Long): Option[Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return None
    val vs = f.listStatus(dir)
      .filter(s => s.getPath.getName.startsWith("v") &&
        s.getPath.getName.endsWith(".manifest"))
      .filter(_.getModificationTime <= tsMillis)
      .map(_.getPath.getName.stripPrefix("v").stripSuffix(".manifest").toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** [[read]] at [[versionAsOf]] `tsMillis`; fails loudly when the
    * table has no version that old. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAsOf(spark, path, tsMillis)
      .getOrElse(sys.error(
        s"no version of $path existed at t=$tsMillis"))))

  /** Receipt of [[changes]]: the row-level diff plus the file-pruning
    * arithmetic — how many files the diff OPENED vs the union of both
    * manifests. Carried files are never read: immutable files shared
    * by both versions contribute identical rows to both sides. */
  final case class ChangeFeed(df: DataFrame, filesOpened: Int,
    filesUnion: Int)

  /** Row-level change feed `fromV` → `toV` as a whole-row bag diff:
    * op='D' rows present at `fromV` but gone at `toV`, op='I' rows new
    * at `toV` — computed by reading ONLY the files the two manifests
    * DON'T share (plus deletion-vector deltas on carried files), so a
    * partition-scoped merge's feed costs the touched partitions, not
    * the table. This is incremental consumption for downstream
    * maintenance (the Delta CDF economics without change files): at
    * 100 TB a daily delta's consumers read the delta's footprint.
    *
    * A row that merely MOVED files unchanged (compaction) cancels in
    * the bag diff and does not appear. */
  /** (files added, bytes added) between two versions' manifests,
    * SEGMENT-AWARE: refs shared by both top levels name the same
    * immutable file set and cancel UNOPENED (the [[changes]] diff);
    * only non-shared segments expand (driver-cached). The streaming
    * source's admission control calls this per walked version — on an
    * appending table each step costs O(inline + delta), never
    * O(table files), and never touches `manifestCache` (whose
    * wholesale clear past 256 entries a full expansion per version
    * would thrash). Bytes come from the entries' recorded `#bytes`
    * stats; entries without one count 0 (best-effort, as before). */
  private[graft] def addedStats(spark: SparkSession, path: String,
      fromV: Long, toV: Long): (Long, Long) = {
    def topOf(v: Long) =
      if (v < 1)
        (Seq.empty[(String, Option[String])],
          Seq.empty[(String, Option[String])])
      else rawTop(spark, path, v).partition(isSegRef)
    val (refsO, inlO) = topOf(fromV)
    val (refsN, inlN) = topOf(toV)
    val shared = refsO.map(_._1).toSet intersect refsN.map(_._1).toSet
    def expand(refs: Seq[(String, Option[String])],
        inline: Seq[(String, Option[String])]) =
      (refs.filterNot(r => shared(r._1))
        .flatMap(r => readSegmentRows(spark, path, r._1)) ++ inline)
        // a file key listed both inline and inside a non-shared
        // segment (segment rewrites in flight) must count ONCE —
        // duplicates inflate streaming admission-control consumption
        .distinctBy(_._1)
    val oldSet = expand(refsO, inlO).map(_._1).toSet
    val added = expand(refsN, inlN).filterNot(e => oldSet(e._1))
    (added.size.toLong,
      added.map(e => entryBytes(e._2).getOrElse(0L)).sum)
  }

  def changes(spark: SparkSession, path: String, fromV: Long,
      toV: Long): ChangeFeed = {
    require(fromV <= toV, s"changes needs fromV <= toV, got $fromV > $toV")
    // SEGMENT-AWARE file diff: a ref shared by both versions' top
    // levels names the SAME immutable file set, so it cancels from
    // the diff unopened (a file never appears both inside a shared
    // segment and elsewhere in the same manifest — manifests list
    // each file once). A follower tailing an appending table pays
    // O(segments + delta) per step, not O(table files). The union
    // total stays EXACT through the row counts recorded on the refs;
    // a ref without one (none exist in practice) falls back to the
    // full cached expansion.
    val (refsO, inlO) = rawTop(spark, path, fromV).partition(isSegRef)
    val (refsN, inlN) = rawTop(spark, path, toV).partition(isSegRef)
    val sharedRefs = refsO.filter(r => refsN.exists(_._1 == r._1))
    val sharedSet = sharedRefs.map(_._1).toSet
    val sharedN = sharedRefs.map(r => segRowCount(r._2))
    def rem(refs: Seq[(String, Option[String])],
        inline: Seq[(String, Option[String])]): Seq[String] =
      (refs.filterNot(r => sharedSet(r._1))
        .flatMap(r => readSegmentRows(spark, path, r._1)) ++ inline)
        .map(_._1)
    val (oldE, newE, totalFiles) =
      if (sharedN.forall(_.isDefined)) {
        val ro = rem(refsO, inlO)
        val rn = rem(refsN, inlN)
        (ro, rn, sharedN.flatten.sum + (ro.toSet ++ rn.toSet).size)
      } else {
        val o = readManifestEntries(spark, path, fromV).map(_._1)
        val nn = readManifestEntries(spark, path, toV).map(_._1)
        (o, nn, (o.toSet ++ nn.toSet).size.toLong)
      }
    val oldSet = oldE.toSet
    val newSet = newE.toSet
    val removed = oldE.filterNot(newSet.contains)
    val added = newE.filterNot(oldSet.contains)
    // deletion-vector delta on CARRIED files: rows vectored away
    // between the two versions changed WITHOUT their file changing —
    // the delta names them (file, position) exactly, a set difference
    // of the two versions' driver rows, so they are read ONCE and
    // picked by the vector's row-index predicate; only genuinely
    // rewritten files need the whole-row bag diff below (a
    // vectored-delete-heavy feed costs one map-side pass, not two
    // full reads plus an exceptAll shuffle). The carried set here is
    // computed over the FULL (cached) expansions — a delta can name a
    // row inside a shared segment's file.
    val dvOld = deletionVectorRows(spark, path, Some(fromV))
    val dvDelta: Option[DvRows] =
      deletionVectorRows(spark, path, Some(toV)).map(_.flatMap { case (k, ps) =>
        val gone = dvOld.flatMap(_.get(k)).fold(ps)(o =>
          ps.filter(java.util.Arrays.binarySearch(o, _) < 0))
        if (gone.isEmpty) None else Some(k -> gone)
      }).filter(_.nonEmpty)
    val dvDeltaFiles: Seq[String] = dvDelta match {
      case None => Seq.empty
      case Some(delta) =>
        val fullOld = readManifestEntries(spark, path, fromV).map(_._1)
        val fullNewSet =
          readManifestEntries(spark, path, toV).map(_._1).toSet
        val carriedKeys = fullOld.filter(fullNewSet.contains)
          .map(fileKey).toSet
        delta.keys.toSeq.filter(carriedKeys.contains)
          .map(k => fullOld.find(f => fileKey(f) == k).get)
    }
    val openOld = removed
    val openNew = added
    def side(v: Long, subset: Seq[String]): DataFrame =
      readLive(spark, path, v, Some(subset), keepMeta = false)
    val o0 = side(fromV, openOld)
    val n = side(toV, openNew)
    // under additive schema evolution the newer side is a superset:
    // align the old side through it (absent columns read as NULL, the
    // same view a logged-schema read of the old files would give);
    // a RENAMED column is the same column — match by physical name
    def alignTo(df0: DataFrame): DataFrame =
      if (df0.columns.sameElements(n.columns)) df0
      else {
        val renamedTo = (tableSchema(spark, path, Some(fromV)),
            tableSchema(spark, path, Some(toV))) match {
          case (Some(fs), Some(ts)) => ts.fields.flatMap { tf =>
            fs.fields.find(ff => physicalOf(ff) == physicalOf(tf) &&
              ff.name != tf.name).map(ff => ff.name -> tf.name)
          }.toMap
          case _ => Map.empty[String, String]
        }
        val df1 = renamedTo.foldLeft(df0) { case (df, (from, to)) =>
          df.withColumnRenamed(from, to) }
        n.schema.fields.foldLeft(df1) { (df, fld) =>
          if (df.columns.contains(fld.name)) df
          else df.withColumn(fld.name, lit(null).cast(fld.dataType))
        }.select(n.columns.map(col): _*)
      }
    val o = alignTo(o0)
    // newly-vectored rows of carried files: live at fromV, named by
    // the delta — one read + row-index predicate, no bag diff
    val dvDels = (dvDelta, dvDeltaFiles) match {
      case (Some(delta), files) if files.nonEmpty =>
        Some(alignTo(
          readLive(spark, path, fromV, Some(files), keepMeta = true)
            .filter(coalesce(dvNames(delta), lit(false)))
            .drop(fileCol, posCol)))
      case _ => None
    }
    val dels0 = o.exceptAll(n)
    val dels = dvDels.fold(dels0)(dels0.unionByName(_))
      .withColumn("op", lit("D"))
    val ins = n.exceptAll(o).withColumn("op", lit("I"))
    ChangeFeed(dels.unionByName(ins),
      (openOld ++ openNew ++ dvDeltaFiles).distinct.length,
      totalFiles.toInt)
  }

  /** Receipt of a [[readRange]]: the live rows of the kept files, and
    * the prune arithmetic. The caller still applies its exact
    * predicate — stats pruning is a file-superset guarantee, never a
    * row filter. */
  final case class Pruned(df: DataFrame, filesRead: Int, filesTotal: Int)

  /** Read the snapshot OPENING ONLY the files whose [min, max] stats
    * interval for `column` overlaps [lo, hi] — the Delta/Iceberg
    * data-skipping scan. Files without stats (legacy commits,
    * unregistered or unsupported columns) are always kept, so the
    * result is a superset of the matching rows whatever the table's
    * history; apply the exact predicate on `df`. The prune decision is
    * [[candidateFiles]], the connector's own test: a driver pass over
    * the cached manifest entries the receipt's `filesTotal` already
    * loads, so deciding starts no Spark job. When the table was
    * clustered on `column` ([[compact]] or a range-layout [[init]]),
    * the files read shrink to the predicate's true footprint. */
  def readRange(spark: SparkSession, path: String, column: String,
      lo: Double, hi: Double, version: Option[Long] = None): Pruned = {
    val v = resolve(spark, path, version)
    val total = readManifestEntries(spark, path, v).length
    val kept = candidateFiles(spark, path, v, Seq((column, lo, hi))).map(_._1)
    Pruned(readLive(spark, path, v, Some(kept), keepMeta = false),
      kept.length, total)
  }

  /** Metadata-only aggregate over `column`: exact row COUNT and
    * min/max answered entirely FROM THE MANIFEST — zero data files
    * opened (the Iceberg metadata-tables economics: counting a 100 TB
    * table costs one driver pass over the cached manifest entries, no
    * Spark job). Requires every file to carry stats for the column
    * (commits since registration) and the version to be
    * deletion-vector-free — vectored rows would make
    * manifest counts and extrema stale, so this fails LOUDLY with a
    * compact-first hint rather than return bounds as answers. */
  final case class MetaStats(rows: Long, min: Double, max: Double,
    files: Int)

  def metadataStats(spark: SparkSession, path: String, column: String,
      version: Option[Long] = None): MetaStats = {
    val v = resolve(spark, path, version)
    require(deletionVectorRows(spark, path, Some(v)).isEmpty,
      s"metadataStats needs a deletion-vector-free version — compact " +
        s"$path first to materialize outstanding vectors")
    val (key, scale) = statsKeyOf(spark, path, v, column)
    val docs = readManifestEntries(spark, path, v).map(_._2)
      .map(sj => (sj, sj.flatMap(parseStatsDoc)))
    val rows = docs.map(_._2.flatMap(longMinMaxIn(_, "#rows")).map(_._1))
    val bounds = docs.map(_._2.flatMap(boundsIn(_, key, scale)))
    val noCount = rows.count(_.isEmpty)
    val noStats = docs.zip(bounds).count { case ((sj, _), b) =>
      sj.isDefined && b.isEmpty }
    require(noCount == 0 && noStats == 0,
      s"metadataStats needs stats on every file for '$column' " +
        s"(files without row counts: $noCount, without " +
        s"column stats: $noStats) — compact after registering")
    MetaStats(rows.flatten.sum, bounds.flatten.map(_._1).min,
      bounds.flatten.map(_._2).max, docs.length)
  }

  /** POINT-LOOKUP read: open only the files whose per-file BLOOM
    * sidecar for `column` might contain `value` (plus files without a
    * sidecar — superset guarantee). Min/max stats can't prune a
    * high-cardinality key that every file's range spans; a Bloom
    * probe prunes to ~the one file actually holding the key (no false
    * negatives, so never a lost row; false positives only cost extra
    * file opens). The probe hashes exactly as the sidecar build
    * (xxhash64 seed 42, Spark's own runtime-filter hashing). */
  def readPoint(spark: SparkSession, path: String, column: String,
      value: Column, version: Option[Long] = None): Pruned = {
    val v = resolve(spark, path, version)
    val entries = readManifestEntries(spark, path, v)
    val hash = spark.range(1).select(xxhash64(value)).head().getLong(0)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val kept = entries.filter { case (_, sj) =>
      sj match {
        case None => true
        case Some(js) =>
          (JsonMethods.parse(js) \
              s"#bloom:${statsKeyOf(spark, path, v, column)._1}" \ "b") match {
            case JString(b64) =>
              val bytes = java.util.Base64.getMimeDecoder.decode(b64)
              org.apache.spark.util.sketch.BloomFilter
                .readFrom(new java.io.ByteArrayInputStream(bytes))
                .mightContainLong(hash)
            case _ => true
          }
      }
    }.map(_._1)
    Pruned(readLive(spark, path, v, Some(kept), keepMeta = false),
      kept.length, entries.length)
  }

  /** Receipt of an [[updateVectored]]: committed version, carried file
    * count (always the WHOLE prior manifest — update rewrites
    * nothing), updated row count. `version == -1` = no row matched,
    * nothing committed. */
  final case class Updated(version: Long, carried: Int, updatedRows: Long)

  /** UPDATE every row matching `pred` as MERGE-ON-READ: the matched
    * live rows join the deletion vector (their files are NOT
    * rewritten) and their updated copies — `set` expressions applied
    * over the old row, every other column carried — are staged as a
    * new batch appended to the SAME manifest. Write cost is O(updated
    * rows); readers see old-row-out/new-row-in atomically at the
    * manifest swap; [[compact]] later folds the vector away. Rows
    * where `pred` evaluates NULL are untouched (SQL UPDATE semantics).
    * `set` values are cast back to each column's declared type so the
    * staged batch can never fork the physical schema. */
  def updateVectored(spark: SparkSession, path: String, pred: Column,
      set: Map[String, Column],
      partitionCol: Option[String] = None): Updated = {
    require(set.nonEmpty, "updateVectored needs at least one SET column")
    occ(spark, path, "updateVectored") { (cur, first) =>
      val curEntries = readManifestEntries(spark, path, cur)
      val live = readLive(spark, path, cur, None, keepMeta = true)
      val tableCols = live.columns.filterNot(c => c == fileCol || c == posCol)
      require(set.keySet.subsetOf(tableCols.toSet),
        s"SET columns outside the table schema: " +
          s"${set.keySet -- tableCols.toSet}")
      val hits = live.filter(pred)
      val newDv = hits.select(col(fileCol), col(posCol)).collect()
      val updatedRows = newDv.length.toLong
      if (updatedRows == 0L) Left(Updated(-1L, curEntries.length, 0L))
      else {
        val schemaMap = live.schema.map(f => f.name -> f.dataType).toMap
        val updated = hits.select(tableCols.map(c =>
          set.get(c).map(_.cast(schemaMap(c)).as(c)).getOrElse(col(c))): _*)
        if (first) enforceConstraints(spark, path, updated)
        val schema = schemaOf(spark, path, cur)
        val (stagedDir, staged, written) = stage(updated, path, cur + 1,
          partitionCol, Some(schema))
        Right(Commit(segmentedTop(spark, path, cur,
            stagedEntries(spark, path, staged, written)), Some(schema),
          Some(dvUnion(deletionVectorRows(spark, path, Some(cur)),
            dvOf(newDv))),
          "UPDATE_VECTORED", Updated(_, curEntries.length, updatedRows),
          Some(stagedDir)))
      }
    }
  }

  // ------------------------------------------------------------------
  // HIDDEN partitioning (Iceberg-style partition TRANSFORMS)
  // ------------------------------------------------------------------

  private val gpCol = "__gpart"

  private def transformPath(path: String) =
    new Path(manifestDir(path), "ptransform")

  /** The table's registered partition transform (an SQL expression
    * over its columns), or None for explicit/unpartitioned layouts. */
  def hiddenTransform(spark: SparkSession, path: String): Option[String] = {
    val f = fs(spark, path)
    val p = transformPath(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Initialize with HIDDEN partitioning: `transformExpr` is an SQL
    * expression over the table's own columns (e.g. `"c div 100"`,
    * `"pmod(k, 16)"`, `"to_date(ts)"`), registered as a TABLE
    * property — the Iceberg insight that Hive-style layouts miss:
    * writers and readers should never have to repeat (or even know)
    * the layout. [[mergeHidden]] derives the partition value for each
    * source row and scopes the rewrite automatically; [[readHidden]]
    * hides the derived column. The derived value is materialized as a
    * real (suffixed) column, so deletion vectors, stats, CDC and
    * time travel all work unchanged on transformed tables. */
  def initHidden(df: DataFrame, path: String, transformExpr: String,
      statsCols: Seq[String] = Seq.empty): Long = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    val out = f.create(transformPath(path), true)
    try out.write(transformExpr.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    init(df.withColumn(gpCol, expr(transformExpr)), path,
      partitionCol = Some(gpCol), statsCols = statsCols)
  }

  /** CREATE an EMPTY table — the SQL-DDL primitive behind
    * `CREATE TABLE` / CTAS through [[graft.sources.LakeCatalog]].
    *
    * `partitionExpr` registers the table's layout as a transform
    * property either way (so every later SQL `INSERT` routes through
    * [[appendAuto]] without restating it): a bare column name is an
    * IDENTITY layout (files land under real `col=value` directories,
    * partition pruning sees the user's column); any other expression
    * is Iceberg-style hidden partitioning (the derived [[gpCol]] is
    * appended to the LOGGED schema and materialized per batch; SQL
    * surfaces hide it again). Version 1 is a single schema-only
    * parquet file — the manifest's sole, unpartitioned entry, which
    * [[merge]] always rewrites rather than carries, so the layout
    * stays consistent from the first real batch on. */
  def create(spark: SparkSession, path: String, schema: StructType,
      partitionExpr: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    require(currentVersion(spark, path).isEmpty,
      s"table already initialized: $path")
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    partitionExpr match {
      case None =>
        init(empty, path, None, statsCols, bloomCols, opName = "CREATE")
      case Some(e) =>
        val f = fs(spark, path)
        f.mkdirs(manifestDir(path))
        val out = f.create(transformPath(path), true)
        try out.write(e.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (schema.fieldNames.contains(e))
          init(empty, path, Some(e), statsCols, bloomCols,
            opName = "CREATE")
        else
          init(empty.withColumn(gpCol, expr(e)), path, Some(gpCol),
            statsCols, bloomCols, opName = "CREATE")
    }
  }

  /** DROP the table: remove its data, manifest and history from the
    * filesystem. Returns false when there was no table at `path`. */
  def dropTable(spark: SparkSession, path: String): Boolean = {
    if (currentVersion(spark, path).isEmpty) false
    else {
      // zero-copy publish contract: a branch the source still READS
      // THROUGH refuses to die — dropping it would corrupt the
      // source's published version(s). Clears once the source
      // localizes (compact) and vacuums the referencing versions, or
      // is itself dropped.
      publishedInfo(spark, path).foreach { case (src, pv) =>
        val refs = foreignRefsInto(spark, src, path)
        if (refs.nonEmpty) throw new IllegalStateException(
          s"cannot drop published branch $path: source $src still " +
            s"references ${refs.size} of its files (published as " +
            s"v$pv). Localize first (publish(localize) or compact + " +
            "vacuum on the source), then drop.")
      }
      // branch hygiene: reclaim the source-side named ref
      branchBase(spark, path).foreach { case (src, _) =>
        if (currentVersion(spark, src).isDefined) {
          val name = new Path(path).getName
          if (branchTarget(spark, src, name).contains(path))
            fs(spark, src).delete(branchRefPath(src, name), false)
        }
      }
      val ok = fs(spark, path).delete(new Path(path), true)
      // the caches are JVM-lifetime keyed (path, version): without
      // this, DROP followed by CREATE at the same path would serve the
      // OLD table's schema and manifests
      invalidate(path)
      ok
    }
  }

  /** RENAME (move) the table directory. Data, deletion vectors,
    * schema log and history travel with the move (DV and stats
    * entries key on RELATIVE file keys), but manifests reference
    * data files by ABSOLUTE path — so after the one-filesystem-op
    * move, every surviving version's manifest gets its `<src>/data/`
    * prefix rewritten to `<dst>/data/` (entries under OTHER roots —
    * clone sources — are left untouched: those files did not move).
    * O(versions) driver metadata work, zero data I/O.
    *
    * Crash safety: the in-flight rewrite is JOURNALED (`_rename_from`
    * under the destination's manifest dir, written right after the
    * directory move) and each per-version manifest swap is two atomic
    * renames (old aside, then rewritten in) instead of
    * delete-then-rename — so a crash mid-rename never loses a
    * manifest, and re-running the SAME `renameTable(src, dst)` after
    * a crash resumes and completes the rewrite (the per-version swap
    * is idempotent; versions already rewritten compare equal and are
    * skipped). */
  def renameTable(spark: SparkSession, src: String, dst: String): Unit = {
    val f = fs(spark, src)
    // normalize scheme-qualified entry prefixes by suffix match: an
    // entry `file:/a/t/data/gbatch=…` moves when its root core ends
    // with the src path's core
    def core(p: String): String = {
      val u = new java.net.URI(p)
      Option(u.getPath).filter(_.nonEmpty).getOrElse(p)
    }
    val (srcCore, dstCore) = (core(src), core(dst))
    val journal = new Path(manifestDir(dst), "_rename_from")
    currentVersion(spark, src) match {
      case Some(_) =>
        require(currentVersion(spark, dst).isEmpty,
          s"rename target already exists: $dst")
        val dstPath = new Path(dst)
        Option(dstPath.getParent).foreach(f.mkdirs)
        require(f.rename(new Path(src), dstPath),
          s"filesystem refused rename $src -> $dst")
        val out = f.create(journal, true)
        try out.write(srcCore.getBytes(StandardCharsets.UTF_8))
        finally out.close()
      case None =>
        // src gone: resume ONLY a journaled in-flight rename of this
        // exact src — anything else is a caller error
        val resumable = currentVersion(spark, dst).isDefined &&
          f.exists(journal) && {
            val in = f.open(journal)
            val from = try scala.io.Source
              .fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
            from == srcCore
          }
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
      if (rewritten == rows) ref
      else {
        f.mkdirs(segsDir(dst))
        val name =
          s"seg-${java.util.UUID.randomUUID().toString.take(13)}.parquet"
        writeManifestDirect(spark, new Path(segsDir(dst), name), rewritten)
        val newRef = s"${segRefPrefix}segs/$name"
        segmentCache.put((dst, newRef), rewritten.toList)
        newRef
      }
    })
    (1L to cur).foreach { v =>
      val dir = manifestPath(dst, v)
      val old = new Path(dir.getParent, s".rename-$v-old")
      val tmp = new Path(dir.getParent, s".rename-$v-tmp")
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
    f.delete(journal, true)
    invalidate(dst)
  }

  /** The hidden derived-partition column's name — SQL surfaces
    * (catalog schemas) hide it; the engine materializes it. */
  private[graft] val hiddenPartColName: String = gpCol

  /** Resolve a write batch's partition layout from the table's
    * registered transform: an IDENTITY transform (the expression is
    * exactly one of the batch's columns) partitions by that column
    * directly — no derived column, and partition-directory pruning
    * sees the real name; any other expression derives [[gpCol]]
    * in-plan, the Iceberg hidden-partitioning mechanic. */
  private def withLayout(source: DataFrame,
      path: String): (DataFrame, Option[String]) =
    hiddenTransform(source.sparkSession, path) match {
      case None => (source, None)
      case Some(t) if source.columns.contains(t) => (source, Some(t))
      case Some(t) => (source.withColumn(gpCol, expr(t)), Some(gpCol))
    }

  /** APPEND with the table's registered partition layout applied
    * automatically (identity column, hidden transform, or none) —
    * what SQL `INSERT INTO` routes through: the writer states WHAT
    * to append, the table owns HOW it is laid out. */
  def appendAuto(source: DataFrame, path: String): Long = {
    val (src, pc) = withLayout(source, path)
    append(src, path, partitionCol = pc)
  }

  /** MERGE into a hidden-partitioned table: the layout is resolved
    * from the table property and the source batch's partition values
    * derive IN-PLAN — callers state WHAT to merge, never HOW the
    * table is laid out. Untouched partitions carry by reference
    * exactly as with an explicit partition column. */
  def mergeHidden(source: DataFrame, path: String, keys: Seq[String],
      deleteCol: Option[String] = None): Long = {
    val spark = source.sparkSession
    require(hiddenTransform(spark, path).isDefined,
      s"no hidden partition transform registered at $path — " +
        "use merge() for explicit layouts")
    val (src, pc) = withLayout(source, path)
    merge(src, path, keys, partitionCol = pc, deleteCol = deleteCol)
  }

  /** Read a hidden-partitioned snapshot with the derived partition
    * column hidden again. */
  def readHidden(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    read(spark, path, version).drop(gpCol)

  /** RESTORE the table to the content of `toVersion` as a NEW commit
    * (Delta `RESTORE TABLE … TO VERSION AS OF`): history only moves
    * forward — the commits being undone stay inspectable and
    * time-travelable until [[vacuum]] — and the restored version
    * carries `toVersion`'s manifest entries (files + stats BY
    * REFERENCE, zero data movement), logged schema, and deletion
    * vector. The commit copies `toVersion`'s top-level manifest rows
    * (segment refs unopened), so restoring a million-file table is a
    * metadata-speed operation. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val f = fs(spark, path)
    require(f.exists(manifestPath(path, toVersion)),
      s"cannot restore $path to v$toVersion: no such version " +
        "(never committed, or vacuumed away)")
    // constraints added AFTER toVersion was written may not hold on
    // its rows; a restore must not smuggle violations past the write
    // gate (one filter + limit(1) scan per constraint — restore is a
    // maintenance-time statement)
    enforceConstraints(spark, path, read(spark, path, Some(toVersion)))
    occ(spark, path, "restore") { (_, _) =>
      carryForward(spark, path, toVersion,
        tableSchema(spark, path, Some(toVersion)), s"RESTORE(v$toVersion)")
    }
  }

  // case-insensitive: Spark resolves identifiers case-insensitively
  // by default, so "P > 0" binds to column p and must block p's rename
  private def mentionsIdent(e: String, c: String): Boolean =
    ("(?i)(^|[^A-Za-z0-9_])" + java.util.regex.Pattern.quote(c) +
      "($|[^A-Za-z0-9_])").r.findFirstIn(e).isDefined

  /** RENAME COLUMN without touching a single data file (Delta column
    * mapping): the new logged schema carries the field under its new
    * LOGICAL name with its on-disk PHYSICAL name pinned in field
    * metadata; every read translates physical→logical at the scan,
    * every write stages under physical names, partition directories
    * and manifest stats already live in physical space (stats keys
    * are rename-invariant). The commit copies the top-level manifest
    * rows forward verbatim — a million-file rename is metadata-speed
    * — and time travel before the rename still reads the old name
    * through the old version's logged schema. Renames are blocked
    * while a CHECK constraint, generated-column expression, or hidden
    * partition transform references the column (rename or drop those
    * first — the Delta rule). */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
      newName: String): Long = {
    require(newName.nonEmpty && !newName.exists(c =>
        c == '\t' || c == '\n' || c == '/' || c == '`' || c == '.'),
      s"bad column name: '$newName'")
    constraints(spark, path).foreach { case (n, p) =>
      require(!mentionsIdent(p, oldName),
        s"rename blocked: CHECK constraint '$n' references '$oldName'")
    }
    generatedColumns(spark, path).foreach { case (gc, ge) =>
      require(gc != oldName && !mentionsIdent(ge, oldName),
        s"rename blocked: generated column '$gc' references '$oldName'")
    }
    hiddenTransform(spark, path).foreach { t =>
      require(!mentionsIdent(t, oldName),
        s"rename blocked: hidden partition transform references " +
          s"'$oldName'")
    }
    occ(spark, path, "renameColumn") { (cur, _) =>
      val schema = tableSchema(spark, path, Some(cur)).getOrElse(
        sys.error(s"renameColumn needs a logged schema: $path"))
      require(schema.fieldNames.contains(oldName),
        s"no such column on $path: '$oldName'")
      // case-INSENSITIVE: Spark's default resolution treats k and K
      // as duplicates, which would make every later read fail
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column already exists on $path: '$newName'")
      val newSchema = StructType(schema.fields.map { f =>
        if (f.name != oldName) f
        else f.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(physicalKey, physicalOf(f)).build())
      })
      carryForward(spark, path, cur, Some(newSchema),
        s"RENAME_COLUMN($oldName->$newName)")
    }
  }

  /** Physical names of DROPPED columns: their bytes remain inside
    * carried files, so a later evolve-append under the same name must
    * get a FRESH physical name or old files would resurface the dead
    * column's data. ONE MARKER FILE PER NAME (`retired.d/<name>`) —
    * creation is atomic and independent, so concurrent drops can
    * never lose each other's entries the way a read-modify-write of
    * a single list file could. */
  private def retiredDir(path: String) =
    new Path(manifestDir(path), "retired.d")

  private def retiredPhysicals(spark: SparkSession,
      path: String): Set[String] = {
    val f = fs(spark, path)
    val d = retiredDir(path)
    if (!f.exists(d)) Set.empty
    else f.listStatus(d).map(_.getPath.getName).toSet
  }

  private def addRetired(spark: SparkSession, path: String,
      name: String): Unit = {
    val f = fs(spark, path)
    f.mkdirs(retiredDir(path))
    try f.create(new Path(retiredDir(path), name), false).close()
    catch { case _: java.io.IOException => () } // already retired
  }

  /** DROP COLUMN as a metadata-only commit (column mapping): the
    * field leaves the logged schema — every read stops projecting it
    * instantly, across a million files, without touching one — and
    * its PHYSICAL name is recorded as retired so a future
    * evolve-append under the same name maps to a fresh physical
    * name instead of resurrecting the dead bytes. Time travel before
    * the drop still reads the column. Blocked while a CHECK
    * constraint, generated column, or hidden transform references
    * it (drop those first). */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    constraints(spark, path).foreach { case (n, p) =>
      require(!mentionsIdent(p, name),
        s"drop blocked: CHECK constraint '$n' references '$name'")
    }
    generatedColumns(spark, path).foreach { case (gc, ge) =>
      require(gc != name && !mentionsIdent(ge, name),
        s"drop blocked: generated column '$gc' references '$name'")
    }
    hiddenTransform(spark, path).foreach { t =>
      require(!mentionsIdent(t, name),
        s"drop blocked: hidden partition transform references '$name'")
    }
    occ(spark, path, "dropColumn") { (cur, _) =>
      val schema = tableSchema(spark, path, Some(cur)).getOrElse(
        sys.error(s"dropColumn needs a logged schema: $path"))
      require(schema.fieldNames.contains(name),
        s"no such column on $path: '$name'")
      require(schema.fields.length > 1,
        s"cannot drop the last column of $path")
      val dropped = schema.fields.find(_.name == name).get
      // the PARTITION column lives in directory names: Spark's
      // partition inference would re-surface it on every read with an
      // inferred type, contradicting the logged schema — block it
      require(!readManifest(spark, path, cur).exists(
          _.contains(s"/${physicalOf(dropped)}=")),
        s"cannot drop partition column '$name' of $path — compact to " +
          "a non-partitioned layout first")
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      // retire BEFORE the commit: a crash between the two must err
      // toward a fresh physical name (harmless), never toward
      // resurrecting dead bytes
      addRetired(spark, path, physicalOf(dropped))
      carryForward(spark, path, cur, Some(newSchema), s"DROP_COLUMN($name)")
    }
  }

  /** ADD COLUMN as a metadata-only commit: the field joins the logged
    * schema (typed, nullable); every carried file immediately reads
    * vectorized NULL for it, and writes from then on carry it (a
    * strict [[merge]] source must supply it, `evolveSchema` sources
    * may). If the name shadows a live or retired PHYSICAL name the
    * new field maps to a fresh physical name, so old bytes stay
    * dead. */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: DataType): Long = {
    require(name.nonEmpty && !name.exists(c =>
        c == '\t' || c == '\n' || c == '/' || c == '`' || c == '.'),
      s"bad column name: '$name'")
    occ(spark, path, "addColumn") { (cur, _) =>
      val schema = tableSchema(spark, path, Some(cur)).getOrElse(
        sys.error(s"addColumn needs a logged schema: $path"))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column already exists on $path: '$name'")
      val taken =
        schema.fields.map(physicalOf).toSet ++ retiredPhysicals(spark, path)
      val fld = freshPhysical(
        StructField(name, dataType, nullable = true), taken)
      carryForward(spark, path, cur, Some(StructType(schema.fields :+ fld)),
        s"ADD_COLUMN($name)")
    }
  }

  /** The widening promotions the vectorized parquet reader performs
    * at scan time (the public Spark 4 type-widening surface Delta's
    * feature rides on): integral up-casts, float→double, and decimal
    * precision growth at the same scale. Everything else — narrowing,
    * cross-family, scale changes — is refused. */
  private def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Widening guard shared by ALTER COLUMN TYPE and append/merge's
    * automatic widening. Widening is metadata-only, so anything that
    * DERIVED values from the narrow type keeps serving stale
    * derivations against post-widen writes: bloom sidecars hash the
    * narrow type through xxhash64 (type-sensitive — a widened probe
    * false-negatives against pre-alter files); a hash-based hidden
    * partition transform or generated column (e.g. xxhash64(col))
    * computes DIFFERENT values for equal logical values, so
    * post-alter rows route to different hidden partitions than
    * pre-alter rows and supplied generated values stop matching
    * their expression; CHECK constraint predicates were vetted
    * against the narrow domain. Same reasoning renameColumn already
    * applies — mirror its guards. Rebuild path: drop/recompute the
    * dependent object first, then widen. */
  private def requireWidenSafe(spark: SparkSession, path: String,
      name: String, via: String): Unit = {
    require(!bloomColumns(spark, path).contains(name),
      s"cannot widen bloom-registered column '$name' of $path$via — " +
        "the per-file bloom sidecars hash the narrow type; compact " +
        "(or re-register) first")
    constraints(spark, path).foreach { case (n, p) =>
      require(!mentionsIdent(p, name),
        s"widen blocked$via: CHECK constraint '$n' references '$name' " +
          s"on $path — drop the constraint, widen, re-add")
    }
    generatedColumns(spark, path).foreach { case (gc, ge) =>
      require(gc != name && !mentionsIdent(ge, name),
        s"widen blocked$via: generated column '$gc' references " +
          s"'$name' on $path — its expression may be type-sensitive " +
          "(e.g. a hash); drop and recompute it first")
    }
    hiddenTransform(spark, path).foreach { t =>
      require(!mentionsIdent(t, name),
        s"widen blocked$via: hidden partition transform references " +
          s"'$name' on $path — hash transforms route equal values to " +
          "different partitions across the type change; rebuild first")
    }
  }

  /** ALTER COLUMN … TYPE as a METADATA-ONLY commit (Delta type
    * widening): the logged schema carries the WIDER type from this
    * version on; carried files keep their narrow physical encoding
    * and the parquet reader widens them at the scan — zero data files
    * are read or written, at any table size. Time travel before the
    * alter still reads the narrow type through that version's logged
    * schema. Only lossless widenings are accepted ([[widens]]).
    * Range-skipping stats stay valid: pruning compares numerically
    * across the int/double stat encodings, and files written after
    * the alter log stats in the wide type. BLOOM-registered columns
    * are refused — the per-file sidecars hash the column through
    * `xxhash64`, whose value is TYPE-sensitive, so a widened probe
    * would silently false-negative against pre-alter files (rebuild
    * path: deregister or compact, then widen). */
  def alterColumnType(spark: SparkSession, path: String, name: String,
      newType: DataType): Long = {
    requireWidenSafe(spark, path, name, via = "")
    require(!identityColumns(spark, path).exists(_._1 == name),
      s"cannot retype identity column '$name' of $path")
    occ(spark, path, "alterColumnType") { (cur, _) =>
      val schema = tableSchema(spark, path, Some(cur)).getOrElse(
        sys.error(s"alterColumnType needs a logged schema: $path"))
      val fld = schema.fields.find(_.name == name).getOrElse(
        sys.error(s"no such column on $path: '$name'"))
      require(fld.dataType == newType || widens(fld.dataType, newType),
        s"refusing lossy/unsupported retype of '$name' on $path: " +
          s"${fld.dataType.simpleString} -> ${newType.simpleString} " +
          "(supported: integral widening, float->double, decimal " +
          "precision growth at the same scale)")
      if (fld.dataType == newType) Left(cur) // idempotent
      else carryForward(spark, path, cur,
        Some(StructType(schema.fields.map { f =>
          if (f.name != name) f else f.copy(dataType = newType) })),
        s"ALTER_COLUMN_TYPE($name " +
          s"${fld.dataType.simpleString}->${newType.simpleString})")
    }
  }

  /** True when ANY retained version's schema carries column-mapping
    * metadata, or any physical name is retired (dropped column) —
    * i.e. when the files' physical column names cannot be taken at
    * face value. Interop surfaces that export raw file references
    * (no schema actions) must refuse such tables. */
  def hasColumnMapping(spark: SparkSession, path: String): Boolean = {
    if (retiredPhysicals(spark, path).nonEmpty) return true
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return false
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .exists(v => tableSchema(spark, path, Some(v)).exists(hasMapping))
  }

  /** One retained commit of [[history]]. */
  final case class CommitInfo(version: Long, operation: String,
    nFiles: Long)

  /** DESCRIBE HISTORY: one row per retained version, oldest first.
    * The operation label is recorded by the commit winner at commit
    * time (`v<N>.op` beside the manifest; pre-logging versions read
    * "UNKNOWN"); the file count is the manifest's entry count.
    * Introspection/maintenance surface: driver cost is O(versions)
    * small metadata reads against the per-JVM manifest cache. */
  def history(spark: SparkSession, path: String): Seq[CommitInfo] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return Seq.empty
    val vs = f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }.sorted
    vs.toSeq.map { v =>
      val opF = opPath(path, v)
      val op =
        if (f.exists(opF)) {
          val in = f.open(opF)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } else "UNKNOWN"
      CommitInfo(v, op, readManifestEntries(spark, path, v).length.toLong)
    }
  }

  // ------------------------------------------------------------------
  // CHECK constraints (table-level invariants enforced on write)
  // ------------------------------------------------------------------

  private def constraintsPath(path: String) =
    new Path(manifestDir(path), "constraints")

  /** The table's CHECK constraints as (name, SQL predicate), in the
    * order they were added. */
  def constraints(spark: SparkSession, path: String): Seq[(String, String)] = {
    val f = fs(spark, path)
    val p = constraintsPath(path)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed constraints file for $path: '$line'")
        (line.substring(0, i), line.substring(i + 1))
      }.toSeq
    }
  }

  private def writeConstraints(spark: SparkSession, path: String,
      cs: Seq[(String, String)]): Unit = {
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    if (cs.isEmpty) { f.delete(constraintsPath(path), false); return }
    atomicWrite(f, constraintsPath(path),
      cs.map { case (n, p) => s"$n\t$p" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Add a CHECK constraint: from now on every write (MERGE / MERGE
    * INTO / vectored UPDATE) rejects a batch containing a row where
    * `predicate` evaluates to FALSE (SQL CHECK semantics: NULL
    * passes). Adding the constraint first validates the CURRENT
    * snapshot — one filter + limit(1) scan, exactly Delta's `ADD
    * CONSTRAINT` behavior — so a green constraint is a table-wide
    * invariant, not a forward-only hope. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      predicate: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"bad constraint name: '$name'")
    require(!predicate.exists(c => c == '\t' || c == '\n'),
      "constraint predicate must be single-line (no tab/newline)")
    val existing = constraints(spark, path)
    require(!existing.exists(_._1 == name),
      s"constraint '$name' already exists on $path")
    val bad = read(spark, path).filter(expr(predicate) <=> lit(false))
      .limit(1).count()
    require(bad == 0L,
      s"cannot add CHECK constraint '$name': existing rows violate " +
        s"($predicate)")
    writeConstraints(spark, path, existing :+ (name -> predicate))
  }

  /** Drop a CHECK constraint by name (no-op if absent). */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Unit =
    writeConstraints(spark, path,
      constraints(spark, path).filterNot(_._1 == name))

  // ------------------------------------------------------------------
  // generated columns (GENERATED ALWAYS AS, computed/validated on write)
  // ------------------------------------------------------------------

  private def genColsPath(path: String) =
    new Path(manifestDir(path), "gencols")

  // ------------------------------------------------------------------
  // Identity columns (GENERATED BY DEFAULT AS IDENTITY)
  // ------------------------------------------------------------------

  private def identityPath(path: String) =
    new Path(manifestDir(path), "identity")

  private def idhwPath(path: String, v: Long) =
    new Path(manifestDir(path), s"v$v.idhw")

  /** The table's identity columns as (column, start, step). */
  def identityColumns(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val f = fs(spark, path)
    val p = identityPath(path)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val parts = line.split('\t')
        require(parts.length == 3,
          s"malformed identity file for $path: '$line'")
        (parts(0), parts(1).toLong, parts(2).toLong)
      }.toSeq
    }
  }

  /** Declare `column` GENERATED BY DEFAULT AS IDENTITY (START WITH
    * `start` STEP `step`): a merge source may OMIT the column — the
    * engine allocates monotone values past the table's high-water
    * mark for INSERTED rows and PRESERVES the existing value for
    * updated keys — or supply its own (the BY DEFAULT contract), in
    * which case the high-water mark advances past the supplied
    * maximum so later allocations can never collide. The high-water
    * rides the commit log (`v<N>.idhw`), so it travels with clones
    * and time travel never re-reads data to find it; allocation is
    * ordered by the merge keys within the batch, which makes the
    * assigned values deterministic (replayable by a rank in SQL).
    * Identity-bearing merges opt OUT of the OCC rebase fast path —
    * two racing allocators could otherwise both extend from the same
    * high-water — so the commit retry recomputes the allocation
    * against the winner, exactly the Delta semantics. Like Delta,
    * gaps are allowed (delete-flagged rows consume values). */
  def addIdentityColumn(spark: SparkSession, path: String,
      column: String, start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0L, "identity step must be non-zero")
    val cur = resolve(spark, path, None)
    val schema = schemaOf(spark, path, cur)
    val fld = schema.fields.find(_.name == column)
    require(fld.isDefined,
      s"identity column must exist in the table schema: '$column'")
    require(fld.get.dataType ==
      org.apache.spark.sql.types.LongType,
      s"identity column must be BIGINT: '$column' is ${fld.get.dataType}")
    val existing = identityColumns(spark, path)
    require(!existing.exists(_._1 == column),
      s"column '$column' is already an identity on $path")
    require(!generatedColumns(spark, path).exists(_._1 == column),
      s"column '$column' is already generated on $path")
    // high-water = the existing extremum IN STEP DIRECTION floored at
    // start - step, so the next allocation is hw + step (exactly
    // `start` on an empty table) and can never collide with a value
    // already present
    val agg0 = if (step > 0) max(col(column)) else min(col(column))
    val mx = read(spark, path, Some(cur)).agg(agg0).head()
    val hw =
      if (mx.isNullAt(0)) start - step
      else if (step > 0) math.max(mx.getLong(0), start - step)
      else math.min(mx.getLong(0), start - step)
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    atomicWrite(f, idhwPath(path, cur),
      s"$column\t$hw\n".getBytes(StandardCharsets.UTF_8))
    atomicWrite(f, identityPath(path),
      (existing :+ ((column, start, step)))
        .map { case (c, s0, st) => s"$c\t$s0\t$st" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Drop an identity declaration (the column stays, as a plain
    * column; no-op if absent). */
  def dropIdentityColumn(spark: SparkSession, path: String,
      column: String): Unit = {
    val rest = identityColumns(spark, path).filterNot(_._1 == column)
    val f = fs(spark, path)
    if (rest.isEmpty) f.delete(identityPath(path), false)
    else atomicWrite(f, identityPath(path),
      rest.map { case (c, s0, st) => s"$c\t$s0\t$st" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** `df` with `idCol` = hw + step·rank, where rank is the 1..n dense
    * ranking of the batch ordered by `order` — computed WITHOUT a
    * single-task global sort: range-partition on the order columns,
    * rank locally, add per-partition offsets (one bounded count per
    * partition collected on the driver). Equal keys land in one range
    * partition, so the ranking is the global sort rank and the
    * assigned multiset is deterministic; a 100 M-row identity load
    * allocates at full parallelism. Returns (df + idCol, row count). */
  private def withAllocatedIds(df: DataFrame, order: Seq[String],
      idCol: String, hw: Long, step: Long): (DataFrame, Long) = {
    val spark = df.sparkSession
    val np = math.max(1, spark.sparkContext.defaultParallelism)
    val pid = "__graft_pid"
    val lrn = "__graft_lrn"
    val off = "__graft_off"
    // PINNED ranking: repartitionByRange samples its boundaries, so a
    // recompute between the counts action below and the final write
    // could re-draw them and misalign the offsets — localCheckpoint
    // materializes one fixed partitioning for both. The tradeoff is
    // deliberate: checkpointed partitions are not recomputable, so an
    // executor loss mid-allocation FAILS the write loudly (the commit
    // retries), where a persist() cache-miss recompute would re-draw
    // boundaries and assign silently colliding ids
    val local = df.repartitionByRange(np, order.map(col): _*)
      .withColumn(pid, spark_partition_id())
      .withColumn(lrn, row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(pid))
          .orderBy(order.map(col): _*)).cast("long"))
      .localCheckpoint(true)
    val counts = local.groupBy(pid).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    var acc = 0L
    val offs = counts.map { case (p, c) =>
      val o = (p, acc); acc += c; o }.toSeq
    val offDf = spark.createDataset(offs)(
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .toDF(pid, off)
    val out = local.join(broadcast(offDf), Seq(pid))
      .withColumn(idCol, lit(hw) + lit(step) * (col(off) + col(lrn)))
      .drop(pid, lrn, off)
    (out, n)
  }

  /** The high-water mark of `column` as of version `v`: the newest
    * `v<i>.idhw` entry at or before `v` — O(versions since the last
    * identity write) small-file reads, never a data scan. */
  private def identityHighWater(spark: SparkSession, path: String,
      v: Long, column: String): Long = {
    val f = fs(spark, path)
    var i = v
    while (i >= 1) {
      val p = idhwPath(path, i)
      if (f.exists(p)) {
        val in = f.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
          val j = line.indexOf('\t')
          if (line.substring(0, j) == column)
            return line.substring(j + 1).toLong
        }
      }
      i -= 1
    }
    sys.error(s"no identity high-water for '$column' on $path at v$v")
  }

  /** The table's generated columns as (column, SQL expression), in
    * registration order. */
  def generatedColumns(spark: SparkSession,
      path: String): Seq[(String, String)] = {
    val f = fs(spark, path)
    val p = genColsPath(path)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed gencols file for $path: '$line'")
        (line.substring(0, i), line.substring(i + 1))
      }.toSeq
    }
  }

  private def writeGeneratedColumns(spark: SparkSession, path: String,
      gs: Seq[(String, String)]): Unit = {
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    if (gs.isEmpty) { f.delete(genColsPath(path), false); return }
    atomicWrite(f, genColsPath(path),
      gs.map { case (c, e) => s"$c\t$e" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Declare `column` GENERATED ALWAYS AS `expression` (Delta's
    * generated-column contract): a merge source may OMIT the column —
    * the engine computes it in-plan — and a source that supplies it
    * must supply exactly the generated value (null-safe equality) or
    * the commit is rejected. Registration validates the CURRENT
    * snapshot once, so the identity is table-wide from day one. The
    * point at scale is layout safety: `day = to_date(ts)` computed by
    * the ENGINE means no writer can mis-derive the partition/cluster
    * key, which is what makes partition-scoped merge economics safe
    * to rely on. */
  def addGeneratedColumn(spark: SparkSession, path: String,
      column: String, expression: String): Unit = {
    require(!expression.exists(c => c == '\t' || c == '\n'),
      "generated-column expression must be single-line (no tab/newline)")
    val cur = read(spark, path)
    require(cur.columns.contains(column),
      s"generated column must exist in the table schema: '$column'")
    val existing = generatedColumns(spark, path)
    require(!existing.exists(_._1 == column),
      s"column '$column' is already generated on $path")
    val bad = cur.filter(!(col(column) <=> expr(expression)))
      .limit(1).count()
    require(bad == 0L,
      s"cannot declare '$column' generated as ($expression): existing " +
        "rows disagree")
    writeGeneratedColumns(spark, path, existing :+ (column -> expression))
  }

  /** Drop a generated-column declaration (the column stays, as a
    * plain column). */
  def dropGeneratedColumn(spark: SparkSession, path: String,
      column: String): Unit =
    writeGeneratedColumns(spark, path,
      generatedColumns(spark, path).filterNot(_._1 == column))

  /** Compute OMITTED generated columns over a merge source in-plan
    * (supplied ones are left as-is; [[validateGeneratedColumns]]
    * vetoes those separately so delete-flagged key-only rows aren't
    * falsely compared). */
  private def computeGeneratedColumns(spark: SparkSession, path: String,
      batch: DataFrame): DataFrame =
    generatedColumns(spark, path).foldLeft(batch) { case (df, (c, e)) =>
      if (df.columns.contains(c)) df else df.withColumn(c, expr(e))
    }

  /** Reject supplied generated-column values that disagree with their
    * expression — one filter + limit(1) probe per supplied column,
    * O(batch). */
  private def validateGeneratedColumns(spark: SparkSession, path: String,
      batch: DataFrame, supplied: Seq[(String, String)]): Unit =
    supplied.foreach { case (c, e) =>
      if (batch.filter(!(col(c) <=> expr(e))).limit(1).count() > 0)
        throw new ConstraintViolation(s"generated($c)", e, path)
    }

  /** Receipt of [[mergeExpect]]: the main-table version, rows merged,
    * and rows diverted (dropped, or quarantined when a quarantine
    * table is given). */
  final case class ExpectStats(version: Long, merged: Long,
    diverted: Long)

  /** MERGE under EXPECTATIONS (the DLT `expect_or_drop` /
    * quarantine-table pattern): instead of [[merge]]'s all-or-nothing
    * constraint veto, rows violating any CHECK constraint are SPLIT
    * OUT of the batch — the clean remainder commits normally, and the
    * violations are either dropped or upserted into `quarantine` (a
    * lake of their own, same keys, with a `violated` column naming
    * the first failed constraint) for triage and replay. The split is
    * one in-plan projection over the batch; delete-flagged rows pass
    * straight through (their key-only images aren't data). At 100 TB
    * this is the difference between a poisoned upstream file stalling
    * the nightly load and the load landing minus a quarantined
    * remainder the owning team can inspect. */
  def mergeExpect(source: DataFrame, path: String, keys: Seq[String],
      partitionCol: Option[String] = None,
      deleteCol: Option[String] = None,
      quarantine: Option[String] = None): ExpectStats = {
    val spark = source.sparkSession
    val cons = constraints(spark, path)
    require(cons.nonEmpty,
      s"mergeExpect needs at least one CHECK constraint on $path")
    val violC0 = cons.map { case (n, p) =>
      when(expr(p) <=> lit(false), lit(n)) }.reduce(coalesce(_, _))
    val violC = deleteCol.fold(violC0)(d =>
      when(coalesce(col(d), lit(false)), lit(null)).otherwise(violC0))
    // constraints may reference generated columns the source omits;
    // the split frame is CACHED: the counts, the quarantine upsert,
    // and the main merge all reuse one evaluation of the source +
    // constraint expressions (and a non-deterministic source can't
    // disagree with its own receipt)
    val flagged = computeGeneratedColumns(spark, path, source)
      .withColumn("__graft_viol", violC).persist()
    try {
      val bad = flagged.filter(col("__graft_viol").isNotNull)
      val nBad = bad.count()
      val clean = flagged.filter(col("__graft_viol").isNull)
        .drop("__graft_viol")
      if (nBad > 0) quarantine.foreach { qp =>
        val badOut = bad.withColumnRenamed("__graft_viol", "violated")
          .drop(deleteCol.toSeq: _*)
        if (currentVersion(spark, qp).isEmpty) init(badOut, qp)
        else merge(badOut, qp, keys, opName = "QUARANTINE")
      }
      val nClean = clean.count()
      val v =
        if (nClean == 0 && deleteCol.isEmpty)
          resolve(spark, path, None) // nothing clean to commit
        else merge(clean, path, keys, partitionCol, deleteCol,
          opName = "MERGE_EXPECT")
      ExpectStats(v, nClean, nBad)
    } finally flagged.unpersist()
  }

  /** Thrown when a write batch violates a table CHECK constraint; the
    * offending commit never happens (validation precedes staging). */
  final class ConstraintViolation(val constraint: String,
    val predicate: String, table: String)
    extends RuntimeException(
      s"CHECK constraint '$constraint' ($predicate) violated by a " +
        s"write to $table — commit rejected")

  /** Reject `batch` if any registered constraint evaluates FALSE on
    * any of its rows: one filter + limit(1) pass per constraint over
    * the batch (bounded by batch size, never the table) BEFORE
    * anything is staged. */
  private def enforceConstraints(spark: SparkSession, path: String,
      batch: DataFrame): Unit =
    constraints(spark, path).foreach { case (n, p) =>
      if (batch.filter(expr(p) <=> lit(false)).limit(1).count() > 0)
        throw new ConstraintViolation(n, p, path)
    }

  /** Receipt of [[dropPartitions]]. */
  final case class Dropped(version: Long, droppedFiles: Long,
    keptFiles: Long)

  /** ALTER TABLE DROP PARTITION as a METADATA-ONLY commit: the new
    * manifest is the old one minus every file under the dropped
    * partition directories (matched against the Hive-escaped segment,
    * like the partition-scoped [[merge]]), and deletion-vector
    * entries on dropped files go with them. NO data file is read,
    * rewritten, or deleted (old versions still time-travel; [[vacuum]]
    * reclaims the bytes later) — at 100 TB this is how retention
    * actually runs: dropping a day costs two manifest writes, where a
    * predicate [[delete]] would open every file of the partition just
    * to discover it matches everything. The manifest split is
    * SEGMENT-AWARE: disjoint segments carry as unopened refs and the
    * receipt counts come from their recorded row counts. */
  def dropPartitions(spark: SparkSession, path: String,
      partitionCol: String, values: Seq[String]): Dropped = {
    require(values.nonEmpty, "dropPartitions needs at least one value")
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    occ(spark, path, "dropPartitions") { (cur, _) =>
      // partition directories carry the PHYSICAL column name
      val pcPhys = tableSchema(spark, path, Some(cur))
        .flatMap(_.fields.find(_.name == partitionCol)).map(physicalOf)
        .getOrElse(partitionCol)
      val segs = values.map(v =>
        ExternalCatalogUtils.getPartitionPathString(pcPhys, v))
      // segment-aware split: disjoint segments carry unopened (flat
      // files belong to no droppable partition → keepers); the
      // receipt total comes from the refs' recorded row counts, full
      // cached expansion only if a ref lacks one
      val (keepTop, hitE) = splitTopByPartitions(spark, path, cur,
        pcPhys, segs.toSet, keepFlat = true)
      val hit = hitE.size.toLong
      val (keepRefs, keepInline) = keepTop.partition(isSegRef)
      val refNs = keepRefs.map(r => segRowCount(r._2))
      val total =
        if (refNs.forall(_.isDefined))
          refNs.flatten.sum + keepInline.size + hit
        else readManifestEntries(spark, path, cur).length.toLong
      val schema = tableSchema(spark, path, Some(cur))
      val op = s"DROP_PARTITION($partitionCol)"
      def receipt(v: Long) = Dropped(v, hit, total - hit)
      if (hit == 0L) Left(Dropped(-1L, 0L, total))
      else if (hit == total) {
        // dropping every partition: keep a schema-only file so the
        // empty table stays readable (same contract as a
        // table-emptying merge)
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schemaOf(spark, path, cur))
        val (stagedDir, _, written) = stage(empty, path, cur + 1, None, schema)
        val staged = ensureManifestNonEmpty(empty, path, stagedDir,
          Seq.empty, carriedNonEmpty = false, schema)
        Right(Commit(stagedEntries(spark, path, staged, written), schema,
          None, op,
          receipt, Some(stagedDir)))
      } else {
        val dseg = ("/(" + java.util.regex.Pattern.quote(pcPhys) + "=[^/]*)/").r
        Right(Commit(sealTop(spark, path, keepTop, Seq.empty), schema,
          dvWithout(deletionVectorRows(spark, path, Some(cur)))(k =>
            dseg.findFirstMatchIn(k).exists(m => segs.contains(m.group(1)))),
          op, receipt))
      }
    }
  }

  // ------------------------------------------------------------------
  // tags (named, vacuum-protected snapshots)
  // ------------------------------------------------------------------

  private def tagPath(path: String, name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"bad tag name: '$name'")
    new Path(manifestDir(path), s"tag.$name")
  }

  /** Tag a version (default: current) with a stable name — `readTag`
    * resolves it, and [[vacuum]] PROTECTS tagged versions from
    * retention (the Iceberg ref semantics): an audit snapshot named
    * `q3-close` survives however many commits and vacuums follow,
    * until the tag is dropped. */
  def tag(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None): Long = {
    // the SQL surface (`VERSION AS OF <x>`) resolves a NUMERIC <x> as
    // a version number first, so an all-digit tag name would be
    // silently unreachable there — it would read the same-numbered
    // VERSION instead of the tag. Refuse at creation.
    require(!name.forall(_.isDigit),
      s"bad tag name '$name': all-digit names collide with version " +
        "numbers in VERSION AS OF resolution")
    val v = resolve(spark, path, version)
    require(fs(spark, path).exists(manifestPath(path, v)),
      s"cannot tag $path v$v: no such version")
    atomicWrite(fs(spark, path), tagPath(path, name),
      v.toString.getBytes(StandardCharsets.UTF_8))
    v
  }

  /** All tags as name → version. */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).map(_.getPath).collect {
      case p if p.getName.startsWith("tag.") =>
        val in = f.open(p)
        val v =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
          finally in.close()
        p.getName.stripPrefix("tag.") -> v
    }.toMap
  }

  /** Read the snapshot a tag names. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    read(spark, path, Some(tags(spark, path).getOrElse(name,
      sys.error(s"no such tag on $path: $name"))))

  /** Drop a tag (the version becomes vacuumable again). */
  def dropTag(spark: SparkSession, path: String, name: String): Unit =
    fs(spark, path).delete(tagPath(path, name), false)

  // ------------------------------------------------------------------
  // branches (writable refs with OCC squash publish)
  // ------------------------------------------------------------------

  private def branchBasePath(path: String) =
    new Path(manifestDir(path), "_branch_base")

  /** Create a writable BRANCH of `src` at `dst`: a zero-copy [[clone]]
    * of the current snapshot plus the recorded (source, base-version)
    * ref. Commits on the branch are ordinary table versions —
    * invisible to `src` — until [[publish]] folds the branch head
    * back. The Iceberg-branch workflow on the linear commit log:
    * branch = clone (metadata-only), publish = one OCC reference
    * commit (metadata-only), so an experiment against a 100 TB table
    * costs only the files IT stages. */
  def branch(spark: SparkSession, src: String, dst: String): Long = {
    val base = resolve(spark, src, None)
    // a source-side NAMED REF (`branch.<basename>` in the source's
    // manifest dir) makes the branch addressable from the source path
    // in pure SQL: `SELECT … FROM lake.`<src>@<name>``. LAST WINS:
    // cutting a second branch with the same basename re-points the
    // ref (the branch's identity stays its directory — only the SQL
    // shorthand moves); give branches distinct basenames for stable
    // addressing.
    val name = new Path(dst).getName
    val f = fs(spark, src)
    val ref = branchRefPath(src, name)
    val v = Versioned.clone(spark, src, dst)
    atomicWrite(fs(spark, dst), branchBasePath(dst),
      s"$src\t$base\n".getBytes(StandardCharsets.UTF_8))
    atomicWrite(f, ref, dst.getBytes(StandardCharsets.UTF_8))
    v
  }

  private def branchRefPath(src: String, name: String) =
    new Path(manifestDir(src), s"branch.$name")

  /** The directory a source-side branch ref points at, if the ref
    * exists. Does NOT check liveness — callers decide. */
  def branchTarget(spark: SparkSession, src: String,
      name: String): Option[String] = {
    val f = fs(spark, src)
    val p = branchRefPath(src, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close())
    }
  }

  /** Branch refs recorded on `src`: name → branch directory. */
  def branches(spark: SparkSession, src: String): Map[String, String] = {
    val f = fs(spark, src)
    val dir = manifestDir(src)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).map(_.getPath).collect {
      case p if p.getName.startsWith("branch.") =>
        val in = f.open(p)
        val t =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        p.getName.stripPrefix("branch.") -> t
    }.toMap
  }

  /** The (source path, base version) a branch was cut from. */
  def branchBase(spark: SparkSession, path: String): Option[(String, Long)] = {
    val f = fs(spark, path)
    val p = branchBasePath(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val i = txt.lastIndexOf('\t')
      Some((txt.substring(0, i), txt.substring(i + 1).toLong))
    }
  }

  /** PUBLISH a branch back to its source: ONE squash commit on the
    * source referencing the branch head's manifest / schema / deletion
    * vector. By default zero data movement — branch-staged files are
    * referenced IN PLACE, exactly like [[clone]]'s mixed-root reads —
    * and the source records the dependency: the publish stamps a
    * `published` marker in the branch's manifest dir, which
    * [[dropTable]] and [[vacuum]] on the BRANCH respect (a branch the
    * source still reads through refuses to die; its source-referenced
    * files are vacuum-protected). `localize = true` instead COPIES the
    * branch-staged files under the source's own data root inside the
    * same commit — one bounded copy of exactly the files the branch
    * staged (never the table), after which the branch directory is
    * disposable. A [[compact]] on the source localizes a zero-copy
    * publish after the fact.
    *
    * Optimistic concurrency: the commit targets base+1, so it wins
    * ONLY if the source hasn't moved since the branch was cut — a
    * concurrent source commit (or an already-published sibling branch)
    * refuses the publish LOUDLY with ZERO effect on the source;
    * re-branching from the new tip is the rebase. Identity-bearing
    * branches are refused (two allocators would both extend the
    * source's high-water — the same reason identity merges opt out of
    * the OCC rebase fast path). */
  def publish(spark: SparkSession, branchPath: String,
      localize: Boolean = false): Long = {
    val (src, base) = branchBase(spark, branchPath).getOrElse(
      sys.error(s"not a branch (no _branch_base): $branchPath"))
    require(identityColumns(spark, branchPath).isEmpty,
      s"cannot publish an identity-bearing branch: $branchPath")
    val head = resolve(spark, branchPath, None)
    val nCommits = head - 1L // branch v1 = the clone of base
    require(nCommits >= 1L,
      s"branch has no commits to publish: $branchPath")
    val entries0 = readManifestEntries(spark, branchPath, head)
    val entries =
      if (!localize) entries0
      else {
        // copy every branch-rooted file under the source's data root,
        // PRESERVING the file key (`gbatch=<n>/<part>`): deletion
        // vectors and stats key on the relative key, so the copies
        // inherit both untouched. Bounded by the branch's staged
        // files; part names carry write-UUIDs, so a key collision
        // means an aliased directory, not bad luck — refuse it.
        val toCopy = entries0.map(_._1).filter(isUnderDataRoot(_, branchPath))
        val dstFor: Map[String, String] = toCopy.map { e =>
          val dst = new Path(new Path(src, "data"), fileKey(e))
          e -> fs(spark, src).makeQualified(dst).toString
        }.toMap
        perStagedFile(spark, toCopy) { (p0, conf) =>
          val sp = new Path(p0)
          val dp = new Path(dstFor(p0))
          val dfs = dp.getFileSystem(conf)
          require(!dfs.exists(dp),
            s"localize collision: $dp already exists")
          dfs.mkdirs(dp.getParent)
          org.apache.hadoop.fs.FileUtil.copy(
            sp.getFileSystem(conf), sp, dfs, dp, false, false, conf)
        }
        entries0.map { case (f0, stats) =>
          (dstFor.getOrElse(f0, f0), stats)
        }
      }
    val v = base + 1L
    require(commit(spark, src, v, entries,
      tableSchema(spark, branchPath, Some(head)),
      deletionVectorRows(spark, branchPath, Some(head)),
      op = Some(s"PUBLISH($nCommits commits)")),
      s"publish refused: $src moved past v$base since the " +
        "branch was cut — re-branch from the current tip and replay")
    if (!localize)
      // shallow-publish contract marker: the source now reads through
      // this branch directory — branch dropTable/vacuum check it
      atomicWrite(fs(spark, branchPath), publishedPath(branchPath),
        s"$src\t$v\n".getBytes(StandardCharsets.UTF_8))
    v
  }

  private def publishedPath(path: String) =
    new Path(manifestDir(path), "published")

  /** The (source, version) a zero-copy publish of this branch landed
    * as, if one did. */
  def publishedInfo(spark: SparkSession,
      path: String): Option[(String, Long)] = {
    val f = fs(spark, path)
    val p = publishedPath(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val i = txt.lastIndexOf('\t')
      Some((txt.substring(0, i), txt.substring(i + 1).toLong))
    }
  }

  /** Whether manifest entry `e` lives under `root`'s data directory
    * (scheme-insensitive, the [[renameTable]] core convention). */
  private def isUnderDataRoot(e: String, root: String): Boolean = {
    def core(p: String): String = {
      val u = new java.net.URI(p)
      Option(u.getPath).filter(_.nonEmpty).getOrElse(p)
    }
    core(e).startsWith(core(root) + "/data/")
  }

  /** How many of the CURRENT version's files live outside this
    * table's own data root — the shallow-clone / zero-copy-publish
    * dependency count, surfaced in `CALL lake.describe` table health
    * so an operator can see a foreign-root read dependency before it
    * bites (a [[compact]] localizes and drives it to zero). */
  def foreignFileCount(spark: SparkSession, path: String): Long =
    files(spark, path).count(!isUnderDataRoot(_, path)).toLong

  /** Files under `root`'s data dir that `src`'s SURVIVING versions
    * still reference — the zero-copy publish dependency set. Empty
    * once the source has compacted past the publish and vacuumed the
    * referencing versions (or been dropped). O(source versions ×
    * manifest) driver metadata, only ever paid by branch-side
    * dropTable/vacuum of a published branch. */
  private def foreignRefsInto(spark: SparkSession, src: String,
      root: String): Set[String] = {
    if (currentVersion(spark, src).isEmpty) return Set.empty
    val f = fs(spark, src)
    val dir = manifestDir(src)
    val versions = f.listStatus(dir).map(_.getPath.getName).collect {
      case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
    }
    versions.iterator.flatMap(v => readManifest(spark, src, v))
      .filter(isUnderDataRoot(_, root)).toSet
  }

  // ------------------------------------------------------------------
  // checkpointed incremental consumption (follow the commit log)
  // ------------------------------------------------------------------

  /** Consume the table's commits INCREMENTALLY with a durable
    * checkpoint: processes every version in `(checkpointed, current]`
    * in order, feeding `fn` the per-version [[changes]] feed, and
    * advances the checkpoint file AFTER each successful call — the
    * Delta-streaming-source contract on a plain filesystem. A crash
    * between `fn` and the checkpoint write re-delivers exactly that
    * one version's feed on restart (at-least-once), so an idempotent
    * apply — any keyed MERGE, including [[merge]] itself — yields
    * exactly-once EFFECT. Returns the number of versions processed.
    * The checkpoint file seeds at the table's CURRENT version on
    * first call with `seedCurrent = true` (consume only future
    * commits) or at version 1 otherwise (replay history). */
  def followChanges(spark: SparkSession, path: String, checkpoint: String,
      seedCurrent: Boolean = false, maxVersions: Int = Int.MaxValue)(
      fn: (Long, ChangeFeed) => Unit): Int = {
    val f = fs(spark, path)
    val cp = new Path(checkpoint)
    val last: Long =
      if (f.exists(cp)) {
        val in = f.open(cp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      } else {
        val seed = if (seedCurrent) resolve(spark, path, None) else 1L
        atomicWrite(f, cp, seed.toString.getBytes(StandardCharsets.UTF_8))
        seed
      }
    val cur = resolve(spark, path, None)
    var v = last + 1
    var n = 0
    while (v <= cur && n < maxVersions) {
      // both feed endpoints must still exist — a tagged survivor below
      // a vacuumed gap would otherwise surface a raw read failure
      require(f.exists(manifestPath(path, v - 1)) &&
          f.exists(manifestPath(path, v)),
        s"follow checkpoint at v${v - 1} was vacuumed past on $path — " +
          "re-seed the consumer (keep vacuum retention above consumer lag)")
      fn(v, changes(spark, path, v - 1, v))
      atomicWrite(f, cp, v.toString.getBytes(StandardCharsets.UTF_8))
      n += 1
      v += 1
    }
    n
  }

  /** Delete data files referenced by NO surviving manifest and drop
    * all but the last `keepLast` manifests (with their schema,
    * deletion-vector, and operation sidecars) — except versions a
    * [[tag]] protects, which are retained with their files until the
    * tag is dropped. Returns deleted file count. Readers of retained
    * versions are unaffected. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    vacuumImpl(spark, path)((versions, _) =>
      versions.splitAt(math.max(0, versions.length - keepLast)))
  }

  /** AGE-BASED retention (Delta's `VACUUM … RETAIN`): drop every
    * version whose COMMIT TIME (the manifest's publish mtime, the
    * same clock [[versionAsOf]] travels on) is before `tsMillis` —
    * except the current tip and tag-protected versions, exactly like
    * [[vacuum]]. The two compose: count-based retention bounds
    * metadata, age-based retention expresses the compliance contract
    * ("nothing older than 30 days survives"). */
  def vacuumOlderThan(spark: SparkSession, path: String,
      tsMillis: Long): Int =
    vacuumImpl(spark, path) { (versions, f) =>
      val tip = versions.max
      versions.partition(v => v != tip &&
        f.getFileStatus(manifestPath(path, v)).getModificationTime
          < tsMillis)
    }

  /** How old an unreferenced segment file must be before vacuum
    * collects it: younger ones may belong to an in-flight append. */
  private[graft] val segGraceMs: Long = 15 * 60 * 1000L

  private def vacuumImpl(spark: SparkSession, path: String)(
      split: (Seq[Long], FileSystem) => (Seq[Long], Seq[Long])): Int = {
    val f = fs(spark, path)
    val dir = manifestDir(path)
    if (!f.exists(dir)) return 0
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }.sorted
    if (versions.isEmpty) return 0
    // tagged versions are retention-protected (Iceberg ref semantics)
    val tagged = tags(spark, path).values.toSet
    val (drop0, keep0) = split(versions.toSeq, f)
    val (dropTagged, drop) = drop0.partition(tagged.contains)
    val keep = (keep0 ++ dropTagged).sorted
    // zero-copy publish contract: files of THIS table that the
    // publish SOURCE still references are live even if no surviving
    // local version names them (e.g. the branch compacted after
    // publishing) — the source reads through them
    val foreignLive = publishedInfo(spark, path).map { case (src, _) =>
      foreignRefsInto(spark, src, path)
    }.getOrElse(Set.empty)
    val live = keep.flatMap(v => readManifest(spark, path, v)).toSet ++
      foreignLive
    val dataDir = new Path(path, "data")
    var deleted = 0
    if (f.exists(dataDir)) {
      val it = f.listFiles(dataDir, true)
      val dead = Seq.newBuilder[Path]
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")
            && !live.contains(s.getPath.toString))
          dead += s.getPath
      }
      dead.result().foreach { p => if (f.delete(p, false)) deleted += 1 }
    }
    // sidecars are dropped only when a kept version STRICTLY NEWER
    // than the dropped one carries the same mark — per COLUMN for
    // idhw (addIdentityColumn writes a single-column file, merges
    // write all declared), per QUERY for txn. The scan-back readers
    // (identityHighWater, the streaming sink's lastEpoch) walk
    // newest-first, so an older kept copy (e.g. a tag-pinned v1)
    // must never license deleting the NEWEST mark.
    def idhwCols(v: Long): Set[String] = {
      val p = idhwPath(path, v)
      if (!f.exists(p)) Set.empty
      else {
        val in = f.open(p)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.split('\n').iterator.filter(_.nonEmpty)
          .map(l => l.substring(0, l.indexOf('\t'))).toSet
      }
    }
    val keptIdhw = keep.map(v => (v, idhwCols(v))).filter(_._2.nonEmpty)
    val keptTxn = keep.flatMap(v =>
      txnAt(spark, path, v).map { case (q, _) => (v, q) })
    drop.foreach { v =>
      f.delete(manifestPath(path, v), true)
      f.delete(schemaPath(path, v), false)
      f.delete(dvPath(path, v), true)
      f.delete(opPath(path, v), false)
      f.delete(new Path(dir, s"v$v.cluster"), false)
      val cols = idhwCols(v)
      if (cols.nonEmpty && cols.forall(c =>
          keptIdhw.exists { case (w, cs) => w > v && cs.contains(c) }))
        f.delete(idhwPath(path, v), false)
      txnAt(spark, path, v).foreach { case (q, _) =>
        if (keptTxn.exists { case (w, kq) => w > v && kq == q })
          f.delete(new Path(dir, s"v$v.txn"), false)
      }
      f.delete(new Path(dir, s".v$v.lock"), false)
    }
    // segment GC: a manifest segment lives exactly as long as some
    // RETAINED version's top level references it. Two races with an
    // in-flight append (which seals segments on routine commits):
    // (1) the writer WINS its commit lock after this vacuum computed
    //     its keep set — the new version is durable, so its segments
    //     must survive: re-list the manifest dir HERE (post-drop) and
    //     union refs of EVERY version now present, not the stale keep;
    // (2) the writer sealed a segment but hasn't won the lock yet at
    //     GC instant — no manifest references it anywhere, so only
    //     its AGE can save it: skip segments younger than a grace
    //     window ([[segGraceMs]], mtime-based, the standard
    //     lake-vacuum guard). A LOSING writer's orphaned segment ages
    //     past the grace and is collected next vacuum.
    val segD = segsDir(path)
    if (f.exists(segD)) {
      val present = f.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong }
      val liveSegs = present.flatMap { v =>
        if (!keep.contains(v) && versions.contains(v))
          Seq.empty[String] // dropped above; gone or going
        else
          // fresh commits carry NEW (path, v) cache keys — rawTop
          // cannot serve a stale entry for them
          try {
            rawTop(spark, path, v).collect {
              case (r, _) if r.startsWith(segRefPrefix) =>
                new Path(manifestDir(path),
                  r.stripPrefix(segRefPrefix)).getName
            }
          } catch {
            case _: java.io.FileNotFoundException => Seq.empty[String]
          }
      }.toSet
      val now = System.currentTimeMillis()
      f.listStatus(segD).foreach { s0 =>
        if (!liveSegs.contains(s0.getPath.getName) &&
            now - s0.getModificationTime >= segGraceMs)
          f.delete(s0.getPath, true)
      }
    }
    invalidate(path)
    deleted
  }
}
