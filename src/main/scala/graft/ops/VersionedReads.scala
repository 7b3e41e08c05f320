package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import Versioned.{ChangeFeed, CommitInfo, MetaStats, Pruned}

/** The lake's reads: snapshots, time travel, stats-pruned range and
  * point reads, manifest-only aggregates, the change feed and its
  * checkpointed follower, and history.
  *
  * '''One read path.''' Every read of data files — [[read]], time
  * travel, [[readRange]], merge and compaction rewrites, vectored DML
  * matching, [[changes]], the commit-time stats pass — is a DSv2 scan
  * over the connector's `LakeTable` ([[readLive]]), pinned to a version
  * and, internally, to a file subset. Its one reader maps columns,
  * fills partition values and skips deleted positions; row identity is
  * its `__lake_file`/`__lake_pos` columns, the key the vectors use. */
trait VersionedReads extends VersionedLog { self: Versioned.type =>

  /** The LIVE rows of version `v` over `subset` (default: all its
    * files): the one lake read path. A DSv2 scan over
    * [[graft.sources.LakeTable]] pinned to the version (and to the
    * subset), so the connector's reader maps columns through the
    * version's schema, fills partition values and skips the version's
    * deleted positions. `keepMeta` adds the row-id columns
    * (`__lake_file` = file key, `__lake_pos` = row position). */
  private[ops] def readLive(spark: SparkSession, path: String, v: Long,
      subset: Option[Seq[String]], keepMeta: Boolean): DataFrame =
    scan(spark, path, Some(v), schemaOf(spark, path, v), subset, keepMeta)

  /** A lake scan as a DataFrame: [[graft.sources.LakeTable]] over
    * `schema` (every column nullable: an older file may lack one),
    * pinned to `version` and `files`; with files and no version they
    * are staged files outside every manifest. */
  private[ops] def scan(spark: SparkSession, path: String,
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

  /** Read a snapshot (default: current): the manifest's files through
    * the version's logged schema, minus its deletion vector — the
    * connector's scan ([[readLive]]), so filters on the frame prune
    * files as they do on the SQL surface. */
  def read(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    readLive(spark, path, resolve(spark, path, version), None,
      keepMeta = false)

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

  /** Resolve the newest version whose COMMIT TIME (the manifest's
    * filesystem mtime — set by the atomic publish rename, immutable
    * afterwards) is ≤ `tsMillis`, or None if the table didn't exist
    * yet. Timestamp-based time travel: "the table as the 03:00 job
    * saw it" without bookkeeping version numbers. */
  def versionAsOf(spark: SparkSession, path: String,
      tsMillis: Long): Option[Long] =
    versionTimes(spark, path).filter(_._2 <= tsMillis).map(_._1).lastOption

  /** [[read]] at [[versionAsOf]] `tsMillis`; fails loudly when the
    * table has no version that old. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAsOf(spark, path, tsMillis)
      .getOrElse(sys.error(
        s"no version of $path existed at t=$tsMillis"))))

  /** The one inverse test, for [[changes]]: true iff `dv` names the
    * row, over the connector's (file key, row position) columns. The
    * vector rides the task closure as the per-file sorted position
    * arrays — no broadcast relation, no join, no extra stage. */
  private def dvNames(dv: DvRows): Column =
    udf((f0: String, pos: Long) =>
      dv.get(f0).exists(java.util.Arrays.binarySearch(_, pos) >= 0))
      .apply(col(fileCol), col(posCol))

  /** (files added, bytes added) between two versions' manifests,
    * SEGMENT-AWARE: refs shared by both top levels name the same
    * immutable file set and cancel UNOPENED (the [[changes]] diff);
    * only non-shared segments expand (driver-cached). The streaming
    * source's admission control calls this per walked version — on an
    * appending table each step costs O(inline + delta), never
    * O(table files), and never touches the expanded-manifest cache
    * (whose wholesale clear past 256 entries a full expansion per
    * version would thrash). Bytes come from the entries' recorded
    * `#bytes` stats; entries without one count 0 (best-effort). */
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
      added.map(e => FileStats.decode(e._2).bytes.getOrElse(0L)).sum)
  }

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
        val o = readManifest(spark, path, fromV)
        val nn = readManifest(spark, path, toV)
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
        val fullOld = readManifest(spark, path, fromV)
        val fullNewSet = readManifest(spark, path, toV).toSet
        val carriedKeys = fullOld.filter(fullNewSet.contains)
          .map(fileKey).toSet
        delta.keys.toSeq.filter(carriedKeys.contains)
          .map(k => fullOld.find(f => fileKey(f) == k).get)
    }
    def side(v: Long, subset: Seq[String]): DataFrame =
      readLive(spark, path, v, Some(subset), keepMeta = false)
    val o0 = side(fromV, removed)
    val n = side(toV, added)
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
        withNullColumns(df1, n.schema).select(n.columns.map(col): _*)
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
      (removed ++ added ++ dvDeltaFiles).distinct.length,
      totalFiles.toInt)
  }

  /** `df` plus a typed NULL column for every field of `schema` it
    * lacks — how an older or narrower frame lines up with a newer
    * schema. */
  private[ops] def withNullColumns(df: DataFrame,
      schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (d, fld) =>
      if (d.columns.contains(fld.name)) d
      else d.withColumn(fld.name, lit(null).cast(fld.dataType))
    }

  /** Read the snapshot OPENING ONLY the files whose [min, max] stats
    * interval for `column` overlaps [lo, hi] — the Delta/Iceberg
    * data-skipping scan. Files without stats (legacy commits,
    * unregistered or unsupported columns) are always kept, so the
    * result is a superset of the matching rows whatever the table's
    * history; apply the exact predicate on `df`. The prune decision is
    * [[candidateFiles]], the connector's own test: a driver pass over
    * the cached manifest entries the receipt's `filesTotal` already
    * loads, so deciding starts no Spark job. When the table was
    * clustered on `column` (`compact` or a range-layout `init`), the
    * files read shrink to the predicate's true footprint.
    *
    * `lo` and `hi` are inclusive and in the column's stats units
    * ([[FileStats.units]]): epoch days for a date, epoch microseconds
    * for a timestamp, and the value at its declared scale for a
    * decimal. */
  def readRange(spark: SparkSession, path: String, column: String,
      lo: Double, hi: Double, version: Option[Long] = None): Pruned = {
    val v = resolve(spark, path, version)
    val total = manifestEntries(spark, path, v).length
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
    * deletion-vector-free — vectored rows would make manifest counts
    * and extrema stale, so this fails LOUDLY with a compact-first hint
    * rather than return bounds as answers. */
  def metadataStats(spark: SparkSession, path: String, column: String,
      version: Option[Long] = None): MetaStats = {
    val v = resolve(spark, path, version)
    require(deletionVectorRows(spark, path, Some(v)).isEmpty,
      s"metadataStats needs a deletion-vector-free version — compact " +
        s"$path first to materialize outstanding vectors")
    val field = statsFieldOf(spark, path, v, column)
    val docs = manifestEntries(spark, path, v).map(_._2)
    val stats = docs.map(FileStats.decode)
    val rows = stats.map(_.rows)
    val bounds = stats.map(_.units(field))
    val noCount = rows.count(_.isEmpty)
    val noStats = docs.zip(bounds).count { case (sj, b) =>
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
    val entries = manifestEntries(spark, path, v)
    val hash = spark.range(1).select(xxhash64(value)).head().getLong(0)
    val field = statsFieldOf(spark, path, v, column)
    val kept = entries.filter { case (_, sj) =>
      FileStats.decode(sj).bloom(field).forall(bytes =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(hash))
    }.map(_._1)
    Pruned(readLive(spark, path, v, Some(kept), keepMeta = false),
      kept.length, entries.length)
  }

  /** DESCRIBE HISTORY: one row per retained version, oldest first.
    * The operation label is recorded by the commit winner at commit
    * time (`v<N>.op`; pre-logging versions read "UNKNOWN"); the file
    * count is the manifest's entry count. Introspection/maintenance
    * surface: driver cost is O(versions) small metadata reads against
    * the per-JVM manifest cache. */
  def history(spark: SparkSession, path: String): Seq[CommitInfo] =
    versions(spark, path).map { v =>
      CommitInfo(v, readSidecar(spark, path, ofVersion(v, "op"))
        .fold("UNKNOWN")(_.trim),
        manifestEntries(spark, path, v).length.toLong)
    }

  /** Consume the table's commits INCREMENTALLY with a durable
    * checkpoint: processes every version in `(checkpointed, current]`
    * in order, feeding `fn` the per-version [[changes]] feed, and
    * advances the checkpoint file AFTER each successful call — the
    * Delta-streaming-source contract on a plain filesystem. A crash
    * between `fn` and the checkpoint write re-delivers exactly that
    * one version's feed on restart (at-least-once), so an idempotent
    * apply — any keyed MERGE, including `merge` itself — yields
    * exactly-once EFFECT. Returns the number of versions processed.
    * The checkpoint file seeds at the table's CURRENT version on
    * first call with `seedCurrent = true` (consume only future
    * commits) or at version 1 otherwise (replay history). */
  def followChanges(spark: SparkSession, path: String, checkpoint: String,
      seedCurrent: Boolean = false, maxVersions: Int = Int.MaxValue)(
      fn: (Long, ChangeFeed) => Unit): Int = {
    val cp = new Path(checkpoint)
    val last: Long = readText(spark, cp).map(_.trim.toLong).getOrElse {
      val seed = if (seedCurrent) resolve(spark, path, None) else 1L
      writeText(spark, cp, seed.toString)
      seed
    }
    val cur = resolve(spark, path, None)
    var v = last + 1
    var n = 0
    while (v <= cur && n < maxVersions) {
      // both feed endpoints must still exist — a tagged survivor below
      // a vacuumed gap would otherwise surface a raw read failure
      require(manifestExists(spark, path, v - 1) &&
          manifestExists(spark, path, v),
        s"follow checkpoint at v${v - 1} was vacuumed past on $path — " +
          "re-seed the consumer (keep vacuum retention above consumer lag)")
      fn(v, changes(spark, path, v - 1, v))
      writeText(spark, cp, v.toString)
      n += 1
      v += 1
    }
    n
  }
}
