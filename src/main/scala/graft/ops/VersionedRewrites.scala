package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import Versioned.{Compaction, Dropped}

/** The lake's rewrites: the data compactions (file selectors over one
  * rewrite core), manifest re-sealing, partition drops and RESTORE.
  * Readers of older versions are never disturbed — a rewrite commits
  * a new version, and the files it replaced stay until vacuum. */
trait VersionedRewrites extends VersionedLog { self: Versioned.type =>

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
    * untouched (their files stay until vacuum).
    *
    * `partitionCol` RE-LAYS the table: the compaction stages by the
    * column, and once it commits the column is the recorded identity
    * layout ([[partitionLayout]]); without it the recorded layout, if
    * any, is kept. The layout property belongs to the table, not to a
    * version: time travel and RESTORE to a version before a re-lay
    * resolve the new layout (their rows read the same — the files
    * carry their own partition directories — and a later
    * partition-scoped write rewrites the files laid out otherwise).
    * The file layouts (by partition, `clusterBy`, `zOrderBy`,
    * round-robin) and the concurrency story are [[rewrite]]'s. */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
      partitionCol: Option[String] = None,
      clusterBy: Seq[String] = Seq.empty,
      zOrderBy: Seq[String] = Seq.empty): Long = {
    require(Seq(partitionCol.nonEmpty, clusterBy.nonEmpty,
        zOrderBy.nonEmpty).count(identity) <= 1,
      "partitionCol, clusterBy and zOrderBy are alternative layouts — " +
        "pick one")
    // the layout records the PHYSICAL name, as directories do
    val relay = partitionCol.map { c =>
      physicalOf(schemaOf(spark, path, resolve(spark, path, None)).fields
        .find(_.name == c)
        .getOrElse(sys.error(s"no such column on $path: '$c'")))
    }
    val v = rewrite(spark, path, "COMPACT", targetFiles, clusterBy, zOrderBy,
      relay)(_ => Right(Pick(None, Seq.empty, identity)))
    relay.foreach(l => recordLayout(spark, path, Some(l)))
    v
  }

  /** What a compaction rewrites at the version it reads: `files` (None
    * = the whole live snapshot, committed as a flat manifest), the
    * top-level manifest rows that carry by reference, and the receipt
    * of the committed version. */
  private case class Pick[R](files: Option[Seq[String]],
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
    * are laid out into `targetFiles` files and staged under the
    * table's partition layout ([[withLayout]]):
    *  - partitioned, no clustering: hash-clustered by value
    *    (`repartition(n, pc)` routes ALL rows of one value into one
    *    task), one file per value, which keeps partition-scoped
    *    `merge` carry-over working;
    *  - `clusterBy`: range-partitioned and sorted on the key(s), so
    *    each file covers a narrow key interval — the layout that makes
    *    min/max stats (and `readRange`) prune;
    *  - `zOrderBy`: Morton-interleaved ([[ZOrder]]), so a range probe
    *    on ANY one of the columns prunes;
    *  - otherwise round-robin, exactly `targetFiles` files whenever
    *    rows ≥ targetFiles.
    * Vector entries on the picked files are dropped (the rewrite
    * materialized them), the rest carry with the carried rows, and a
    * clustered layout records its [[clusterMark]] — what
    * [[compactIncremental]] reads to find the files already laid out on
    * those columns. `relay` stages by that layout property instead of
    * the recorded one ([[compact]]'s re-lay). A lost race re-picks
    * against the winner, so a compaction never undoes a concurrent
    * writer's committed rows. */
  private def rewrite[R](spark: SparkSession, path: String, op: String,
      targetFiles: Int, clusterBy: Seq[String] = Seq.empty,
      zOrderBy: Seq[String] = Seq.empty, relay: Option[String] = None)(
      pick: Long => Either[R, Pick[R]]): R = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val mark = clusterMark(clusterBy, zOrderBy).map(m => "cluster" -> s"$m\n")
      .toSeq
    occ(spark, path, op) { (cur, _) =>
      pick(cur).map { p =>
        val schema = schemaOf(spark, path, cur)
        val (rows, layoutCol) = withLayout(
          readLive(spark, path, cur, p.files, keepMeta = false), path, schema,
          relay)
        val laidOut = (clusterBy, zOrderBy, layoutCol) match {
          case (cs, _, _) if cs.nonEmpty =>
            rows.repartitionByRange(targetFiles, cs.map(col): _*)
              .sortWithinPartitions(cs.map(col): _*)
          case (_, zs, _) if zs.nonEmpty => ZOrder.layout(rows, targetFiles, zs)
          case (_, _, Some(pc)) => rows.repartition(targetFiles, col(pc))
          case _ => rows.repartition(targetFiles)
        }
        val (stagedDir, staged0, written) = stage(laidOut, path, cur + 1,
          layoutCol, Some(schema))
        val staged = stagedEntries(spark, path, ensureManifestNonEmpty(rows,
          stagedDir, staged0, p.carried.nonEmpty, Some(schema)), written)
        val dv = p.files.flatMap { picked =>
          dvWithout(deletionVectorRows(spark, path, Some(cur)))(
            picked.map(fileKey).toSet)
        }
        Commit(p.files.fold(staged)(_ => sealTop(spark, path, p.carried, staged)),
          Some(schema), dv, op, p.receipt, Some(stagedDir), mark)
      }
    }
  }

  /** REWRITE MANIFESTS (Iceberg's metadata-maintenance procedure,
    * `rewrite_manifests`): re-seal the current version's file list
    * into one segment PER PARTITION (flat files stay inline) and
    * commit the refs — ZERO data I/O at any table size. The
    * lifecycle complement to segment accrual: a long-lived
    * append-heavy table collects one segment per seal plus inline
    * slivers whose footprints straddle partitions; after this
    * rewrite every partition-scoped merge/[[dropPartitions]] carries
    * maximum refs and every O(delta) commit copies a minimal top
    * level. Unpartitioned tables seal into one segment. Returns the
    * committed version (or the current one unchanged if the top level
    * is already minimal). */
  def rewriteManifests(spark: SparkSession, path: String): Long =
    occ(spark, path, "rewriteManifests") { (cur, _) =>
      val entries = manifestEntries(spark, path, cur)
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

  /** Version `cur`'s physical name of partition column `pc` (partition
    * directories carry it), and the Hive-escaped directory names of
    * `values`. `pc` must be the column of the table's layout: any
    * other column names no partition. */
  private def partitionDirs(spark: SparkSession, path: String, cur: Long,
      pc: String, values: Seq[String]): (String, Seq[String]) = {
    val layout = partitionLayout(spark, path, Some(cur))
    require(layout.exists(_.column == pc),
      s"'$pc' is not the partition column of $path (layout: " +
        s"${layout.fold("unpartitioned")(_.column)})")
    val pcPhys = tableSchema(spark, path, Some(cur))
      .flatMap(_.fields.find(_.name == pc)).map(physicalOf).getOrElse(pc)
    (pcPhys, values.map(v => org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.getPartitionPathString(pcPhys, v)))
  }

  /** The entry count of the carried top rows `keepTop` plus `extra`,
    * from the segment refs' recorded row counts — or the full cached
    * expansion of version `cur` when a ref lacks one. */
  private def carriedCount(spark: SparkSession, path: String, cur: Long,
      keepTop: Seq[(String, Option[String])], extra: Long)(
      fallback: Long => Long): Long = {
    val (keepRefs, keepInline) = keepTop.partition(isSegRef)
    val refNs = keepRefs.map(r => segRowCount(r._2))
    if (refNs.forall(_.isDefined)) refNs.flatten.sum + keepInline.size + extra
    else fallback(manifestEntries(spark, path, cur).length.toLong)
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
    rewrite(spark, path, s"COMPACT_PARTITION($partitionCol)",
        targetFiles) { cur =>
      val (pcPhys, segs) = partitionDirs(spark, path, cur, partitionCol, values)
      val (keepTop, hitE) = splitTopByPartitions(spark, path, cur,
        pcPhys, segs.toSet, keepFlat = true)
      val hit = hitE.map(_._1)
      val carriedN = carriedCount(spark, path, cur, keepTop, 0L)(
        _ - hit.size).toInt
      if (hit.isEmpty) Left(Compaction(-1L, 0, carriedN))
      else Right(Pick(Some(hit), keepTop, Compaction(_, hit.size, carriedN)))
    }
  }

  /** The newest RETAINED version whose cluster sidecar matches
    * `mark` (vacuum may have dropped older bases). */
  private def lastClusterVersion(spark: SparkSession, path: String,
      mark: String): Option[Long] =
    versions(spark, path).reverse.find(v =>
      readSidecar(spark, path, ofVersion(v, "cluster")).exists(_.trim == mark))

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
          Left(Compaction(v, manifestEntries(spark, path, v).length, 0))
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
      targetFiles: Int): Compaction =
    rewrite(spark, path, "COMPACT_SMALL", targetFiles) { cur =>
      val curEntries = manifestEntries(spark, path, cur)
      val f = fs(spark, path)
      // size probe from the manifest's own `#bytes` stats — logged on
      // every commit — so a million-file probe is metadata arithmetic,
      // not a million FileStatus calls; legacy entries fall back
      val (smallE, bigE) = curEntries.partition { case (p, sj) =>
        FileStats.decode(sj).bytes.getOrElse(
          f.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen) < minBytes
      }
      if (smallE.length <= 1) Left(Compaction(-1L, 0, curEntries.length))
      else {
        val small = smallE.map(_._1)
        Right(Pick(Some(small), carryTopMinus(spark, path, cur, small.toSet),
          Compaction(_, smallE.length, bigE.length)))
      }
    }

  /** ALTER TABLE DROP PARTITION as a METADATA-ONLY commit: the new
    * manifest is the old one minus every file under the dropped
    * partition directories (matched against the Hive-escaped segment,
    * like the partition-scoped merge), and deletion-vector entries on
    * dropped files go with them. NO data file under a partition
    * directory is read, rewritten, or deleted (old versions still
    * time-travel; vacuum reclaims the bytes later) — at 100 TB this is
    * how retention actually runs: dropping a day costs two manifest
    * writes, where a predicate delete would open every file of the
    * partition just to discover it matches everything. The manifest
    * split is SEGMENT-AWARE: disjoint segments carry as unopened refs
    * and the receipt counts come from their recorded row counts.
    *
    * Rows can also sit OUTSIDE the partition directories: SQL UPDATE /
    * MERGE images are staged flat by the executor writer. Those flat
    * files' rows whose `partitionCol` value is dropped join the
    * deletion vector in the same commit — one scan of the flat files
    * alone, none when there are none — and the receipt counts them as
    * `vectoredRows`. `partitionCol` must be the table's layout
    * column. */
  def dropPartitions(spark: SparkSession, path: String,
      partitionCol: String, values: Seq[String]): Dropped = {
    require(values.nonEmpty, "dropPartitions needs at least one value")
    occ(spark, path, "dropPartitions") { (cur, _) =>
      val (pcPhys, segs) = partitionDirs(spark, path, cur, partitionCol, values)
      // segment-aware split: disjoint segments carry unopened (flat
      // files belong to no droppable partition → keepers)
      val (keepTop, hitE) = splitTopByPartitions(spark, path, cur,
        pcPhys, segs.toSet, keepFlat = true)
      val flat = keepTop.flatMap { e =>
        if (!isSegRef(e)) Seq(e)
        else if (footprintOf(e._2).forall(_._2))
          readSegmentRows(spark, path, e._1)
        else Seq.empty
      }.map(_._1).filterNot(partitionSegmentsOf(_).contains(pcPhys))
      val flatDv =
        if (flat.isEmpty) Map.empty[String, Array[Long]]
        else dvOf(readLive(spark, path, cur, Some(flat), keepMeta = true)
          .filter(col(partitionCol).cast("string").isin(values: _*))
          .select(col(fileCol), col(posCol)).collect())
      val hit = hitE.size.toLong
      val total = carriedCount(spark, path, cur, keepTop, hit)(identity)
      val schema = tableSchema(spark, path, Some(cur))
      val op = s"DROP_PARTITION($partitionCol)"
      def receipt(v: Long) = Dropped(v, hit, total - hit,
        flatDv.valuesIterator.map(_.length.toLong).sum)
      if (hit == 0L && flatDv.isEmpty) Left(Dropped(-1L, 0L, total, 0L))
      else if (hit == total) {
        // dropping every partition: keep a schema-only file so the
        // empty table stays readable (same contract as a
        // table-emptying merge)
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schemaOf(spark, path, cur))
        val (stagedDir, _, written) = stage(empty, path, cur + 1, None, schema)
        val staged = ensureManifestNonEmpty(empty, stagedDir,
          Seq.empty, carriedNonEmpty = false, schema)
        Right(Commit(stagedEntries(spark, path, staged, written), schema,
          None, op, receipt, Some(stagedDir)))
      } else {
        val dseg = ("/(" + java.util.regex.Pattern.quote(pcPhys) + "=[^/]*)/").r
        val dv = dvWithout(deletionVectorRows(spark, path, Some(cur)))(k =>
          dseg.findFirstMatchIn(k).exists(m => segs.contains(m.group(1))))
        Right(Commit(sealTop(spark, path, keepTop, Seq.empty), schema,
          if (flatDv.isEmpty) dv else Some(dvUnion(dv, flatDv)), op, receipt))
      }
    }
  }

  /** RESTORE the table to the content of `toVersion` as a NEW commit
    * (Delta `RESTORE TABLE … TO VERSION AS OF`): history only moves
    * forward — the commits being undone stay inspectable and
    * time-travelable until vacuum — and the restored version carries
    * `toVersion`'s manifest entries (files + stats BY REFERENCE, zero
    * data movement), logged schema, and deletion vector. The commit
    * copies `toVersion`'s top-level manifest rows (segment refs
    * unopened), so restoring a million-file table is a metadata-speed
    * operation. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    require(manifestExists(spark, path, toVersion),
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
}
