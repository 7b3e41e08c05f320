package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lake's refs and retention: zero-copy clones, tags, writable
  * branches with an OCC squash publish, and VACUUM. */
trait VersionedRefs extends VersionedLog { self: Versioned.type =>

  /** ZERO-COPY shallow clone: publish `src`'s current snapshot as
    * version 1 of a new table at `dst` by copying the MANIFEST (plus
    * logged schema and deletion vector) only — the data files are
    * shared by reference, so cloning a 100 TB table costs one small
    * metadata write (the Delta/Iceberg shallow-clone shape: dev/test
    * sandboxes, WAP staging branches, reproducible experiment pins).
    * Writes to the clone stage their own files under the clone's
    * directory and never touch the source; the clone's first full
    * rewrite (a merge on an unpartitioned table, or compact) ends the
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
    // table properties travel with the clone: stats registrations, the
    // partition layout, CHECK constraints, generated columns and
    // retired physical names
    writeSidecarLines(spark, dst, "statscols", registeredCols(spark, src))
    recordLayout(spark, dst, layoutProperty(spark, src))
    writeConstraints(spark, dst, constraints(spark, src))
    writeGeneratedColumns(spark, dst, generatedColumns(spark, src))
    retiredPhysicals(spark, src).foreach(addRetired(spark, dst, _))
    // identity declarations travel too, with the SOURCE's effective
    // high-water pinned as the clone's v1 sidecar — allocations on the
    // clone can never collide with values it inherited
    val idents = identityColumns(spark, src)
    if (idents.nonEmpty) {
      writeIdentityColumns(spark, dst, idents)
      writeSidecarLines(spark, dst, ofVersion(1L, "idhw"),
        idents.map { case (c, _, _) =>
          s"$c\t${identityHighWater(spark, src, v, c)}" })
    }
    require(commit(spark, dst, 1L,
      manifestEntries(spark, src, v),
      tableSchema(spark, src, Some(v)),
      deletionVectorRows(spark, src, Some(v)), "CLONE"),
      s"clone lost a commit race: $dst")
    1L
  }

  // ------------------------------------------------------------------
  // tags (named, vacuum-protected snapshots)
  // ------------------------------------------------------------------

  private def tagName(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"bad tag name: '$name'")
    s"tag.$name"
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
    require(manifestExists(spark, path, v),
      s"cannot tag $path v$v: no such version")
    writeSidecar(spark, path, tagName(name), v.toString)
    v
  }

  /** All tags as name → version. */
  def tags(spark: SparkSession, path: String): Map[String, Long] =
    sidecars(spark, path, "tag.").map { case (n, v) => n -> v.trim.toLong }

  /** Read the snapshot a tag names. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    read(spark, path, Some(tags(spark, path).getOrElse(name,
      sys.error(s"no such tag on $path: $name"))))

  /** Drop a tag (the version becomes vacuumable again). */
  def dropTag(spark: SparkSession, path: String, name: String): Unit =
    dropSidecar(spark, path, tagName(name))

  // ------------------------------------------------------------------
  // branches (writable refs with OCC squash publish)
  // ------------------------------------------------------------------

  /** A `source\tversion` sidecar. */
  private def sourceRef(spark: SparkSession, path: String,
      name: String): Option[(String, Long)] =
    readSidecar(spark, path, name).map { t =>
      val txt = t.trim
      val i = txt.lastIndexOf('\t')
      (txt.substring(0, i), txt.substring(i + 1).toLong)
    }

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
    // a source-side NAMED REF (`branch.<basename>` in the source's log)
    // makes the branch addressable from the source path in pure SQL:
    // `SELECT … FROM lake.`<src>@<name>``. LAST WINS: cutting a second
    // branch with the same basename re-points the ref (the branch's
    // identity stays its directory — only the SQL shorthand moves);
    // give branches distinct basenames for stable addressing.
    val v = Versioned.clone(spark, src, dst)
    writeSidecar(spark, dst, "_branch_base", s"$src\t$base\n")
    writeSidecar(spark, src, s"branch.${new Path(dst).getName}", dst)
    v
  }

  /** The directory a source-side branch ref points at, if the ref
    * exists. Does NOT check liveness — callers decide. */
  def branchTarget(spark: SparkSession, src: String,
      name: String): Option[String] =
    readSidecar(spark, src, s"branch.$name").map(_.trim)

  /** Branch refs recorded on `src`: name → branch directory. */
  def branches(spark: SparkSession, src: String): Map[String, String] =
    sidecars(spark, src, "branch.").map { case (n, t) => n -> t.trim }

  /** The (source path, base version) a branch was cut from. */
  def branchBase(spark: SparkSession, path: String): Option[(String, Long)] =
    sourceRef(spark, path, "_branch_base")

  /** PUBLISH a branch back to its source: ONE squash commit on the
    * source referencing the branch head's manifest / schema / deletion
    * vector. By default zero data movement — branch-staged files are
    * referenced IN PLACE, exactly like [[clone]]'s mixed-root reads —
    * and the source records the dependency: the publish stamps a
    * `published` marker in the branch's log, which `dropTable` and
    * [[vacuum]] on the BRANCH respect (a branch the source still reads
    * through refuses to die; its source-referenced files are
    * vacuum-protected). `localize = true` instead COPIES the
    * branch-staged files under the source's own data root inside the
    * same commit — one bounded copy of exactly the files the branch
    * staged (never the table), after which the branch directory is
    * disposable. A `compact` on the source localizes a zero-copy
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
    val entries0 = manifestEntries(spark, branchPath, head)
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
          e -> fs(spark, src).makeQualified(
            new Path(dataDir(src), fileKey(e))).toString
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
      s"PUBLISH($nCommits commits)"),
      s"publish refused: $src moved past v$base since the " +
        "branch was cut — re-branch from the current tip and replay")
    if (!localize)
      // shallow-publish contract marker: the source now reads through
      // this branch directory — branch dropTable/vacuum check it
      writeSidecar(spark, branchPath, "published", s"$src\t$v\n")
    v
  }

  /** The (source, version) a zero-copy publish of this branch landed
    * as, if one did. */
  def publishedInfo(spark: SparkSession,
      path: String): Option[(String, Long)] =
    sourceRef(spark, path, "published")

  /** How many of the CURRENT version's files live outside this
    * table's own data root — the shallow-clone / zero-copy-publish
    * dependency count, surfaced in `CALL lake.describe` table health
    * so an operator can see a foreign-root read dependency before it
    * bites (a `compact` localizes and drives it to zero). */
  def foreignFileCount(spark: SparkSession, path: String): Long =
    files(spark, path).count(!isUnderDataRoot(_, path)).toLong

  /** Files under `root`'s data dir that `src`'s SURVIVING versions
    * still reference — the zero-copy publish dependency set. Empty
    * once the source has compacted past the publish and vacuumed the
    * referencing versions (or been dropped). O(source versions ×
    * manifest) driver metadata, only ever paid by branch-side
    * dropTable/vacuum of a published branch. */
  private[ops] def foreignRefsInto(spark: SparkSession, src: String,
      root: String): Set[String] =
    versions(spark, src).iterator.flatMap(v => readManifest(spark, src, v))
      .filter(isUnderDataRoot(_, root)).toSet

  // ------------------------------------------------------------------
  // retention
  // ------------------------------------------------------------------

  /** Delete data files referenced by NO surviving manifest and drop
    * all but the last `keepLast` manifests (with their schema,
    * deletion-vector, and operation sidecars) — except versions a
    * [[tag]] protects, which are retained with their files until the
    * tag is dropped. Returns deleted file count. Readers of retained
    * versions are unaffected. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    vacuumImpl(spark, path) { versions =>
      versions.map(_._1).splitAt(math.max(0, versions.length - keepLast))
    }
  }

  /** AGE-BASED retention (Delta's `VACUUM … RETAIN`): drop every
    * version whose COMMIT TIME (the manifest's publish mtime, the
    * same clock `versionAsOf` travels on) is before `tsMillis` —
    * except the current tip and tag-protected versions, exactly like
    * [[vacuum]]. The two compose: count-based retention bounds
    * metadata, age-based retention expresses the compliance contract
    * ("nothing older than 30 days survives"). */
  def vacuumOlderThan(spark: SparkSession, path: String,
      tsMillis: Long): Int =
    vacuumImpl(spark, path) { versions =>
      val (drop, keep) = versions.init.partition(_._2 < tsMillis)
      (drop.map(_._1), keep.map(_._1) :+ versions.last._1)
    }

  /** Retention core: `split` divides the (version, commit time) list
    * into (drop, keep); tagged versions are kept whatever it says. */
  private def vacuumImpl(spark: SparkSession, path: String)(
      split: Seq[(Long, Long)] => (Seq[Long], Seq[Long])): Int = {
    val versions = versionTimes(spark, path)
    if (versions.isEmpty) return 0
    // tagged versions are retention-protected (Iceberg ref semantics)
    val tagged = tags(spark, path).values.toSet
    val (drop0, keep0) = split(versions)
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
    val f = fs(spark, path)
    val deleted = parquetFiles(spark, dataDir(path))
      .count(p => !live.contains(p.toString) && f.delete(p, false))
    expire(spark, path, drop, keep)
    deleted
  }
}
