package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import Versioned.{Erasure, ExpectStats, MergeStats, Updated}

/** The lake's writes: initialization, staging and per-file stats, the
  * MERGE family, appends (driver and executor-staged), and row-level
  * DELETE / UPDATE.
  *
  * MERGE semantics (whole-row, the standard upsert): a source row
  * matching the target on `keys` → the source version wins (UPDATE);
  * no match → INSERT; source rows flagged by `deleteCol` → DELETE
  * (matched target rows disappear, the flagged source rows are not
  * inserted).
  *
  *  - '''Partition-scoped rewrite.''' MERGE into a partitioned
  *    table rewrites only the partitions present in the source batch
  *    and those where a source key lives now (a row may move):
  *    untouched partitions' files carry over into the new manifest BY
  *    REFERENCE (never copied — at 100 TB the daily delta touches
  *    days, not the table). Finding the keys' partitions is one
  *    key-column scan of the other partitions, skipped when the keys
  *    fix the partition (the layout column is a key, or a hidden
  *    transform reads key columns alone). Within touched partitions
  *    the surviving target rows and the source rows are one anti-join
  *    + union, shuffling only those partitions' data. The layout is the
  *    table's own ([[partitionLayout]], recorded by [[init]] or
  *    [[create]]): every writer here resolves it through
  *    [[withLayout]], so no caller restates it.
  *  - '''Merge-on-read deletes.''' [[deleteVectored]] commits a DELETE
  *    as a deletion vector — (file, row position) pairs stored beside
  *    the manifest — rewriting ZERO data files; compaction
  *    materializes and drops it. [[delete]] remains the copy-on-write
  *    path. At 100 TB with frequent small erasures, vectored delete is
  *    the right amortization: O(deleted rows) write now, one bounded
  *    rewrite at the next compaction.
  */
trait VersionedWrites extends VersionedLog { self: Versioned.type =>

  // ------------------------------------------------------------------
  // per-file column statistics (data skipping inside the manifest)
  // ------------------------------------------------------------------

  /** The table's registered stats columns (set at [[init]]); every
    * commit computes min/max for ITS staged files over these, carried
    * files keep their manifest stats untouched. Lines prefixed
    * `bloom:` register per-file BLOOM sidecars instead (see
    * `readPoint`). */
  def statsColumns(spark: SparkSession, path: String): Seq[String] =
    registeredCols(spark, path).filterNot(_.startsWith("bloom:"))

  /** Columns with per-file Bloom membership sidecars. */
  def bloomColumns(spark: SparkSession, path: String): Seq[String] =
    registeredCols(spark, path).collect {
      case c if c.startsWith("bloom:") => c.stripPrefix("bloom:") }

  private[ops] def registeredCols(spark: SparkSession,
      path: String): Seq[String] = sidecarLines(spark, path, "statscols")

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
  private[ops] def perStagedFile[T](spark: SparkSession, staged: Seq[String])(
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

  /** Per-staged-file statistics ([[FileStats]]) of the registered
    * stats and Bloom columns — ONE bounded aggregate over the
    * just-staged batch (not the table), grouped by file: min/max,
    * Bloom filter, HLL sketch and null count per column, as the codec
    * maps each type. Every staged file carries `#rows` and `#bytes`.
    * `written` is the schema the files were staged with, under
    * PHYSICAL names (what stats key on). Returned map is keyed by file
    * NAME. */
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
        fileKey(p0) -> FileStats.encode(FileStats(Some(n), Some(b)))
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
    def inputs(of: (Column, DataType) => Option[Column]) =
      present.flatMap(c => of(col(c), schema(c).dataType).map(c -> _))
    val bounded = inputs(FileStats.boundInput)
    val sketched = inputs(FileStats.sketchInput)
    val aggs = bounded.flatMap { case (c, in) =>
        Seq(min(in).as(s"mn_$c"), max(in).as(s"mx_$c")) } ++
      bloomPresent.map(c => FileStats.loggedBytes(graft.functions.Bloom
        .bloomAgg(col(c), bloomExpected, bloomBits)).as(s"bl_$c")) ++
      sketched.flatMap { case (c, in) => Seq(
        FileStats.loggedBytes(hll_sketch_agg(in)).as(s"hl_$c"),
        // exact non-null count: the CBO's AggregateEstimation demands
        // BOTH distinctCount and nullCount (hasCountStats) before it
        // trusts an NDV — a sketch without the null count is ignored
        count(col(c)).as(s"nn_$c")) } :+
      count(lit(1)).as("__n")
    val rows = df.groupBy(col(fileCol)).agg(aggs.head, aggs.tail: _*).collect()
    rows.map { r =>
      def get(name: String): Any = r.get(r.fieldIndex(name))
      val file = r.getString(r.fieldIndex(fileCol))
      val n = r.getLong(r.fieldIndex("__n"))
      file -> FileStats.encode(FileStats(Some(n), bytes.get(file),
        bloomPresent.flatMap(c => Option(get(s"bl_$c")).map(c -> _.toString)),
        sketched.flatMap { case (c, _) => Option(get(s"hl_$c")).map(b =>
          c -> (b.toString, n - r.getLong(r.fieldIndex(s"nn_$c")))) },
        bounded.flatMap { case (c, _) => FileStats.boundOf(schema(c).dataType,
          get(s"mn_$c"), get(s"mx_$c")).map(c -> _) }))
    }.toMap
  }

  /** Staged paths → manifest entries carrying freshly computed stats:
    * per-file `#rows` ALWAYS (footer-read when nothing else is
    * registered), min/max + Bloom for the registered columns. */
  private[ops] def stagedEntries(spark: SparkSession, path: String,
      staged: Seq[String],
      written: StructType): Seq[(String, Option[String])] = {
    val stats = statsJsonFor(spark, path, staged, written,
      statsColumns(spark, path), bloomColumns(spark, path))
    staged.map(p => (p, stats.get(fileKey(p))))
  }

  // ------------------------------------------------------------------
  // staging
  // ------------------------------------------------------------------

  /** Stage a batch's rows as immutable files under a UNIQUE
    * `data/gbatch=<v>-<uuid>/` directory and return (dir, paths, the
    * schema written under physical names). The uuid suffix is what
    * makes the optimistic-concurrency story sound: two writers racing
    * toward the same version stage into DISJOINT directories, so
    * neither the loser's overwrite nor its post-loss cleanup can touch
    * the winner's committed files. (The gbatch value is
    * partition-style only so mixed-batch manifests present one
    * consistent directory layout; the column is dropped on read, so
    * the suffix is invisible to consumers.) */
  private[ops] def stage(df: DataFrame, path: String, v: Long,
      partitionBy: Option[String],
      logicalSchema: Option[StructType] = None)
      : (Path, Seq[String], StructType) = {
    val dir = batchDir(path, v)
    // under column mapping, files (and partition directories) carry
    // PHYSICAL names; the frame arrives logical
    val (dfW, pcW) = logicalSchema match {
      case Some(s0) if hasMapping(s0) =>
        val m = s0.fields.map(f => f.name -> physicalOf(f)).toMap
        (toPhysical(df, s0), partitionBy.map(c => m.getOrElse(c, c)))
      case _ => (df, partitionBy)
    }
    val w = dfW.write.mode("overwrite")
    pcW.fold(w)(c => w.partitionBy(c)).parquet(dir.toString)
    (dir, parquetFiles(df.sparkSession, dir).map(_.toString), dfW.schema)
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
  private[ops] def ensureManifestNonEmpty(df: DataFrame, stagedDir: Path,
      staged: Seq[String], carriedNonEmpty: Boolean,
      logicalSchema: Option[StructType] = None): Seq[String] =
    if (staged.nonEmpty || carriedNonEmpty) staged
    else {
      logicalSchema.fold(df)(toPhysical(df, _))
        .limit(0).coalesce(1).write.mode("overwrite")
        .parquet(stagedDir.toString)
      parquetFiles(df.sparkSession, stagedDir).map(_.toString)
    }

  /** Initialize the table with `df` as version 1. `partitionCol`
    * records the table's partition layout once, as the property every
    * later writer resolves ([[partitionLayout]]): a bare column name is
    * an IDENTITY layout (files land under real `col=value`
    * directories, partition pruning sees the user's column); any other
    * SQL expression over the table's columns (`"c div 100"`,
    * `"pmod(k, 16)"`, `"to_date(ts)"`) is Iceberg-style HIDDEN
    * partitioning — the derived value is materialized as the real
    * column [[hiddenPartColName]] (so deletion vectors, stats, CDC and
    * time travel work unchanged), re-derived for every written row,
    * and hidden again by SQL surfaces and [[readHidden]]. `statsCols`
    * registers per-file min/max statistics columns: every commit from
    * then on computes exact stats for ITS staged files (one bounded
    * aggregate over the batch), carried files keep theirs in the
    * manifest, and `readRange` prunes file reads by interval overlap —
    * the Delta/Iceberg data-skipping mechanic, living in the manifest
    * where a million-file table wants it. */
  def init(df: DataFrame, path: String,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      opName: String = "INIT"): Long = {
    val spark = df.sparkSession
    require(currentVersion(spark, path).isEmpty,
      s"table already initialized: $path")
    writeSidecarLines(spark, path, "statscols",
      statsCols ++ bloomCols.map("bloom:" + _))
    recordLayout(spark, path, partitionCol)
    val (dfL, pc) = withLayout(df, path, df.schema)
    // a dynamic-partition write of an EMPTY frame creates zero files
    // (SQL CREATE TABLE … PARTITIONED BY lands here); fall back to one
    // schema-only file so v1 is readable
    val (dir, staged0, written) = stage(dfL, path, 1L, pc)
    val staged = ensureManifestNonEmpty(dfL, dir, staged0,
      carriedNonEmpty = false)
    require(commit(spark, path, 1L,
      stagedEntries(spark, path, staged, written), Some(dfL.schema), None,
      opName),
      s"init lost a commit race: $path")
    1L
  }

  // ------------------------------------------------------------------
  // write admission: identity marks, CHECK images, logged schema
  // ------------------------------------------------------------------

  /** Identity admission for a batch committed on top of version `cur`:
    * a column the batch omits is filled by `allocate(batch, column,
    * high-water, step)` (returning the filled batch and how many values
    * it drew), a supplied one advances the mark past its extreme in
    * step direction. Returns the batch and the `idhw` sidecar carrying
    * the new marks (none without identity columns). */
  private def assignIdentities(spark: SparkSession, path: String, cur: Long,
      batch: DataFrame)(
      allocate: (DataFrame, String, Long, Long) => (DataFrame, Long))
      : (DataFrame, Seq[(String, String)]) = {
    var out = batch
    val marks = identityColumns(spark, path).map { case (c, _, step) =>
      val hw = identityHighWater(spark, path, cur, c)
      val next =
        if (!out.columns.contains(c)) {
          val (allocated, n) = allocate(out, c, hw, step)
          out = allocated
          hw + step * n
        } else {
          val m = out.agg(if (step > 0) max(col(c)) else min(col(c))).head()
          val sup = if (m.isNullAt(0)) hw else m.getLong(0)
          if (step > 0) math.max(hw, sup) else math.min(hw, sup)
        }
      s"$c\t$next"
    }
    (out, if (marks.isEmpty) Seq.empty
      else Seq("idhw" -> marks.mkString("", "\n", "\n")))
  }

  /** The rest of write admission once a batch is planned, shared by
    * [[merge]] and [[append]]. On the `first` attempt CHECK constraints
    * veto the batch images `inserts` — carried rows were validated by
    * the commit that wrote them, so the cost is O(batch), never the
    * table, and retries keep the verdict (the source is unchanged);
    * under additive evolution the images are aligned to `full` so a
    * constraint on a carried-only column reads NULL (passes, SQL
    * semantics) instead of failing analysis. Returns the schema the
    * commit logs: `planned` fields, where a field the current schema
    * `cur` has becomes `keep(old, planned)` and a new one whose name
    * shadows a live or RETIRED physical name gets a FRESH physical
    * name — otherwise old carried files would resurface foreign/dead
    * bytes under the new column. */
  private def admit(spark: SparkSession, path: String, first: Boolean,
      inserts: DataFrame, full: StructType, evolveSchema: Boolean,
      cur: Option[StructType], planned: Seq[StructField])(
      keep: (StructField, StructField) => StructField): StructType = {
    if (first)
      enforceConstraints(spark, path,
        if (evolveSchema) withNullColumns(inserts, full) else inserts)
    cur.fold(StructType(planned)) { cs =>
      lazy val taken =
        cs.fields.map(physicalOf).toSet ++ retiredPhysicals(spark, path)
      StructType(planned.map(f => cs.fields.find(_.name == f.name)
        .fold(freshPhysical(f, taken))(keep(_, f))))
    }
  }

  // ------------------------------------------------------------------
  // MERGE and APPEND
  // ------------------------------------------------------------------

  /** MERGE `source` into the table (semantics in the trait doc).
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
    val hasIdentity = identityColumns(spark, path).nonEmpty
    // table-metadata snapshot for the rebase conflict check: a
    // concurrent constraint / generated-column / skipping-registration
    // change means our pre-staging validation may be stale
    val meta0 = metadataFingerprint(spark, path)
    occ(spark, path, "merge", baseVersion) { (cur, first) =>
      val next = cur + 1
      val curSchema = tableSchema(spark, path, Some(cur))
      val (sourceL, layoutCol) =
        withLayout(sourceG, path, schemaOf(spark, path, cur))
      // under column mapping, partition DIRECTORIES carry the
      // physical name — attribution and staging must speak it
      def physOf(c: String): String = curSchema
        .flatMap(_.fields.find(_.name == c)).map(physicalOf).getOrElse(c)

      val (carriedTop, hitList, rewriteDf, touchedSegs) = layoutCol match {
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
          def dirsOf(df: DataFrame): Seq[String] = df
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
          def split(ps: Seq[String]) =
            splitTopByPartitions(spark, path, cur, physOf(pc), ps.toSet)
          val batchDirs = dirsOf(sourceL)
          val (keep0, hit0) = split(batchDirs)
          // a source key may live OUTSIDE the batch's partitions (an
          // image that moves its row, a delete image without the
          // partition value); unless the keys fix the partition, the
          // partitions holding a source key join the touched set, so
          // the anti-join below replaces the old row
          val others = readManifest(spark, path, cur)
            .filterNot(hit0.map(_._1).toSet)
          val homes =
            if (others.isEmpty || keysFixPartition(spark, path, keys, pc))
              Seq.empty
            else dirsOf(readLive(spark, path, cur, Some(others),
              keepMeta = false).join(source.select(keys.map(col): _*)
              .distinct(), keys, "left_semi"))
          val touched = (batchDirs ++ homes).distinct
          val (keepTop, hitE) =
            if (homes.forall(batchDirs.contains)) (keep0, hit0)
            else split(touched)
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
      // in the already-read rewrite side — the touched partitions
      // hold every source key's old row). Allocation ranks the batch
      // by the merge keys, so the assigned values are deterministic
      // and SQL-replayable.
      val (sourceI, idExtras) = assignIdentities(spark, path, cur, sourceL) {
        (batch, c, hw, step) =>
          val prevId = "__graft_prev_id"
          val existing = rewriteDf
            .select((keys.map(col) :+ col(c).as(prevId)): _*)
          val joined = batch.join(existing, keys, "left")
          val matched = joined.filter(col(prevId).isNotNull)
            .withColumn(c, col(prevId)).drop(prevId)
          val (allocated, nIns) = withAllocatedIds(
            joined.filter(col(prevId).isNull).drop(prevId), keys, c, hw, step)
          (matched.unionByName(allocated), nIns)
      }

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
      // the logged schema must CARRY each field's column-mapping
      // metadata (the plan-derived merged.schema lost it). Computed
      // BEFORE staging: the stage rename must speak it.
      val outSchema = admit(spark, path, first, inserts, merged.schema,
        evolveSchema, curSchema, merged.schema.fields.toSeq)(
        (old, f) => f.copy(metadata = old.metadata))

      // deletion vectors on rewritten files are materialized by the
      // rewrite; vectors on carried files carry with them (full
      // rewrite → no carried files → vector dropped entirely)
      val dvCarried = carriedTop.flatMap { _ =>
        val hitNames = hitList.map(fileKey).toSet
        dvWithout(deletionVectorRows(spark, path, Some(cur)))(hitNames)
      }
      val (stagedDir, staged0, written) = stage(merged, path, next,
        layoutCol, Some(outSchema))
      val staged = ensureManifestNonEmpty(merged, stagedDir,
        staged0, carriedTop.exists(_.nonEmpty), Some(outSchema))
      val stagedE = stagedEntries(spark, path, staged, written)
      // a lost race first tries the fast path: re-commit the
      // ALREADY-STAGED files against the winner's manifest when every
      // commit since `cur` is disjoint from our partition footprint.
      // Only a real overlap re-merges. Identity-bearing merges never
      // rebase: two racing allocators extending from the same
      // high-water would collide, so the retry recomputes allocation
      // against the winner instead.
      val fastPath = layoutCol.filter(_ => !hasIdentity).map { pc =>
        Rebase(meta0, opName + "+REBASE", newest =>
          partitionRebase(spark, path, cur, newest, physOf(pc),
            touchedSegs.toSet, hitList, stagedE))
      }
      Right(Commit(carriedTop.fold(stagedE)(sealTop(spark, path, _, stagedE)),
        Some(outSchema), dvCarried, opName, identity, Some(stagedDir),
        idExtras, fastPath))
    }
  }

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
    * materialized those rows). None on any overlap. A winner that put
    * one of the merge's keys in a partition outside `touched` is not
    * seen (that would scan the winners' files): concurrent writers of
    * one key break the single-writer-per-key contract, as in
    * [[mergeInto]]. */
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

  /** Whether a row's merge `keys` fix its partition under layout
    * column `pc`: an identity layout on a key column, or a hidden
    * transform over key columns alone. Then a source key can only
    * live in the partition its row routes to. */
  private def keysFixPartition(spark: SparkSession, path: String,
      keys: Seq[String], pc: String): Boolean =
    keys.contains(pc) || layoutProperty(spark, path)
      .filter(_ => pc == hiddenPartColName).exists { t =>
        val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(t).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }
        refs.nonEmpty && refs.forall(keys.contains)
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
      evolveSchema: Boolean = false, opName: String = "APPEND"): Long = {
    val spark = source.sparkSession
    val gensSupplied = generatedColumns(spark, path)
      .filter { case (c, _) => source.columns.contains(c) }
    val sourceG = computeGeneratedColumns(spark, path, source)
    validateGeneratedColumns(spark, path, sourceG, gensSupplied)
    val hasIdentity = identityColumns(spark, path).nonEmpty
    val meta0 = metadataFingerprint(spark, path)
    occ(spark, path, "append") { (cur, first) =>
      val curSchema = tableSchema(spark, path, Some(cur))
      val tgt = schemaOf(spark, path, cur)
      val (sourceL, layoutCol) = withLayout(sourceG, path, tgt)
      var src = sourceL
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
      // identity: every row is an insert; allocation is ranked over
      // the full row so the assigned multiset is deterministic
      val (srcI, idExtras) = assignIdentities(spark, path, cur, src) {
        (batch, c, hw, step) =>
          withAllocatedIds(batch, batch.columns.toSeq, c, hw, step)
      }
      val inserts =
        if (evolveSchema) srcI
        else srcI.select(tgt.fieldNames.toSeq.map(col): _*)
      val planned = curSchema.fold(inserts.schema.fields.toSeq) { cs =>
        cs.fields.toSeq.map(f =>
          widenedCols.get(f.name).fold(f)(dt => f.copy(dataType = dt))) ++
          (if (!evolveSchema) Seq.empty
          else inserts.schema.fields.filterNot(f => cs.fieldNames.contains(f.name)))
      }
      val outSchema = admit(spark, path, first, inserts, tgt, evolveSchema,
        curSchema, planned)((_, f) => f)
      val (stagedDir, staged, written) = stage(inserts, path, cur + 1,
        layoutCol, Some(outSchema))
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
        Option.when(!hasIdentity)(Rebase(meta0, opName, v => Some(at(v))))))
    }
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
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF(pid, off)
    val out = local.join(broadcast(offDf), Seq(pid))
      .withColumn(idCol, lit(hw) + lit(step) * (col(off) + col(lrn)))
      .drop(pid, lrn, off)
    (out, n)
  }

  // ------------------------------------------------------------------
  // executor-staged commits (the connector's write paths)
  // ------------------------------------------------------------------

  /** Whether the connector may commit executor-staged files directly
    * (the real V2 write path): tables with generated/identity columns
    * need in-plan computation, column-mapped tables need
    * physical-name translation, and partitioned tables need the
    * partition writer — those route through [[append]]'s driver API
    * instead. */
  private[graft] def canStageDirect(spark: SparkSession,
      path: String): Boolean =
    generatedColumns(spark, path).isEmpty &&
      identityColumns(spark, path).isEmpty &&
      layoutProperty(spark, path).isEmpty &&
      !tableSchema(spark, path, Some(resolve(spark, path, None)))
        .exists(hasMapping)

  /** The (queryId, epochId) transaction stamp of version `v`, if the
    * commit carried one (streaming-sink epochs) — Delta's txn action. */
  private[graft] def txnAt(spark: SparkSession, path: String,
      v: Long): Option[(String, Long)] =
    readSidecar(spark, path, ofVersion(v, "txn")).flatMap { t =>
      val txt = t.trim
      val i = txt.indexOf('\t')
      if (i <= 0) None else Some((txt.substring(0, i),
        txt.substring(i + 1).toLong))
    }

  /** Commit ALREADY-STAGED files as an append — the streaming sink's
    * epoch commit. The files were written by executor tasks under the
    * table's staging convention; this stamps stats, enforces CHECK
    * constraints on exactly the staged batch (one bounded read),
    * carries every prior file and the deletion vector by reference,
    * and records the optional `txn` (queryId, epochId) sidecar the
    * sink's idempotence check reads. Tables with generated or
    * identity columns, or a partition layout, are refused:
    * those writers need [[append]]/[[merge]]'s in-plan machinery. */
  private[graft] def appendStaged(spark: SparkSession, path: String,
      files: Seq[String], txn: Option[(String, Long)],
      opName: String = "STREAM-APPEND"): Long = {
    require(generatedColumns(spark, path).isEmpty &&
      identityColumns(spark, path).isEmpty,
      s"streaming sink refuses generated/identity tables: $path — " +
        "use foreachBatch + Versioned.append")
    val cur0 = resolve(spark, path, None)
    require(!tableSchema(spark, path, Some(cur0)).exists(hasMapping),
      s"streaming sink refuses column-mapped tables: $path — the " +
        "executor writers speak the QUERY schema, which carries no " +
        "physical-name mapping; use foreachBatch + Versioned.append")
    require(layoutProperty(spark, path).isEmpty,
      s"streaming sink refuses partition-structured tables: $path — " +
        "use foreachBatch + Versioned.append")
    if (files.isEmpty) return cur0
    // the sink stages rows in the table's own schema
    val written = schemaOf(spark, path, cur0)
    enforceConstraints(spark, path,
      scan(spark, path, None, written, Some(files), keepMeta = false))
    val stagedE = stagedEntries(spark, path, files, written)
    val extras = txn.map { case (q, e) => "txn" -> s"$q\t$e\n" }.toSeq
    occ(spark, path, "appendStaged") { (cur, _) =>
      Right(Commit(segmentedTop(spark, path, cur, stagedE),
        tableSchema(spark, path, Some(cur)),
        deletionVectorRows(spark, path, Some(cur)), opName, identity,
        extras = extras))
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
    require(partitionLayout(spark, path).forall(_.transform.isEmpty),
      s"SQL row-level DML refuses hidden-transform tables: $path — " +
        "updated row images would lack the derived partition column; " +
        "use Versioned.merge/updateVectored (identity layouts are " +
        "fine: the partition column is a real user column)")
    val newDv: Option[DvRows] =
      if (dvStagedDirs.isEmpty) None else Some(stagedDv(spark, dvStagedDirs))
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
        val curKeys = manifestEntries(spark, path, cur)
          .map(e => fileKey(e._1)).toSet
        val stale = d.keys.toSeq.filterNot(curKeys)
        require(stale.isEmpty,
          s"row-level delta is stale: ${stale.length} referenced " +
            "file(s) left the manifest (concurrent rewrite?) — re-run " +
            s"the statement. First: ${stale.take(3).mkString(", ")}")
      }
      val prev = deletionVectorRows(spark, path, Some(cur))
      Right(Commit(segmentedTop(spark, path, cur, stagedE),
        tableSchema(spark, path, Some(cur)),
        newDv.fold(prev)(n => Some(dvUnion(prev, n))), op, identity))
    }
  }

  // ------------------------------------------------------------------
  // MERGE INTO and MERGE under expectations
  // ------------------------------------------------------------------

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
    * evaluation is ONE outer join of the source against the snapshot
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
      insertCond: Option[Column] = None): MergeStats = {
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
    // columns, delete rows the matched target row (merge drops them
    // before insert; their partition value scopes the rewrite)
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
          .otherwise(col(s"t.$c"))
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
      val v = merge(images.drop(clFlag), path, keys,
        deleteCol = Some(delFlag), opName = "MERGE_INTO")
      MergeStats(v, nUpd, nDel, nIns)
    } finally images.unpersist()
  }

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
        else merge(clean, path, keys, deleteCol,
          opName = "MERGE_EXPECT")
      ExpectStats(v, nClean, nBad)
    } finally flagged.unpersist()
  }

  // ------------------------------------------------------------------
  // DELETE and UPDATE
  // ------------------------------------------------------------------

  /** DELETE every row matching `pred` (copy-on-write), rewriting ONLY
    * the files that contain at least one matching LIVE row; all other
    * files carry into the new manifest BY REFERENCE, as do their
    * deletion-vector entries. This is the Delta `DELETE` shape and
    * the right-to-be-forgotten primitive: erasing one user from a
    * 100 TB table costs I/O proportional to that user's FILE FOOTPRINT
    * (find pass reads only the predicate's columns; rewrite pass reads
    * only the hit files), not to the table — and if ingest clustered
    * the table on the erasure key (`compact` with a key layout), the
    * footprint is a handful of files. Rows where `pred` evaluates NULL
    * are RETAINED (SQL DELETE erases only where the predicate IS
    * TRUE). For frequent small erasures prefer [[deleteVectored]]
    * (merge-on-read) and amortize the rewrite into compaction.
    *
    * The survivors are staged under the table's own partition layout.
    *
    * Concurrency: the same optimistic loop as [[merge]] — losing the
    * commit race re-resolves current and re-runs the find pass, so a
    * racing writer's committed rows are never clobbered. */
  def delete(spark: SparkSession, path: String, pred: Column): Erasure =
    occ(spark, path, "delete") { (cur, _) =>
      val curEntries = manifestEntries(spark, path, cur)
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
        val schema = schemaOf(spark, path, cur)
        val (survivors, layoutCol) =
          withLayout(hitLive.filter(!coalesce(pred, lit(false))), path, schema)
        val (stagedDir, staged0, written) = stage(survivors, path, cur + 1,
          layoutCol, Some(schema))
        val staged = ensureManifestNonEmpty(survivors, stagedDir,
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
    * live rows; reads skip the vector's row positions, compaction
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
      val curEntries = manifestEntries(spark, path, cur)
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

  /** UPDATE every row matching `pred` as MERGE-ON-READ: the matched
    * live rows join the deletion vector (their files are NOT
    * rewritten) and their updated copies — `set` expressions applied
    * over the old row, every other column carried — are staged as a
    * new batch appended to the SAME manifest. Write cost is O(updated
    * rows); readers see old-row-out/new-row-in atomically at the
    * manifest swap; compaction later folds the vector away. Rows
    * where `pred` evaluates NULL are untouched (SQL UPDATE semantics).
    * `set` values are cast back to each column's declared type so the
    * staged batch can never fork the physical schema, and the copies
    * are staged under the table's partition layout (a changed
    * partition value moves the row). */
  def updateVectored(spark: SparkSession, path: String, pred: Column,
      set: Map[String, Column]): Updated = {
    require(set.nonEmpty, "updateVectored needs at least one SET column")
    occ(spark, path, "updateVectored") { (cur, first) =>
      val curEntries = manifestEntries(spark, path, cur)
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
        val (images, layoutCol) = withLayout(updated, path, schema)
        val (stagedDir, staged, written) = stage(images, path, cur + 1,
          layoutCol, Some(schema))
        Right(Commit(segmentedTop(spark, path, cur,
            stagedEntries(spark, path, staged, written)), Some(schema),
          Some(dvUnion(deletionVectorRows(spark, path, Some(cur)),
            dvOf(newDv))),
          "UPDATE_VECTORED", Updated(_, curEntries.length, updatedRows),
          Some(stagedDir)))
      }
    }
  }
}
