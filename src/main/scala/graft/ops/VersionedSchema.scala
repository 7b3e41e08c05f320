package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import Versioned.{ConstraintViolation, Layout}

/** The lake's schema and table properties: column mapping (ADD /
  * RENAME / DROP COLUMN and type widening as metadata-only commits),
  * CHECK constraints, generated and identity columns, the partition
  * layout, and CREATE / DROP TABLE. Properties live in the log's
  * sidecars; schema changes are commits that carry the manifest
  * forward untouched. */
trait VersionedSchema extends VersionedLog { self: Versioned.type =>

  /** One string capturing every piece of table metadata a write
    * validates against BEFORE staging — CHECK constraints, generated
    * columns, identity columns, skipping registrations. */
  protected def metadataFingerprint(spark: SparkSession,
      path: String): String =
    (constraints(spark, path).map { case (n, p) => s"c:$n\t$p" } ++
      generatedColumns(spark, path).map { case (c, e) => s"g:$c\t$e" } ++
      identityColumns(spark, path)
        .map { case (c, s0, st) => s"i:$c\t$s0\t$st" } ++
      statsColumns(spark, path).map("s:" + _) ++
      bloomColumns(spark, path).map("b:" + _)).mkString("\n")

  // ---------------------------------------------------------------- //
  // column mapping (RENAME COLUMN without rewriting a single file)    //
  // ---------------------------------------------------------------- //

  /** Rename `df`'s columns logical→physical per `schema` (identity
    * when the schema carries no mapping). The write-side twin of the
    * connector reader's column mapping. */
  private[ops] def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    if (!hasMapping(schema)) df
    else {
      val m = schema.fields.map(f => f.name -> physicalOf(f)).toMap
      df.select(df.columns.map(c =>
        col(s"`$c`").as(m.getOrElse(c, c))).toSeq: _*)
    }

  /** `field` with a FRESH physical name when its logical name would
    * shadow a live or retired physical name — old bytes stay dead. */
  private[ops] def freshPhysical(field: StructField,
      taken: Set[String]): StructField =
    if (!taken.contains(field.name)) field
    else field.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(field.metadata)
        .putString(physicalKey, field.name + "_" +
          java.util.UUID.randomUUID().toString.take(8)).build())

  // case-insensitive: Spark resolves identifiers case-insensitively
  // by default, so "P > 0" binds to column p and must block p's rename
  private def mentionsIdent(e: String, c: String): Boolean =
    ("(?i)(^|[^A-Za-z0-9_])" + java.util.regex.Pattern.quote(c) +
      "($|[^A-Za-z0-9_])").r.findFirstIn(e).isDefined

  /** Refuse a change to column `name` while a CHECK constraint, a
    * generated column or a hidden partition transform references it
    * (drop or rebuild those first — the Delta rule). An identity
    * layout does not: its directories keep the physical name. */
  private def requireUnreferenced(spark: SparkSession, path: String,
      name: String, what: String, why: String = ""): Unit = {
    constraints(spark, path).foreach { case (n, p) =>
      require(!mentionsIdent(p, name),
        s"$what: CHECK constraint '$n' references '$name'$why")
    }
    generatedColumns(spark, path).foreach { case (gc, ge) =>
      require(gc != name && !mentionsIdent(ge, name),
        s"$what: generated column '$gc' references '$name'$why")
    }
    partitionLayout(spark, path).flatMap(_.transform).foreach { t =>
      require(!mentionsIdent(t, name),
        s"$what: hidden partition transform references " +
          s"'$name'$why")
    }
  }

  private def requireColumnName(name: String): Unit =
    require(name.nonEmpty && !name.exists(c =>
        c == '\t' || c == '\n' || c == '/' || c == '`' || c == '.'),
      s"bad column name: '$name'")

  /** Version `cur`'s logged schema, which a schema change needs. */
  private def loggedSchema(spark: SparkSession, path: String, cur: Long,
      what: String): StructType =
    tableSchema(spark, path, Some(cur)).getOrElse(
      sys.error(s"$what needs a logged schema: $path"))

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
    requireColumnName(newName)
    requireUnreferenced(spark, path, oldName, "rename blocked")
    occ(spark, path, "renameColumn") { (cur, _) =>
      val schema = loggedSchema(spark, path, cur, "renameColumn")
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
    * column's data. ONE MARKER PER NAME (`retired.d/<name>`), written
    * independently, so concurrent drops can never lose each other's
    * entries the way a read-modify-write of a single list could. */
  private[ops] def retiredPhysicals(spark: SparkSession,
      path: String): Set[String] = sidecars(spark, path, "retired.d/").keySet

  private[ops] def addRetired(spark: SparkSession, path: String,
      name: String): Unit = writeSidecar(spark, path, s"retired.d/$name", "")

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
    requireUnreferenced(spark, path, name, "drop blocked")
    occ(spark, path, "dropColumn") { (cur, _) =>
      val schema = loggedSchema(spark, path, cur, "dropColumn")
      require(schema.fieldNames.contains(name),
        s"no such column on $path: '$name'")
      require(schema.fields.length > 1,
        s"cannot drop the last column of $path")
      val dropped = schema.fields.find(_.name == name).get
      // the PARTITION column lives in directory names and every
      // writer stages by it — block it
      require(!partitionLayout(spark, path, Some(cur)).exists(_.column == name),
        s"cannot drop partition column '$name' of $path")
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
    * strict merge source must supply it, `evolveSchema` sources may).
    * If the name shadows a live or retired PHYSICAL name the new field
    * maps to a fresh physical name, so old bytes stay dead. */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: DataType): Long = {
    requireColumnName(name)
    occ(spark, path, "addColumn") { (cur, _) =>
      val schema = loggedSchema(spark, path, cur, "addColumn")
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
  private[ops] def widens(from: DataType, to: DataType): Boolean = {
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

  /** Widening guard shared by ALTER COLUMN TYPE and append's automatic
    * widening. Widening is metadata-only, so anything that DERIVED
    * values from the narrow type keeps serving stale derivations
    * against post-widen writes: bloom sidecars hash the narrow type
    * through xxhash64 (type-sensitive — a widened probe
    * false-negatives against pre-alter files); a hash-based hidden
    * partition transform or generated column (e.g. xxhash64(col))
    * computes DIFFERENT values for equal logical values, so post-alter
    * rows route to different hidden partitions than pre-alter rows and
    * supplied generated values stop matching their expression; CHECK
    * constraint predicates were vetted against the narrow domain.
    * Rebuild path: drop/recompute the dependent object first, then
    * widen. */
  private[ops] def requireWidenSafe(spark: SparkSession, path: String,
      name: String, via: String): Unit = {
    require(!bloomColumns(spark, path).contains(name),
      s"cannot widen bloom-registered column '$name' of $path$via — " +
        "the per-file bloom sidecars hash the narrow type; compact " +
        "(or re-register) first")
    requireUnreferenced(spark, path, name, s"widen blocked$via",
      s" on $path — a derivation from the narrow type (a hash, a " +
        "vetted domain) would go stale; drop it, widen, rebuild")
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
      val schema = loggedSchema(spark, path, cur, "alterColumnType")
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
  def hasColumnMapping(spark: SparkSession, path: String): Boolean =
    retiredPhysicals(spark, path).nonEmpty ||
      versions(spark, path).exists(v =>
        tableSchema(spark, path, Some(v)).exists(hasMapping))

  // ------------------------------------------------------------------
  // CHECK constraints (table-level invariants enforced on write)
  // ------------------------------------------------------------------

  /** `(key, value)` pairs of a tab-separated line sidecar. */
  private def pairs(spark: SparkSession, path: String,
      name: String): Seq[(String, String)] =
    sidecarLines(spark, path, name).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"malformed $name file for $path: '$line'")
      (line.substring(0, i), line.substring(i + 1))
    }

  private def writePairs(spark: SparkSession, path: String, name: String,
      kvs: Seq[(String, String)]): Unit =
    writeSidecarLines(spark, path, name, kvs.map { case (k, v) => s"$k\t$v" })

  /** The table's CHECK constraints as (name, SQL predicate), in the
    * order they were added. */
  def constraints(spark: SparkSession, path: String): Seq[(String, String)] =
    pairs(spark, path, "constraints")

  private[ops] def writeConstraints(spark: SparkSession, path: String,
      cs: Seq[(String, String)]): Unit = writePairs(spark, path, "constraints", cs)

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

  /** Reject `batch` if any registered constraint evaluates FALSE on
    * any of its rows: one filter + limit(1) pass per constraint over
    * the batch (bounded by batch size, never the table) BEFORE
    * anything is staged. */
  private[ops] def enforceConstraints(spark: SparkSession, path: String,
      batch: DataFrame): Unit =
    constraints(spark, path).foreach { case (n, p) =>
      if (batch.filter(expr(p) <=> lit(false)).limit(1).count() > 0)
        throw new ConstraintViolation(n, p, path)
    }

  // ------------------------------------------------------------------
  // generated columns (GENERATED ALWAYS AS, computed/validated on write)
  // ------------------------------------------------------------------

  /** The table's generated columns as (column, SQL expression), in
    * registration order. */
  def generatedColumns(spark: SparkSession,
      path: String): Seq[(String, String)] = pairs(spark, path, "gencols")

  private[ops] def writeGeneratedColumns(spark: SparkSession, path: String,
      gs: Seq[(String, String)]): Unit = writePairs(spark, path, "gencols", gs)

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
  private[ops] def computeGeneratedColumns(spark: SparkSession, path: String,
      batch: DataFrame): DataFrame =
    generatedColumns(spark, path).foldLeft(batch) { case (df, (c, e)) =>
      if (df.columns.contains(c)) df else df.withColumn(c, expr(e))
    }

  /** Reject supplied generated-column values that disagree with their
    * expression — one filter + limit(1) probe per supplied column,
    * O(batch). */
  private[ops] def validateGeneratedColumns(spark: SparkSession, path: String,
      batch: DataFrame, supplied: Seq[(String, String)]): Unit =
    supplied.foreach { case (c, e) =>
      if (batch.filter(!(col(c) <=> expr(e))).limit(1).count() > 0)
        throw new ConstraintViolation(s"generated($c)", e, path)
    }

  // ------------------------------------------------------------------
  // Identity columns (GENERATED BY DEFAULT AS IDENTITY)
  // ------------------------------------------------------------------

  /** The table's identity columns as (column, start, step). */
  def identityColumns(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] =
    sidecarLines(spark, path, "identity").map { line =>
      val parts = line.split('\t')
      require(parts.length == 3,
        s"malformed identity file for $path: '$line'")
      (parts(0), parts(1).toLong, parts(2).toLong)
    }

  private[ops] def writeIdentityColumns(spark: SparkSession, path: String,
      ids: Seq[(String, Long, Long)]): Unit =
    writeSidecarLines(spark, path, "identity",
      ids.map { case (c, s0, st) => s"$c\t$s0\t$st" })

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
    writeSidecar(spark, path, ofVersion(cur, "idhw"), s"$column\t$hw\n")
    writeIdentityColumns(spark, path, existing :+ ((column, start, step)))
  }

  /** Drop an identity declaration (the column stays, as a plain
    * column; no-op if absent). */
  def dropIdentityColumn(spark: SparkSession, path: String,
      column: String): Unit =
    writeIdentityColumns(spark, path,
      identityColumns(spark, path).filterNot(_._1 == column))

  /** The high-water mark of `column` as of version `v`: the newest
    * `v<i>.idhw` entry at or before `v` — O(versions since the last
    * identity write) small-file reads, never a data scan. */
  private[ops] def identityHighWater(spark: SparkSession, path: String,
      v: Long, column: String): Long =
    (v to 1L by -1L).iterator
      .flatMap(i => pairs(spark, path, ofVersion(i, "idhw")).find(_._1 == column))
      .map(_._2.toLong).nextOption()
      .getOrElse(sys.error(s"no identity high-water for '$column' on $path at v$v"))

  // ------------------------------------------------------------------
  // PARTITION LAYOUT (identity column or Iceberg-style hidden transform)
  // ------------------------------------------------------------------

  /** The hidden derived-partition column — SQL surfaces (catalog
    * schemas) hide it; the engine materializes it. */
  private[graft] final val hiddenPartColName = "__gpart"

  /** The table's recorded layout property (`ptransform`): an identity
    * layout's PHYSICAL column name, or a transform expression. */
  private[ops] def layoutProperty(spark: SparkSession,
      path: String): Option[String] =
    readSidecar(spark, path, "ptransform").map(_.trim)

  /** Record (or, with None, clear) the layout property. */
  private[ops] def recordLayout(spark: SparkSession, path: String,
      layout: Option[String]): Unit =
    writeSidecarLines(spark, path, "ptransform", layout.toSeq)

  /** The recorded layout resolved against `schema`: a field whose
    * PHYSICAL name was recorded is an identity layout on that field's
    * logical name (partition directories keep the physical name, so
    * the layout survives a rename); anything else is a hidden
    * transform materialized as [[hiddenPartColName]]. */
  private def layoutIn(recorded: String, schema: StructType): Layout =
    schema.fields.find(f => physicalOf(f) == recorded)
      .fold(Layout(hiddenPartColName, Some(recorded)))(f =>
        Layout(f.name, None))

  /** The table's partition layout as of `version` (default: current),
    * None for an unpartitioned table. Set once — by [[init]] /
    * [[create]], or re-laid by [[compact]] — and resolved by every
    * writer: callers state WHAT to write, never HOW the table is laid
    * out. */
  def partitionLayout(spark: SparkSession, path: String,
      version: Option[Long] = None): Option[Layout] =
    layoutProperty(spark, path).map(layoutIn(_,
      schemaOf(spark, path, resolve(spark, path, version))))

  /** The one layout resolver: `df` as staged under the table's layout
    * read against `schema` (the version the write commits on top of),
    * and the column to stage it by. A hidden layout re-derives its
    * column in-plan for every row — an UPDATE image whose source
    * columns changed routes to its new partition. `relay` stands in
    * for the recorded property (a re-lay stages by the layout it
    * records once it commits). */
  private[ops] def withLayout(df: DataFrame, path: String,
      schema: StructType,
      relay: Option[String] = None): (DataFrame, Option[String]) =
    relay.orElse(layoutProperty(df.sparkSession, path))
      .map(layoutIn(_, schema)) match {
      case None => (df, None)
      case Some(Layout(c, None)) => (df, Some(c))
      case Some(Layout(c, Some(t))) => (df.withColumn(c, expr(t)), Some(c))
    }

  /** CREATE an EMPTY table — the SQL-DDL primitive behind
    * `CREATE TABLE` / CTAS through [[graft.sources.LakeCatalog]]:
    * [[init]] of a schema-only frame, `partitionExpr` recorded as the
    * table's layout exactly as `init` records it. Version 1 is a single
    * schema-only parquet file — the manifest's sole, unpartitioned
    * entry, which `merge` always rewrites rather than carries, so the
    * layout stays consistent from the first real batch on. */
  def create(spark: SparkSession, path: String, schema: StructType,
      partitionExpr: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long =
    init(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      path, partitionExpr, statsCols, bloomCols, opName = "CREATE")

  /** Read a hidden-partitioned snapshot with the derived partition
    * column hidden again. */
  def readHidden(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    read(spark, path, version).drop(hiddenPartColName)

  // ------------------------------------------------------------------
  // DROP TABLE
  // ------------------------------------------------------------------

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
            dropSidecar(spark, src, s"branch.$name")
        }
      }
      deleteTable(spark, path)
    }
  }
}
