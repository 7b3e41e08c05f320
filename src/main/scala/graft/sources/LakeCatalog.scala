package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Versioned

/** TableCatalog plugin: the lake through PURE SQL, including Spark's
  * native time-travel syntax.
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.lake", "graft.sources.LakeCatalog")
  * spark.sql("SELECT * FROM lake.`/data/events`")            // current
  * spark.sql("SELECT * FROM lake.`/data/events` VERSION AS OF 3")
  * spark.sql("SELECT * FROM lake.`/data/events` TIMESTAMP AS OF '…'")
  * }}}
  *
  * Identifiers are PATHS (the Delta `delta.`/path`` convention): a
  * backquoted absolute path resolves directly; with
  * `spark.sql.catalog.lake.root` set, a bare `lake.db.t` resolves to
  * `<root>/db/t`. `VERSION AS OF` lands on [[TableCatalog.loadTable]]'s
  * version overload and pins the manifest exactly like
  * [[Versioned.read]]'s version argument; `TIMESTAMP AS OF` resolves
  * through [[Versioned.versionAsOf]].
  *
  * The full SQL lifecycle runs through this catalog: `CREATE TABLE`
  * (+ CTAS, `PARTITIONED BY` identity/years/months/days/hours/bucket
  * transforms, `TBLPROPERTIES('stats_cols'='a,b')` for data
  * skipping), `ALTER TABLE ADD/RENAME/DROP COLUMN` (metadata-only
  * commits on the column-mapping layer), `DROP TABLE`,
  * `ALTER TABLE … RENAME TO`, `INSERT INTO` (append-only, through
  * [[Versioned.append]]'s commit protocol — constraints,
  * generated columns, identity allocation, OCC, the table's
  * registered partition layout), row-level `UPDATE` / `MERGE INTO` /
  * `DELETE` (merge-on-read deltas), and `CALL` maintenance
  * procedures. `INSERT OVERWRITE` stays refused: blind overwrite
  * would bypass the engine's merge/delete semantics. */
class LakeCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var root: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    // `RENAME TO lake.`/p`` arrives with the catalog name still in the
    // namespace (Spark does not strip it from the target identifier)
    if (ident.name.startsWith("/") && (ident.namespace.isEmpty ||
        ident.namespace.sameElements(Array(catalogName)))) ident.name
    else root match {
      case Some(r) => (r +: ident.namespace :+ ident.name).mkString("/")
      case None => throw new IllegalArgumentException(
        s"catalog $catalogName has no root configured — use a " +
          s"backquoted absolute path: $catalogName.`/path/to/table`")
    }

  private def spark = SparkSession.active

  /** `<src>@<name>` addresses the branch the source-side named ref
    * points at (Iceberg's `table.branch_x` precedent, spelled with
    * `@` inside the path identifier so it composes with the Delta
    * path convention): `SELECT … FROM lake.`/data/t@b1`` reads the
    * branch head, `INSERT INTO lake.`/data/t@b1`` commits to the
    * branch, and time travel / `$files` / `$history` compose. Only a
    * RECORDED ref rewrites — a literal directory whose name contains
    * `@` still resolves as itself; a ref whose branch directory is
    * gone fails loudly instead of falling through to the source. */
  private def resolveBranchRef(raw: String): String = {
    val i = raw.lastIndexOf('@')
    if (i <= 0) return raw
    val (src, name) = (raw.substring(0, i), raw.substring(i + 1))
    if (name.isEmpty || name.contains('/')) return raw
    if (Versioned.currentVersion(spark, src).isEmpty) return raw
    Versioned.branchTarget(spark, src, name) match {
      case None => raw
      case Some(dst) =>
        require(Versioned.currentVersion(spark, dst).isDefined,
          s"stale branch ref: $src@$name points at $dst, which no " +
            "longer holds a table")
        dst
    }
  }

  private def table(ident: Identifier, version: Option[Long]): Table = {
    val raw = pathOf(ident)
    // Iceberg-style metadata tables: `…$files` / `…$history`
    if (raw.endsWith("$files")) {
      val path = resolveBranchRef(raw.stripSuffix("$files"))
      require(Versioned.currentVersion(spark, path).isDefined,
        s"not a versioned lake table: $path")
      return new LakeFilesTable(path, version)
    }
    if (raw.endsWith("$history")) {
      val path = resolveBranchRef(raw.stripSuffix("$history"))
      require(Versioned.currentVersion(spark, path).isDefined,
        s"not a versioned lake table: $path")
      return new LakeHistoryTable(path)
    }
    val path = resolveBranchRef(raw)
    require(Versioned.currentVersion(spark, path).isDefined,
      s"not a versioned lake table: $path")
    val v = Versioned.resolveVersion(spark, path, version)
    val full = Versioned.schemaOf(spark, path, v)
    // the derived hidden-partition column is the engine's, not the
    // user's: SQL reads never request it (the scan projects), and SQL
    // INSERTs are validated against the user columns only — append
    // re-derives it per batch. Only hide it under a HIDDEN layout
    // (identity layouts partition by the real column); a user table
    // whose own column happens to carry the engine's name stays fully
    // visible
    val engineDerived = Versioned.partitionLayout(spark, path, Some(v))
      .exists(_.transform.isDefined)
    val schema =
      if (engineDerived)
        StructType(full.fields.filterNot(
          _.name == Versioned.hiddenPartColName))
      else full
    new LakeTable(path, version, schema, ignoreChanges = false)
  }

  override def loadTable(ident: Identifier): Table = table(ident, None)

  /** `VERSION AS OF <v | 'tag'>` — a non-numeric version string
    * resolves as a TAG name (the Iceberg ref semantics). [[Versioned
    * .vacuum]] protects tagged versions, so a tag read stays valid
    * for exactly as long as the tag exists. */
  override def loadTable(ident: Identifier, version: String): Table =
    version.toLongOption match {
      case Some(v) => table(ident, Some(v))
      case None =>
        val path = resolveBranchRef(pathOf(ident))
        val v = Versioned.tags(spark, path).getOrElse(version,
          throw new IllegalArgumentException(
            s"VERSION AS OF '$version': not a number and no such tag " +
              s"on $path (tags: " +
              s"${Versioned.tags(spark, path).keys.mkString(", ")})"))
        table(ident, Some(v))
    }

  /** `TIMESTAMP AS OF <ts>` (Spark hands micros since epoch). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    val v = Versioned.versionAsOf(spark, path, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $path existed at t=${timestamp / 1000L}ms"))
    table(ident, Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    try Versioned.currentVersion(spark, resolveBranchRef(pathOf(ident)
      .stripSuffix("$files").stripSuffix("$history"))).isDefined
    catch { case _: IllegalArgumentException => false } // stale ref

  override def listTables(namespace: Array[String]): Array[Identifier] =
    root match {
      case None => Array.empty
      case Some(r) =>
        // through the path's OWN filesystem (hdfs/s3a/file all work),
        // not java.io.File, which would silently list nothing remote
        val dir = new org.apache.hadoop.fs.Path(
          (r +: namespace).mkString("/"))
        val fs = dir.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        // a directory is a table once it holds a committed version: a
        // failed init leaves a log with none, which no read could load
        if (!fs.exists(dir)) Array.empty
        else fs.listStatus(dir)
          .filter(s => s.isDirectory &&
            Versioned.currentVersion(spark, s.getPath.toString).isDefined)
          .map(s => Identifier.of(namespace, s.getPath.getName))
    }

  /** Maintenance procedures: `CALL lake.optimize('/t', 4)` etc. —
    * see [[LakeProcedures]]. */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    LakeProcedures.all.getOrElse(ident.name,
      throw new IllegalArgumentException(
        s"unknown procedure $catalogName.${ident.name} — available: " +
          LakeProcedures.all.keys.toSeq.sorted.mkString(", ")))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    LakeProcedures.all.keys.toSeq.sorted
      .map(Identifier.of(namespace, _)).toArray

  /** SQL partition transform → the engine's transform-expression
    * property. One transform max ([[Versioned]] layouts are
    * single-expression); identity keeps the real column name so
    * partition-directory pruning sees it, the rest are Iceberg-style
    * hidden derivations. */
  private def transformExpr(partitions: Array[Transform],
      schema: StructType): Option[String] = {
    require(partitions.length <= 1,
      "graft-lake tables take at most ONE partition transform " +
        s"(got ${partitions.length}: ${partitions.mkString(", ")}) — " +
        "compose a multi-column layout as a single expression via the " +
        "Scala API (Versioned.init with a partition expression)")
    partitions.headOption.map { t =>
      def ref: String = {
        val refs = t.references()
        require(refs.length == 1 && refs(0).fieldNames().length == 1,
          s"unsupported partition reference in $t")
        val n = refs(0).fieldNames()(0)
        require(schema.fieldNames.contains(n),
          s"partition column not in schema: $n")
        n
      }
      t.name() match {
        case "identity" => ref
        case "years" => s"year($ref)"
        case "months" => s"(year($ref) * 100 + month($ref))"
        case "days" => s"to_date($ref)"
        case "hours" => s"date_format($ref, 'yyyy-MM-dd-HH')"
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a bucket count: $t"))
          s"pmod(hash($ref), $n)"
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform '$other' — supported: " +
            "identity, years, months, days, hours, bucket(n)")
      }
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = pathOf(ident)
    require(!path.endsWith("$files") && !path.endsWith("$history"),
      s"cannot create a metadata table: $path")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.toString)
    def csv(k: String): Seq[String] = Option(properties.get(k)).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Versioned.create(spark, path, schema,
      partitionExpr = transformExpr(partitions, schema),
      statsCols = csv("stats_cols"), bloomCols = csv("bloom_cols"))
    loadTable(ident)
  }

  /** `ALTER TABLE` routed to the engine's METADATA-ONLY column
    * evolution commits: add appends to the logged schema (carried
    * files surface NULL through the schema-projected read), rename
    * and drop ride the column-mapping layer — zero data files are
    * read or written by any of them. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = pathOf(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"nested ADD COLUMN unsupported: ${a.fieldNames().mkString(".")}")
        Versioned.addColumn(spark, path, a.fieldNames()(0), a.dataType())
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          s"nested RENAME COLUMN unsupported: ${r.fieldNames().mkString(".")}")
        Versioned.renameColumn(spark, path, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          s"nested DROP COLUMN unsupported: ${d.fieldNames().mkString(".")}")
        Versioned.dropColumn(spark, path, d.fieldNames()(0))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          s"nested ALTER COLUMN TYPE unsupported: " +
            s"${u.fieldNames().mkString(".")}")
        Versioned.alterColumnType(spark, path, u.fieldNames()(0),
          u.newDataType())
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other — supported: " +
          "ADD COLUMN, RENAME COLUMN, DROP COLUMN, ALTER COLUMN TYPE")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    Versioned.dropTable(spark, pathOf(ident))

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    Versioned.renameTable(spark, pathOf(oldIdent), pathOf(newIdent))
}
