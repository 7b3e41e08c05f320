package graft.ops

import org.apache.spark.sql.DataFrame

/** Snapshot-isolated MERGE over immutable parquet files — the
  * poor-man's lakehouse the incremental-ingest gate's output needs,
  * built from the two primitives a plain filesystem gives you:
  * immutable data files and an atomic rename.
  *
  * The on-disk log — layout, codecs, caches, the one commit and its
  * optimistic-concurrency loop — is [[VersionedLog]], the only code
  * that knows where a table keeps its files. The operations plan
  * against it, one trait per family:
  *  - [[VersionedReads]]: snapshots, time travel, pruned range and
  *    point reads, manifest-only stats, the change feed, history;
  *  - [[VersionedWrites]]: init, staging and stats, MERGE / APPEND and
  *    their shared write admission, row-level DELETE and UPDATE;
  *  - [[VersionedRewrites]]: compactions, manifest re-sealing,
  *    partition drops, RESTORE;
  *  - [[VersionedSchema]]: column mapping, constraints, generated and
  *    identity columns, the partition layout, CREATE / DROP;
  *  - [[VersionedRefs]]: clones, tags, branches, publish, VACUUM.
  *
  * This object mixes them into the one API the queries, the DSv2
  * connector and the tools call; it holds the operations' receipts.
  */
object Versioned extends VersionedLog with VersionedReads
    with VersionedWrites with VersionedRewrites with VersionedSchema
    with VersionedRefs {

  /** Receipt of a [[mergeInto]]: the committed version plus per-clause
    * row counts (SQL MERGE's standard feedback). */
  final case class MergeStats(version: Long, updated: Long, deleted: Long,
    inserted: Long)

  /** Receipt of [[mergeExpect]]: the main-table version, rows merged,
    * and rows diverted (dropped, or quarantined when a quarantine
    * table is given). */
  final case class ExpectStats(version: Long, merged: Long,
    diverted: Long)

  /** Receipt of a [[delete]] / [[deleteVectored]]: the committed
    * version, how many files were rewritten vs carried by reference,
    * and the matched row count. `version == -1` means the predicate
    * matched nothing and no new version was committed (a no-op
    * DELETE, like Delta's). A vectored delete always reports
    * `rewritten == 0`. */
  final case class Erasure(version: Long, rewritten: Int, carried: Int,
    deletedRows: Long)

  /** Receipt of an [[updateVectored]]: committed version, carried file
    * count (always the WHOLE prior manifest — update rewrites
    * nothing), updated row count. `version == -1` = no row matched,
    * nothing committed. */
  final case class Updated(version: Long, carried: Int, updatedRows: Long)

  /** Receipt of a [[compactSmall]], [[compactPartitions]] or
    * [[compactIncremental]]: the committed version, how many files
    * were rewritten vs carried by reference. `version == -1` = nothing
    * to gain, nothing committed. */
  final case class Compaction(version: Long, coalesced: Int, carried: Int)

  /** Receipt of [[dropPartitions]]: the committed version, the files
    * dropped and kept, and the dropped values' rows of flat files
    * deleted through the deletion vector. */
  final case class Dropped(version: Long, droppedFiles: Long,
    keptFiles: Long, vectoredRows: Long)

  /** Receipt of [[changes]]: the row-level diff plus the file-pruning
    * arithmetic — how many files the diff OPENED vs the union of both
    * manifests. Carried files are never read: immutable files shared
    * by both versions contribute identical rows to both sides. */
  final case class ChangeFeed(df: DataFrame, filesOpened: Int,
    filesUnion: Int)

  /** Receipt of a [[readRange]] / [[readPoint]]: the live rows of the
    * kept files, and the prune arithmetic. The caller still applies
    * its exact predicate — stats pruning is a file-superset
    * guarantee, never a row filter. */
  final case class Pruned(df: DataFrame, filesRead: Int, filesTotal: Int)

  /** Receipt of [[metadataStats]]: row count and column bounds
    * answered from the manifest alone. */
  final case class MetaStats(rows: Long, min: Double, max: Double,
    files: Int)

  /** A table's partition layout ([[partitionLayout]]): the column its
    * files are partitioned by — a user column under an identity
    * layout, [[hiddenPartColName]] under a hidden one — and the hidden
    * layout's transform expression. */
  final case class Layout(column: String, transform: Option[String])

  /** One retained commit of [[history]]. */
  final case class CommitInfo(version: Long, operation: String,
    nFiles: Long)

  /** Thrown when a write batch violates a table CHECK constraint; the
    * offending commit never happens (validation precedes staging). */
  final class ConstraintViolation(val constraint: String,
    val predicate: String, table: String)
    extends RuntimeException(
      s"CHECK constraint '$constraint' ($predicate) violated by a " +
        s"write to $table — commit rejected")
}
