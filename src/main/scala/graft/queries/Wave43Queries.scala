package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 43 — manifest-answered queries and Bloom point
  * lookups:
  *
  *  - `q_metadata_agg`: [[Versioned.metadataStats]] — COUNT(*),
  *    MIN(c), MAX(c) answered entirely from the parquet manifest's
  *    per-file statistics, zero data files opened (the Iceberg
  *    metadata-tables economics: counting a 100 TB table is one
  *    manifest scan). The oracle recomputes the same aggregates the
  *    expensive way; equality of the two IS the claim. Requires a
  *    vector-free version with full stats coverage — enforced
  *    loudly, spec-pinned.
  *
  *  - `q_point_lookup`: [[Versioned.readPoint]] — a key lookup
  *    pruned by per-file BLOOM sidecars. The fixture's key (order
  *    key) carries no range stats — the usual state of a
  *    high-cardinality key whose per-file [min,max] would span
  *    everything anyway — so a range probe on it reads EVERY file
  *    (receipt-pinned via the readRange contrast) while the Bloom
  *    probe opens ~the one file that holds the key. No false
  *    negatives ⇒ the row always survives; the receipts pin content
  *    equality with the full read and `files_read < files_total`.
  *
  * 100 TB story: these are the two most common "interactive" lake
  * operations — dashboard counts and primary-key lookups — and both
  * become metadata-speed: O(manifest) and O(1 file) respectively.
  */
object Wave43Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qMetadataAgg(s: SparkSession, d: String): DataFrame = {
    val dir = LakeFixtures.ordersBuckets(s, d)
    val m = Versioned.metadataStats(s, dir, "c")
    import s.implicits._
    Seq((m.rows, m.min.toLong, m.max.toLong,
        Q.receipt(m.files >= 2, s"files=${m.files}")))
      .toDF("n_rows", "min_c", "max_c", "multi_file")
  }

  def qPointLookup(s: SparkSession, d: String): DataFrame = {
    val dir = LakeFixtures.ordersBuckets(s, d)
    val key = 1L // the smallest order key exists at every scale factor
    val rangeProbe = Versioned.readRange(s, dir, "k",
      key.toDouble, key.toDouble)
    val pp = Versioned.readPoint(s, dir, "k", lit(key))
    val hit = pp.df.filter(col("k") === key)
    val full = Versioned.read(s, dir).filter(col("k") === key)
    def receipt(df: DataFrame) = df
      .withColumn("fp", fpCol(col("k"), col("c"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
      .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("x")).head()
    val hr = receipt(hit)
    val fr = receipt(full)
    import s.implicits._
    Seq((hr.getLong(0), hr.getLong(1),
        Q.receipt(rangeProbe.filesRead == rangeProbe.filesTotal,
          s"range read=${rangeProbe.filesRead} of ${rangeProbe.filesTotal}"),
        Q.receipt(pp.filesRead < pp.filesTotal,
          s"bloom read=${pp.filesRead} of ${pp.filesTotal}"),
        Q.receipt(hr.getLong(0) == fr.getLong(0) &&
            hr.getLong(1) == fr.getLong(1),
          s"pruned n=${hr.getLong(0)} xor=${hr.getLong(1)} vs full " +
            s"n=${fr.getLong(0)} xor=${fr.getLong(1)}")))
      .toDF("n_rows", "xor_fp", "without_bloom_reads_all", "bloom_prunes",
        "matches_full_read")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_metadata_agg" -> qMetadataAgg,
    "q_point_lookup" -> qPointLookup)

  val oracles: Map[String, String] = Map(
    "q_metadata_agg" ->
      """SELECT count(*) AS n_rows,
        |  min(o_custkey) AS min_c, max(o_custkey) AS max_c,
        |  'ok' AS multi_file
        |FROM orders""".stripMargin,
    "q_point_lookup" ->
      """WITH hit AS (SELECT o_orderkey AS k, o_custkey AS c,
        |    o_totalprice AS p,
        |    md5_number_upper(CAST(o_orderkey AS VARCHAR) || '#' ||
        |      CAST(o_custkey AS VARCHAR) || '#' ||
        |      CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |        AS VARCHAR)) >> 4 AS fp
        |  FROM orders WHERE o_orderkey = 1)
        |SELECT count(*) AS n_rows,
        |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
        |  'ok' AS without_bloom_reads_all, 'ok' AS bloom_prunes,
        |  'ok' AS matches_full_read
        |FROM hit""".stripMargin)
}
