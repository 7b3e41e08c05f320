package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.{Dedup, TextStats}

/** Round-8 wave 24 — incremental maintenance of an EXPENSIVE derived
  * artifact:
  *
  *  - `q_incr_sigs`: the signature table (64-bit SimHash per doc) kept
  *    current from the lake's CDC feed — unchanged docs CARRY their
  *    signature by reference, only changed/inserted docs re-tokenize
  *    and re-hash, deleted docs drop out — proven equal (per-source
  *    counts + order-independent signature XOR) to the full v2
  *    recompute. `q_incr_agg` showed cheap aggregate state; this is
  *    the case that pays for a change feed at 100 TB: the derived
  *    artifact costs a full tokenize+hash pass per doc, and the
  *    incremental path re-pays it only for the changed sliver (the
  *    receipt columns show the carried/recomputed split).
  */
object Wave24Queries extends QueryModule {

  /** Lake keyed by doc_id; updates CHANGE THE PAYLOAD (text + a
    * revision marker) so the signature genuinely differs; same
    * update/delete/insert cadence as the other CDC queries. */
  def qIncrSigs(s: SparkSession, d: String): DataFrame = {
    // r17 (guide §6 I/O amortization; the r16-VERDICT-#2 q_incr_mv
    // pattern): the clone + MERGE lifecycle is byte-identical every
    // run — the clone is a metadata commit over the immutable
    // docsEvensText base and the CDC batch is a pure function of the
    // documents table — so the TWO-COMMIT history is staged once per
    // JVM ([[LakeFixtures.memoDir]]) and consumed READ-ONLY: v1 the
    // base clone, v2 the merge. Every run still reads both versions,
    // runs the CDC diff, the incremental signature maintenance AND
    // the full-recompute proof from the parquet inputs.
    val dir = LakeFixtures.memoDir(s"isig|$d", "graft_isig") { tmp =>
      val t = tmp + "/t"
      Versioned.clone(s, LakeFixtures.docsEvensText(s, d), t)
      val base = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          coalesce(col("text"), lit("")).as("text"))
      val evens = base.filter(col("doc_id") % 2 === 0)
      val updates = evens.filter(col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" rev2")))
        .withColumn("is_delete", lit(false))
      val deletes = evens.filter(col("doc_id") % 7 === 0 &&
          col("doc_id") % 3 =!= 0)
        .withColumn("is_delete", lit(true))
      val inserts = base.filter(col("doc_id") % 2 === 1 &&
          col("doc_id") % 5 === 0)
        .withColumn("is_delete", lit(false))
      Versioned.merge(updates.unionByName(deletes).unionByName(inserts),
        t, Seq("doc_id"), deleteCol = Some("is_delete"))
      ()
    } + "/t"
    locally {
      val v1 = Versioned.read(s, dir, Some(1L))
      val v2 = Versioned.read(s, dir, Some(2L))
      // artifact v1: one full tokenize+hash pass over the v1 snapshot
      val sig1 = Dedup.simhashSignatures(v1, crossEngineHash = true)
      // CDC on the key, change detection on the content fingerprint
      val cdc = v1.select(col("doc_id"),
          TextStats.fingerprint(col("text")).as("fp_old"))
        .join(v2.select(col("doc_id"), col("source"), col("text"),
          TextStats.fingerprint(col("text")).as("fp_new")),
          Seq("doc_id"), "full_outer")
      val carried = cdc.filter(col("fp_new").isNotNull &&
          col("fp_old") === col("fp_new"))
        .select(col("doc_id"), col("source"))
        .join(sig1, Seq("doc_id"), "left")
      val changedDocs = cdc.filter(col("fp_new").isNotNull &&
          (col("fp_old").isNull || col("fp_old") =!= col("fp_new")))
        .select(col("doc_id"), col("source"), col("text"))
      val recomputed = changedDocs.select(col("doc_id"), col("source"))
        .join(Dedup.simhashSignatures(changedDocs, crossEngineHash = true),
          Seq("doc_id"), "left")
      val incr = carried.withColumn("kind", lit("carried"))
        .unionByName(recomputed.withColumn("kind", lit("recomputed")))
        .withColumn("sig63",
          shiftrightunsigned(coalesce(col("sig"), lit(0L)), 1))
      val full = v2.select(col("doc_id"), col("source"))
        .join(Dedup.simhashSignatures(v2, crossEngineHash = true),
          Seq("doc_id"), "left")
        .withColumn("sig63",
          shiftrightunsigned(coalesce(col("sig"), lit(0L)), 1))
      val ai = incr.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("kind") === "carried").cast("long")).as("n_carried"),
          sum((col("kind") === "recomputed").cast("long")).as("n_recomputed"),
          expr("bit_xor(sig63)").as("xor_incr"))
      val af = full.groupBy("source")
        .agg(count(lit(1)).as("n_full"),
          expr("bit_xor(sig63)").as("xor_full"))
      val out = ai.join(af, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_carried"), lit(0L)).as("n_carried"),
          coalesce(col("n_recomputed"), lit(0L)).as("n_recomputed"),
          col("xor_incr"), col("xor_full"),
          (col("n_docs") === col("n_full") &&
            col("xor_incr") === col("xor_full")).cast("int").as("ok"))
        .orderBy("source")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getInt(6)))
      import s.implicits._
      out.toDF("source", "n_docs", "n_carried", "n_recomputed",
        "xor_incr", "xor_full", "ok")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_sigs" -> qIncrSigs)

  /** The oracle replays the construction and the TRUTH of the
    * maintenance claim: carried signatures equal recomputation for
    * unchanged docs by definition (same text), so both XOR columns
    * are the v2 recompute; the carried/recomputed split comes from
    * the fingerprint comparison. */
  val oracles: Map[String, String] = Map(
    "q_incr_sigs" -> {
      s"""WITH b AS (SELECT doc_id, source, coalesce(text, '') AS text
         |  FROM documents),
         |lake AS (SELECT doc_id, source, text FROM b WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT doc_id, source, text || ' rev2' AS text,
         |    FALSE AS is_delete
         |  FROM lake WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, source, text, TRUE
         |  FROM lake WHERE doc_id % 7 = 0 AND doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT doc_id, source, text, FALSE
         |  FROM b WHERE doc_id % 2 = 1 AND doc_id % 5 = 0),
         |v2 AS (
         |  SELECT doc_id, source, text FROM batch WHERE NOT is_delete
         |  UNION ALL
         |  SELECT doc_id, source, text FROM lake
         |  WHERE doc_id NOT IN (SELECT doc_id FROM batch)),
         |${PipelineQueries.simhashSigCtes("v2", "s")},
         |sv AS (SELECT v2.doc_id, v2.source,
         |    coalesce(ssig.sig, 0::UBIGINT) >> 1 AS sig63
         |  FROM v2 LEFT JOIN ssig ON ssig.doc_id = v2.doc_id),
         |chg AS (SELECT v2.doc_id,
         |    CASE WHEN l.doc_id IS NULL THEN 'recomputed'
         |         WHEN ${TextStats.FINGERPRINT("l.text")}
         |           <> ${TextStats.FINGERPRINT("v2.text")} THEN 'recomputed'
         |         ELSE 'carried' END AS kind
         |  FROM v2 LEFT JOIN lake l ON l.doc_id = v2.doc_id)
         |SELECT sv.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN kind = 'carried' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_carried,
         |  CAST(sum(CASE WHEN kind = 'recomputed' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_recomputed,
         |  CAST(bit_xor(sig63) AS BIGINT) AS xor_incr,
         |  CAST(bit_xor(sig63) AS BIGINT) AS xor_full,
         |  1 AS ok
         |FROM sv JOIN chg ON chg.doc_id = sv.doc_id
         |GROUP BY sv.source ORDER BY sv.source""".stripMargin
    })
}
