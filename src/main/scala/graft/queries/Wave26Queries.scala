package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Dedup

/** Round-8 wave 26 — incremental maintenance of a materialized JOIN
  * view from CDC deltas on BOTH sides:
  *
  *  - `q_incr_join`: MV = orders ⋈ customer kept current under an
  *    orders delta (update/delete/insert) AND a customer delta
  *    (segment updates) without re-joining the world. The affected-key
  *    formulation: a MV row survives by reference iff its order key is
  *    untouched by ΔO and its customer key untouched by ΔC; everything
  *    else re-joins from the NEW snapshots restricted to the affected
  *    sliver. Proven equal to the full recompute (per-segment counts +
  *    order-independent row-fingerprint XOR).
  *
  * Why this matters at 100 TB: `q_incr_agg` maintained an aggregate
  * (cheap state), `q_incr_sigs` a per-row derived artifact (one-sided
  * CDC); a fact⋈dim materialization is the remaining shape — the carry
  * side is two hash-semi-join probes against BROADCAST delta key sets
  * (the MV itself never shuffles: no repartition of the 100 TB side),
  * and the recompute join touches only delta-affected rows with the
  * dim broadcast. The delta key sets are small by definition of a
  * delta; if a delta ever weren't small, full recompute would be the
  * right plan anyway.
  */
object Wave26Queries extends QueryModule {

  private def fp(df: DataFrame): DataFrame =
    df.withColumn("fp", shiftrightunsigned(Dedup.md5Hash64(
      concat_ws("#", col("k"), col("ck"), col("st"),
        floor(col("p") * lit(100.0) + lit(0.5)).cast("long"),
        col("seg"))), 4))

  def qIncrJoin(s: SparkSession, d: String): DataFrame = {
    val oBase = Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
        col("o_orderstatus").as("st"), col("o_totalprice").as("p"))
    val cOld = Tables.load(s, d, "customer")
      .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
    val oOld = oBase.filter(col("k") % 2 === 0)

    // ΔO: same cadence as the lake CDC queries
    val oUpd = oOld.filter(col("k") % 3 === 0)
      .withColumn("p", col("p") + lit(10.0))
    val oDelKeys = oOld.filter(col("k") % 7 === 0 && col("k") % 3 =!= 0)
      .select("k")
    val oIns = oBase.filter(col("k") % 2 === 1 && col("k") % 5 === 0)
    val oDeltaKeys = oUpd.select("k").unionByName(oDelKeys)
      .unionByName(oIns.select("k")).distinct()
    val oNew = oOld.join(oDeltaKeys, Seq("k"), "left_anti")
      .unionByName(oUpd).unionByName(oIns)

    // ΔC: segment move for custkey % 11 = 0
    val cDeltaKeys = cOld.filter(col("ck") % 11 === 0).select("ck").distinct()
    val cNew = cOld.withColumn("seg",
      when(col("ck") % 11 === 0, lit("MOVED")).otherwise(col("seg")))

    val mvOld = oOld.join(cOld, Seq("ck"))

    // incremental: carry by reference unless either side's key is in a
    // delta; re-join only the affected sliver against the new snapshots
    val carried = mvOld
      .join(broadcast(oDeltaKeys), Seq("k"), "left_anti")
      .join(broadcast(cDeltaKeys), Seq("ck"), "left_anti")
    val affectedO = oNew
      .join(broadcast(oDeltaKeys), Seq("k"), "left_semi")
      .unionByName(oNew.join(broadcast(cDeltaKeys), Seq("ck"), "left_semi")
        .join(broadcast(oDeltaKeys), Seq("k"), "left_anti"))
    val recomputed = affectedO.join(broadcast(cNew), Seq("ck"))
    val incr = fp(carried.withColumn("kind", lit("carried"))
      .unionByName(recomputed.withColumn("kind", lit("recomputed"))))

    val full = fp(oNew.join(cNew, Seq("ck")))

    val ai = incr.groupBy("seg")
      .agg(count(lit(1)).as("n_rows"),
        sum((col("kind") === "carried").cast("long")).as("n_carried"),
        sum((col("kind") === "recomputed").cast("long")).as("n_recomputed"),
        expr("bit_xor(fp)").as("xor_incr"))
    val af = full.groupBy("seg")
      .agg(count(lit(1)).as("n_full"), expr("bit_xor(fp)").as("xor_full"))
    ai.join(af, Seq("seg"), "full_outer")
      .select(col("seg").as("c_mktsegment"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_carried"), lit(0L)).as("n_carried"),
        coalesce(col("n_recomputed"), lit(0L)).as("n_recomputed"),
        col("xor_incr"), col("xor_full"),
        (coalesce(col("n_rows"), lit(0L)) === coalesce(col("n_full"), lit(0L))
          && col("xor_incr") === col("xor_full")).cast("int").as("ok"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_join" -> qIncrJoin)

  /** The oracle replays O_new ⋈ C_new once (incremental == full is the
    * CLAIM, and carried == recomputed-for-unaffected holds by
    * definition — same rows joined to the same dim values), and splits
    * carried/recomputed by the same key arithmetic. */
  val oracles: Map[String, String] = Map(
    "q_incr_join" ->
      s"""WITH ob AS (SELECT o_orderkey AS k, o_custkey AS ck,
         |    o_orderstatus AS st, o_totalprice AS p FROM orders),
         |oold AS (SELECT * FROM ob WHERE k % 2 = 0),
         |odelta AS (
         |  SELECT k FROM oold WHERE k % 3 = 0
         |  UNION SELECT k FROM oold WHERE k % 7 = 0 AND k % 3 <> 0
         |  UNION SELECT k FROM ob WHERE k % 2 = 1 AND k % 5 = 0),
         |onew AS (
         |  SELECT k, ck, st, p FROM oold
         |  WHERE k NOT IN (SELECT k FROM odelta)
         |  UNION ALL
         |  SELECT k, ck, st, p + 10.0 FROM oold WHERE k % 3 = 0
         |  UNION ALL
         |  SELECT k, ck, st, p FROM ob WHERE k % 2 = 1 AND k % 5 = 0),
         |cnew AS (SELECT c_custkey AS ck,
         |    CASE WHEN c_custkey % 11 = 0 THEN 'MOVED'
         |         ELSE c_mktsegment END AS seg
         |  FROM customer),
         |mv AS (SELECT o.k, o.ck, o.st, o.p, c.seg,
         |    CASE WHEN o.k IN (SELECT k FROM odelta)
         |           OR o.ck % 11 = 0 THEN 'recomputed'
         |         ELSE 'carried' END AS kind,
         |    md5_number_upper(CAST(o.k AS VARCHAR) || '#' ||
         |      CAST(o.ck AS VARCHAR) || '#' || o.st || '#' ||
         |      CAST(CAST(floor(o.p * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
         |      || '#' || c.seg) >> 4 AS fp
         |  FROM onew o JOIN cnew c ON c.ck = o.ck)
         |SELECT seg AS c_mktsegment, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN kind = 'carried' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_carried,
         |  CAST(sum(CASE WHEN kind = 'recomputed' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_recomputed,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_incr,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_full,
         |  1 AS ok
         |FROM mv GROUP BY seg ORDER BY seg""".stripMargin)
}
