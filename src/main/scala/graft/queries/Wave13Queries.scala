package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.TextStats

/** Round-7 wave 13 — the change-data and time-series repair operators
  * that finish the lake/analytics story:
  *
  *  - `q_change_feed`: row-level CDC between two lake versions —
  *    insert / update / delete / unchanged classified per key with an
  *    order-independent key fingerprint, the downstream-consumer view
  *    of a MERGE (what a sync job reads instead of re-diffing
  *    snapshots).
  *  - `q_interpolate`: linear interpolation over a daily spine — the
  *    gap-repair twin of `q_forward_fill` (fill = previous value) for
  *    metrics where a straight line between known points is the honest
  *    estimate.
  *  - `q_attribution`: last-touch conversion attribution (purchases
  *    attributed to the user's latest click within 7 days) via an
  *    order-independent windowed max — the marketing-analytics shape
  *    that is really a per-event as-of join.
  */
object Wave13Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- row-level change feed ----

  /** CDC between version 1 (even docs) and version 2 after a mixed
    * merge batch: every third even doc re-arrives with a shifted id
    * (UPDATE — same key, new payload), every seventh (not already
    * updated) arrives as a DELETE marker, and every fifth odd doc is a
    * genuine INSERT (the corpus has no cross-parity fingerprint
    * collisions, so odd keys are new by construction). Per change
    * type: row count and an order-independent XOR over the affected
    * keys — the compact proof that a downstream consumer replaying the
    * feed reaches exactly the v2 snapshot. Change classification is
    * one full-outer equi-join on the key between two manifest-selected
    * snapshots; at 100 TB both sides prune to the partitions the merge
    * touched. */
  def qChangeFeed(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.docsEvensFp(s, d), "graft_cdc") { dir =>
      val all = docs(s, d).select(col("doc_id"), col("source"),
        TextStats.fingerprint(coalesce(col("text"), lit(""))).as("fp"))
      val evens = all.filter(col("doc_id") % 2 === 0)
      val updates = evens.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("is_delete", lit(false))
      val deletes = evens.filter(col("doc_id") % 7 === 0 &&
          col("doc_id") % 3 =!= 0)
        .withColumn("is_delete", lit(true))
      val inserts = all.filter(col("doc_id") % 2 === 1 &&
          col("doc_id") % 5 === 0)
        .withColumn("is_delete", lit(false))
      Versioned.merge(updates.unionByName(deletes).unionByName(inserts),
        dir, Seq("fp"), deleteCol = Some("is_delete"))
      val v1 = Versioned.read(s, dir, Some(1L))
        .select(col("fp"), col("doc_id").as("old_id"))
      val v2 = Versioned.read(s, dir, Some(2L))
        .select(col("fp"), col("doc_id").as("new_id"))
      val classified = v1.join(v2, Seq("fp"), "full_outer")
        .withColumn("change_type",
          when(col("old_id").isNull, lit("insert"))
            .when(col("new_id").isNull, lit("delete"))
            .when(col("old_id") =!= col("new_id"), lit("update"))
            .otherwise(lit("unchanged")))
        .withColumn("h", shiftrightunsigned(
          graft.text.Dedup.md5Hash64(col("fp")), 4))
      val out = classified.groupBy("change_type")
        .agg(count(lit(1)).as("n_keys"), expr("bit_xor(h)").as("key_xor"))
        .orderBy("change_type")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      import s.implicits._
      out.toDF("change_type", "n_keys", "key_xor")
    }
  }

  // ---- linear interpolation ----

  /** Daily revenue over the Q1-1995 spine with LINEAR interpolation
    * across gaps: value = prev + (next − prev) · (day − prevDay) /
    * (nextDay − prevDay). Known points are decimal-exact daily sums;
    * the interpolation arithmetic is integer day differences and one
    * IEEE multiply-add — identical in both engines. Edges beyond the
    * first/last known day fall back to the nearest known value. */
  def qInterpolate(s: SparkSession, d: String): DataFrame = {
    val spine = s.range(1).select(explode(sequence(
      to_date(lit("1995-01-01")), to_date(lit("1995-03-31")))).as("day"))
    val sparse = Tables.load(s, d, "lineitem")
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") <= lit("1995-03-31"))
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(Q.dsum(Q.revenue).as("price"))
    val wPrev = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.orderBy(col("day"))
      .rowsBetween(0, Window.unboundedFollowing)
    val dayN = datediff(col("day"), lit("1995-01-01").cast("date"))
    val known = when(col("price").isNotNull, dayN)
    spine.join(sparse, Seq("day"), "left")
      .withColumn("pv", last(col("price"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(known, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("price"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(known, ignoreNulls = true).over(wNext))
      .withColumn("interpolated",
        when(col("price").isNotNull, col("price"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * (dayN - col("pd")).cast("double")
            / (col("nd") - col("pd")).cast("double")))
      .select(col("day"), col("price"),
        round(col("interpolated"), 6).as("interpolated"),
        col("price").isNull.as("is_gap"))
      .orderBy("day")
  }

  // ---- last-touch attribution ----

  /** Purchases attributed to the same user's latest click ≤ 7 days
    * earlier. The prior-click lookup is an order-independent windowed
    * MAX over clicks up to the purchase's event time (max of a set of
    * timestamps — no reliance on secondary sort order), i.e. a
    * per-event as-of join executed as one partitioned window pass.
    * Daily rollup: conversions, attributed count/rate, mean
    * minutes-to-conversion over attributed purchases (exact integer
    * micro sums; one double division). */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_type"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val attributed = ev
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("last_click")))
      .withColumn("hit", col("last_click").isNotNull &&
        col("gap_us") <= lit(7L * 24 * 3600 * 1000000L))
    attributed
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_attributed"),
        round(sum(when(col("hit"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("attribution_rate"),
        round((sum(when(col("hit"), col("gap_us"))).cast("double")
          / sum(when(col("hit"), 1L)) / lit(6e7)), 6).as("avg_minutes"))
      .orderBy("day")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_change_feed" -> qChangeFeed,
    "q_interpolate" -> qInterpolate,
    "q_attribution" -> qAttribution)

  val oracles: Map[String, String] = Map(
    "q_change_feed" ->
      s"""WITH fp AS (SELECT doc_id, source,
         |    ${TextStats.FINGERPRINT("coalesce(text, '')")} AS f
         |  FROM documents),
         |lake AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT doc_id + 1000000 AS doc_id, f, FALSE AS is_delete
         |  FROM lake WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, f, TRUE
         |  FROM lake WHERE doc_id % 7 = 0 AND doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT doc_id, f, FALSE
         |  FROM fp WHERE doc_id % 2 = 1 AND doc_id % 5 = 0),
         |v2 AS (
         |  SELECT doc_id, f FROM batch WHERE NOT is_delete
         |  UNION ALL
         |  SELECT doc_id, f FROM lake
         |  WHERE f NOT IN (SELECT f FROM batch)),
         |j AS (SELECT coalesce(a.f, b.f) AS f, a.doc_id AS old_id,
         |        b.doc_id AS new_id
         |      FROM lake a FULL OUTER JOIN v2 b ON a.f = b.f),
         |c AS (SELECT f,
         |  CASE WHEN old_id IS NULL THEN 'insert'
         |       WHEN new_id IS NULL THEN 'delete'
         |       WHEN old_id <> new_id THEN 'update'
         |       ELSE 'unchanged' END AS change_type,
         |  md5_number_upper(f) >> 4 AS h
         |  FROM j)
         |SELECT change_type, count(*) AS n_keys,
         |  CAST(bit_xor(h) AS BIGINT) AS key_xor
         |FROM c GROUP BY change_type ORDER BY change_type""".stripMargin,
    "q_interpolate" ->
      s"""WITH RECURSIVE cal(day) AS (
         |  SELECT DATE '1995-01-01'
         |  UNION ALL SELECT day + 1 FROM cal WHERE day < DATE '1995-03-31'),
         |sparse AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day,
         |         ${Q.DSUM(Q.REVENUE)} AS price
         |  FROM lineitem
         |  WHERE l_quantity > 45 AND l_shipdate >= '1995-01-01'
         |    AND l_shipdate <= '1995-03-31'
         |  GROUP BY 1),
         |g AS (SELECT cal.day, sparse.price,
         |        day - DATE '1995-01-01' AS dn
         |      FROM cal LEFT JOIN sparse USING (day)),
         |f AS (SELECT *,
         |  last_value(price IGNORE NULLS) OVER
         |    (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pv,
         |  last_value(CASE WHEN price IS NOT NULL THEN dn END IGNORE NULLS)
         |    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pd,
         |  first_value(price IGNORE NULLS) OVER (ORDER BY day
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |  first_value(CASE WHEN price IS NOT NULL THEN dn END IGNORE NULLS)
         |    OVER (ORDER BY day
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         |  FROM g)
         |SELECT day, price,
         |  round(CASE WHEN price IS NOT NULL THEN price
         |    WHEN pv IS NULL THEN nv
         |    WHEN nv IS NULL THEN pv
         |    ELSE pv + (nv - pv) * CAST(dn - pd AS DOUBLE)
         |      / CAST(nd - pd AS DOUBLE) END, 6) AS interpolated,
         |  price IS NULL AS is_gap
         |FROM f ORDER BY day""".stripMargin,
    "q_attribution" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, ts FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |a AS (SELECT *,
         |  max(CASE WHEN event_type = 'click' THEN ts END) OVER
         |    (PARTITION BY user_id ORDER BY ts, event_type
         |     ROWS UNBOUNDED PRECEDING) AS last_click
         |  FROM ev),
         |p AS (SELECT *,
         |  epoch_us(ts) - epoch_us(last_click) AS gap_us,
         |  last_click IS NOT NULL
         |    AND epoch_us(ts) - epoch_us(last_click)
         |      <= ${7L * 24 * 3600 * 1000000L} AS hit
         |  FROM a WHERE event_type = 'purchase')
         |SELECT strftime(ts, '%Y-%m-%d') AS day,
         |  count(*) AS n_purchases,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_attributed,
         |  round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS attribution_rate,
         |  round(CAST(sum(CASE WHEN hit THEN gap_us END) AS DOUBLE)
         |    / sum(CASE WHEN hit THEN 1 END) / 6e7, 6) AS avg_minutes
         |FROM p GROUP BY 1 ORDER BY day""".stripMargin)
}
