package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Round-8 wave 20 — marketing attribution beyond last-touch, and a
  * classic independence test:
  *
  *  - `q_multi_touch`: LINEAR multi-touch attribution — every click in
  *    the 7 days before a purchase shares the credit equally (the
  *    fairness upgrade of `q_attribution`'s last-touch winner-takes-
  *    all), rolled up per derived channel. Per-user interval join;
  *    fractional credits folded in pinned order.
  *  - `q_chi_square`: the event_type × weekday contingency table with
  *    the χ² independence statistic — observed counts are integers,
  *    expected counts are closed-form from the margins, and the cell
  *    terms fold in sorted cell order so the one float reduction is
  *    bit-identical cross-engine.
  */
object Wave20Queries extends QueryModule {

  private def events(s: SparkSession, d: String) = Tables.load(s, d, "events")

  // ---- linear multi-touch attribution ----

  private val touchWindowUs = 7L * 24 * 3600 * 1000000L

  /** Derived channel from the event's `props.k` payload (k mod 4) —
    * extracted by regex, not a JSON reader, so the DuckDB twin needs
    * no JSON extension and both engines parse identically. */
  private def channel(props: org.apache.spark.sql.Column) =
    concat(lit("ch"),
      (regexp_extract(props, "\"k\": ([0-9]+)", 1).cast("long") % 4)
        .cast("string"))

  /** Linear attribution: each purchase's credit splits equally over
    * the user's clicks in the preceding 7 days; unattributed
    * purchases (no click in window) are reported in the `(none)` row.
    * The click×purchase pairing is a per-user interval join — both
    * sides shuffle once on user_id and the pair fan-out is bounded by
    * per-user activity, never corpus size. Channel credit sums fold
    * over (purchase id, click id)-sorted fractional credits (the
    * q_domain_rank order-pinned discipline), so the 1/n fractions
    * accumulate identically in both engines. */
  def qMultiTouch(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"), channel(col("props")).as("channel"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
    val touches = purchases.join(clicks, Seq("user_id"))
      .filter(col("cus") <= col("pus") &&
        col("pus") - col("cus") <= touchWindowUs)
    val nTouch = touches.groupBy("purchase_id")
      .agg(count(lit(1)).as("n_touch"))
    val credited = touches.join(nTouch, "purchase_id")
      .select(col("channel"), col("purchase_id"), col("click_id"),
        (lit(1.0) / col("n_touch")).as("credit"))
    val perChannel = credited.groupBy("channel")
      .agg(sort_array(collect_list(struct(col("purchase_id"),
          col("click_id"), col("credit")))).as("cs"))
      .select(col("channel"),
        expr("aggregate(cs, 0d, (a, x) -> a + x.credit)").as("credit"),
        expr("size(cs)").cast("long").as("n_touches"))
    val unattributed = purchases
      .join(nTouch, Seq("purchase_id"), "left_anti")
      .agg(count(lit(1)).cast("double").as("credit"),
        lit(0L).as("n_touches"))
      .select(lit("(none)").as("channel"), col("credit"), col("n_touches"))
    perChannel.unionByName(unattributed)
      .select(col("channel"), round(col("credit"), 6).as("credit"),
        col("n_touches"))
      .orderBy("channel")
  }

  // ---- chi-square independence ----

  /** event_type × weekday χ²: one integer contingency aggregation,
    * margins joined back (5×7 cells — broadcast), expected =
    * row·col/N, and the Σ(o−e)²/e reduction folds over cells sorted
    * by (event_type, weekday). Emits each cell (observed, expected,
    * contribution) plus a TOTAL row with the statistic and the
    * degrees of freedom — the full working a dashboard would show. */
  def qChiSquare(s: SparkSession, d: String): DataFrame = {
    // integer ISO weekday (0 = Monday) rendered as a string — immune
    // to JVM/DuckDB locale differences in day names
    val observed = events(s, d)
      .groupBy(col("event_type"),
        weekday(col("ts")).cast("string").as("weekday"))
      .agg(count(lit(1)).as("observed"))
    // full margin lattice: a (type, weekday) combination with NO events
    // must still contribute its (0 − e)²/e term, or the statistic is
    // silently understated on sparse data (the dof row already assumes
    // the full grid)
    val cells = observed.select("event_type").distinct()
      .crossJoin(observed.select("weekday").distinct())
      .join(observed, Seq("event_type", "weekday"), "left")
      .select(col("event_type"), col("weekday"),
        coalesce(col("observed"), lit(0L)).as("observed"))
    val rows = cells.groupBy("event_type").agg(sum(col("observed")).as("rt"))
    val cols = cells.groupBy("weekday").agg(sum(col("observed")).as("ct"))
    val tot = cells.agg(sum(col("observed")).as("n"))
    val expected = cells.join(rows, "event_type").join(cols, "weekday")
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("weekday"), col("observed"),
        (col("rt").cast("double") * col("ct") / col("n")).as("expected"))
      .withColumn("contrib",
        (col("observed") - col("expected")) *
          (col("observed") - col("expected")) / col("expected"))
    val total = expected
      .agg(sort_array(collect_list(struct(col("event_type"), col("weekday"),
          col("contrib")))).as("cs"),
        countDistinct(col("event_type")).as("nr"),
        countDistinct(col("weekday")).as("nc"))
      .select(lit("TOTAL").as("event_type"), lit("*").as("weekday"),
        lit(null).cast("long").as("observed"),
        lit(null).cast("double").as("expected"),
        round(expr("aggregate(cs, 0d, (a, x) -> a + x.contrib)"), 6)
          .as("contrib"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"))
    expected
      .select(col("event_type"), col("weekday"), col("observed"),
        round(col("expected"), 6).as("expected"),
        round(col("contrib"), 6).as("contrib"),
        lit(null).cast("long").as("dof"))
      .unionByName(total)
      .orderBy("event_type", "weekday")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multi_touch" -> qMultiTouch,
    "q_chi_square"  -> qChiSquare)

  val oracles: Map[String, String] = Map(
    "q_multi_touch" ->
      s"""WITH cl AS (
         |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus,
         |    'ch' || CAST(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
         |      AS BIGINT) % 4 AS VARCHAR) AS channel
         |  FROM events WHERE event_type = 'click'),
         |pu AS (
         |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
         |  FROM events WHERE event_type = 'purchase'),
         |tch AS (
         |  SELECT p.purchase_id, c.click_id, c.channel
         |  FROM pu p JOIN cl c USING (user_id)
         |  WHERE c.cus <= p.pus AND p.pus - c.cus <= $touchWindowUs),
         |nt AS (SELECT purchase_id, count(*) AS n_touch
         |       FROM tch GROUP BY purchase_id),
         |cr AS (SELECT t.channel, t.purchase_id, t.click_id,
         |         1.0 / n.n_touch AS credit
         |       FROM tch t JOIN nt n USING (purchase_id)),
         |pc AS (SELECT channel,
         |    list_sum(list(credit ORDER BY purchase_id, click_id))
         |      AS credit,
         |    count(*) AS n_touches
         |  FROM cr GROUP BY channel),
         |un AS (SELECT '(none)' AS channel,
         |    CAST(count(*) AS DOUBLE) AS credit,
         |    CAST(0 AS BIGINT) AS n_touches
         |  FROM pu WHERE purchase_id NOT IN
         |    (SELECT purchase_id FROM nt))
         |SELECT channel, round(credit, 6) AS credit, n_touches
         |FROM (SELECT * FROM pc UNION ALL SELECT * FROM un)
         |ORDER BY channel""".stripMargin,
    "q_chi_square" ->
      """WITH obs AS (
        |  SELECT event_type, CAST(isodow(ts) - 1 AS VARCHAR) AS weekday,
        |    count(*) AS observed
        |  FROM events GROUP BY 1, 2),
        |cells AS (
        |  SELECT t.event_type, w.weekday, coalesce(o.observed, 0) AS observed
        |  FROM (SELECT DISTINCT event_type FROM obs) t
        |  CROSS JOIN (SELECT DISTINCT weekday FROM obs) w
        |  LEFT JOIN obs o ON o.event_type = t.event_type
        |    AND o.weekday = w.weekday),
        |r AS (SELECT event_type, CAST(sum(observed) AS BIGINT) AS rt
        |      FROM cells GROUP BY 1),
        |c AS (SELECT weekday, CAST(sum(observed) AS BIGINT) AS ct
        |      FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells),
        |e AS (SELECT cells.event_type, cells.weekday, observed,
        |        CAST(rt AS DOUBLE) * ct / n.n AS expected
        |      FROM cells JOIN r USING (event_type)
        |        JOIN c USING (weekday) CROSS JOIN n),
        |e2 AS (SELECT *,
        |        (observed - expected) * (observed - expected) / expected
        |          AS contrib
        |       FROM e),
        |tot AS (SELECT 'TOTAL' AS event_type, '*' AS weekday,
        |    CAST(NULL AS BIGINT) AS observed,
        |    CAST(NULL AS DOUBLE) AS expected,
        |    round(list_sum(list(contrib ORDER BY event_type, weekday)), 6)
        |      AS contrib,
        |    CAST((count(DISTINCT event_type) - 1)
        |      * (count(DISTINCT weekday) - 1) AS BIGINT) AS dof
        |  FROM e2)
        |SELECT event_type, weekday, observed, round(expected, 6) AS expected,
        |  round(contrib, 6) AS contrib, CAST(NULL AS BIGINT) AS dof
        |FROM e2
        |UNION ALL
        |SELECT * FROM tot
        |ORDER BY event_type, weekday""".stripMargin)
}
