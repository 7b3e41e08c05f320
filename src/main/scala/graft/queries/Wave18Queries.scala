package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Dedup

/** Round-8 wave 18 — sequence analytics, exact-k sampling,
  * semi-supervised graph labeling, and windowed anomaly detection:
  *
  *  - `q_markov_transitions`: the user-journey transition matrix —
  *    per-user next-event pairs, counted and row-normalized into
  *    P(to | from). One user-keyed window + one bounded groupBy.
  *  - `q_group_sample`: exactly-k-per-group deterministic reservoir —
  *    the "k exemplar docs per source" sampler, reproducible on any
  *    layout/engine because rank order is the md5 uniform (vs the
  *    rate-based `q_stratified_sample`, which cannot promise a count).
  *  - `q_label_prop`: 3 rounds of synchronous label propagation over
  *    the shared link graph — 20% of nodes seeded with their `lang`,
  *    the rest take the mode of their labeled neighbors (deterministic
  *    tie-break). The semi-supervised companion to `q_domain_rank` /
  *    `q_dedup_clusters`.
  *  - `q_burst_detection`: trailing-window z-score burst flags on the
  *    hourly event stream — mean/variance from EXACT integer sums
  *    (Σcnt, Σcnt²) so the float step is one closed-form expression,
  *    bit-identical in both engines.
  */
object Wave18Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- Markov transition matrix ----

  /** Event-type transition counts and row-normalized probabilities:
    * per user, each event's successor (lead over (ts, event_id) — the
    * id breaks same-timestamp ties deterministically), then
    * groupBy(from, to). The window and the count shuffle on user_id /
    * a 25-cell key space; nothing global. The probability is one
    * integer division per cell — exact IEEE in both engines. */
  def qMarkovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.load(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("prob"))
      .orderBy("from_type", "to_type")
  }

  // ---- exactly-k-per-group deterministic reservoir ----

  /** k = 5 exemplars per source, chosen as the k smallest md5
    * uniforms (doc_id tie-break): layout- and engine-independent, and
    * at 100 TB the per-group window is a single shuffle on the group
    * key (a bounded-output top-k that Spark runs as a group-limit —
    * no full sort). Summarized per source with an order-independent
    * XOR of the chosen ids so the oracle pins the exact sample. */
  def qGroupSample(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val h = shiftrightunsigned(
      Dedup.md5Hash64(col("doc_id").cast("string")), 4)
    val rn = row_number().over(
      Window.partitionBy("source").orderBy(col("hv"), col("doc_id")))
    val samp = docs(s, d).select(col("source"), col("doc_id"), h.as("hv"))
      .withColumn("rn", rn).filter(col("rn") <= k)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        expr("bit_xor(doc_id)").as("sample_xor"))
    docs(s, d).groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(samp, "source")
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("sample_xor"))
      .orderBy("source")
  }

  // ---- label propagation ----

  private val lpIters = 3
  private val seedMod = 5

  /** Synchronous label propagation on the shared link graph
    * ([[Wave17Queries.linkEdges]], undirected): nodes with doc_id ≡ 0
    * (mod 5) are seeded with their `lang`; each round, every unseeded
    * node takes the most common label among its labeled neighbors
    * (ties → lexicographically smallest label; no labeled neighbor →
    * keep the previous label). Three rounds, each one equi-join +
    * per-node top-1 — uniform vertex keys, lineage truncated per
    * round (the checkpointed-PageRank discipline), so the iteration
    * count, not the lineage, bounds the plan at any graph size. */
  def qLabelProp(s: SparkSession, d: String): DataFrame = {
    val und = Wave17Queries.linkEdges(s, d).filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct().cache()
    val ed = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    var lab = docs(s, d).select(col("doc_id").as("node"),
      when(col("doc_id") % seedMod === 0, col("lang")).as("seed"),
      when(col("doc_id") % seedMod === 0, col("lang")).as("label"))
    for (_ <- 1 to lpIters) {
      val nb = ed.join(
          lab.filter(col("label").isNotNull)
            .select(col("node").as("src"), col("label").as("nlabel")), "src")
        .groupBy(col("dst"), col("nlabel"))
        .agg(count(lit(1)).as("c"))
      val mode = nb.withColumn("rn", row_number().over(
          Window.partitionBy("dst").orderBy(col("c").desc, col("nlabel"))))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("nlabel").as("mlabel"))
      lab = Dedup.truncate(lab.join(mode, Seq("node"), "left")
        .select(col("node"), col("seed"),
          coalesce(col("seed"), col("mlabel"), col("label")).as("label")))
    }
    lab.groupBy(coalesce(col("label"), lit("(none)")).as("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("seed").isNotNull.cast("long")).as("n_seeds"))
      .orderBy("label")
  }

  // ---- burst detection ----

  /** Hourly event-count z-scores against the trailing 24 observed
    * hours per event type: z = (cnt − S/n) / sqrt((SS − S²/n)/(n−1))
    * with S = Σcnt and SS = Σcnt² over the window — the sums are
    * exact longs, so the only float work is the one closed-form
    * expression (identical tree → identical IEEE doubles in both
    * engines). z needs n ≥ 12 history rows and positive variance;
    * burst = z > 2.5 with cnt ≥ 5. The window shuffles on event_type
    * only and the hourly frame is bounded by the time span, not the
    * event volume. */
  def qBurstDetection(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.load(s, d, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy(col("h"))
      .rowsBetween(-24, -1)
    val stats = hourly
      .withColumn("n", count(col("cnt")).over(w))
      .withColumn("sm", sum(col("cnt")).over(w))
      .withColumn("ss", sum(col("cnt") * col("cnt")).over(w))
    val mean = col("sm").cast("double") / col("n")
    val variance = (col("ss").cast("double") -
      col("sm").cast("double") * col("sm").cast("double") / col("n")) /
      (col("n") - 1)
    val z = (col("cnt").cast("double") - mean) / sqrt(variance)
    stats
      .withColumn("z",
        when(col("n") >= 12 && variance > 0, round(z, 6)))
      .withColumn("burst",
        (col("z").isNotNull && col("z") > 2.5 && col("cnt") >= 5)
          .cast("int"))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
        col("cnt"), col("z"), col("burst"))
      .orderBy("event_type", "hour")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_markov_transitions" -> qMarkovTransitions,
    "q_group_sample"       -> qGroupSample,
    "q_label_prop"         -> qLabelProp,
    "q_burst_detection"    -> qBurstDetection)

  private def lpIterCtes: String =
    (1 to lpIters).map { i =>
      val prev = if (i == 1) "lab0" else s"lab${i - 1}"
      s"""nb$i AS (SELECT e.dst, l.label AS nlabel, count(*) AS c
         |  FROM ed e JOIN $prev l ON l.node = e.src
         |  WHERE l.label IS NOT NULL
         |  GROUP BY e.dst, l.label),
         |md$i AS (SELECT dst, nlabel FROM (
         |    SELECT dst, nlabel, row_number() OVER (
         |      PARTITION BY dst ORDER BY c DESC, nlabel) AS rn
         |    FROM nb$i) t WHERE rn = 1),
         |lab$i AS (SELECT p.node, p.seed,
         |    coalesce(p.seed, m.nlabel, p.label) AS label
         |  FROM $prev p LEFT JOIN md$i m ON m.dst = p.node)""".stripMargin
    }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "q_markov_transitions" ->
      """WITH s AS (
        |  SELECT event_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |t AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM t GROUP BY 1)
        |SELECT t.from_type, t.to_type, n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS prob
        |FROM t JOIN f USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_group_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |    (md5_number_upper(CAST(doc_id AS VARCHAR)) >> 4) AS hv
        |  FROM documents),
        |r AS (SELECT source, doc_id, row_number() OVER (
        |        PARTITION BY source ORDER BY hv, doc_id) AS rn
        |      FROM h),
        |s AS (SELECT source, count(*) AS n_sampled,
        |        CAST(bit_xor(doc_id) AS BIGINT) AS sample_xor
        |      FROM r WHERE rn <= 5 GROUP BY source),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents
        |       GROUP BY source)
        |SELECT nd.source, n_docs, n_sampled, sample_xor
        |FROM nd JOIN s USING (source) ORDER BY source""".stripMargin,
    "q_label_prop" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
         |${Wave17Queries.LINK_EDGES_CTE},
         |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
         |        FROM raw WHERE a <> b),
         |ed AS (SELECT u AS src, v AS dst FROM und
         |       UNION ALL SELECT v, u FROM und),
         |lab0 AS (SELECT doc_id AS node,
         |    CASE WHEN doc_id % $seedMod = 0 THEN lang END AS seed,
         |    CASE WHEN doc_id % $seedMod = 0 THEN lang END AS label
         |  FROM documents),
         |$lpIterCtes
         |SELECT coalesce(label, '(none)') AS label, count(*) AS n_nodes,
         |  CAST(sum(CASE WHEN seed IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_seeds
         |FROM lab$lpIters GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_burst_detection" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, h, cnt,
        |  count(cnt) OVER w AS n,
        |  CAST(sum(cnt) OVER w AS BIGINT) AS sm,
        |  CAST(sum(cnt * cnt) OVER w AS BIGINT) AS ss
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |zed AS (SELECT event_type, h, cnt,
        |  CASE WHEN n >= 12 AND
        |    (CAST(ss AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / n) / (n - 1) > 0
        |  THEN round((CAST(cnt AS DOUBLE) - CAST(sm AS DOUBLE) / n) /
        |    sqrt((CAST(ss AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / n) / (n - 1)), 6)
        |  END AS z
        |  FROM s)
        |SELECT event_type, strftime(h, '%Y-%m-%d %H:00') AS hour, cnt, z,
        |  CAST(z IS NOT NULL AND z > 2.5 AND cnt >= 5 AS INTEGER) AS burst
        |FROM zed ORDER BY event_type, hour""".stripMargin)
}
