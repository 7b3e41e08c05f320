package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Sampling
import graft.text.TextStats

/** Corpus-analytics wave: TF-IDF source profiling, PMI collocations,
  * deterministic hash sampling, vocabulary statistics — the
  * reporting/curation layer a training-data pipeline runs over its
  * corpus. All counts are integer-exact; the single `ln` per score gets
  * identical integer inputs in both engines. */
object Wave5Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) =
    Tables.load(s, d, "documents")

  private def tokRows(s: SparkSession, d: String) =
    docs(s, d).repartition(col("doc_id"))
      .select(col("source"), explode(TextStats.tokens(col("text"))).as("term"))

  /** Top-5 characteristic terms per source by tf·idf (idf over the 20
    * sources). The per-source profile that catches a source gone
    * off-distribution. */
  def qTfidfTerms(s: SparkSession, d: String): DataFrame = {
    val tok = tokRows(s, d)
    val tf = tok.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("term").agg(countDistinct("source").as("df"))
    val n = docs(s, d).select(countDistinct("source").as("n_sources"))
    val w = Window.partitionBy("source").orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_sources").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("term"), col("tf"), col("df"),
              col("tfidf"))
      .orderBy("source", "rk")
  }

  /** Pointwise mutual information of adjacent token pairs (min count 5,
    * top 20): PMI = ln(c_xy·N / (c_x·c_y)) — the standard collocation
    * detector. Bigrams here are RAW (with multiplicity), unlike the
    * distinct shingles the dedup family uses. */
  def qPmiBigrams(s: SparkSession, d: String): DataFrame = {
    val toks = TextStats.tokens(col("text"))
    val bigramArr = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - lit(2)),
        i => concat(element_at(toks, i + lit(1)), lit(" "),
                    element_at(toks, i + lit(2)))))
      .otherwise(array().cast("array<string>"))
    val big = docs(s, d).repartition(col("doc_id"))
      .select(explode(bigramArr).as("bigram")).cache()
    val uni = tokRows(s, d).groupBy("term").agg(count(lit(1)).as("c"))
    val cxy = big.groupBy("bigram").agg(count(lit(1)).as("cxy"))
    val nTotal = big.select(count(lit(1)).as("n_bigrams"))
    val scored = cxy
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("term").as("x"), col("c").as("cx")), "x")
      .join(uni.select(col("term").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(nTotal))
      .filter(col("cxy") >= 5)
      .withColumn("pmi", round(log((col("cxy") * col("n_bigrams"))
        .cast("double") / (col("cx") * col("cy"))), 6))
    scored.orderBy(col("pmi").desc, col("bigram")).limit(20)
      .select(col("bigram"), col("cxy"), col("cx"), col("cy"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
  }

  /** Deterministic ~5% sample of orders by hashed key, aggregated per
    * status — membership is recomputable by ANY engine from the row
    * alone (the oracle recomputes it from scratch in SQL). */
  def qHashSample(s: SparkSession, d: String): DataFrame =
    Sampling.deterministicSample(Tables.load(s, d, "orders"),
        col("o_orderkey"), permille = 50)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"),
           Q.dsum(col("o_totalprice")).as("sampled_total"),
           min(col("o_orderkey")).as("min_key"),
           max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")

  /** Vocabulary statistics per source: token volume, distinct vocab,
    * hapax legomena (terms seen once in the source), type-token ratio
    * — the cheap corpus-health metrics. */
  def qVocabStats(s: SparkSession, d: String): DataFrame = {
    val perTerm = tokRows(s, d).groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
    perTerm.groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("vocab"),
           sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .withColumn("type_token_ratio",
        round(col("vocab") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** Int8 scalar quantization of embeddings (the 4× storage cut every
    * 100 TB vector store takes) with reconstruction-error audit:
    * per-vector scale = max|v|/127, q_i = floor(v_i/scale + .5) clamped
    * to ±127, RMSE of dequantization. Explicit floor(x+.5) instead of
    * round() because round-half tie rules differ across engines; the
    * left-to-right index-order sum matches the oracle to the ulp. */
  def qQuantizeError(s: SparkSession, d: String): DataFrame = {
    val e = col("embedding")
    val withScale = Tables.load(s, d, "embeddings")
      .repartition(col("vec_id"))
      .withColumn("scale",
        array_max(transform(e, x => abs(x.cast("double")))) / lit(127.0))
      .filter(col("scale") > 0)
    val errs = transform(e, x => {
      val v = x.cast("double")
      val q = least(greatest(floor(v / col("scale") + lit(0.5)), lit(-127.0)),
        lit(127.0))
      val diff = v - q * col("scale")
      diff * diff
    })
    withScale
      .withColumn("sse", aggregate(errs, lit(0.0), (acc, x) => acc + x))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
              round(sqrt(col("sse") / lit(64.0)), 6).as("rmse"))
      .orderBy("vec_id")
  }

  /** Join-key skew report — the pre-flight check before any big join:
    * the 10 heaviest customer keys in orders with their share of rows
    * and ratio to the mean key load (ratio >> 1 ⇒ salt or AQE-skew
    * that key). */
  def qKeySkew(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.load(s, d, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .withColumn("share", round(col("n_rows") / col("total"), 6))
      .withColumn("ratio_to_avg",
        round(col("n_rows") * col("n_keys") / col("total").cast("double"), 6))
      .orderBy(col("n_rows").desc, col("o_custkey"))
      .limit(10)
      .select(col("o_custkey"), col("n_rows"), col("share"), col("ratio_to_avg"))
      .orderBy(col("n_rows").desc, col("o_custkey"))
  }

  /** Stratified deterministic sample: status-dependent rates (2%/5%/
    * 10%) — the sampleBy analog with engine-recomputable membership. */
  def qStratifiedSample(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedSample(Tables.load(s, d, "orders"),
        col("o_orderkey"), col("o_orderstatus"),
        Map("O" -> 20, "F" -> 50, "P" -> 100))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"),
           Q.dsum(col("o_totalprice")).as("sampled_total"))
      .orderBy("o_orderstatus")

  /** MapType surface: build a status→count map per priority with
    * map_from_entries, then read it back (size, element_at, sorted
    * key list, serialized entries). The oracle never builds a map — it
    * recomputes the same SCALAR outputs, which is the point: map ops
    * must round-trip to verifiable values. */
  def qMapBattery(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.load(s, d, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("o_orderpriority"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("o_orderstatus"), col("n"))))).as("m"))
      .select(col("o_orderpriority"),
        size(col("m")).as("n_statuses"),
        coalesce(element_at(col("m"), "O"), lit(0L)).as("open_orders"),
        array_join(sort_array(map_keys(col("m"))), ",").as("statuses"),
        array_join(transform(sort_array(map_entries(col("m"))),
          e => concat(e.getField("key"), lit("="),
            e.getField("value").cast("string"))), ",").as("entries"))
      .orderBy("o_orderpriority")
  }

  /** Nested-struct surface: named_struct construction, dotted field
    * access, array-of-structs ordering and field projection — output
    * flattened to oracle-checkable scalars. */
  def qStructBattery(s: SparkSession, d: String): DataFrame = {
    val c = Tables.load(s, d, "customer")
      .select(struct(col("c_custkey").as("key"),
        struct(col("c_mktsegment").as("segment"),
          col("c_acctbal").as("bal")).as("account")).as("cust"))
    c.groupBy(col("cust.account.segment").as("segment"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("cust.account.bal").as("bal"),
          col("cust.key").as("key"))).as("top"))
      .select(col("segment"), col("n"),
        col("top.key").as("richest_key"), col("top.bal").as("max_bal"))
      .orderBy("segment")
  }

  /** Linear-regression aggregates (regr_slope/intercept/r2/avgx/avgy/
    * count) — price ~ quantity per return flag. */
  def qRegression(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
           round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6).as("intercept"),
           round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
           round(expr("regr_avgx(l_extendedprice, l_quantity)"), 6).as("avg_x"),
           round(expr("regr_avgy(l_extendedprice, l_quantity)"), 6).as("avg_y"),
           expr("regr_count(l_extendedprice, l_quantity)").as("n"))
      .orderBy("l_returnflag")

  /** Forward fill (last_value IGNORE NULLS over an ordered frame): a
    * sparse daily series (only high-quantity items) gap-filled over a
    * calendar spine — the canonical carry-forward for time series.
    * Global window over 90 aggregated rows (bounded; parity pattern). */
  def qForwardFill(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spine = s.range(1).select(explode(sequence(
      to_date(lit("1995-01-01")), to_date(lit("1995-03-31")))).as("day"))
    val sparse = Tables.load(s, d, "lineitem")
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1995-01-01") && col("l_shipdate") <= lit("1995-03-31"))
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(Q.dsum(Q.revenue).as("price"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    spine.join(sparse, Seq("day"), "left")
      .withColumn("filled", last(col("price"), ignoreNulls = true).over(w))
      .select(col("day"), col("price"), col("filled"))
      .orderBy("day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_regression" -> qRegression,
    "q_forward_fill" -> qForwardFill,
    "q_map_battery" -> qMapBattery,
    "q_struct_battery" -> qStructBattery,
    "q_stratified_sample" -> qStratifiedSample,
    "q_tfidf_terms" -> qTfidfTerms,
    "q_pmi_bigrams" -> qPmiBigrams,
    "q_hash_sample" -> qHashSample,
    "q_vocab_stats" -> qVocabStats,
    "q_quantize_error" -> qQuantizeError,
    "q_key_skew" -> qKeySkew)

  private val T = TextStats.TOKENS("text")

  val oracles: Map[String, String] = Map(
    "q_tfidf_terms" ->
      s"""WITH tok AS (SELECT source, unnest($T) AS term FROM documents),
         |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT source) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
         |sc AS (
         |  SELECT tf.source, tf.term, tf.tf, df.df,
         |         round(tf.tf * ln(CAST(n.n_sources AS DOUBLE) / df.df), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |        ORDER BY tfidf DESC, term) AS INTEGER) AS rk FROM sc)
         |SELECT source, rk, term, tf, df, tfidf
         |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    "q_pmi_bigrams" ->
      s"""WITH t AS (SELECT doc_id, $T AS toks FROM documents),
         |big AS (
         |  SELECT unnest(list_transform(range(greatest(len(toks) - 1, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS bigram FROM t),
         |uni AS (SELECT unnest(toks) AS term FROM t),
         |cx AS (SELECT term, count(*) AS c FROM uni GROUP BY 1),
         |cxy AS (SELECT bigram, count(*) AS cxy FROM big GROUP BY 1),
         |n AS (SELECT count(*) AS n_bigrams FROM big),
         |sc AS (
         |  SELECT cxy.bigram, cxy.cxy, a.c AS cx, b.c AS cy,
         |         round(ln(CAST(cxy.cxy * n.n_bigrams AS DOUBLE) / (a.c * b.c)), 6) AS pmi
         |  FROM cxy
         |  JOIN cx a ON a.term = string_split(cxy.bigram, ' ')[1]
         |  JOIN cx b ON b.term = string_split(cxy.bigram, ' ')[2]
         |  CROSS JOIN n
         |  WHERE cxy.cxy >= 5)
         |SELECT bigram, cxy, cx, cy, pmi FROM sc
         |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin,
    "q_hash_sample" ->
      s"""SELECT o_orderstatus,
         |  count(*) AS n_sampled,
         |  ${Q.DSUM("o_totalprice")} AS sampled_total,
         |  min(o_orderkey) AS min_key,
         |  max(o_orderkey) AS max_key
         |FROM orders
         |WHERE ${Sampling.HASH_BUCKET("o_orderkey", 1000)} < 50
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_regression" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
        |  round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_forward_fill" ->
      s"""WITH spine AS (
         |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
         |    DATE '1995-03-31', INTERVAL 1 DAY)) AS DATE) AS day),
         |sparse AS (
         |  SELECT CAST(l_shipdate AS DATE) AS day, ${Q.DSUM(Q.REVENUE)} AS price
         |  FROM lineitem
         |  WHERE l_quantity > 45 AND l_shipdate >= '1995-01-01'
         |    AND l_shipdate <= '1995-03-31'
         |  GROUP BY 1)
         |SELECT spine.day, sparse.price,
         |  last_value(sparse.price IGNORE NULLS)
         |    OVER (ORDER BY spine.day ROWS UNBOUNDED PRECEDING) AS filled
         |FROM spine LEFT JOIN sparse USING (day)
         |ORDER BY spine.day""".stripMargin,
    "q_map_battery" ->
      """WITH c AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority,
        |  CAST(count(*) AS INTEGER) AS n_statuses,
        |  coalesce(max(CASE WHEN o_orderstatus = 'O' THEN n END), 0) AS open_orders,
        |  string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  string_agg(o_orderstatus || '=' || n, ',' ORDER BY o_orderstatus) AS entries
        |FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_struct_battery" ->
      """SELECT c_mktsegment AS segment, count(*) AS n,
        |  max_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS richest_key,
        |  max(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY segment""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT o_orderstatus,
         |  count(*) AS n_sampled,
         |  ${Q.DSUM("o_totalprice")} AS sampled_total
         |FROM orders
         |WHERE ${Sampling.HASH_BUCKET("o_orderkey", 1000)} <
         |  CASE o_orderstatus WHEN 'O' THEN 20 WHEN 'F' THEN 50
         |       WHEN 'P' THEN 100 ELSE 0 END
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_quantize_error" -> {
      val v = "CAST(embedding[i+1] AS DOUBLE)"
      val q = s"least(greatest(floor($v / scale + 0.5), -127), 127)"
      s"""WITH sc AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
         |  FROM embeddings),
         |err AS (
         |  SELECT vec_id, scale,
         |    list_sum(list_transform(range(64),
         |      i -> ($v - $q * scale) * ($v - $q * scale))) AS sse
         |  FROM sc WHERE scale > 0)
         |SELECT vec_id, round(scale, 6) AS scale,
         |       round(sqrt(sse / 64.0), 6) AS rmse
         |FROM err ORDER BY vec_id""".stripMargin
    },
    "q_key_skew" ->
      """WITH c AS (SELECT o_custkey, count(*) AS n_rows FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys FROM c)
        |SELECT o_custkey, n_rows,
        |  round(n_rows / CAST(total AS DOUBLE), 6) AS share,
        |  round(n_rows * n_keys / CAST(total AS DOUBLE), 6) AS ratio_to_avg
        |FROM c CROSS JOIN t
        |ORDER BY n_rows DESC, o_custkey LIMIT 10""".stripMargin,
    "q_vocab_stats" ->
      s"""WITH tok AS (SELECT source, unnest($T) AS term FROM documents),
         |pt AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT source,
         |  CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS vocab,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
         |FROM pt GROUP BY source ORDER BY source""".stripMargin)
}
