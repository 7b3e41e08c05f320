package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.{Dedup, Search, Similarity, TextStats}

/** Round-6 wave 8 — retrieval, sub-document dedup, compressed-vector
  * search, and the training-delivery/maintenance patterns around them:
  *
  *  - `q_span_dedup`: exact duplicated-SUBSTRING coverage per doc
  *    ([[Dedup.spanCoverage]]) — the signal doc-level dedup cannot
  *    see (a half-copied doc is "new" to exact/Jaccard dedup).
  *  - `q_bm25_search`: BM25 top-k keyword retrieval
  *    ([[Search.bm25TopK]]) — postings restricted to the broadcast
  *    query terms before any shuffle; scores bit-identical via the
  *    order-pinned float fold.
  *  - `q_ann_pq`: product-quantization ANN ([[Similarity.pqTopK]]) —
  *    the compressed-embedding search path (codes ~30× smaller than
  *    vectors), recall-audited against the exact top-k.
  *  - `q_epoch_shuffle`: deterministic seeded epoch permutation as
  *    shard assignment + within-shard order — the scale-honest global
  *    shuffle (no single global sort; order = concatenation of
  *    shards), pinned by a per-shard order checksum.
  *  - `q_state_merge`: incremental aggregate-state maintenance — the
  *    base state merged with a delta batch equals the full recompute
  *    (state kept in EXACT decimal so the merge is associative), with
  *    the mismatch count in-plan: the materialized-view pattern that
  *    avoids rescanning 100 TB per daily batch.
  */
object Wave8Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) =
    Q.spread(Tables.load(s, d, "documents"))
  private def embs(s: SparkSession, d: String) =
    Q.spread(Tables.load(s, d, "embeddings"))

  // ---- exact duplicated-substring coverage ----

  def qSpanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.spanCoverage(docs(s, d), k = 8)

  // ---- BM25 retrieval ----

  /** Fixed query workload (terms from the corpus vocabulary). */
  private[queries] val bm25Terms: Seq[(Int, String)] = Seq(
    0 -> "spark", 0 -> "window", 0 -> "agg",
    1 -> "customer", 1 -> "query", 1 -> "join",
    2 -> "stream", 2 -> "filter", 2 -> "merge")

  def qBm25Search(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Search.bm25TopK(docs(s, d), bm25Terms.toDF("query_id", "term"), k = 10,
      dlOpt = Some(Memo.docLengths(s, d)),
      tokOpt = Some(Memo.docTerms(s, d)))
  }

  // ---- product-quantization ANN ----

  /** Same recall-audit shape as `q_ann_ivf`/`q_ann_lsh`: the found SET
    * is approximation-specific, so the oracle-checkable output is the
    * one-row audit — a collapsed recall flips `recall_ok` and fails
    * the hash. Production dial 16 subspaces × 32 codes (80-bit codes,
    * ~25× smaller than the fp32 vectors) + a 64-candidate exact
    * re-rank; measured recall@5 1.000 / 1.000 / 0.900 at
    * sf0.001/0.01/0.1 against exact top-k, floor 0.6 under the band.
    * Pure-ADC ordering (no re-rank) measures 0.14–0.54 on these
    * near-uniform embeddings — the shortlist re-rank is the
    * production two-stage shape, not a test crutch. */
  def qAnnPq(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val q = e.filter(col("vec_id") < lit(10L))
    Similarity.recallAtK(
      Similarity.pqTopK(e, q, k = 5, nSub = 16, nCodes = 32, shortlist = 64),
      Similarity.bruteForceTopK(e, q, k = 5), k = 5, floor = 0.6)
  }

  // ---- deterministic epoch shuffle ----

  /** Seeded epoch permutation, delivered the way a 100 TB trainer
    * consumes it: shard = 4 bits of md5("ep1:" || doc_id), order
    * within shard = (md5 hex, doc_id) — no global sort anywhere (the
    * global order is by construction the concatenation of shard
    * orders), the within-shard window parallelizes by shard, and a
    * new seed string is a new independent permutation. The md5 HEX
    * STRING is the sort key on both engines (lexicographic hex ==
    * unsigned numeric order — signed-long md5 keys would order
    * differently in Spark than DuckDB's UBIGINT). `order_checksum`
    * (Σ rank·doc_id) pins the full within-shard ORDER, not just
    * membership. */
  def qEpochShuffle(s: SparkSession, d: String): DataFrame = {
    val hex = md5(concat(lit("ep1:"), col("doc_id").cast("string")))
    val base = docs(s, d).select(col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).as("n_toks"), hex.as("h"))
      .withColumn("shard", conv(substring(col("h"), 32, 1), 16, 10).cast("int"))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    base.withColumn("rk", row_number().over(w))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("token_mass"),
        countDistinct(col("source")).as("n_sources"),
        max(when(col("rk") === 1, col("doc_id"))).as("first_doc"),
        sum(col("rk") * col("doc_id")).as("order_checksum"))
      .orderBy("shard")
  }

  // ---- incremental aggregate-state maintenance ----

  /** Per-customer (count, exact-decimal total) state over the pre-1999
    * lake, merged with the 1999+ delta batch, compared key-by-key
    * against the full recompute INSIDE the plan: `n_mismatch` must be
    * 0 or the hash fails. The state column stays DECIMAL(30,8) until
    * the final cast, so merge = addition is exact and associative —
    * the property that makes incremental maintenance correct at any
    * batch boundary (a float state would drift per merge order). */
  def qStateMerge(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val orders = Tables.load(s, d, "orders")
    def state(df: DataFrame) = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(30, 8))).as("total"))
    val base = state(orders.filter(col("o_orderdate") < lit("1999-01-01")))
      .select(col("o_custkey"), col("n").as("n_b"), col("total").as("t_b"))
    val delta = state(orders.filter(col("o_orderdate") >= lit("1999-01-01")))
      .select(col("o_custkey"), col("n").as("n_d"), col("total").as("t_d"))
    val merged = base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_m"),
        (coalesce(col("t_b"), lit(0).cast(DecimalType(30, 8))) +
         coalesce(col("t_d"), lit(0).cast(DecimalType(30, 8)))).as("t_m"))
    val direct = state(orders)
      .select(col("o_custkey"), col("n").as("n_f"), col("total").as("t_f"))
    merged.join(direct, Seq("o_custkey"), "full_outer")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_m")).as("n_rows"),
        sum(col("t_m")).cast("double").as("grand_total"),
        sum((col("n_m").isNull || col("n_f").isNull ||
             col("n_m") =!= col("n_f") ||
             col("t_m") =!= col("t_f")).cast("int")).as("n_mismatch"))
  }

  // ---- mixture-scheduled interleave ----

  /** Stride-scheduled training-stream composition: each source's k-th
    * document (deterministic md5 order) occupies virtual time
    * (k − 0.5)/w_s with w_s the temperature-scaled mixture weight
    * (exactly `q_mixture_weights`' τ=0.5 formula) — the classic
    * stride scheduler, so any virtual-time prefix realizes the target
    * mixture. Batch assignment is floor(p·20/T_max): a ROW-LOCAL
    * expression (no global sort — the scale-honest way to batch a
    * weighted interleave), with T_max the latest source finish time.
    * The output shows composition drift as upsampled sources exhaust
    * (the known stride-scheduling effect production loops around):
    * early batches hit all sources, late batches only the
    * under-sampled ones — `top_share` rises. */
  def qMixtureInterleave(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).repartition(col("doc_id"))
      .select(col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).as("nt"),
        md5(concat(lit("mix:"), col("doc_id").cast("string"))).as("h"))
    val srcTok = base.groupBy("source")
      .agg(sum(col("nt")).as("n_tokens"), count(lit(1)).as("n_docs"))
    val tot = srcTok.agg(sum(col("n_tokens")).as("total"))
    val sq = srcTok.crossJoin(broadcast(tot))
      .withColumn("sq", sqrt(col("n_tokens") / col("total")))
    val den = sq
      .agg(sort_array(collect_list(struct(col("source"), col("sq"))))
        .as("sqs"))
      .select(expr("aggregate(sqs, 0d, (a, x) -> a + x.sq)").as("denom"))
    val weights = sq.crossJoin(broadcast(den))
      .select(col("source"), (col("sq") / col("denom")).as("w"),
        col("n_docs"))
    val wrk = Window.partitionBy("source").orderBy("h", "doc_id")
    val timed = base.withColumn("k", row_number().over(wrk))
      .join(broadcast(weights.select(col("source"), col("w"))), "source")
      .withColumn("p", (col("k") - lit(0.5)) / col("w"))
    val tmax = weights
      .select(max(col("n_docs") / col("w")).as("t_max"))
    val perSrc = timed.crossJoin(broadcast(tmax))
      .withColumn("batch",
        least(floor(col("p") * lit(20.0) / col("t_max")), lit(19.0))
          .cast("int"))
      .groupBy(col("batch"), col("source")).agg(count(lit(1)).as("n"))
    perSrc.groupBy("batch")
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        round(max(col("n")) / sum(col("n")), 6).as("top_share"))
      .orderBy("batch")
  }

  // ---- poison-row quarantine ----

  /** Corrupt-record routing at ingest: a JSON payload per document
    * (deterministically TRUNCATED for doc_id % 7 == 3 — the poison
    * rows), parsed with `from_json` in its default PERMISSIVE mode;
    * rows whose parse comes back null route to quarantine, clean rows
    * contribute their parsed fields. The production point: poison
    * input must neither kill the job (FAILFAST) nor silently vanish
    * (DROPMALFORMED) — it lands in an auditable channel, and the
    * clean/quarantined split is exact, so the oracle replays it with
    * `json_valid`. Row-local; the only shuffle is the output agg. */
  def qQuarantine(s: SparkSession, d: String): DataFrame = {
    val payload = when(col("doc_id") % 7 === 3,
        concat(lit("{\"id\": "), col("doc_id"), lit(", \"n\":")))
      .otherwise(concat(lit("{\"id\": "), col("doc_id"),
        lit(", \"n\": "), col("n_chars"),
        lit(", \"src\": \""), col("source"), lit("\"}")))
    docs(s, d).select(col("doc_id"), col("source"), payload.as("payload"))
      .withColumn("j", from_json(col("payload"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, n BIGINT, src STRING")))
      .groupBy("source")
      .agg(sum(col("j.id").isNotNull.cast("long")).as("n_clean"),
        sum(col("j.id").isNull.cast("long")).as("n_quarantined"),
        sum(when(col("j.id").isNotNull, col("j.n"))).as("clean_chars"))
      .orderBy("source")
  }

  // ---- chat-template flattening (SFT prep) ----

  /** Instruction-tuning data prep: each document becomes a
    * deterministic 3-turn conversation (fixed system prompt, the
    * doc's first 8 tokens as the user turn, the remainder as the
    * assistant turn), flattened through a chat template with role
    * markers — and the output carries the TOKEN OFFSETS of the
    * assistant span, which is exactly what a trainer's loss mask
    * needs (loss on assistant tokens only). Offsets are computed
    * from the same whitespace tokenization both engines share, so
    * the span arithmetic is oracle-checkable; `template_md5` pins
    * the flattened bytes. Row-local — no shuffle before the output
    * ordering; at 100 TB this is a map stage like the HTML extract. */
  def qChatTemplate(s: SparkSession, d: String): DataFrame = {
    // coalesce NULL text: Spark's concat_ws would skip the null slices
    // and build a real template while the oracle's `|| NULL` nulls the
    // whole row — NULL docs must template as empty turns in BOTH engines
    val toks = TextStats.tokens(coalesce(col("text"), lit("")))
    val userTxt = concat_ws(" ", slice(toks, 1, 8))
    val asstTxt = concat_ws(" ", slice(toks, 9, 1000000))
    val sys = lit("You are a helpful assistant.")
    val flat = concat(
      lit("<|system|> "), sys,
      lit(" <|user|> "), userTxt,
      lit(" <|assistant|> "), asstTxt)
    docs(s, d)
      .select(col("doc_id"), flat.as("flat"),
        TextStats.tokenCount(concat(lit("<|system|> "), sys,
          lit(" <|user|> "), userTxt, lit(" <|assistant|>"))).as("asst_start"))
      .select(col("doc_id"),
        TextStats.tokenCount(col("flat")).as("n_tokens"),
        col("asst_start"),
        (TextStats.tokenCount(col("flat")) - col("asst_start"))
          .as("asst_len"),
        md5(col("flat")).as("template_md5"))
      .orderBy("doc_id")
  }

  // ---- preference-pair construction (DPO prep) ----

  private val jacThreshold = 0.8

  /** Post-training preference pairs from near-duplicate clusters: when
    * a cluster holds variants of the same content, the highest-quality
    * member is the `chosen` response and the lowest the `rejected` —
    * the standard weak-supervision recipe for DPO/RLHF data when no
    * human labels exist. Reuses the audited Jaccard pair miner and
    * O(log n) connected components; chosen = max (quality, then min
    * doc), rejected = min (quality, then MAX doc — the opposite
    * tie-break, so all-equal-quality clusters still yield a distinct
    * pair). `prompt_md5` fingerprints the chosen doc's chat-template
    * user turn, tying the pair to `q_chat_template`'s prompt. */
  def qPreferencePairs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val cc = Memo.jacCC(s, d)
    val q = base.select(col("doc_id"),
      round(TextStats.qualityScore(col("text")), 6).as("quality"))
    val labeled = cc.join(q, "doc_id")
    val wBest = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    val wWorst = Window.partitionBy("cluster_id")
      .orderBy(col("quality").asc, col("doc_id").desc)
    val best = labeled.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("chosen_doc"),
        col("quality").as("chosen_q"))
    val worst = labeled.withColumn("rk", row_number().over(wWorst))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("rejected_doc"),
        col("quality").as("rejected_q"))
    val prompt = base.select(col("doc_id").as("chosen_doc"),
      md5(concat_ws(" ", slice(TextStats.tokens(
        coalesce(col("text"), lit(""))), 1, 8))).as("prompt_md5"))
    best.join(worst, "cluster_id")
      .join(prompt, "chosen_doc")
      .select(col("cluster_id"), col("prompt_md5"),
        col("chosen_doc"), col("rejected_doc"),
        round(col("chosen_q") - col("rejected_q"), 6).as("quality_gap"))
      .orderBy("cluster_id")
  }

  // ---- data-quality constraint audit ----

  def qDataQuality(s: SparkSession, d: String): DataFrame =
    graft.ops.Quality.ordersAudit(
      Tables.load(s, d, "orders"), Tables.load(s, d, "customer"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_span_dedup"    -> qSpanDedup,
    "q_bm25_search"   -> qBm25Search,
    "q_ann_pq"        -> qAnnPq,
    "q_epoch_shuffle" -> qEpochShuffle,
    "q_state_merge"   -> qStateMerge,
    "q_data_quality"  -> qDataQuality,
    "q_chat_template" -> qChatTemplate,
    "q_preference_pairs" -> qPreferencePairs,
    "q_mixture_interleave" -> qMixtureInterleave,
    "q_quarantine"    -> qQuarantine)

  private val T = TextStats.TOKENS("text")

  private val BM25_VALUES = bm25Terms
    .map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_data_quality" -> graft.ops.Quality.ORDERS_AUDIT_SQL,
    "q_preference_pairs" ->
      s"""WITH RECURSIVE ${PipelineQueries.CLOSURE_CTES},
         |t AS (SELECT doc_id, text, $T AS toks FROM documents),
         |q AS (SELECT doc_id,
         |        round(${PipelineQueries.QUALITY("text", "toks")}, 6)
         |          AS quality
         |      FROM t),
         |lq AS (SELECT l.cluster_id, l.doc_id, q.quality
         |       FROM lab l JOIN q ON q.doc_id = l.doc_id),
         |best AS (
         |  SELECT cluster_id, doc_id AS chosen_doc, quality AS chosen_q
         |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY quality DESC, doc_id ASC) AS rk FROM lq)
         |  WHERE rk = 1),
         |worst AS (
         |  SELECT cluster_id, doc_id AS rejected_doc, quality AS rejected_q
         |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY quality ASC, doc_id DESC) AS rk FROM lq)
         |  WHERE rk = 1),
         |pm AS (SELECT doc_id AS chosen_doc,
         |         md5(array_to_string(
         |           (${TextStats.TOKENS("coalesce(text, '')")})[1:8], ' '))
         |           AS prompt_md5
         |       FROM t)
         |SELECT b.cluster_id, pm.prompt_md5, b.chosen_doc, w.rejected_doc,
         |       round(b.chosen_q - w.rejected_q, 6) AS quality_gap
         |FROM best b JOIN worst w USING (cluster_id)
         |     JOIN pm USING (chosen_doc)
         |ORDER BY b.cluster_id""".stripMargin,
    "q_chat_template" ->
      s"""WITH t AS (SELECT doc_id,
         |  ${TextStats.TOKENS("coalesce(text, '')")} AS toks FROM documents),
         |b AS (
         |  SELECT doc_id,
         |         '<|system|> You are a helpful assistant. <|user|> '
         |           || array_to_string(toks[1:8], ' ')
         |           || ' <|assistant|> '
         |           || array_to_string(toks[9:1000000], ' ') AS flat,
         |         '<|system|> You are a helpful assistant. <|user|> '
         |           || array_to_string(toks[1:8], ' ')
         |           || ' <|assistant|>' AS prefix
         |  FROM t)
         |SELECT doc_id,
         |       CAST(len(${TextStats.TOKENS("flat")}) AS INTEGER)
         |         AS n_tokens,
         |       CAST(len(${TextStats.TOKENS("prefix")}) AS INTEGER)
         |         AS asst_start,
         |       CAST(len(${TextStats.TOKENS("flat")})
         |            - len(${TextStats.TOKENS("prefix")}) AS INTEGER)
         |         AS asst_len,
         |       md5(flat) AS template_md5
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_mixture_interleave" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, len($T) AS nt,
         |         md5('mix:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |src AS (
         |  SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |         count(*) AS n_docs
         |  FROM base GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM src),
         |sq AS (
         |  SELECT source, n_docs, sqrt(n_tokens / CAST(total AS DOUBLE)) AS sq
         |  FROM src CROSS JOIN tot),
         |den AS (SELECT list_sum(list(sq ORDER BY source)) AS denom FROM sq),
         |wts AS (
         |  SELECT source, n_docs, sq / denom AS w FROM sq CROSS JOIN den),
         |tmax AS (SELECT max(n_docs / w) AS t_max FROM wts),
         |timed AS (
         |  SELECT b.source,
         |         (row_number() OVER (PARTITION BY b.source
         |                             ORDER BY b.h, b.doc_id) - 0.5) / w.w
         |           AS p
         |  FROM base b JOIN wts w ON b.source = w.source),
         |batched AS (
         |  SELECT CAST(least(floor(p * 20.0 / t_max), 19.0) AS INTEGER)
         |           AS batch, source
         |  FROM timed CROSS JOIN tmax),
         |per_src AS (
         |  SELECT batch, source, count(*) AS n
         |  FROM batched GROUP BY batch, source)
         |SELECT batch, CAST(sum(n) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_sources,
         |       round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_share
         |FROM per_src GROUP BY batch ORDER BY batch""".stripMargin,
    "q_quarantine" ->
      """WITH raw AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 7 = 3
        |              THEN '{"id": ' || CAST(doc_id AS VARCHAR) || ', "n":'
        |              ELSE '{"id": ' || CAST(doc_id AS VARCHAR) ||
        |                   ', "n": ' || CAST(n_chars AS VARCHAR) ||
        |                   ', "src": "' || source || '"}' END AS payload
        |  FROM documents)
        |SELECT source,
        |       CAST(sum(CASE WHEN json_valid(payload) THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clean,
        |       CAST(sum(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)
        |            AS BIGINT) AS n_quarantined,
        |       CAST(sum(CASE WHEN json_valid(payload)
        |                     THEN CAST(json_extract_string(payload, '$.n')
        |                               AS BIGINT) END) AS BIGINT)
        |         AS clean_chars
        |FROM raw GROUP BY source ORDER BY source""".stripMargin,
    "q_span_dedup" -> Dedup.SPAN_COVERAGE(8),
    "q_bm25_search" -> Search.BM25_SQL(BM25_VALUES, 10),
    "q_ann_pq" ->
      """SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |  CAST(5 AS INTEGER) AS k, CAST(1 AS INTEGER) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_epoch_shuffle" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, len($T) AS n_toks,
         |         md5('ep1:' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, source, n_toks, h,
         |         CAST(strpos('0123456789abcdef', substring(h, 32, 1)) - 1
         |              AS INTEGER) AS shard
         |  FROM b),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY shard
         |                               ORDER BY h, doc_id) AS rk
         |  FROM sh)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS token_mass,
         |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |       max(CASE WHEN rk = 1 THEN doc_id END) AS first_doc,
         |       CAST(sum(rk * doc_id) AS BIGINT) AS order_checksum
         |FROM rk GROUP BY shard ORDER BY shard""".stripMargin,
    "q_state_merge" ->
      """WITH base AS (
        |  SELECT o_custkey, count(*) AS n_b,
        |         sum(CAST(o_totalprice AS DECIMAL(30,8))) AS t_b
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |delta AS (
        |  SELECT o_custkey, count(*) AS n_d,
        |         sum(CAST(o_totalprice AS DECIMAL(30,8))) AS t_d
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY o_custkey),
        |merged AS (
        |  SELECT o_custkey,
        |         coalesce(n_b, 0) + coalesce(n_d, 0) AS n_m,
        |         coalesce(t_b, 0) + coalesce(t_d, 0) AS t_m
        |  FROM base FULL OUTER JOIN delta USING (o_custkey)),
        |direct AS (
        |  SELECT o_custkey, count(*) AS n_f,
        |         sum(CAST(o_totalprice AS DECIMAL(30,8))) AS t_f
        |  FROM orders GROUP BY o_custkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(n_m) AS BIGINT) AS n_rows,
        |       CAST(CAST(sum(t_m) AS VARCHAR) AS DOUBLE) AS grand_total,
        |       CAST(sum(CASE WHEN n_m IS NULL OR n_f IS NULL
        |                       OR n_m <> n_f OR t_m <> t_f
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
        |FROM merged FULL OUTER JOIN direct USING (o_custkey)""".stripMargin)
}
