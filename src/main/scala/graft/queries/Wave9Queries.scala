package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.{Bpe, Linalg, Search, Similarity, TextStats}

/** Round-6 wave 9 — distributed linear algebra and the curation
  * signals that ride on it:
  *
  *  - `q_pca_power`: top principal component of the embedding table by
  *    distributed power iteration ([[Linalg.powerIteration]]) — the
  *    whitening/drift primitive, with the whole iteration chain (mean,
  *    dot, grid-sum, normalize) replayed by the oracle.
  *  - `q_kmeans`: full-corpus Lloyd k-means ([[Linalg.kmeans]]) — the
  *    DISTRIBUTED clustering path (the IVF/PQ quantizers deliberately
  *    fit on a capped driver sample; this is the operator for when the
  *    clusters themselves are the product, e.g. semantic sharding).
  *  - `q_hybrid_search`: BM25 ⊕ embedding retrieval fused by
  *    reciprocal-rank fusion — the standard RAG retrieval stack.
  *  - `q_perplexity_buckets`: CCNet-style head/middle/tail tercile
  *    bucketing of the unigram-LM score per source.
  *  - `q_tokenizer_fertility`: corpus-level BPE fertility (subword /
  *    whitespace token ratio) per source — the budget-planning number.
  *  - `q_safety_filter`: blocklist screening with leet-speak
  *    normalization — deterministic obfuscated terms are planted
  *    in-plan so the normalizer provably catches what the raw scan
  *    misses.
  *  - `q_l_diversity`: l-diversity audit on the k-anonymity
  *    quasi-identifier classes (distinct sensitive values per class).
  */
object Wave9Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) =
    Q.spread(Tables.load(s, d, "documents"))
  private def embs(s: SparkSession, d: String) =
    Q.spread(Tables.load(s, d, "embeddings"))

  private val dim = 64
  private val T = TextStats.TOKENS("text")

  // ---- PCA (power iteration) ----

  def qPcaPower(s: SparkSession, d: String): DataFrame =
    Linalg.powerIteration(embs(s, d), dim, iters = 4)

  // ---- k-means (distributed Lloyd) ----

  def qKmeans(s: SparkSession, d: String): DataFrame =
    Linalg.kmeans(embs(s, d), dim, k = 8, iters = 3)

  // ---- hybrid retrieval (RRF fusion) ----

  /** Keyword (BM25) and semantic (cosine) top-10 lists fused with
    * reciprocal-rank fusion, rrf = Σ 1/(60+rank) — rank-only fusion is
    * the production default precisely because the two scores are not
    * calibrated against each other. Query vectors are the embeddings
    * whose vec_id matches the BM25 query_id, so both retrievers answer
    * the same three queries; doc_id and vec_id share the id space. */
  def qHybridSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bm = Search.bm25TopK(docs(s, d),
        Wave8Queries.bm25Terms.toDF("query_id", "term"), k = 10,
        dlOpt = Some(Memo.docLengths(s, d)),
        tokOpt = Some(Memo.docTerms(s, d)))
      .select(col("query_id").cast("bigint").as("query_id"),
        col("doc_id"), col("rk").as("bm25_rk"))
    val e = embs(s, d)
    val cos = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rk").as("cos_rk"))
    val fused = bm.join(cos, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("bm25_rk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("cos_rk")), lit(0.0)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("bm25_rk"), col("cos_rk"))
      .orderBy("query_id", "rk")
  }

  // ---- CCNet-style perplexity buckets ----

  /** Per-source terciles of the per-doc unigram-LM score (the
    * `q_lm_score` chain), CCNet's head/middle/tail split: bucket on the
    * ROUNDED score (ties → doc_id) so the ntile boundary is the same
    * deterministic ordering in both engines, then per-(source, bucket)
    * counts and score stats — the dsum is safe because the rounded
    * scores sit on the 1e-6 grid. */
  def qPerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), col("source"),
      explode(TextStats.tokens(col("text"))).as("tok"))
    // r17 (guide §2.4): ONE corpus explode — the per-(doc, tok) counts
    // are the shared base; the model's (source, tok) counts are their
    // exact long re-aggregation (sum of counts = count), so the former
    // second explode lineage is gone. `dt` is cached as the
    // compute-once barrier for its two consumers (CacheManager dedupes
    // across calls; bounded by distinct (doc, token) pairs).
    val dt = toks.groupBy("doc_id", "source", "tok")
      .agg(count(lit(1)).as("cnt")).cache()
    val counts = dt.groupBy("source", "tok").agg(sum(col("cnt")).as("c"))
    val totals = counts.groupBy("source")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val model = counts.join(totals, "source")
      .select(col("source"), col("tok"),
        log((col("c") + lit(1)) / (col("n") + col("v"))).as("logp"))
    val scored = dt
      .join(model, Seq("source", "tok"))
      .select(col("doc_id"), col("source"),
        (col("cnt") * col("logp")).as("term"), col("cnt"))
      .groupBy("doc_id", "source")
      .agg(sort_array(collect_list(struct(col("term")))).as("terms"),
        sum(col("cnt")).as("n_tokens"))
      .select(col("doc_id"), col("source"),
        round(-expr("aggregate(terms, 0d, (acc, x) -> acc + x.term)")
          / col("n_tokens"), 6).as("lm_score"))
    val w = Window.partitionBy("source")
      .orderBy(col("lm_score").asc, col("doc_id").asc)
    scored.withColumn("t", ntile(3).over(w))
      .withColumn("bucket", when(col("t") === 1, lit("head"))
        .when(col("t") === 2, lit("middle")).otherwise(lit("tail")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(Q.dsum(col("lm_score")) / count(lit(1)), 6).as("avg_score"),
        round(min(col("lm_score")), 6).as("min_score"),
        round(max(col("lm_score")), 6).as("max_score"))
      .orderBy("source", "bucket")
  }

  // ---- tokenizer fertility ----

  /** Corpus-level subword fertility per source with the shipped BPE
    * merges: BPE tokens per whitespace word, and characters per BPE
    * token — the two numbers that convert a trainer's token budget into
    * corpus size. All sums are exact longs; only the final two ratios
    * are (identical) double divisions. */
  def qTokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val m = Bpe.shipped
    val nChars = coalesce(aggregate(
      transform(TextStats.tokens(col("text")),
        w => size(regexp_extract_all(w, lit("(?s)."), lit(0))).cast("long")),
      lit(0L), (acc, x) => acc + x), lit(0L))
    docs(s, d).select(col("source"),
        TextStats.tokenCount(col("text")).cast("long").as("ws"),
        Bpe.tokenCount(col("text"), m).cast("long").as("bpe"),
        nChars.as("chars"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"),
        sum(col("chars")).as("n_chars"))
      .withColumn("fertility",
        round(col("n_bpe_tokens") / col("n_ws_tokens"), 6))
      .withColumn("chars_per_token",
        round(col("n_chars") / col("n_bpe_tokens"), 6))
      .orderBy("source")
  }

  // ---- safety blocklist filter ----

  private val leetFrom = "013457"
  private val leetTo = "oieast"
  private val blockPat = "\\b(slow|merge|hack)\\b"

  /** Blocklist screening with obfuscation folding: a deterministic
    * leet-speak suffix is planted per doc (in-plan, both engines), the
    * normalizer lowercases and folds digit-for-letter substitutions,
    * and the word-boundary blocklist scan runs on BOTH the raw and the
    * normalized text — `n_hits_norm > n_hits_raw` exactly where the
    * normalizer catches planted obfuscation the raw scan misses.
    * Row-local regex cascade (RE2-compatible, the PII-scrub shape). */
  def qSafetyFilter(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val suffix = when(did % 3 === 0, lit(" h4ck n0w"))
      .when(did % 3 === 1, lit(" 5l0w m3rg3"))
      .otherwise(lit(" all clear"))
    val aug = concat(coalesce(col("text"), lit("")), suffix)
    val norm = translate(lower(aug), leetFrom, leetTo)
    val hitsRaw = size(regexp_extract_all(lower(aug), lit(blockPat), lit(0)))
    val hitsNorm = size(regexp_extract_all(norm, lit(blockPat), lit(0)))
    docs(s, d).select(did,
        hitsRaw.cast("int").as("n_hits_raw"),
        hitsNorm.cast("int").as("n_hits_norm"))
      .withColumn("verdict", when(col("n_hits_norm") >= 2, lit("block"))
        .when(col("n_hits_norm") === 1, lit("review"))
        .otherwise(lit("pass")))
      .orderBy("doc_id")
  }

  // ---- l-diversity ----

  /** l-diversity over the same quasi-identifier classes as
    * `q_k_anonymity` ((nation, segment) on customer): l = distinct
    * sensitive values (banded account balance) per class; a class with
    * l = 1 leaks its sensitive value to anyone who can place a person
    * in it, k-anonymity notwithstanding. One-row audit. */
  def qLDiversity(s: SparkSession, d: String): DataFrame = {
    val sens = floor(col("c_acctbal").cast("double") / lit(2000.0))
    val classes = Tables.load(s, d, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), sens.as("band"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(countDistinct(col("band")).as("l"), count(lit(1)).as("n_rows"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      min(col("l")).as("min_l"),
      round(Q.dsum(col("l")) / count(lit(1)), 6).as("avg_l"),
      sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_classes_l1"),
      sum(when(col("l") === 1, col("n_rows")).otherwise(0L))
        .as("n_rows_at_risk"))
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pca_power"           -> qPcaPower,
    "q_kmeans"              -> qKmeans,
    "q_hybrid_search"       -> qHybridSearch,
    "q_perplexity_buckets"  -> qPerplexityBuckets,
    "q_tokenizer_fertility" -> qTokenizerFertility,
    "q_safety_filter"       -> qSafetyFilter,
    "q_l_diversity"         -> qLDiversity)

  private def bm25Values: String =
    Wave8Queries.bm25Terms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_pca_power" -> Linalg.POWER_SQL(dim, iters = 4),
    "q_kmeans" -> Linalg.KMEANS_SQL(dim, k = 8, iters = 3),
    "q_hybrid_search" ->
      s"""WITH bm AS (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |         rk AS bm25_rk
         |  FROM (${Search.BM25_SQL(bm25Values, 10)})),
         |q AS (SELECT vec_id AS query_id, embedding AS qe
         |      FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce
         |      FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id,
         |         ${Similarity.COSINE("qe", "ce", dim)} AS cos
         |       FROM q JOIN c ON query_id <> neighbor_id),
         |cosr AS (SELECT query_id, neighbor_id AS doc_id,
         |           CAST(rk AS INTEGER) AS cos_rk
         |         FROM (SELECT query_id, neighbor_id,
         |                 row_number() OVER (PARTITION BY query_id
         |                   ORDER BY cos DESC, neighbor_id) AS rk
         |               FROM sc)
         |         WHERE rk <= 10),
         |f AS (SELECT coalesce(bm.query_id, cosr.query_id) AS query_id,
         |        coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
         |        bm.bm25_rk, cosr.cos_rk,
         |        coalesce(1.0 / (60.0 + bm.bm25_rk), 0.0)
         |          + coalesce(1.0 / (60.0 + cosr.cos_rk), 0.0) AS rrf
         |      FROM bm FULL OUTER JOIN cosr
         |        ON bm.query_id = cosr.query_id AND bm.doc_id = cosr.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY rrf DESC, doc_id ASC) AS rk FROM f)
         |SELECT query_id, CAST(rk AS INTEGER) AS rk, doc_id,
         |       round(rrf, 6) AS rrf, bm25_rk, cos_rk
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "q_perplexity_buckets" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source, unnest($T) AS tok FROM documents),
         |counts AS (SELECT source, tok, count(*) AS c
         |           FROM tok GROUP BY source, tok),
         |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
         |                  count(*) AS v
         |           FROM counts GROUP BY source),
         |model AS (SELECT counts.source, counts.tok,
         |                 ln((c + 1) / (n + v)) AS logp
         |          FROM counts JOIN totals ON counts.source = totals.source),
         |per_doc_tok AS (
         |  SELECT t.doc_id, t.source, count(*) * m.logp AS term,
         |         count(*) AS cnt
         |  FROM tok t JOIN model m ON m.source = t.source AND m.tok = t.tok
         |  GROUP BY t.doc_id, t.source, m.logp, t.tok),
         |agg AS (
         |  SELECT doc_id, source, list(term ORDER BY term) AS terms,
         |         CAST(sum(cnt) AS BIGINT) AS n_tokens
         |  FROM per_doc_tok GROUP BY doc_id, source),
         |scored AS (
         |  SELECT doc_id, source,
         |    round(-list_sum(terms) / n_tokens, 6) AS lm_score
         |  FROM agg),
         |b AS (SELECT source, lm_score,
         |        ntile(3) OVER (PARTITION BY source
         |          ORDER BY lm_score ASC, doc_id ASC) AS t
         |      FROM scored)
         |SELECT source,
         |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |         ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(${Q.DSUM("lm_score")} / count(*), 6) AS avg_score,
         |  round(min(lm_score), 6) AS min_score,
         |  round(max(lm_score), 6) AS max_score
         |FROM b GROUP BY source, t ORDER BY source, bucket""".stripMargin,
    "q_tokenizer_fertility" -> {
      val m = Bpe.shipped
      s"""WITH per AS (SELECT source,
         |    CAST(len($T) AS BIGINT) AS ws,
         |    ${Bpe.TOKEN_COUNT("text", m)} AS bpe,
         |    CAST(coalesce(list_sum(list_transform($T,
         |      w -> CAST(len(regexp_extract_all(w, '(?s).')) AS BIGINT))), 0)
         |      AS BIGINT) AS chars
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
         |  CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(chars) AS BIGINT) AS n_chars,
         |  round(CAST(sum(bpe) AS BIGINT) / CAST(sum(ws) AS BIGINT), 6)
         |    AS fertility,
         |  round(CAST(sum(chars) AS BIGINT) / CAST(sum(bpe) AS BIGINT), 6)
         |    AS chars_per_token
         |FROM per GROUP BY source ORDER BY source""".stripMargin
    },
    "q_safety_filter" ->
      s"""WITH a AS (SELECT doc_id,
         |    coalesce(text, '') ||
         |      CASE doc_id % 3 WHEN 0 THEN ' h4ck n0w'
         |        WHEN 1 THEN ' 5l0w m3rg3' ELSE ' all clear' END AS aug
         |  FROM documents),
         |n AS (SELECT doc_id, lower(aug) AS raw,
         |    translate(lower(aug), '$leetFrom', '$leetTo') AS norm
         |  FROM a)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '\\b(slow|merge|hack)\\b'))
         |    AS INTEGER) AS n_hits_raw,
         |  CAST(len(regexp_extract_all(norm, '\\b(slow|merge|hack)\\b'))
         |    AS INTEGER) AS n_hits_norm,
         |  CASE WHEN len(regexp_extract_all(norm, '\\b(slow|merge|hack)\\b')) >= 2
         |         THEN 'block'
         |       WHEN len(regexp_extract_all(norm, '\\b(slow|merge|hack)\\b')) = 1
         |         THEN 'review'
         |       ELSE 'pass' END AS verdict
         |FROM n ORDER BY doc_id""".stripMargin,
    "q_l_diversity" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000.0) AS BIGINT) AS band
        |  FROM customer),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |    count(DISTINCT band) AS l, count(*) AS n_rows
        |  FROM c GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  round(CAST(CAST(sum(CAST(l AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
        |    / count(*), 6) AS avg_l,
        |  CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_classes_l1,
        |  CAST(sum(CASE WHEN l = 1 THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS n_rows_at_risk
        |FROM cls""".stripMargin)
}
