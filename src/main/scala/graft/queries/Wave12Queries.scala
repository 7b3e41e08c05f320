package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.{Search, Similarity, TextStats}

/** Round-7 wave 12 — evaluation and release-reporting operators:
  *
  *  - `q_retrieval_eval`: recall@k / MRR / nDCG of the BM25 keyword
  *    retriever against exact-cosine ground truth — the engine ships
  *    four retrievers (BM25, brute, IVF, LSH, PQ) and this is the
  *    operator that SCORES one against another, closing the retrieval
  *    loop (build → serve → evaluate).
  *  - `q_zipf`: rank-frequency (Zipf) slope of the corpus vocabulary by
  *    explicit least squares on grid-exact folds — the one-number
  *    health check of tokenizer + corpus composition.
  *  - `q_dataset_card`: the per-source release datasheet — docs,
  *    tokens, primary-language share, mean quality, exact-dup rate —
  *    composed from the same expression twins the funnel gates on, so
  *    the card provably describes what the pipeline actually shipped.
  */
object Wave12Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- retrieval evaluation ----

  private val evalK = 10

  /** Ideal DCG for linear gains (11-i) at ranks 1..k — a shared
    * constant both engines compute from the same closed form. */
  private def idcgSql: String =
    s"(SELECT sum((${evalK + 1} - i) / log2(i + 1.0)) " +
      s"FROM (SELECT unnest(range(1, ${evalK + 1})) AS i))"

  /** BM25's top-10 scored against exact-cosine truth for the same three
    * queries (query vectors = embeddings with vec_id < 3, as in
    * `q_hybrid_search`): per query recall@10, MRR (reciprocal of the
    * best SYSTEM rank holding any truth-set doc — the standard
    * system-rank MRR), and nDCG@10 with linear gain (11 − truth rank).
    * Truth is the audited brute-force path; the metric math is rank
    * arithmetic plus log2 — IEEE-identical per row in both engines. */
  def qRetrievalEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, d, "embeddings")
    val truth = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3),
        k = evalK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rk").as("truth_rk"))
    val sys = Search.bm25TopK(docs(s, d),
        Wave8Queries.bm25Terms.toDF("query_id", "term"), k = evalK,
        dlOpt = Some(Memo.docLengths(s, d)),
        tokOpt = Some(Memo.docTerms(s, d)))
      .select(col("query_id").cast("bigint").as("query_id"),
        col("doc_id"), col("rk").as("sys_rk"))
    val idcg = (1 to evalK).map(i => (evalK + 1 - i)
      / (math.log(i + 1.0) / math.log(2.0))).sum
    val joined = sys.join(truth, Seq("query_id", "doc_id"), "left")
      .withColumn("hit", col("truth_rk").isNotNull)
      .withColumn("gain", when(col("hit"),
        (lit(evalK + 1) - col("truth_rk")).cast("double")
          / log2(col("sys_rk") + lit(1.0))).otherwise(lit(0.0)))
    joined.groupBy("query_id")
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"),
        round(sum(when(col("hit"), 1L).otherwise(0L)).cast("double")
          / lit(evalK), 6).as("recall"),
        round(coalesce(lit(1.0)
          / min(when(col("hit"), col("sys_rk"))), lit(0.0)), 6).as("mrr"),
        round(Q.gsum(col("gain")) / lit(idcg), 6).as("ndcg"))
      .orderBy("query_id")
  }

  // ---- Zipf slope ----

  private val zipfTop = 1000

  /** Least-squares slope/intercept of ln(freq) on ln(rank) over the
    * top-1000 vocabulary — the Zipf exponent (healthy natural-language
    * corpora sit near −1; a flat slope says templated/synthetic text,
    * a cliff says vocabulary collapse). Rank selection is deterministic
    * ((count desc, token) via TakeOrderedAndProject); all four
    * regression sums fold on the exact integer grid ([[Q.gsum]]) so the
    * fit is layout-independent. */
  def qZipf(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d)
      .select(explode(TextStats.tokens(coalesce(col("text"), lit(""))))
        .as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val w = Window.orderBy(col("freq").desc, col("tok"))
    val ranked = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= zipfTop)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    ranked.agg(count(lit(1)).as("n_terms"),
        Q.gsum(col("x")).as("sx"), Q.gsum(col("y")).as("sy"),
        Q.gsum(col("x") * col("x")).as("sxx"),
        Q.gsum(col("x") * col("y")).as("sxy"))
      .select(col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
          .as("slope"),
        round((col("sy") - col("sx")
          * ((col("n_terms") * col("sxy") - col("sx") * col("sy"))
            / (col("n_terms") * col("sxx") - col("sx") * col("sx"))))
          / col("n_terms"), 6).as("intercept"))
  }

  // ---- dataset card ----

  /** The per-source release datasheet: docs, whitespace tokens, chars,
    * primary-language share, mean (rounded) quality, and the exact-dup
    * rate (share of docs that are NOT their fingerprint group's
    * canonical min-id member) — every column computed from the same
    * expression twins the curation funnel gates on. One groupBy plus a
    * fingerprint window. */
  def qDatasetCard(s: SparkSession, d: String): DataFrame = {
    val fpw = Window.partitionBy(TextStats.fingerprint(
      coalesce(col("text"), lit(""))))
    docs(s, d)
      .withColumn("is_dup",
        col("doc_id") =!= min(col("doc_id")).over(fpw))
      .withColumn("q", round(TextStats.qualityScore(col("text")), 6))
      .withColumn("lang_pred", TextStats.predictedLang(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(coalesce(col("text"), lit("")))
          .cast("long")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        round(sum(when(col("lang_pred") === "en", 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("pct_en"),
        round(Q.dsum(col("q")) / count(col("q")), 6).as("avg_quality"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
        round(sum(when(col("is_dup"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("dup_rate"))
      .orderBy("source")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_retrieval_eval" -> qRetrievalEval,
    "q_zipf"           -> qZipf,
    "q_dataset_card"   -> qDatasetCard)

  private def bm25Values: String =
    Wave8Queries.bm25Terms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_retrieval_eval" ->
      s"""WITH sys AS (
         |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |         rk AS sys_rk
         |  FROM (${Search.BM25_SQL(bm25Values, evalK)})),
         |q AS (SELECT vec_id AS query_id, embedding AS qe
         |      FROM embeddings WHERE vec_id < 3),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce
         |      FROM embeddings),
         |sc AS (SELECT query_id, neighbor_id,
         |         ${Similarity.COSINE("qe", "ce", 64)} AS cos
         |       FROM q JOIN c ON query_id <> neighbor_id),
         |truth AS (SELECT query_id, neighbor_id AS doc_id,
         |            CAST(rk AS BIGINT) AS truth_rk
         |          FROM (SELECT query_id, neighbor_id,
         |                  row_number() OVER (PARTITION BY query_id
         |                    ORDER BY cos DESC, neighbor_id) AS rk
         |                FROM sc)
         |          WHERE rk <= $evalK),
         |j AS (SELECT s.query_id, s.sys_rk, t.truth_rk,
         |        t.truth_rk IS NOT NULL AS hit,
         |        CASE WHEN t.truth_rk IS NOT NULL
         |          THEN CAST(${evalK + 1} - t.truth_rk AS DOUBLE)
         |            / log2(s.sys_rk + 1.0) ELSE 0.0 END AS gain
         |      FROM sys s LEFT JOIN truth t
         |        ON s.query_id = t.query_id AND s.doc_id = t.doc_id)
         |SELECT query_id,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
         |    / $evalK, 6) AS recall,
         |  round(coalesce(1.0
         |    / min(CASE WHEN hit THEN sys_rk END), 0.0), 6) AS mrr,
         |  round(${Q.GSUM("gain")} / $idcgSql, 6) AS ndcg
         |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q_zipf" ->
      s"""WITH tok AS (SELECT unnest(
         |    ${TextStats.TOKENS("coalesce(text, '')")}) AS tok
         |  FROM documents),
         |cnt AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
         |rk AS (SELECT *, row_number() OVER
         |         (ORDER BY freq DESC, tok) AS rank FROM cnt),
         |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
         |              ln(CAST(freq AS DOUBLE)) AS y
         |       FROM rk WHERE rank <= $zipfTop),
         |sums AS (SELECT count(*) AS n_terms,
         |  ${Q.GSUM("x")} AS sx, ${Q.GSUM("y")} AS sy,
         |  ${Q.GSUM("x * x")} AS sxx, ${Q.GSUM("x * y")} AS sxy FROM xy)
         |SELECT n_terms,
         |  round((n_terms * sxy - sx * sy)
         |    / (n_terms * sxx - sx * sx), 6) AS slope,
         |  round((sy - sx * ((n_terms * sxy - sx * sy)
         |    / (n_terms * sxx - sx * sx))) / n_terms, 6) AS intercept
         |FROM sums""".stripMargin,
    "q_dataset_card" -> {
      val T = TextStats.TOKENS("text")
      s"""WITH t AS (SELECT doc_id, source, text, n_chars, $T AS toks,
         |  ${TextStats.FINGERPRINT("coalesce(text, '')")} AS fp
         |  FROM documents),
         |f AS (SELECT *,
         |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup,
         |  round(${PipelineQueries.QUALITY("text", "toks")}, 6) AS q,
         |  (${TextStats.predictedSql("text")}) AS lang_pred
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(${TextStats.TOKENS("coalesce(text, '')")}))
         |    AS BIGINT) AS n_tokens,
         |  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars,
         |  round(CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS pct_en,
         |  round(${Q.DSUM("q")} / count(q), 6) AS avg_quality,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dups,
         |  round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS dup_rate
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    })
}
