package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Data Selection with Importance Resampling (DSIR, Xie et al. 2023,
  * arXiv:2302.03169) — the standard "make the crawl look like the
  * target domain" selection step of a pretraining pipeline: estimate
  * hashed-n-gram unigram distributions for a TARGET corpus and the RAW
  * pool, score every raw document by its log importance ratio
  * Σ_tokens log(p_target(bucket)/p_raw(bucket)), and keep the
  * documents the ratio favors.
  *
  * Same oracle-replayable discipline as [[LangId]] (the round-7 NB
  * machinery):
  *  - features: whitespace tokens of the lowercased text, hashed into
  *    [[buckets]] buckets via the md5 low bits (power-of-two mask, so
  *    engine signedness cannot matter);
  *  - model: add-one-smoothed unigram probabilities for target and
  *    raw, fit IN-PLAN on the train split (two bounded
  *    groupBy(bucket) aggregates — no driver-side fit); the per-bucket
  *    log-ratio is quantized to the 1e-6 integer grid, so the per-doc
  *    score is EXACT integer arithmetic (bit-identical across
  *    engines, layouts, and AQE replans; `ln` disagreement budget as
  *    in `q_lm_score`);
  *  - selection: score > 0 (the document looks more target-like than
  *    pool-like).
  *
  * 100 TB shape: the token explode collapses map-side into a per-doc
  * bucket-count frame (one uniform-key shuffle); both distribution
  * fits read that compact frame; the fitted ratio table is ≤
  * [[buckets]] rows and rides a broadcast equi-join into the scoring
  * aggregate. Nothing driver-side, nothing quadratic, no state beyond
  * the 2048-row model.
  */
object Dsir {

  /** Hash-bucket count (power of two → low-bit mask in both engines). */
  val buckets: Int = 2048

  // shared exact-arithmetic plumbing — ONE implementation per engine
  // ([[Quantize]]; drift between models would break the bit-identity
  // contract)
  private def q6(c: Column): Column = Quantize.q6(c)
  private def Q6(e: String): String = Quantize.Q6(e)
  private def bucketCol(t: Column): Column = Quantize.bucket(t, buckets)

  /** Per-doc importance score over an augmented corpus (columns
    * `doc_id`, `lang`, `aug`, `is_train` — [[LangId.augmented]]'s
    * contract). Target = train-split docs whose `lang` is
    * `targetLang`; raw = the whole train split. Returns
    * (doc_id, lang, is_train, n_tok, score) for EVERY doc, score on
    * the 1e-6 integer grid. */
  def scores(aug: DataFrame, targetLang: String): DataFrame = {
    val docBuckets = aug
      .select(col("doc_id"), col("lang"), col("is_train"),
        lower(col("aug")).as("la"))
      .select(col("doc_id"), col("lang"), col("is_train"),
        explode(TextStats.tokens(col("la"))).as("t"))
      .select(col("doc_id"), col("lang"), col("is_train"),
        bucketCol(col("t")).as("b"))
      .groupBy("doc_id", "lang", "is_train", "b")
      .agg(count(lit(1)).as("cnt"))
      // the diamond: both distribution fits AND the scoring join read
      // this frame (the LangId measurement: without a cache each
      // branch re-runs the corpus-sized explode+hash)
      .cache()
    val tgt = docBuckets.filter(col("is_train") && col("lang") === targetLang)
      .groupBy("b").agg(sum(col("cnt")).as("ct"))
    val raw = docBuckets.filter(col("is_train"))
      .groupBy("b").agg(sum(col("cnt")).as("cr"))
    val totals = tgt.agg(sum(col("ct")).as("nt"))
      .crossJoin(raw.agg(sum(col("cr")).as("nr")))
    // full bucket lattice so absent buckets carry the smoothed default
    val ratio = totals
      .select(col("nt"), col("nr"),
        explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("b"))
      .join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .select(col("b"),
        (q6(log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
            (col("nt") + lit(buckets)))) -
          q6(log((coalesce(col("cr"), lit(0L)) + lit(1.0)) /
            (col("nr") + lit(buckets))))).as("q"))
    docBuckets.select(col("doc_id"), col("lang"), col("is_train"),
        col("b"), col("cnt"))
      .join(broadcast(ratio), "b")
      .groupBy("doc_id", "lang", "is_train")
      .agg(sum(col("cnt")).as("n_tok"), sum(col("cnt") * col("q")).as("score"))
  }

  /** [[scores]] plus the budget-free DSIR selection rule: keep a doc
    * iff its PER-TOKEN mean log-ratio clears the midpoint between the
    * target train docs' mean and the whole train pool's mean — the
    * classic likelihood-ratio decision boundary, self-calibrated
    * in-plan from a 1-row statistics frame (so the threshold adapts
    * to any corpus scale; a fixed `score > 0` cut drifts with doc
    * length and smoothing mass). The compare is EXACT: score/n_tok >
    * (St/Tt + Sr/Tr)/2 is cross-multiplied into 38-digit decimal
    * integer products (2·score·Tt·Tr vs n_tok·(St·Tr + Sr·Tt), with
    * Tt, Tr > 0), so no float fold can flip a boundary doc. */
  def selected(aug: DataFrame, targetLang: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // r17 (guide §2.4 duplicate lineage): the scored frame feeds TWO
    // subtrees — the 1-row calibration aggregate and the selection
    // crossJoin — and without a persist each re-runs the ratio
    // broadcast join + per-doc groupBy over the (cached) bucket
    // counts. One row per doc, narrow; MEMORY_AND_DISK degrades to
    // recompute. It stays cached until the runner clears the cache,
    // for the same reason as docBuckets above: the plan is canonically
    // identical per (session, corpus), so CacheManager dedupes repeated
    // calls onto one entry — unpersisting it per call would force a
    // rebuild per call (the Wave29 k-core measurement).
    val sc = scores(aug, targetLang)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cal = sc.filter(col("is_train")).agg(
      sum(when(col("lang") === targetLang, col("score"))
        .otherwise(0L)).as("st"),
      sum(when(col("lang") === targetLang, col("n_tok"))
        .otherwise(0L)).as("tt"),
      sum(col("score")).as("sr"), sum(col("n_tok")).as("tr"))
    sc.crossJoin(broadcast(cal))
      .withColumn("sel",
        (col("score").cast(dec) * lit(2) * col("tt").cast(dec) *
          col("tr").cast(dec)) >
          (col("n_tok").cast(dec) *
            (col("st").cast(dec) * col("tr").cast(dec) +
              col("sr").cast(dec) * col("tt").cast(dec))))
      .select(col("doc_id"), col("lang"), col("is_train"),
        col("n_tok"), col("score"), col("sel"))
  }

  /** DuckDB twin: CTE chain expecting [[LangId.AUG_CTE]]'s `a` in
    * scope, ending with `dsel(doc_id, lang, is_train, n_tok, score,
    * sel)` — [[selected]]'s contract. */
  def SCORE_CTES(targetLang: String): String =
    s"""dtok AS (
       |  SELECT doc_id, lang, is_train,
       |    CAST(md5_number_upper(t) % $buckets AS BIGINT) AS b
       |  FROM a, unnest(${TextStats.TOKENS("lower(aug)")}) AS u(t)),
       |ddb AS (SELECT doc_id, lang, is_train, b, count(*) AS cnt
       |        FROM dtok GROUP BY ALL),
       |dtg AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS ct FROM ddb
       |        WHERE is_train AND lang = '$targetLang' GROUP BY b),
       |drw AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cr FROM ddb
       |        WHERE is_train GROUP BY b),
       |dtot AS (SELECT (SELECT sum(ct) FROM dtg) AS nt,
       |                (SELECT sum(cr) FROM drw) AS nr),
       |dr AS (
       |  SELECT bb.b,
       |    ${Q6(s"ln((coalesce(ct, 0) + 1.0) / (nt + $buckets))")} -
       |    ${Q6(s"ln((coalesce(cr, 0) + 1.0) / (nr + $buckets))")} AS q
       |  FROM (SELECT unnest(generate_series(0, ${buckets - 1})) AS b) bb
       |  CROSS JOIN dtot
       |  LEFT JOIN dtg ON dtg.b = bb.b
       |  LEFT JOIN drw ON drw.b = bb.b),
       |dscore AS (
       |  SELECT d.doc_id, d.lang, d.is_train,
       |    CAST(sum(d.cnt) AS BIGINT) AS n_tok,
       |    CAST(sum(d.cnt * r.q) AS BIGINT) AS score
       |  FROM ddb d JOIN dr r ON r.b = d.b
       |  GROUP BY d.doc_id, d.lang, d.is_train),
       |dcal AS (
       |  SELECT
       |    CAST(sum(CASE WHEN lang = '$targetLang' THEN score ELSE 0 END)
       |      AS BIGINT) AS st,
       |    CAST(sum(CASE WHEN lang = '$targetLang' THEN n_tok ELSE 0 END)
       |      AS BIGINT) AS tt,
       |    CAST(sum(score) AS BIGINT) AS sr,
       |    CAST(sum(n_tok) AS BIGINT) AS tr
       |  FROM dscore WHERE is_train),
       |dsel AS (
       |  SELECT doc_id, lang, is_train, n_tok, score,
       |    CAST(score AS HUGEINT) * 2 * tt * tr >
       |      CAST(n_tok AS HUGEINT) *
       |        (CAST(st AS HUGEINT) * tr + CAST(sr AS HUGEINT) * tt) AS sel
       |  FROM dscore CROSS JOIN dcal)""".stripMargin
}
