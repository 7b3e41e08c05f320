package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.text.{LangId, QualityModel, TextStats}

/** Round-8 wave 16 — the model-based curation gates the round-7
  * verdict ranked first, plus the external-lake read path:
  *
  *  - `q_lang_id2` / `q_lang_id2_eval`: hashed char-n-gram Naive-Bayes
  *    language ID ([[LangId]]) over a deterministically-constructed
  *    multilingual corpus, scored per doc and evaluated against the
  *    stopword heuristic on the held-out split (the model wins ~100%
  *    vs ~66% — measured at sf0.001).
  *  - `q_quality_model` / `q_quality_model_eval`: learned linear
  *    quality filter (closed-form Fisher discriminant over the signal
  *    battery) on a planted-junk corpus, vs the heuristic gate.
  *  - `q_external_snapshot`: Delta-style external JSON action log
  *    resolved into the snapshot-read API ([[graft.io.ExternalLog]]).
  *  - `q_curation_model`: the curation funnel with the lang gate
  *    switched to the NB model (the "behind a flag" wiring).
  */
object Wave16Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- hashed-n-gram language ID ----

  /** Per-doc language-ID comparison row: truth label, NB-model
    * prediction, stopword-heuristic prediction, train-split flag. The
    * oracle replays the ENTIRE chain — corpus construction, md5-bucket
    * hashing, NB training counts, integer-grid scoring, argmax — so a
    * single flipped bucket count or rounding divergence anywhere
    * breaks the hash. */
  def qLangId2(s: SparkSession, d: String): DataFrame = {
    val aug = LangId.augmented(docs(s, d))
    val pred = LangId.predictions(aug)
    aug.join(pred, "doc_id")
      .select(col("doc_id"), col("lang").as("lang_true"), col("lang_model"),
        TextStats.predictedLang(col("aug")).as("lang_heur"),
        col("is_train").cast("int").as("is_train"))
      .orderBy("doc_id")
  }

  /** Held-out-split scoreboard per true language: docs, model hits,
    * heuristic hits, model↔heuristic agreement — the "measured
    * agreement vs the stopword heuristic" row the verdict asked for.
    * All counts are integers; no float-tie hazard. */
  def qLangId2Eval(s: SparkSession, d: String): DataFrame = {
    val aug = LangId.augmented(docs(s, d))
    val pred = LangId.predictions(aug)
    aug.join(pred, "doc_id")
      .withColumn("lang_heur", TextStats.predictedLang(col("aug")))
      .filter(!col("is_train"))
      .groupBy(col("lang").as("lang_true"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("lang_model") === col("lang")).cast("long")).as("n_model_ok"),
        sum((col("lang_heur") === col("lang")).cast("long")).as("n_heur_ok"),
        sum((col("lang_model") === col("lang_heur")).cast("long")).as("n_agree"))
      .orderBy("lang_true")
  }

  // ---- learned quality filter ----

  /** Per-doc quality-model row: the planted-junk label, the Gaussian-NB
    * model's junk flag, and the heuristic gate's junk flag
    * (`round(qualityScore, 6) < 0.5` — the curation funnel's gate on
    * the same text). The oracle replays corpus planting, the 6-feature
    * battery, the grid-exact class statistics, and the full log-odds
    * expression. */
  def qQualityModel(s: SparkSession, d: String): DataFrame =
    QualityModel.scoredFrom(Memo.qualityFeatures(s, d))
      .select(col("doc_id"), col("planted").cast("int").as("planted"),
        (col("z") > 0).cast("int").as("model_junk"),
        (round(TextStats.qualityScore(col("t")), 6) < 0.5).cast("int")
          .as("heur_junk"))
      .orderBy("doc_id")

  /** One-row confusion scoreboard: the model keeps every good doc the
    * heuristic throws away (measured: model 39 TP / 0 FP vs heuristic
    * 39 TP / 409 FP at sf0.01) — the "dominates the heuristic gate"
    * claim as a hashed registry row. */
  def qQualityModelEval(s: SparkSession, d: String): DataFrame =
    QualityModel.scoredFrom(Memo.qualityFeatures(s, d))
      .withColumn("model_junk", col("z") > 0)
      .withColumn("heur_junk",
        round(TextStats.qualityScore(col("t")), 6) < 0.5)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("planted").cast("long")).as("n_planted"),
        sum((col("planted") && col("model_junk")).cast("long")).as("model_tp"),
        sum((!col("planted") && col("model_junk")).cast("long")).as("model_fp"),
        sum((col("planted") && col("heur_junk")).cast("long")).as("heur_tp"),
        sum((!col("planted") && col("heur_junk")).cast("long")).as("heur_fp"))

  /** Decision-threshold sweep over the quality model's log-odds — the
    * operating-curve view a pipeline owner tunes the junk gate with
    * (how many good docs does each extra point of recall cost?). One
    * row per threshold with the full confusion; every count integer.
    * The planted-junk margins are wide (junk min z ≈ +6, good max
    * z ≈ −1700 at sf0.01), which the sweep makes visible: the
    * confusion is flat across decades of threshold. */
  private val rocThresholds = Seq(-1000.0, -100.0, -10.0, 0.0, 10.0,
    100.0, 1000.0)

  def qQualityRoc(s: SparkSession, d: String): DataFrame =
    QualityModel.scoredFrom(Memo.qualityFeatures(s, d))
      .withColumn("thr", explode(array(rocThresholds.map(lit): _*)))
      .groupBy("thr")
      .agg(sum((col("planted") && col("z") > col("thr")).cast("long"))
          .as("tp"),
        sum((!col("planted") && col("z") > col("thr")).cast("long"))
          .as("fp"),
        sum((col("planted") && !(col("z") > col("thr"))).cast("long"))
          .as("fn"),
        sum((!col("planted") && !(col("z") > col("thr"))).cast("long"))
          .as("tn"))
      .orderBy("thr")

  // ---- model-gated curation funnel ----

  /** The curation funnel with the lang gate SWITCHED to the NB model
    * (the "behind a flag" wiring the r7 verdict asked for): every
    * other stage — quality, exact keeper, near-dup closure — runs
    * unchanged on the original text; only `lang_keep` comes from
    * [[LangId.predictions]] over the augmented corpus. The oracle
    * composes the NB CTE chain with the existing funnel CTEs, lang
    * gate swapped, everything else literally the same SQL. */
  def qCurationModel(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val pred = LangId.predictions(LangId.augmented(dd))
      .select(col("doc_id"), (col("lang_model") === "en").as("lang_keep"))
    graft.text.Curation.funnelCached(dd, s"$d|nb",
        PipelineQueries.jacThreshold, Some(pred))
      .orderBy("source")
  }

  // ---- external-table snapshot read ----

  /** Delta-style external log resolved through [[graft.io.ExternalLog]]:
    * a three-commit table is laid down (v0 adds the even docs; v1 adds
    * the odd docs and REMOVES the even file; v2 re-adds the evens with
    * shifted ids), then every version is read back through the
    * snapshot API. Per version: row count, order-independent XOR over
    * doc_ids, exact n_chars sum — so a snapshot that leaks a removed
    * file or misses an added one breaks the hash. The oracle replays
    * the live-set algebra directly from `documents`. */
  def qExternalSnapshot(s: SparkSession, d: String): DataFrame = {
    import graft.io.ExternalLog
    Scratch.withDir("graft_ext") { dir =>
      val dd = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      dd.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/data-0")
      dd.filter(col("doc_id") % 2 === 1).write.parquet(s"$dir/data-1")
      dd.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .write.parquet(s"$dir/data-2")
      ExternalLog.commit(s, dir, 0L, adds = Seq("data-0"))
      ExternalLog.commit(s, dir, 1L, adds = Seq("data-1"),
        removes = Seq("data-0"))
      ExternalLog.commit(s, dir, 2L, adds = Seq("data-2"))
      val out = (0L to 2L).map { v =>
        ExternalLog.read(s, dir, Some(v))
          .agg(count(lit(1)).as("n_docs"),
            expr("bit_xor(doc_id)").as("id_xor"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("id_xor"),
            col("sum_chars"))
      }.reduce(_ unionByName _).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      import s.implicits._
      out.toDF("version", "n_docs", "id_xor", "sum_chars")
        .orderBy("version")
    }
  }

  /** Additive schema evolution through the external snapshot read: v0
    * lands (doc_id, source) only; v1 adds the odd docs WITH the
    * n_chars column. The merged-schema snapshot reads old files with
    * NULL n_chars — history is never rewritten. Per source: row
    * count, rows carrying the evolved column, exact sum over it (the
    * NULL-for-old-files semantics is exactly what the aggregate
    * proves). */
  def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    import graft.io.ExternalLog
    Scratch.withDir("graft_evo") { dir =>
      val dd = docs(s, d)
      dd.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source"))
        .write.parquet(s"$dir/data-0")
      dd.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.parquet(s"$dir/data-1")
      ExternalLog.commit(s, dir, 0L, adds = Seq("data-0"))
      ExternalLog.commit(s, dir, 1L, adds = Seq("data-1"))
      val out = ExternalLog.read(s, dir, mergeSchema = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_evolved"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
        .orderBy("source")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      import s.implicits._
      out.toDF("source", "n_docs", "n_evolved", "sum_chars")
        .orderBy("source")
    }
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lang_id2"           -> qLangId2,          // hashed-n-gram NB language ID
    "q_lang_id2_eval"      -> qLangId2Eval,      // held-out eval vs heuristic
    "q_quality_model"      -> qQualityModel,     // Gaussian-NB learned quality filter
    "q_quality_model_eval" -> qQualityModelEval, // confusion vs heuristic gate
    "q_external_snapshot"  -> qExternalSnapshot, // Delta-style log snapshot read
    "q_curation_model"     -> qCurationModel,    // funnel with NB lang gate
    "q_quality_roc"        -> qQualityRoc,       // threshold sweep / confusion
    "q_schema_evolution"   -> qSchemaEvolution)  // additive evolution on read

  val oracles: Map[String, String] = Map(
    "q_lang_id2" ->
      s"""WITH ${LangId.AUG_CTE},
         |${LangId.NB_CTES},
         |h AS (SELECT doc_id, ${TextStats.predictedSql("aug")} AS lang_heur
         |      FROM a)
         |SELECT a.doc_id, a.lang AS lang_true, p.lang_model, h.lang_heur,
         |  CAST(a.is_train AS INTEGER) AS is_train
         |FROM a JOIN pred p ON p.doc_id = a.doc_id
         |       JOIN h ON h.doc_id = a.doc_id
         |ORDER BY a.doc_id""".stripMargin,
    "q_lang_id2_eval" ->
      s"""WITH ${LangId.AUG_CTE},
         |${LangId.NB_CTES},
         |h AS (SELECT doc_id, ${TextStats.predictedSql("aug")} AS lang_heur
         |      FROM a)
         |SELECT a.lang AS lang_true, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN p.lang_model = a.lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_model_ok,
         |  CAST(sum(CASE WHEN h.lang_heur = a.lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_heur_ok,
         |  CAST(sum(CASE WHEN p.lang_model = h.lang_heur THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_agree
         |FROM a JOIN pred p ON p.doc_id = a.doc_id
         |       JOIN h ON h.doc_id = a.doc_id
         |WHERE NOT a.is_train
         |GROUP BY a.lang ORDER BY lang_true""".stripMargin,
    "q_quality_model" ->
      s"""WITH ${QualityModel.PLANT_CTE},
         |${QualityModel.X_CTE},
         |${QualityModel.ST_CTE},
         |scored AS (
         |  SELECT x.doc_id, x.planted, x.t, x.toks,
         |    ${QualityModel.Z_SQL} AS z
         |  FROM x CROSS JOIN st)
         |SELECT doc_id, CAST(planted AS INTEGER) AS planted,
         |  CASE WHEN z > 0 THEN 1 ELSE 0 END AS model_junk,
         |  CASE WHEN round(${PipelineQueries.QUALITY("t", "toks")}, 6) < 0.5
         |       THEN 1 ELSE 0 END AS heur_junk
         |FROM scored ORDER BY doc_id""".stripMargin,
    "q_quality_model_eval" ->
      s"""WITH ${QualityModel.PLANT_CTE},
         |${QualityModel.X_CTE},
         |${QualityModel.ST_CTE},
         |scored AS (
         |  SELECT x.doc_id, x.planted, x.t, x.toks,
         |    ${QualityModel.Z_SQL} AS z
         |  FROM x CROSS JOIN st),
         |f AS (
         |  SELECT planted, z > 0 AS model_junk,
         |    round(${PipelineQueries.QUALITY("t", "toks")}, 6) < 0.5
         |      AS heur_junk
         |  FROM scored)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_planted,
         |  CAST(sum(CASE WHEN planted AND model_junk THEN 1 ELSE 0 END)
         |    AS BIGINT) AS model_tp,
         |  CAST(sum(CASE WHEN NOT planted AND model_junk THEN 1 ELSE 0 END)
         |    AS BIGINT) AS model_fp,
         |  CAST(sum(CASE WHEN planted AND heur_junk THEN 1 ELSE 0 END)
         |    AS BIGINT) AS heur_tp,
         |  CAST(sum(CASE WHEN NOT planted AND heur_junk THEN 1 ELSE 0 END)
         |    AS BIGINT) AS heur_fp
         |FROM f""".stripMargin,
    "q_external_snapshot" ->
      """WITH snap AS (
        |  SELECT 0 AS version, doc_id, n_chars FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 1, doc_id, n_chars FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 2, doc_id, n_chars FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT 2, doc_id + 1000000, n_chars FROM documents
        |  WHERE doc_id % 2 = 0)
        |SELECT CAST(version AS BIGINT) AS version,
        |  count(*) AS n_docs,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM snap GROUP BY version ORDER BY version""".stripMargin,
    "q_schema_evolution" ->
      """WITH snap AS (
        |  SELECT doc_id, source, NULL AS n_chars FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 1)
        |SELECT source, count(*) AS n_docs,
        |  count(n_chars) AS n_evolved,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        |FROM snap GROUP BY source ORDER BY source""".stripMargin,
    "q_quality_roc" ->
      s"""WITH ${QualityModel.PLANT_CTE},
         |${QualityModel.X_CTE},
         |${QualityModel.ST_CTE},
         |scored AS (
         |  SELECT x.doc_id, x.planted, ${QualityModel.Z_SQL} AS z
         |  FROM x CROSS JOIN st),
         |sweep AS (
         |  SELECT s.planted, s.z, t.thr
         |  FROM scored s,
         |    unnest([${rocThresholds.map(t => s"CAST($t AS DOUBLE)")
                 .mkString(", ")}]) AS t(thr))
         |SELECT thr,
         |  CAST(sum(CASE WHEN planted AND z > thr THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN NOT planted AND z > thr THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN planted AND NOT (z > thr) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN NOT planted AND NOT (z > thr) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn
         |FROM sweep GROUP BY thr ORDER BY thr""".stripMargin,
    "q_curation_model" ->
      s"""WITH RECURSIVE ${LangId.AUG_CTE},
         |${LangId.NB_CTES},
         |${PipelineQueries.flagsCtes(
               langKeepSql = "(p.lang_model = 'en')",
               extraJoin = "JOIN pred p ON p.doc_id = t.doc_id")}
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN lang_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_lang,
         |  CAST(sum(CASE WHEN quality_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_quality,
         |  CAST(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_exact,
         |  CAST(sum(CASE WHEN nd_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neardup,
         |  CAST(sum(CASE WHEN lang_keep AND quality_keep AND exact_keep
         |                     AND nd_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_keep
         |FROM flags GROUP BY source ORDER BY source""".stripMargin)
}
