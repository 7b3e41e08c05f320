package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation operator — the funnel's stages composed the way a
  * real training-data pipeline chains them, per document: language
  * gate (predicted English), quality floor, exact-dedup keeper (min
  * doc_id per fingerprint), near-dup cluster keeper (min member of the
  * Jaccard closure; docs in no pair keep themselves).
  *
  * Three consumers share [[flags]]:
  *  - [[funnel]] — per-source stage counts (the reporting shape,
  *    `q_curation_funnel`);
  *  - [[keepers]] — the kept doc_ids (the decision shape,
  *    `q_curation_keepers`);
  *  - [[materialize]] — the kept DOCUMENTS written out partitioned by
  *    source (the pipeline's real product). Partitioning by source
  *    keeps downstream per-source reads partition-pruned; within a
  *    partition the writer's task parallelism is preserved (no
  *    coalesce(1) — at 100 TB the kept corpus is still huge).
  *
  * Scale shape: one fingerprint aggregate + keeper join (uniform hash
  * keys), plus the near-dup cluster pipeline (bound-then-verify
  * Jaccard, O(log n) connected components) — all inherited from
  * [[Dedup]]; the conjunction itself is row-local.
  */
object Curation {

  /** Per-doc keep flags: (doc_id, source, lang_keep, quality_keep,
    * exact_keep, nd_keep). Gates on the 6-dp-rounded quality score —
    * raw-double gating is a cross-engine hazard (corpus values sit
    * within one ulp of 0.5, measured), while the rounded values are
    * proven bit-identical by q_text_stats' hash. */
  def flags(docs: DataFrame, jacThreshold: Double,
      langKeep: Option[DataFrame] = None): DataFrame = {
    val exactKeepers = docs
      .groupBy(TextStats.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"))
    val exact = docs.select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
      .join(exactKeepers, "fp")
      .select(col("doc_id"), (col("doc_id") === col("keeper")).as("exact_keep"))
    val nd = Dedup.nearDupClusters(docs, jacThreshold)
      .select(col("doc_id"), (col("doc_id") === col("cluster_id")).as("nd_keep"))
    // lang gate behind a flag: default is the stopword heuristic; a
    // caller can swap in a model's (doc_id, lang_keep) frame — the
    // wave-16 NB classifier — without touching any other stage
    val withLang = langKeep match {
      case None => docs.select(col("doc_id"), col("source"),
        (TextStats.predictedLang(col("text")) === lit("en")).as("lang_keep"),
        (round(TextStats.qualityScore(col("text")), 6) >= lit(0.5))
          .as("quality_keep"))
      case Some(lk) => docs.select(col("doc_id"), col("source"),
          (round(TextStats.qualityScore(col("text")), 6) >= lit(0.5))
            .as("quality_keep"))
        .join(lk.select("doc_id", "lang_keep"), "doc_id")
    }
    withLang
      .join(exact, "doc_id")
      .join(nd, Seq("doc_id"), "left")
      .na.fill(true, Seq("nd_keep"))
  }

  /** Per-source stage counts — every count an integer, so there is no
    * float-tie hazard in the aggregation. */
  def funnel(docs: DataFrame, jacThreshold: Double,
      langKeep: Option[DataFrame] = None): DataFrame =
    flags(docs, jacThreshold, langKeep)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("lang_keep").cast("long")).as("n_lang"),
           sum(col("quality_keep").cast("long")).as("n_quality"),
           sum(col("exact_keep").cast("long")).as("n_exact"),
           sum(col("nd_keep").cast("long")).as("n_neardup"),
           sum((col("lang_keep") && col("quality_keep") && col("exact_keep")
             && col("nd_keep")).cast("long")).as("n_keep"))

  /** The kept documents' ids — the funnel's conjunction as a decision
    * list instead of counts. */
  def keepers(docs: DataFrame, jacThreshold: Double): DataFrame =
    flags(docs, jacThreshold)
      .filter(col("lang_keep") && col("quality_keep") && col("exact_keep")
        && col("nd_keep"))
      .select(col("doc_id"), col("source"))

  /** Disk-memoized [[flags]]: the flag frame is a pure function of
    * (corpus, threshold, lang gate), and several registry consumers —
    * the funnel report, the keeper list, the corpus build, the
    * model-gated funnel — each need it. Computing the near-dup closure
    * once per session and re-reading the 6-column flag frame from
    * parquet afterwards is exactly the materialized-view reuse a
    * production curation pipeline ships (the flags ARE its published
    * intermediate table). `cacheKey` must uniquely name (corpus dir,
    * threshold, gate); results are immutable per key for the JVM's
    * life. */
  def flagsCached(docs: DataFrame, cacheKey: String, jacThreshold: Double,
      langKeep: Option[DataFrame] = None): DataFrame = {
    val dir = graft.Scratch.memo("graft_flags", cacheKey) { dir =>
      flags(docs, jacThreshold, langKeep)
        .write.mode("overwrite").parquet(dir + "/f")
    }
    docs.sparkSession.read.parquet(dir + "/f")
  }

  /** [[funnel]] over [[flagsCached]]. */
  def funnelCached(docs: DataFrame, cacheKey: String, jacThreshold: Double,
      langKeep: Option[DataFrame] = None): DataFrame =
    flagsCached(docs, cacheKey, jacThreshold, langKeep)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("lang_keep").cast("long")).as("n_lang"),
           sum(col("quality_keep").cast("long")).as("n_quality"),
           sum(col("exact_keep").cast("long")).as("n_exact"),
           sum(col("nd_keep").cast("long")).as("n_neardup"),
           sum((col("lang_keep") && col("quality_keep") && col("exact_keep")
             && col("nd_keep")).cast("long")).as("n_keep"))

  /** [[keepers]] over [[flagsCached]]. */
  def keepersCached(docs: DataFrame, cacheKey: String,
      jacThreshold: Double): DataFrame =
    flagsCached(docs, cacheKey, jacThreshold)
      .filter(col("lang_keep") && col("quality_keep") && col("exact_keep")
        && col("nd_keep"))
      .select(col("doc_id"), col("source"))

  /** Write the kept documents (FULL rows) to `path`, partitioned by
    * source. The keeper set is id-only through the curation joins; the
    * full rows rejoin once, id-keyed, just before the write. */
  def materialize(docs: DataFrame, path: String,
      jacThreshold: Double): Unit =
    docs.join(keepers(docs, jacThreshold).select("doc_id"), "doc_id")
      .write.mode("overwrite").partitionBy("source").parquet(path)

  /** Per-source release manifest: doc count, token mass, and an
    * ORDER-INDEPENDENT content fingerprint (bit_xor of the md5-derived
    * 60-bit text hashes — XOR commutes, never overflows, and flips on
    * any single-document change), the integrity line a corpus release
    * ships with. */
  def manifest(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        TextStats.tokenCount(col("text")).cast("long").as("n_toks"),
        // 60-bit form (sign-free on both engines: DuckDB's UBIGINT
        // hash cast to BIGINT would overflow above 2^63)
        shiftrightunsigned(Dedup.md5Hash64(col("text")), 4).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           expr("bit_xor(h)").as("content_xor"))

  /** Snapshot diff between two corpus versions, per source: rows
    * added / removed / changed (same id, different fingerprint) /
    * unchanged — the release-to-release report. One full outer join
    * on doc_id; fingerprints compare content, not bytes-on-disk. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), col("source").as("src_old"),
      TextStats.fingerprint(col("text")).as("fp_old"))
    val n = newDocs.select(col("doc_id"), col("source").as("src_new"),
      TextStats.fingerprint(col("text")).as("fp_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_new"), col("src_old")).as("source"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source")
      .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
           sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
           sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
           sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
  }
}
