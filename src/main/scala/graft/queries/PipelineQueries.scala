package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.multimodal.Multimodal
import graft.text.{Contamination, Curation, Dedup, Packing, Similarity, TextStats}

/** LLM-training-data pipeline queries over `documents` / `embeddings`:
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
  * search (brute-force + LSH), text analysis (tokens, quality, lang-ID,
  * fingerprint), multimodal plumbing. Exact/deterministic operators carry
  * DuckDB oracles; hash-seeded approximate ones (MinHash uses engine
  * xxhash64, SimHash ditto, LSH planes) are rows-only EXCEPT
  * q_dedup_minhash, whose output is exact-Jaccard-verified and therefore
  * oracle-checked against the exact pair query.
  */
object PipelineQueries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  private[queries] val jacThreshold = 0.8
  private val dim = 64

  // ---- text analysis ----

  def qTextStats(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      TextStats.tokenCount(col("text")).as("n_tokens"),
      TextStats.regexTokenCount(col("text")).as("n_regex_tokens"),
      length(col("text")).as("n_chars"),
      round(TextStats.avgWordLen(col("text")), 6).as("avg_word_len"),
      round(TextStats.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      round(TextStats.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")

  def qLangId(s: SparkSession, d: String): DataFrame = {
    val scoreCols = TextStats.langs.map(l =>
      TextStats.langScore(col("text"), l).as(s"score_$l"))
    docs(s, d).select(
      (col("doc_id") +: scoreCols :+
        TextStats.predictedLang(col("text")).as("predicted") :+
        col("lang").as("labeled")): _*)
      .orderBy("doc_id")
  }

  def qFingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      TextStats.fingerprint(col("text")).as("fingerprint"),
      sha2(col("text").cast("binary"), 256).as("sha"))
      .orderBy("doc_id")

  // ---- dedup ----

  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(docs(s, d)).orderBy("fingerprint")

  def qDedupJaccard(s: SparkSession, d: String): DataFrame =
    Memo.jacPairs(s, d).orderBy("doc_a", "doc_b")

  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(docs(s, d), jacThreshold).orderBy("doc_a", "doc_b")

  /** Transitive near-dup clusters (A≈B≈C collapses even though A,C
    * were never compared): min-label connected components over the
    * exact-Jaccard pair graph; oracle recomputes the closure with a
    * recursive CTE. */
  def qDedupClusters(s: SparkSession, d: String): DataFrame =
    Memo.ndClusters(s, d).orderBy("doc_id")

  /** Registry variant uses the md5-derived cross-engine token hash so
    * the FULL pipeline (signature bits → chunk candidates → Hamming
    * filter) is oracle-checked; production callers keep the default
    * xxhash64 (same plan, faster hash). */
  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(docs(s, d), maxDist = 6, crossEngineHash = true)
      .orderBy("doc_a", "doc_b")

  // ---- similarity search ----

  def qAnnBrute(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < lit(10L)), k = 5)
      .orderBy("query_id", "rk")
  }

  def qCosinePairs(s: SparkSession, d: String): DataFrame =
    Memo.cosPairs(s, d).orderBy("vec_a", "vec_b")

  /** Recall audit for the [[Similarity.cosinePairsLsh]] SCALE path —
    * the code that actually runs above the 100k-row gate (i.e. the only
    * path that exists at 100 TB), which the green `q_cosine_pairs` row
    * never exercises at test SFs. Runs the LSH path at its production
    * default dial (8 tables × 7 bits, one-bit multi-probe) against the
    * exact all-pairs truth ([[Similarity.pairRecall]]): `n_extra` must
    * be 0 (the verify stage makes precision exact — oracle-checked
    * literally) and recall must clear the floor. Measured recall at
    * threshold 0.45 on the near-uniform test embeddings (deterministic
    * — the hyperplanes are hash-derived, no RNG): 1.000 / 0.929 /
    * 0.875 at sf0.001/0.01/0.1; floor 0.6 sits 1.45× under the
    * minimum (exact-probe measured 0.21–0.43 — multi-probe is what
    * buys the margin). Real near-dup corpora (cos ≥ 0.8) bucket far
    * more reliably — the uniform test corpus is the adversarial
    * case. */
  def qCosinePairsLsh(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    Similarity.pairRecall(
      Similarity.cosinePairsLsh(e, threshold = 0.45),
      Similarity.cosinePairs(e, threshold = 0.45, maxExact = Long.MaxValue),
      floor = 0.6)
  }

  /** Sequence packing ([[graft.text.Packing]]): both packing shapes
    * side by side per document — the window-arithmetic chunk bin (the
    * scale default) and the exact next-fit bin (sequential per
    * source). The oracle mirrors the window prefix-sum division and
    * replays the next-fit recursion in a recursive CTE, so the
    * operator's whole decision sequence is cross-engine-checked. */
  def qPackBins(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    Packing.chunkByBudget(dd, budget = 512)
      .withColumnRenamed("bin", "chunk_bin")
      .join(Packing.nextFitBins(dd, budget = 512)
        .select(col("doc_id"), col("bin").as("nextfit_bin")), "doc_id")
      .orderBy("doc_id")
  }

  /** LSH ANN, oracle-checked via its quality invariant: the full
    * pipeline (signatures → bucket join → exact re-rank) runs in-plan
    * and is reduced to recall@k against the exact top-k ([[Similarity
    * .recallAtK]]). Floor 0.5 sits well under the measured recall at
    * every test SF; a broken index collapses recall and fails the
    * hash. */
  def qAnnLsh(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val q = e.filter(col("vec_id") < lit(10L))
    Similarity.recallAtK(
      Similarity.lshTopK(e, q, dim, k = 5),
      Similarity.bruteForceTopK(e, q, k = 5), k = 5, floor = 0.5)
  }

  /** IVF ANN recall audit — same shape as [[qAnnLsh]]. The r14 fixed
    * dial (16 lists / 4 probes) lost recall as the corpus grew
    * (0.52 → 0.64); the auto dial (nLists = ⌈√n⌉, half probed —
    * [[Similarity.ivfTopK]]'s default since r15) measures 0.82 / 0.88
    * / 0.92 at sf0.001/0.01/0.1 (PLANS_r15.md), RISING with
    * corpus size at a constant probed fraction. Floor 0.7 sits under
    * the measured band with margin. */
  def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = embs(s, d)
    val q = e.filter(col("vec_id") < lit(10L))
    Similarity.recallAtK(
      Similarity.ivfTopK(e, q, k = 5),
      Similarity.bruteForceTopK(e, q, k = 5), k = 5, floor = 0.7)
  }

  // ---- multimodal ----

  def qMultimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.fromDocuments(docs(s, d))
      .select(col("media_id"), col("meta.mime").as("mime"),
              col("meta.n_bytes").as("n_bytes"),
              md5(col("content")).as("content_md5"))
      .orderBy("media_id")

  /** REAL codec path, cross-engine verified: one deterministic PNG per
    * document ([[Multimodal.synthPixels]] — pixels are pure integer
    * arithmetic over (x, y, id)), encoded and decoded back through the
    * JDK's ImageIO, exact integer pixel sums + luma histogram out. The
    * DuckDB oracle recomputes the same sums analytically from the pixel
    * formula, so any decode defect (stride, channel order, color model)
    * breaks the hash. */
  def qMultimodalFeatures(s: SparkSession, d: String): DataFrame =
    // Q.spread: the PNG encode→decode ladder is pure per-row compute;
    // the single-row-group test parquet would otherwise pin it to one
    // core (no-op at production split counts)
    Multimodal.imagePixelStats(Multimodal.syntheticImages(Q.spread(docs(s, d))))
      .orderBy("media_id")

  /** REAL resize path, cross-engine verified: the synthetic PNGs
    * ([[qMultimodalFeatures]]'s corpus) through [[Multimodal
    * .resizeImages]] (nearest-neighbor to a fixed 12×9 thumbnail, PNG
    * re-encode) then exact pixel stats. NN source index is the exact
    * integer division dstIdx·srcDim/dstDim, so the oracle recomputes
    * every thumbnail pixel from the synthesis formula — a defect in
    * the sampling arithmetic, the re-encode, or the second decode
    * breaks the hash. */
  def qResize(s: SparkSession, d: String): DataFrame =
    Multimodal.imagePixelStats(
      Multimodal.resizeImages(
        Multimodal.syntheticImages(Q.spread(docs(s, d))), targetW = 12, targetH = 9))
      .orderBy("media_id")

  /** PII scrubbing, oracle-checked end-to-end: deterministic synthetic
    * PII (an email, a URL, a phone-shaped digit run — pure string
    * formulas of doc_id) appended to every document in-plan, then
    * [[TextStats.piiCount]] (pre-redaction audit) and [[TextStats
    * .scrub]] (typed placeholders). The patterns are RE2-compatible by
    * design, so DuckDB replays the same regex cascade and the scrubbed
    * text is compared by md5 — order of the three replacement passes
    * included. */
  def qPiiScrub(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val withPii = docs(s, d).select(did,
      concat_ws(" ", col("text"),
        lit("contact"),
        concat(lit("user"), did.cast("string"), lit("@mail"),
          (did % 5).cast("string"), lit(".com")),
        lit("or"),
        concat(lit("https://site"), (did % 7).cast("string"),
          lit(".example/p/"), did.cast("string")),
        lit("tel"),
        concat(lit("+1-555-"), lpad((did % 10000).cast("string"), 4, "0"),
          lit("-"), (did % 100).cast("string"))).as("text"))
    withPii.select(col("doc_id"),
      TextStats.piiCount(col("text")).as("n_pii"),
      md5(TextStats.scrub(col("text")).cast("binary")).as("scrub_md5"),
      length(TextStats.scrub(col("text"))).as("n_chars_scrubbed"))
      .orderBy("doc_id")
  }

  /** Flagship corpus-curation funnel — the operators composed the way a
    * real training-data pipeline chains them, per source: language gate
    * (predicted == labeled English), quality floor, exact-dedup keeper
    * (min doc_id per fingerprint), near-dup cluster keeper (min member
    * of the Jaccard-0.8 closure; docs in no pair keep themselves), and
    * the conjunction. All counts are integers; the oracle recomputes
    * every stage — including the recursive-CTE cluster closure — in
    * SQL. */
  def qCurationFunnel(s: SparkSession, d: String): DataFrame =
    Curation.funnelCached(docs(s, d), s"$d|heur", jacThreshold)
      .orderBy("source")

  /** The funnel's decision list: the kept doc_ids themselves (strictly
    * stronger than the counts — the oracle recomputes every stage AND
    * the exact membership). [[Curation.materialize]] writes these rows
    * out partitioned by source; CurationSpec round-trips that write. */
  def qCurationKeepers(s: SparkSession, d: String): DataFrame =
    Curation.keepersCached(docs(s, d), s"$d|heur", jacThreshold)
      .orderBy("doc_id")

  /** Benchmark decontamination audit ([[Contamination.overlap]]): the
    * deterministic doc_id%11 split stands in for an eval corpus; a
    * train doc is flagged when it contains ≥ half of a probe doc's
    * distinct shingles. Containment (probe-side denominator), not
    * Jaccard — an eval question swallowed by a long train doc must
    * still flag. Full SQL oracle recomputes the shingle overlap. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    Memo.contamination(s, d).orderBy("train_id", "probe_id")
  }

  /** RAG/embedding chunk prep ([[TextStats.chunkDocs]]): 64-token
    * windows every 48 tokens, md5 chunk ids. The oracle re-slices the
    * token lists in SQL, so window arithmetic (starts, clamped final
    * window) and the join-text hashing are cross-engine pinned. */
  def qChunkSpans(s: SparkSession, d: String): DataFrame =
    TextStats.chunkDocs(docs(s, d), size = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  /** Per-source release manifest ([[Curation.manifest]]): counts,
    * token mass, and the order-independent bit_xor content
    * fingerprint — cross-engine because the 60-bit md5 hash is and
    * XOR commutes. */
  def qCorpusManifest(s: SparkSession, d: String): DataFrame =
    Curation.manifest(docs(s, d)).orderBy("source")

  /** Snapshot diff ([[Curation.snapshotDiff]]): v_old = ids ∉ 7ℤ,
    * v_new = ids ∉ 5ℤ with every id ∈ 3ℤ rewritten (text + " v2") —
    * exercising all four statuses; oracle replays the full outer
    * join. */
  def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val vOld = dd.filter(col("doc_id") % 7 =!= 0)
    val vNew = dd.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    Curation.snapshotDiff(vOld, vNew).orderBy("source")
  }

  /** Passage-level dedup: repeated 64-token windows across documents
    * (boilerplate paragraphs survive doc-level dedup when the
    * surrounding text differs — chunk-granular exact matching catches
    * them). One hash-groupBy over [[TextStats.chunkDocs]]' md5 ids. */
  def qChunkDedup(s: SparkSession, d: String): DataFrame =
    TextStats.chunkDocs(docs(s, d), size = 64, stride = 48)
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occurrences"),
           countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") > 1)
      .orderBy("chunk_md5")

  /** Cross-source duplication matrix: where near-dup mass concentrates
    * (which sources copy which) — the corpus-level view of the pair
    * graph a dedup report leads with. Pairs from the hardened
    * [[Dedup.jaccardPairs]]; sources rejoin id-keyed; the (src_a ≤
    * src_b) canonicalization makes the matrix triangular. */
  def qDupMatrix(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val src = dd.select(col("doc_id"), col("source"))
    Memo.jacPairs(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
               greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** Unigram language-model scoring — the LM-based quality filter a
    * curation pipeline runs (the CCNet shape: score each doc against a
    * per-source smoothed unigram model; outliers are boilerplate or
    * noise). Per source: p(tok) = (c+1)/(N+V) add-one smoothed; per
    * doc: mean −ln p over its tokens.
    *
    * Cross-engine determinism: ln agrees between engines (pinned by
    * the PMI/TF-IDF rows), but float SUM order would not — so the
    * per-doc terms are summed on [[Q.gsum]]'s integer grid: each term
    * quantizes to a bit-identical long on both engines, and an
    * integer sum is order/layout-independent, so the score is exact
    * with ORDINARY distributed aggregates — no per-doc term array in
    * any aggregation buffer (the r9 scale-hygiene migration). */
  def qLmScore(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), col("source"),
      explode(TextStats.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val model = counts.join(totals, "source")
      .select(col("source"), col("tok"),
        log((col("c") + lit(1)) / (col("n") + col("v"))).as("logp"))
    val perDocTok = toks.groupBy("doc_id", "source", "tok")
      .agg(count(lit(1)).as("cnt"))
      .join(model, Seq("source", "tok"))
      .select(col("doc_id"), col("tok"),
        (col("cnt") * col("logp")).as("term"), col("cnt"))
    perDocTok.groupBy("doc_id")
      .agg(Q.gsum(col("term")).as("gterm"),
           sum(col("cnt")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("gterm") / col("n_tokens"), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  /** Unicode canonicalization ([[graft.functions.NormalizeText]] — the
    * codegen'd NFC → casefold → whitespace-collapse pass dedup keys
    * need): deterministic Unicode mess appended per doc — precomposed
    * É vs E+combining-acute chosen by parity (NFC must collapse both
    * to one md5), combining diaereses, ragged tabs/newlines, mixed
    * case — and the oracle replays the cascade with utf8proc's
    * `nfc_normalize`, so the two engines' Unicode tables and the
    * explicit `[ \t\n]+` whitespace class are pinned against each
    * other. */
  def qTextNormalize(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NormalizeText.text_normalize
    val did = col("doc_id")
    val mess = concat(
      lit("  CAFÉ \t"),
      when(did % 2 === 0, lit("Éloge")).otherwise(lit("Éloge")),
      lit("  NAÏVE \n Über  "))
    docs(s, d).select(did, concat(col("text"), lit("  "), mess).as("raw"))
      .select(col("doc_id"),
        md5(text_normalize(col("raw")).cast("binary")).as("norm_md5"),
        length(text_normalize(col("raw"))).as("n_chars"))
      .orderBy("doc_id")
  }

  /** Incremental-ingestion gate ([[Dedup.incrementalFlags]]): the
    * even-id half of `documents` stands in for the existing corpus,
    * the odd-id half for today's batch. Per batch doc the oracle
    * recomputes the fingerprint anti-join and the cross-side Jaccard
    * rejection from the same pair CTE the dedup oracles share. */
  def qIncrementalIngest(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    Dedup.incrementalFlags(
      dd.filter(col("doc_id") % 2 === 1),
      dd.filter(col("doc_id") % 2 === 0), jacThreshold)
      .orderBy("doc_id")
  }

  /** Heavy-hitter audit for the bounded [[graft.functions
    * .SpaceSavingAgg]] summary (capacity 64) over the exploded token
    * stream — the single-pass answer to "top tokens over 100 TB" when
    * exact groupBy cardinality won't fit. Run order can shift the
    * ESTIMATES; the space-saving GUARANTEES cannot, and those are what
    * the audit checks against the exact counts: every token with
    * count·64 > N is in the summary (`guaranteed_ok`), and every
    * summary row brackets its exact count (est ≥ exact ≥ est − err,
    * `bounds_ok`). n_tokens and n_heavy are exact integers the oracle
    * recomputes; the flags are literals a broken sketch flips. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SpaceSavingAgg
    val m = 64
    val toks = docs(s, d)
      .select(explode(TextStats.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("c")).cache()
    val totals = exact.agg(sum(col("c")).cast("long").as("n_tokens"))
    val sketch = toks
      .agg(SpaceSavingAgg.space_saving(col("tok"), m).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("tok"), col("e.est"), col("e.err"))
    val joined = sketch.join(exact, Seq("tok"), "left")
      .agg(min((col("est") >= coalesce(col("c"), lit(0L))
        && col("est") - col("err") <= coalesce(col("c"), lit(0L)))
        .cast("int")).as("bounds_ok"))
    val heavy = exact.crossJoin(broadcast(totals))
      .filter(col("c") * m > col("n_tokens"))
    val guaranteed = heavy.join(sketch, Seq("tok"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    totals
      .crossJoin(heavy.agg(count(lit(1)).as("n_heavy")))
      .crossJoin(guaranteed)
      .crossJoin(joined)
      .select(col("n_tokens"), col("n_heavy"),
        (col("n_missed") === 0L).cast("int").as("guaranteed_ok"),
        col("bounds_ok"))
  }

  /** Flagship END-TO-END corpus build — the full pre-training data
    * pipeline in one plan: curation keepers (lang × quality × exact ×
    * near-dup), minus the eval split, minus decontamination flags,
    * packed into 512-token chunk bins, reported per source. Every
    * stage is an operator this registry already verifies in isolation
    * ([[Curation.keepers]], [[Contamination.overlap]],
    * [[Packing.chunkByBudget]]); this row pins their COMPOSITION —
    * the oracle recomputes the whole chain, closure and window
    * arithmetic included, in one SQL statement. */
  def qCorpusBuild(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val contaminated = Memo.contamination(s, d)
      .select(col("train_id").as("doc_id")).distinct()
    val corpusIds = Curation.keepersCached(dd, s"$d|heur", jacThreshold)
      .filter(col("doc_id") % 11 =!= 0)       // eval split never trains
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
    Packing.chunkByBudget(dd.join(corpusIds, "doc_id"), budget = 512)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("bin")).as("n_bins"),
           sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy("source")
  }

  /** REAL audio-codec path, cross-engine verified (the WAV twin of
    * [[qMultimodalFeatures]]): one deterministic PCM16 WAV per document
    * ([[Multimodal.synthSamples]]), encoded and decoded back through the
    * RIFF parser; the oracle recomputes sample count, duration, RMS and
    * peak analytically from the sample formula. */
  def qAudioMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.audioStats(Multimodal.syntheticWavs(docs(s, d)))
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
              col("duration_ms"), round(col("rms"), 6).as("rms"), col("peak"))
      .orderBy("media_id")

  /** REAL compressed-audio container parsing, cross-engine verified:
    * one deterministic MP3 / Ogg-Vorbis / Ogg-Opus container per
    * document ([[Multimodal.synthAudioContainer]] — every header field
    * an integer formula of the id), pushed through [[graft.multimodal
    * .Codecs.audioMeta]]'s real byte parsers (ID3v2 frame walk, MPEG
    * frame header, Ogg page walk + codec id headers); the oracle
    * recomputes format, rate, channels, bitrate, the CBR/granule
    * duration clock, and the ID3 text round-trip analytically. Any
    * parser defect (syncsafe size, LE/BE mixup, granule clock,
    * pre-skip) breaks the hash. */
  def qAudioContainer(s: SparkSession, d: String): DataFrame =
    Multimodal.audioMetadata(
        Multimodal.syntheticAudioContainers(Q.spread(docs(s, d))))
      .select(col("media_id"), col("format"), col("sample_rate"),
              col("channels"), col("bitrate_kbps"),
              round(col("duration_ms"), 6).as("duration_ms"),
              col("title"), col("artist"))
      .orderBy("media_id")

  /** Video-container parsing, cross-engine verified: one deterministic
    * minimal MP4 per document ([[Multimodal.synthMp4]] — every
    * mvhd/tkhd/hdlr field an integer formula of the id, both box
    * versions and the 64-bit largesize form exercised), pushed through
    * the REAL ISO-BMFF box walk ([[graft.multimodal.Codecs.mp4Meta]]);
    * the oracle recomputes brand, timescale, the mvhd duration clock,
    * track/handler counts, and the 16.16 tkhd geometry analytically.
    * Any walk defect (v1 offsets, largesize, unsigned sizes, handler
    * dispatch) breaks the hash. */
  def qVideoContainer(s: SparkSession, d: String): DataFrame =
    Multimodal.videoMetadata(Multimodal.syntheticVideos(Q.spread(docs(s, d))))
      .select(col("media_id"), col("format"), col("brand"),
              col("timescale"), round(col("duration_ms"), 6).as("duration_ms"),
              col("n_tracks"), col("n_video"), col("width"), col("height"))
      .orderBy("media_id")

  /** REAL multi-frame (video-analog) codec path, cross-engine
    * verified: one deterministic animated GIF per document (2–5
    * grayscale frames, [[Multimodal.synthGifFrame]] — pixels are pure
    * integer formulas), pushed through the real ImageIO GIF encode →
    * multi-frame decode, then 4 frames sampled evenly
    * ([[Multimodal.sampleFrameStats]]). Grayscale frames have ≤ 256
    * distinct colors, so the GIF palette round-trip is pixel-exact and
    * the oracle recomputes frame selection (integer division
    * f·(F−1)/3) and every per-frame pixel stat analytically. */
  def qFrameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrameStats(
        Multimodal.syntheticGifs(Q.spread(docs(s, d))), nFrames = 4)
      .orderBy("media_id", "frame_idx")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_curation_funnel"     -> qCurationFunnel,
    "q_curation_keepers"    -> qCurationKeepers,
    "q_decontaminate"       -> qDecontaminate,
    "q_pack_bins"           -> qPackBins,
    "q_corpus_build"        -> qCorpusBuild,  // flagship end-to-end composition
    "q_heavy_hitters"       -> qHeavyHitters, // bounded sketch, guarantee audit
    "q_incremental_ingest"  -> qIncrementalIngest,
    "q_text_normalize"      -> qTextNormalize,  // codegen'd NFC cascade, full oracle
    "q_lm_score"            -> qLmScore,        // unigram LM quality filter
    "q_chunk_spans"         -> qChunkSpans,     // RAG chunk prep
    "q_chunk_dedup"         -> qChunkDedup,     // passage-level exact dedup
    "q_corpus_manifest"     -> qCorpusManifest, // release integrity manifest
    "q_snapshot_diff"       -> qSnapshotDiff,   // version-to-version report
    "q_dup_matrix"          -> qDupMatrix,      // cross-source near-dup matrix
    "q_audio_meta"          -> qAudioMeta,
    "q_audio_container"     -> qAudioContainer,
    "q_video_container"     -> qVideoContainer,
    "q_text_stats"          -> qTextStats,
    "q_lang_id"             -> qLangId,
    "q_fingerprint"         -> qFingerprint,
    "q_dedup_exact"         -> qDedupExact,
    "q_dedup_jaccard"       -> qDedupJaccard,
    "q_dedup_minhash"       -> qDedupMinhash,
    "q_dedup_simhash"       -> qDedupSimhash,
    "q_dedup_clusters"      -> qDedupClusters,
    "q_ann_brute"           -> qAnnBrute,
    "q_cosine_pairs"        -> qCosinePairs,
    "q_cosine_pairs_lsh"    -> qCosinePairsLsh, // scale-path recall audit, full oracle
    "q_ann_lsh"             -> qAnnLsh,       // recall@k audit, full oracle
    "q_ann_ivf"             -> qAnnIvf,       // recall@k audit, full oracle
    "q_multimodal_meta"     -> qMultimodalMeta,
    "q_frame_sample"        -> qFrameSample,  // real multi-frame decode, full oracle
    "q_resize"              -> qResize,       // real NN resize + re-encode, full oracle
    "q_pii_scrub"           -> qPiiScrub,
    "q_multimodal_features" -> qMultimodalFeatures) // real ImageIO decode, full oracle

  private val T = TextStats.TOKENS("text")

  private val JACCARD_SQL =
    s"""WITH sh AS (
       |  SELECT doc_id, ${Dedup.SHINGLES("text")} AS s FROM documents
       |), x AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |      FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, common,
       |       round(common / (la.n + lb.n - common), 6) AS jaccard
       |FROM p JOIN sizes la ON la.doc_id = doc_a
       |       JOIN sizes lb ON lb.doc_id = doc_b
       |WHERE common / (la.n + lb.n - common) >= $jacThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Per-doc SimHash signature CTE chain over `rel` (must expose
    * doc_id + text), all CTE names prefixed with `p` — ends in
    * `${p}sig(doc_id, sig UBIGINT)`. Shared by the SimHash pair
    * oracle below and the incremental-signature oracle (wave 24), so
    * the cross-engine signature recomputation has ONE implementation. */
  private[queries] def simhashSigCtes(rel: String, p: String): String = {
    val sums = (0 until 64).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1::UBIGINT = 1::UBIGINT THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val sigBits = (0 until 64).map(j =>
      s"CASE WHEN b$j > 0 THEN ${BigInt(1) << j}::UBIGINT ELSE 0::UBIGINT END")
      .mkString(" + ")
    s"""${p}tok AS (SELECT doc_id, unnest($T) AS t FROM $rel),
       |${p}h AS (SELECT doc_id, md5_number_upper(t) AS h FROM ${p}tok),
       |${p}bits AS (SELECT doc_id, $sums FROM ${p}h GROUP BY doc_id),
       |${p}sig AS (SELECT doc_id, $sigBits AS sig FROM ${p}bits)""".stripMargin
  }

  /** SimHash oracle: recompute the 64-bit signatures from scratch in
    * DuckDB (md5_number_upper == the md5-derived hash the registry
    * query uses), then mirror the pairing semantics exactly — some
    * 16-bit chunk equal AND full Hamming ≤ 6. */
  private val SIMHASH_SQL = {
    val masks = Seq("65535", "4294901760", "281470681743360",
        "18446462598732840960")
      .map(m => s"(a.sig & $m::UBIGINT) = (b.sig & $m::UBIGINT)")
      .mkString(" OR ")
    s"""WITH ${simhashSigCtes("documents", "")}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 6 AND ($masks)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Exact-Jaccard pair graph → transitive closure via recursive CTE
    * (UNION dedups, so the cyclic undirected graph terminates),
    * component id = min reachable doc_id. Shared CTE chain: the
    * clusters oracle and the curation-funnel oracle both end in `lab`
    * (doc_id, cluster_id — only docs that appear in ≥ 1 pair). */
  private[queries] val CLOSURE_CTES =
    s"""sh AS (
       |  SELECT doc_id, ${Dedup.SHINGLES("text")} AS s FROM documents
       |), x AS (SELECT doc_id, unnest(s) AS g FROM sh),
       |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |      FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |jac AS (
       |  SELECT doc_a, doc_b FROM p
       |  JOIN sizes la ON la.doc_id = doc_a
       |  JOIN sizes lb ON lb.doc_id = doc_b
       |  WHERE common / (la.n + lb.n - common) >= $jacThreshold),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM jac
       |      UNION ALL SELECT doc_b, doc_a FROM jac),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |lab AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src)""".stripMargin

  private val CLUSTERS_SQL =
    s"""WITH RECURSIVE $CLOSURE_CTES
       |SELECT l.doc_id, l.cluster_id, c.cluster_size
       |FROM lab l JOIN (SELECT cluster_id, count(*) AS cluster_size
       |                 FROM lab GROUP BY 1) c USING (cluster_id)
       |ORDER BY l.doc_id""".stripMargin

  /** Unrounded quality score — the exact expression `q_text_stats`
    * rounds for output; the funnel gates on it raw, so both oracles
    * must share one spelling. */
  private[queries] def QUALITY(text: String, toks: String): String = {
    val stops = TextStats.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""least(greatest(least(len($toks) / 100.0, 1.0)
       |    * (1.0 - coalesce(CAST(len(regexp_extract_all($text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length($text), 0.0))
       |    * (0.5 + coalesce(CAST(len(list_filter($toks, t -> t IN ($stops))) AS DOUBLE) / len($toks), 0.0)), 0.0), 1.0)""".stripMargin
  }

  /** Funnel oracle: every stage of [[qCurationFunnel]] recomputed in
    * SQL — language argmax, raw quality gate, window-min exact keeper,
    * and the recursive-CTE near-dup closure (docs in no pair keep
    * themselves via the LEFT JOIN coalesce). All outputs are integer
    * counts, so there is no float-tie hazard in the aggregation. */
  /** Shared CTE chain ending in `flags` — the funnel (counts) and the
    * keepers (membership) oracles differ only in the final SELECT. The
    * lang gate is parameterized so the model-gated funnel
    * (`q_curation_model`, wave 16) swaps in the NB prediction while
    * every other stage stays literally identical. */
  private[queries] def flagsCtes(
      langKeepSql: String = s"(${TextStats.predictedSql("text")}) = 'en'",
      extraJoin: String = ""): String =
    s"""$CLOSURE_CTES,
       |t AS (SELECT doc_id, source, text, $T AS toks FROM documents),
       |flags AS (
       |  SELECT t.doc_id, t.source,
       |    $langKeepSql AS lang_keep,
       |    round(${QUALITY("text", "toks")}, 6) >= 0.5 AS quality_keep,
       |    t.doc_id = min(t.doc_id) OVER (
       |      PARTITION BY ${TextStats.FINGERPRINT("text")}) AS exact_keep,
       |    coalesce(t.doc_id = l.cluster_id, TRUE) AS nd_keep
       |  FROM t LEFT JOIN lab l ON l.doc_id = t.doc_id $extraJoin)""".stripMargin

  private val FLAGS_CTES = flagsCtes()

  private val KEEPERS_SQL =
    s"""WITH RECURSIVE $FLAGS_CTES
       |SELECT doc_id, source FROM flags
       |WHERE lang_keep AND quality_keep AND exact_keep AND nd_keep
       |ORDER BY doc_id""".stripMargin

  private val FUNNEL_SQL =
    s"""WITH RECURSIVE $FLAGS_CTES
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN lang_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       |  CAST(sum(CASE WHEN quality_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(sum(CASE WHEN exact_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN nd_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
       |  CAST(sum(CASE WHEN lang_keep AND quality_keep AND exact_keep
       |                     AND nd_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |FROM flags GROUP BY source ORDER BY source""".stripMargin

  /** End-to-end corpus-build oracle: curation flags (incl. the
    * recursive closure), the decontamination overlap (reusing the `x`
    * shingle rows the closure already computes), and the chunk-packing
    * window — one statement, every stage recomputed. */
  private val CORPUS_BUILD_SQL =
    s"""WITH RECURSIVE $FLAGS_CTES,
       |keep0 AS (
       |  SELECT doc_id, source FROM flags
       |  WHERE lang_keep AND quality_keep AND exact_keep AND nd_keep
       |    AND doc_id % 11 <> 0),
       |probe AS (SELECT doc_id AS probe_id, g FROM x WHERE doc_id % 11 = 0),
       |trn AS (SELECT doc_id AS train_id, g FROM x WHERE doc_id % 11 <> 0),
       |psz AS (SELECT probe_id, count(*) AS n_probe FROM probe GROUP BY 1),
       |cont AS (
       |  SELECT DISTINCT train_id AS doc_id
       |  FROM (SELECT train_id, probe_id, count(*) AS common
       |        FROM trn JOIN probe USING (g) GROUP BY 1, 2) o
       |  JOIN psz USING (probe_id)
       |  WHERE common / n_probe >= 0.5),
       |corpus AS (
       |  SELECT k.doc_id, k.source FROM keep0 k
       |  LEFT JOIN cont c ON c.doc_id = k.doc_id WHERE c.doc_id IS NULL),
       |sized AS (
       |  SELECT c.doc_id, c.source, CAST(len(t.toks) AS INTEGER) AS n_tokens
       |  FROM corpus c JOIN t ON t.doc_id = c.doc_id),
       |packed AS (
       |  SELECT source, n_tokens,
       |    CAST(coalesce(sum(CAST(n_tokens AS BIGINT)) OVER (
       |      PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) // 512 AS bin
       |  FROM sized)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT bin) AS BIGINT) AS n_bins,
       |  CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS sum_tokens
       |FROM packed GROUP BY source ORDER BY source""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_curation_funnel" -> FUNNEL_SQL,
    "q_corpus_build" -> CORPUS_BUILD_SQL,
    // SQL re-slices the token lists: range() is stop-exclusive where
    // sequence() is stop-inclusive, so greatest(n,1) vs greatest(n-1,0)
    // produce the same start set; list[a:b] clamps like slice()
    "q_chunk_spans" ->
      s"""WITH t AS (SELECT doc_id, $T AS toks FROM documents),
         |s AS (SELECT doc_id, toks,
         |        unnest(range(0, greatest(len(toks), 1), 48)) AS st
         |      FROM t)
         |SELECT doc_id, CAST(st // 48 AS INTEGER) AS chunk_idx,
         |  CAST(len(toks[st+1 : st+64]) AS INTEGER) AS n_chunk_tokens,
         |  md5(array_to_string(toks[st+1 : st+64], ' ')) AS chunk_md5
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    // bit_xor commutes, so the content fingerprint is aggregation-
    // order-free; the 60-bit shifted hash keeps both engines sign-safe
    "q_corpus_manifest" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CAST(len($T) AS BIGINT)) AS BIGINT) AS n_tokens,
         |  CAST(bit_xor(${Dedup.MD5_HASH64("text")} >> 4) AS BIGINT)
         |    AS content_xor
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_snapshot_diff" ->
      s"""WITH o AS (
         |  SELECT doc_id, source AS src_old,
         |         ${TextStats.FINGERPRINT("text")} AS fp_old
         |  FROM documents WHERE doc_id % 7 <> 0),
         |n AS (
         |  SELECT doc_id, source AS src_new,
         |         ${TextStats.FINGERPRINT(
                      "CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END")}
         |           AS fp_new
         |  FROM documents WHERE doc_id % 5 <> 0),
         |j AS (
         |  SELECT coalesce(n.src_new, o.src_old) AS source,
         |    CASE WHEN o.fp_old IS NULL THEN 'added'
         |         WHEN n.fp_new IS NULL THEN 'removed'
         |         WHEN o.fp_old <> n.fp_new THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT source,
         |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $T AS toks FROM documents),
         |s AS (SELECT doc_id, toks,
         |        unnest(range(0, greatest(len(toks), 1), 48)) AS st
         |      FROM t),
         |c AS (SELECT doc_id,
         |        md5(array_to_string(toks[st+1 : st+64], ' ')) AS chunk_md5
         |      FROM s)
         |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_occurrences,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM c GROUP BY chunk_md5 HAVING count(*) > 1
         |ORDER BY chunk_md5""".stripMargin,
    "q_dup_matrix" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${Dedup.SHINGLES("text")} AS s FROM documents
         |), x AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |      FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |jac AS (
         |  SELECT doc_a, doc_b FROM p
         |  JOIN sizes la ON la.doc_id = doc_a
         |  JOIN sizes lb ON lb.doc_id = doc_b
         |  WHERE common / (la.n + lb.n - common) >= $jacThreshold)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM jac JOIN documents da ON da.doc_id = jac.doc_a
         |         JOIN documents db ON db.doc_id = jac.doc_b
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // per-source add-one unigram model, per-doc mean -ln p; per-term
    // doubles are bit-identical across engines, so the Q.gsum integer
    // grid makes the sum exact and order-free on BOTH sides
    "q_lm_score" ->
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
         |  SELECT t.doc_id, t.tok, count(*) * m.logp AS term,
         |         count(*) AS cnt
         |  FROM tok t JOIN model m ON m.source = t.source AND m.tok = t.tok
         |  GROUP BY t.doc_id, t.tok, m.logp),
         |agg AS (
         |  SELECT doc_id, ${Q.GSUM("term")} AS gterm,
         |         CAST(sum(cnt) AS BIGINT) AS n_tokens
         |  FROM per_doc_tok GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(-gterm / n_tokens, 6) AS lm_score
         |FROM agg ORDER BY doc_id""".stripMargin,
    // identical raw construction via chr() codepoints, then utf8proc's
    // nfc_normalize replaying the JDK cascade: NFC -> lower ->
    // explicit [ \t\n]+ collapse -> trim
    "q_text_normalize" ->
      """WITH r AS (SELECT doc_id,
        |  text || '  ' || '  CAFE' || chr(769) || ' ' || chr(9)
        |    || CASE WHEN doc_id % 2 = 0 THEN chr(201) || 'loge'
        |            ELSE 'E' || chr(769) || 'loge' END
        |    || '  NAI' || chr(776) || 'VE ' || chr(10) || ' U' || chr(776)
        |    || 'ber  ' AS raw
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(raw)), '[ \t\n]+', ' ', 'g'))
        |    AS norm
        |  FROM r)
        |SELECT doc_id, md5(norm) AS norm_md5,
        |  CAST(length(norm) AS INTEGER) AS n_chars
        |FROM n ORDER BY doc_id""".stripMargin,
    // fingerprint anti-join + cross-parity Jaccard rejection; the pair
    // CTE is the same exact self-join the dedup oracles use (the union
    // of both halves IS the documents table)
    "q_incremental_ingest" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${Dedup.SHINGLES("text")} AS s FROM documents
         |), x AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |      FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |jac AS (
         |  SELECT doc_a, doc_b FROM p
         |  JOIN sizes la ON la.doc_id = doc_a
         |  JOIN sizes lb ON lb.doc_id = doc_b
         |  WHERE common / (la.n + lb.n - common) >= $jacThreshold),
         |cross_rej AS (
         |  SELECT DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END
         |    AS doc_id
         |  FROM jac WHERE (doc_a % 2) <> (doc_b % 2)),
         |cfp AS (SELECT DISTINCT ${TextStats.FINGERPRINT("text")} AS fp
         |        FROM documents WHERE doc_id % 2 = 0),
         |b AS (SELECT doc_id, source, ${TextStats.FINGERPRINT("text")} AS fp
         |      FROM documents WHERE doc_id % 2 = 1)
         |SELECT b.doc_id, b.source,
         |  CAST(CASE WHEN cfp.fp IS NULL THEN 1 ELSE 0 END AS INTEGER)
         |    AS exact_new,
         |  CAST(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
         |    AS neardup_new,
         |  CAST(CASE WHEN cfp.fp IS NULL AND r.doc_id IS NULL THEN 1 ELSE 0 END
         |    AS INTEGER) AS accepted
         |FROM b LEFT JOIN cfp ON cfp.fp = b.fp
         |       LEFT JOIN cross_rej r ON r.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    // the sketch's estimates are run-order-dependent; its GUARANTEES
    // are not — n_tokens/n_heavy are exact, the flags are literals
    "q_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($T) AS t FROM documents),
         |c AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM c)
         |SELECT n.n_tokens,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c, n WHERE c * 64 > n_tokens)
         |    AS n_heavy,
         |  CAST(1 AS INTEGER) AS guaranteed_ok,
         |  CAST(1 AS INTEGER) AS bounds_ok
         |FROM n""".stripMargin,
    "q_curation_keepers" -> KEEPERS_SQL,
    "q_dedup_clusters" -> CLUSTERS_SQL,
    "q_dedup_simhash" -> SIMHASH_SQL,
    "q_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $T AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(len(toks) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_regex_tokens,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  round(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks), 6) AS avg_word_len,
         |  round(CAST(len(list_filter(toks, t -> t IN (${TextStats.stopwords.values.flatten.toSeq.distinct.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
         |  round(least(greatest(least(len(toks) / 100.0, 1.0)
         |    * (1.0 - coalesce(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text), 0.0))
         |    * (0.5 + coalesce(CAST(len(list_filter(toks, t -> t IN (${TextStats.stopwords.values.flatten.toSeq.distinct.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(toks), 0.0)), 0.0), 1.0), 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id,
         |${TextStats.langs.map(l => s"  ${TextStats.scoreSql("text", l)} AS score_$l").mkString(",\n")},
         |  ${TextStats.predictedSql("text")} AS predicted,
         |  lang AS labeled
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id, ${TextStats.FINGERPRINT("text")} AS fingerprint,
         |  sha256(text) AS sha
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      s"""SELECT ${TextStats.FINGERPRINT("text")} AS fingerprint,
         |  count(*) AS n_docs, min(doc_id) AS keeper
         |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "q_dedup_jaccard" -> JACCARD_SQL,
    // the window chunk bin mirrors Spark's prefix-sum div; the exact
    // next-fit bin replays the per-source sequential recursion row by
    // row in a recursive CTE keyed on (source, rn)
    "q_pack_bins" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, source, CAST(len($T) AS INTEGER) AS n_tokens,
         |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
         |              AS BIGINT) AS rn
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(CAST(n_tokens AS BIGINT)) OVER (
         |      PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) // 512 AS chunk_bin
         |  FROM t),
         |nf(source, rn, doc_id, bin, binsum) AS (
         |  SELECT source, rn, doc_id, CAST(0 AS BIGINT),
         |         CAST(n_tokens AS BIGINT)
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.source, t.rn, t.doc_id,
         |    CASE WHEN nf.binsum + t.n_tokens > 512 THEN nf.bin + 1
         |         ELSE nf.bin END,
         |    CASE WHEN nf.binsum + t.n_tokens > 512
         |         THEN CAST(t.n_tokens AS BIGINT)
         |         ELSE nf.binsum + t.n_tokens END
         |  FROM nf JOIN t ON t.source = nf.source AND t.rn = nf.rn + 1)
         |SELECT c.doc_id, c.source, c.n_tokens, c.chunk_bin,
         |       nf.bin AS nextfit_bin
         |FROM c JOIN nf ON nf.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    // shingle containment train×probe over the deterministic eval
    // split; the gate compares the raw integer-division ratio (exact
    // in double on both engines), output rounds to 6 dp
    "q_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, ${Dedup.SHINGLES("text")} AS s FROM documents
         |), x AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |probe AS (SELECT doc_id AS probe_id, g FROM x WHERE doc_id % 11 = 0),
         |train AS (SELECT doc_id AS train_id, g FROM x WHERE doc_id % 11 <> 0),
         |psz AS (SELECT probe_id, count(*) AS n_probe FROM probe GROUP BY 1),
         |o AS (SELECT train_id, probe_id, count(*) AS common
         |      FROM train JOIN probe USING (g) GROUP BY 1, 2)
         |SELECT train_id, probe_id, common,
         |       round(common / n_probe, 6) AS containment
         |FROM o JOIN psz USING (probe_id)
         |WHERE common / n_probe >= 0.5
         |ORDER BY train_id, probe_id""".stripMargin,
    "q_dedup_minhash" -> JACCARD_SQL, // LSH-verified == exact pairs (see Dedup doc)
    "q_ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
         |s AS (
         |  SELECT query_id, neighbor_id,
         |         ${Similarity.COSINE("qe", "ce", dim)} AS cos
         |  FROM q JOIN c ON query_id <> neighbor_id
         |), r AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
         |  FROM s)
         |SELECT query_id, rk, neighbor_id, round(cos, 6) AS cos
         |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "q_cosine_pairs" ->
      s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS ea FROM embeddings),
         |b AS (SELECT vec_id AS vec_b, embedding AS eb FROM embeddings),
         |s AS (
         |  SELECT vec_a, vec_b, ${Similarity.COSINE("ea", "eb", dim)} AS cos
         |  FROM a JOIN b ON vec_a < vec_b)
         |SELECT vec_a, vec_b, round(cos, 6) AS cos
         |FROM s WHERE cos >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,
    // the truth-side pair count comes off the quadratic self-join the
    // oracle CAN run at test SFs; n_extra is provably 0 (exact verify)
    // and recall_ok rides the measured-margin floor — see qCosinePairsLsh
    "q_cosine_pairs_lsh" ->
      s"""WITH a AS (SELECT vec_id AS vec_a, embedding AS ea FROM embeddings),
         |b AS (SELECT vec_id AS vec_b, embedding AS eb FROM embeddings),
         |s AS (
         |  SELECT vec_a, vec_b, ${Similarity.COSINE("ea", "eb", dim)} AS cos
         |  FROM a JOIN b ON vec_a < vec_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         |  CAST(0 AS BIGINT) AS n_extra, CAST(1 AS INTEGER) AS recall_ok
         |FROM s WHERE cos >= 0.45""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY media_id""".stripMargin,
    // analytic recompute of the synthetic PCM16 samples Spark pushes
    // through a real WAV encode → RIFF decode; sum of squares < 2^53 so
    // both engines' accumulations are exact
    "q_audio_meta" ->
      """WITH p AS (SELECT doc_id, 64 + doc_id % 129 AS n FROM documents),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM p),
        |v AS (SELECT doc_id, n,
        |        (i*2003 + doc_id*71) % 4001 - 2000 AS smp FROM s)
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(max(n) AS INTEGER) AS n_samples,
        |  max(n) * 1000.0 / 8000 AS duration_ms,
        |  round(sqrt(CAST(sum(smp*smp) AS DOUBLE) / max(n)), 6) AS rms,
        |  CAST(max(abs(smp)) AS INTEGER) AS peak
        |FROM v GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // analytic recompute of every container-header field Spark parses
    // out of the real MP3/Ogg bytes; u = id/3 is each format branch's
    // variety key and the duration formulas mirror the parsers' CBR /
    // granule clocks op-for-op (double mult then divide)
    "q_video_container" ->
      """SELECT doc_id AS media_id, 'mp4' AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(600 + (doc_id % 5) * 100 AS INTEGER) AS timescale,
        |  round((1000 + doc_id % 9000) * 1000.0
        |        / (600 + (doc_id % 5) * 100), 6) AS duration_ms,
        |  CAST(1 + doc_id % 3 AS INTEGER) AS n_tracks,
        |  CAST(1 AS INTEGER) AS n_video,
        |  CAST(160 + 16 * (doc_id % 20) AS INTEGER) AS width,
        |  CAST(120 + 8 * (doc_id % 15) AS INTEGER) AS height
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_audio_container" ->
      """WITH p AS (SELECT doc_id, doc_id % 3 AS m, doc_id // 3 AS u FROM documents),
        |f AS (SELECT doc_id, m, u,
        |  list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |               CAST(u % 14 AS INTEGER) + 1) AS mp3_bitrate,
        |  list_extract([44100,48000,32000], CAST(u % 3 AS INTEGER) + 1) AS mp3_rate,
        |  list_extract([8000,16000,22050,44100,48000],
        |               CAST(u % 5 AS INTEGER) + 1) AS vorbis_rate
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CASE WHEN m = 0 THEN 'mp3' WHEN m = 1 THEN 'ogg/vorbis'
        |       ELSE 'ogg/opus' END AS format,
        |  CAST(CASE WHEN m = 0 THEN mp3_rate WHEN m = 1 THEN vorbis_rate
        |            ELSE 48000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN m = 0 THEN (CASE WHEN u % 2 = 0 THEN 1 ELSE 2 END)
        |            ELSE 1 + u % 2 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN m = 0 THEN mp3_bitrate ELSE 0 END AS INTEGER)
        |    AS bitrate_kbps,
        |  round(CASE WHEN m = 0 THEN (200 + u % 100) * 8.0 / mp3_bitrate
        |             WHEN m = 1 THEN (1000 + (u * 7) % 96000) * 1000.0 / vorbis_rate
        |             ELSE (48000 + u % 48000 - (312 + u % 100)) * 1000.0 / 48000
        |        END, 6) AS duration_ms,
        |  'T' || doc_id AS title,
        |  'A' || (doc_id % 7) AS artist
        |FROM f ORDER BY media_id""".stripMargin,
    // the ANN result SET is engine-specific; what IS cross-engine
    // checkable is the corpus-derived query count and the quality
    // invariant (recall floor) — the oracle emits the literal flag
    "q_ann_lsh" ->
      """SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |  CAST(5 AS INTEGER) AS k, CAST(1 AS INTEGER) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q_ann_ivf" ->
      """SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |  CAST(5 AS INTEGER) AS k, CAST(1 AS INTEGER) AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // analytic recompute of the 12×9 nearest-neighbor thumbnails: the
    // source index is the exact integer division dstIdx·srcDim/dstDim,
    // then the synthPixels channel formulas at (sx, sy)
    "q_resize" -> {
      val hist = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN bkt = $b THEN 1 ELSE 0 END) AS BIGINT) AS h$b")
        .mkString(",\n  ")
      s"""WITH dims AS (
         |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
         |  FROM documents),
         |px0 AS (SELECT doc_id, w, h, unnest(range(0, 108)) AS i FROM dims),
         |px AS (SELECT doc_id, (i % 12) * w // 12 AS sx, (i // 12) * h // 9 AS sy
         |       FROM px0),
         |c AS (SELECT doc_id,
         |        (sx*7 + sy*3 + doc_id*5) % 256 AS r,
         |        (sx*11 + sy*5 + doc_id*3) % 256 AS g,
         |        (sx*13 + sy*7 + doc_id) % 256 AS b
         |      FROM px),
         |l AS (SELECT *, (299*r + 587*g + 114*b) // 1000 // 32 AS bkt FROM c)
         |SELECT doc_id AS media_id,
         |  CAST(12 AS INTEGER) AS width, CAST(9 AS INTEGER) AS height,
         |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
         |  CAST(sum(b) AS BIGINT) AS sum_b,
         |  $hist
         |FROM l GROUP BY doc_id ORDER BY media_id""".stripMargin
    },
    // the synthetic-PII construction is mirrored string-for-string;
    // the scrub cascade replays the SAME RE2-compatible patterns in
    // the SAME order with global replacement, compared by md5
    "q_pii_scrub" -> {
      val Seq((emailPat, _), (urlPat, _), (numPat, _)) = TextStats.piiPatterns
      s"""WITH t AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@mail' || (doc_id % 5)
         |    || '.com or https://site' || (doc_id % 7) || '.example/p/'
         |    || doc_id || ' tel +1-555-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
         |    || (doc_id % 100) AS txt
         |  FROM documents),
         |s AS (SELECT doc_id, txt,
         |  regexp_replace(regexp_replace(regexp_replace(txt,
         |    '$emailPat', '<EMAIL>', 'g'),
         |    '$urlPat', '<URL>', 'g'),
         |    '$numPat', '<NUMBER>', 'g') AS scrubbed
         |  FROM t)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$emailPat'))
         |     + len(regexp_extract_all(txt, '$urlPat'))
         |     + len(regexp_extract_all(txt, '$numPat')) AS INTEGER) AS n_pii,
         |  md5(scrubbed) AS scrub_md5,
         |  CAST(length(scrubbed) AS INTEGER) AS n_chars_scrubbed
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // analytic recompute of the sampled GIF frames: src = f·(F−1)/3
    // integer division mirrors evenFrameIdx; gray pixels make luma = v
    // so every stat is an integer formula of (doc_id, src, x, y)
    "q_frame_sample" -> {
      val hist = (0 until 8).map(b =>
        s"CAST(sum(CASE WHEN g // 32 = $b THEN 1 ELSE 0 END) AS BIGINT) AS h$b")
        .mkString(",\n        |  ").stripMargin
      s"""WITH dims AS (
         |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
         |         2 + doc_id % 4 AS nf
         |  FROM documents),
         |fr AS (SELECT doc_id, w, h, nf, unnest([0,1,2,3]) AS f FROM dims),
         |sel AS (SELECT doc_id, w, h, nf, f, (f * (nf - 1)) // 3 AS src FROM fr),
         |px AS (SELECT doc_id, w, h, nf, f, src, unnest(range(0, w*h)) AS i
         |       FROM sel),
         |v AS (SELECT doc_id, w, h, nf, f, src,
         |        ((i % w)*7 + (i // w)*3 + doc_id*5 + src*11) % 256 AS g
         |      FROM px)
         |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
         |  CAST(max(src) AS INTEGER) AS src_frame,
         |  CAST(max(nf) AS INTEGER) AS n_frames,
         |  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
         |  CAST(sum(g) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
         |  CAST(sum(g) AS BIGINT) AS sum_b,
         |  $hist
         |FROM v GROUP BY doc_id, f ORDER BY media_id, frame_idx""".stripMargin
    },
    // analytic recompute of the synthetic pixels Spark pushes through a
    // real PNG encode → ImageIO decode; integer-exact on both sides
    "q_multimodal_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h
        |  FROM documents),
        |px0 AS (SELECT doc_id, w, h, unnest(range(0, w*h)) AS i FROM dims),
        |px AS (SELECT doc_id, w, h, i % w AS x, i // w AS y FROM px0),
        |c AS (SELECT doc_id, w, h,
        |        (x*7 + y*3 + doc_id*5) % 256 AS r,
        |        (x*11 + y*5 + doc_id*3) % 256 AS g,
        |        (x*13 + y*7 + doc_id) % 256 AS b
        |      FROM px),
        |l AS (SELECT *, (299*r + 587*g + 114*b) // 1000 // 32 AS bkt FROM c)
        |SELECT doc_id AS media_id,
        |  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(sum(CASE WHEN bkt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |  CAST(sum(CASE WHEN bkt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(sum(CASE WHEN bkt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
        |  CAST(sum(CASE WHEN bkt = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
        |  CAST(sum(CASE WHEN bkt = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
        |  CAST(sum(CASE WHEN bkt = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
        |  CAST(sum(CASE WHEN bkt = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
        |  CAST(sum(CASE WHEN bkt = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7
        |FROM l GROUP BY doc_id ORDER BY media_id""".stripMargin)
}
