package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.multimodal.Multimodal
import graft.text.{Dedup, Similarity, TextStats}

/** Round-5 wave 6 — the curation/lakehouse operators the earlier waves
  * did not cover, each oracle-checked end to end:
  *
  *  - `q_scd2`: slowly-changing-dimension (type 2) history build —
  *    gaps-and-islands over each customer's order-priority timeline
  *    (the reference's date-indexed model kept only current state;
  *    SURVEY §1.1 — a lakehouse needs the full validity-interval
  *    history).
  *  - `q_lm_bigram`: interpolated bigram language-model quality score
  *    per document (the CCNet-style perplexity filter, one order up
  *    from `q_lm_score`'s unigram model).
  *  - `q_semantic_dedup`: embedding-space near-duplicate DECISIONS —
  *    exact cosine pairs → connected components → keeper per cluster
  *    (the SemDeDup shape: Abbas et al. 2023, arXiv:2303.09540).
  *  - `q_image_dedup`: perceptual-hash image dedup — real PNG decode →
  *    dHash → Hamming-≤3 pairs via a pigeonhole chunk join that is
  *    provably complete at that radius (no quadratic join anywhere).
  */
object Wave6Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** SCD-2 build over `orders`: each customer's o_orderpriority
    * timeline collapsed into change-islands (consecutive equal values
    * merge), one version row per island with [valid_from, valid_to)
    * and an is_current flag. Ordering is (o_orderdate, o_orderkey) so
    * same-day orders resolve deterministically. One window + one
    * groupBy — both shuffle on o_custkey only, so the build scales as
    * a single hash-partitioned pass at any corpus size. */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    val byOrder = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val marked = Tables.load(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("chg",
        when(lag(col("o_orderpriority"), 1).over(byOrder)
          === col("o_orderpriority"), lit(0)).otherwise(lit(1)))
      .withColumn("version", sum(col("chg")).over(byOrder))
    val byVer = Window.partitionBy("o_custkey").orderBy("version")
    marked
      .groupBy("o_custkey", "version", "o_orderpriority")
      .agg(min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVer))
      .select(col("o_custkey").as("custkey"), col("version"),
        col("o_orderpriority").as("priority"), col("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"),
        col("n_orders"))
      .orderBy("custkey", "version")
  }

  /** Interpolated bigram LM score per document, model fitted per
    * source on the corpus itself (the self-perplexity quality filter):
    * p(w2|w1) = 0.9·c(w1w2)/c(w1) + 0.1·c(w2)/N, score =
    * −Σ log p / n_bigrams. The per-doc sum rides [[Q.gsum]]'s integer
    * grid (same migration as `q_lm_score`): quantized longs are
    * bit-identical across engines and an integer sum is order-free,
    * so no per-doc term array sits in any aggregation buffer and the
    * score survives any partition layout. Counts are corpus-wide
    * groupBys (uniform keys); the
    * per-doc join broadcasts nothing and shuffles on (source, bigram)
    * — the shape survives a 100× corpus. */
  def qLmBigram(s: SparkSession, d: String): DataFrame = {
    // r16: tokenize ONCE — the regex split is the dominant per-row
    // cost and the old shape ran it twice (once building the persisted
    // bigram stream, once for the unigram stream). The token ARRAYS
    // are persisted and both streams derive from them; the bigram
    // stream stays persisted too because it feeds both the model
    // counts and the per-doc scoring groupBy (eviction degrades to
    // recompute, so worst case equals the uncached behavior).
    val base = docs(s, d).repartition(col("doc_id"))
      .select(col("doc_id"), col("source"),
        TextStats.tokens(col("text")).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bg = base.select(col("doc_id"), col("source"),
        explode(Dedup.ngramsFromTokens(col("tk"), n = 2)).as("bg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both stay in the CacheManager until the runner clears it (see
    // [[graft.Scratch]]): a repeated call builds canonically identical
    // plans and reads the same cached blocks instead of re-tokenizing
    val toks = base.select(col("doc_id"), col("source"),
      explode(col("tk")).as("tok"))
    val uni = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = uni.groupBy("source").agg(sum(col("c")).as("n"))
    val c12 = bg.groupBy("source", "bg").agg(count(lit(1)).as("c12"))
    val model = c12
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("source"), col("tok").as("w1"), col("c").as("c1")),
        Seq("source", "w1"))
      .join(uni.select(col("source"), col("tok").as("w2"), col("c").as("c2")),
        Seq("source", "w2"))
      .join(tot, "source")
      .select(col("source"), col("bg"),
        log(lit(0.9) * col("c12") / col("c1")
          + lit(0.1) * col("c2") / col("n")).as("logp"))
    bg.groupBy("doc_id", "source", "bg").agg(count(lit(1)).as("cnt"))
      .join(model, Seq("source", "bg"))
      .select(col("doc_id"), col("bg"),
        (col("cnt") * col("logp")).as("term"), col("cnt"))
      .groupBy("doc_id")
      .agg(Q.gsum(col("term")).as("gterm"),
        sum(col("cnt")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("gterm") / col("n_bigrams"), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  /** Embedding-space dedup DECISIONS (SemDeDup shape): exact cosine
    * pairs ≥ 0.45 over the size-gated pair miner, transitive clusters
    * via the O(log n)-round connected components, keeper = min vec_id
    * per cluster. Only vectors in ≥1 near-dup pair appear (singletons
    * are not duplicates). Every stage reuses a 100×-safe component:
    * the gate swaps the quadratic pair join for LSH candidates above
    * 100k rows, and the CC rounds are diameter-independent. */
  def qSemanticDedup(s: SparkSession, d: String): DataFrame = {
    val cc = Memo.cosCC(s, d)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"),
        col("cluster_size"))
      .orderBy("vec_id")
  }

  /** Perceptual-hash image dedup over REAL decoded pixels: the
    * synthetic near-duplicate PNG corpus ([[Multimodal
    * .syntheticNearDupImages]] — same-group images differ by a sparse
    * deterministic pixel perturbation) through ImageIO decode →
    * [[graft.multimodal.Codecs.dhash64]] → [[Dedup.hammingPairs64]] at
    * radius 3, where the 4×16-bit pigeonhole join is provably complete
    * — so the oracle can demand the EXACT all-pairs answer and any
    * defect in the decode, the NN grid sampling, the bit packing, or
    * the chunk join breaks the hash. */
  def qImageDedup(s: SparkSession, d: String): DataFrame = {
    Memo.imagePairs(s, d)
      .withColumn("hamming", col("hamming").cast("integer"))
      .orderBy("media_a", "media_b")
  }

  /** URL / domain analytics — the domain-level filtering signal every
    * web-scraped corpus needs (blocklists, per-domain budgets).
    * Deterministic synthetic URLs (pure string formulas of doc_id) are
    * appended in-plan, then extracted with the SAME RE2-compatible
    * regex both engines run, grouped per domain with doc reach and a
    * literal blocklist flag. Explode + groupBy on a low-cardinality
    * key — one shuffle, scale-safe. */
  def qUrlDomains(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    // coalesce text on BOTH engines: concat_ws skips NULLs while the
    // oracle's || propagates them — a nullable text column would keep
    // the synthetic URLs here but drop the whole row's URLs in DuckDB
    val withUrls = docs(s, d).select(did,
      concat_ws(" ", coalesce(col("text"), lit("")),
        concat(lit("https://site"), (did % 7).cast("string"),
          lit(".example/p/"), did.cast("string")),
        concat(lit("http://cdn"), (did % 11).cast("string"),
          lit(".assets.test/img/"), (did % 5).cast("string"))).as("text"))
    withUrls
      .select(did, explode(
        expr("regexp_extract_all(text, 'https?://[^ ]+', 0)")).as("url"))
      .withColumn("domain", regexp_extract(col("url"), "https?://([^/]+)", 1))
      .groupBy("domain")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_urls"))
      .withColumn("blocked",
        col("domain").isin("cdn0.assets.test", "cdn1.assets.test"))
      .orderBy("domain")
  }

  /** Boilerplate signal: the share of a document's distinct 3-shingles
    * that are corpus-common (document frequency ≥ 32) — the per-doc
    * surface of the stop-shingle statistic the Jaccard skew cap is
    * built on. High ratio = templated/boilerplate text. The document
    * frequency is a count-over-window on the shingle partition — one
    * shuffle of the exploded rows — instead of a groupBy + join back,
    * which would shuffle the same rows twice more. Total: two uniform
    * hash shuffles (shingle, then doc_id). */
  def qBoilerplate(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.shingleRows(docs(s, d))
    sh.withColumn("df",
        count(lit(1)).over(Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 32, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        round(col("n_common") / col("n_shingles"), 6)
          .as("boilerplate_ratio"),
        (col("n_common") * lit(2) >= col("n_shingles")).as("is_boilerplate"))
      .orderBy("doc_id")
  }

  /** Quality-aware keeper selection: near-dup clusters (exact-Jaccard
    * pairs → connected components) keep their HIGHEST-QUALITY member,
    * not the lowest id — the decision a real curation pipeline makes.
    * Tie-break on (rounded quality desc, doc_id) so both engines pick
    * the same doc when scores collide. */
  def qClusterBest(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val cc = Memo.jacCC(s, d)
    val q = base.select(col("doc_id"),
      round(TextStats.qualityScore(col("text")), 6).as("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    cc.join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
        "cluster_id")
      .select(col("cluster_id"), col("doc_id").as("best_doc"),
        col("quality").as("best_quality"), col("cluster_size"))
      .orderBy("cluster_id")
  }

  /** Image-level dedup DECISIONS — [[qImageDedup]]'s pair graph through
    * the same O(log n) connected components the text path uses: one
    * cluster per perceptually-equal image family, keeper = min
    * media_id. Because the radius-3 pigeonhole pair set is exact, the
    * whole pipeline (decode → hash → pairs → clusters) stays
    * oracle-checkable. */
  def qImageClusters(s: SparkSession, d: String): DataFrame = {
    val cc = Memo.imageCC(s, d)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id").as("media_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"),
        col("cluster_size"))
      .orderBy("media_id")
  }

  /** Token-distribution drift per source between two deterministic
    * halves of the corpus (the snapshot-to-snapshot drift monitor —
    * the split is the md5 hash-bucket parity from [[graft.ops
    * .Sampling]], NOT doc_id parity, which the generator correlates
    * with source): symmetric KL over the SHARED vocabulary, each
    * direction summed on [[Q.gsum]]'s integer grid — the per-term
    * doubles are bit-identical across engines (ln is pinned), the
    * quantized longs therefore too, and an integer sum is
    * layout/order-independent, so no per-source vocabulary-sized
    * array ever sits in an aggregation buffer (the r9 scale-hygiene
    * note: the old sort_array+fold held the ENTIRE shared vocab in
    * one reducer row). Distributions are normalized over shared-vocab
    * counts only, so every term is finite by construction. */
  def qKlDrift(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).repartition(col("doc_id"))
      .select(col("source"),
        (graft.ops.Sampling.hashBucket(col("doc_id"), 2) === 0).as("even"),
        explode(TextStats.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("source", "tok")
      .agg(sum(when(col("even"), 1L).otherwise(0L)).as("ce"),
        sum(when(col("even"), 0L).otherwise(1L)).as("co"))
      .filter(col("ce") > 0 && col("co") > 0)
    val totals = counts.groupBy("source")
      .agg(sum(col("ce")).as("ne"), sum(col("co")).as("no"),
        count(lit(1)).as("n_shared"))
    counts.join(totals, "source")
      .select(col("source"), col("tok"), col("n_shared"),
        ((col("ce") / col("ne"))
          * log((col("ce") / col("ne")) / (col("co") / col("no"))))
          .as("term_pq"),
        ((col("co") / col("no"))
          * log((col("co") / col("no")) / (col("ce") / col("ne"))))
          .as("term_qp"))
      .groupBy("source")
      .agg(max(col("n_shared")).as("n_shared"),
        round(Q.gsum(col("term_pq")), 6).as("kl_even_odd"),
        round(Q.gsum(col("term_qp")), 6).as("kl_odd_even"))
      .orderBy("source")
  }

  /** Cross-modal duplicate agreement — do the TEXT near-dup pairs and
    * the IMAGE near-dup pairs point at the same documents? A corpus
    * where they diverge has mismatched text/media (scraper bugs,
    * watermarked rehosts). Full-outer join of the two exact pair sets,
    * collapsed to one agreement row. Both inputs are the bounded pair
    * miners; the join key is the pair itself, so the extra cost over
    * running the two miners is one equi-join. */
  def qCrossmodalDups(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val txt = Memo.jacPairs(s, d)
      .select(col("doc_a"), col("doc_b"), lit(true).as("txt"))
    val img = Memo.imagePairs(s, d)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"),
        lit(true).as("img"))
    txt.join(img, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("txt").isNotNull && col("img").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        sum(when(col("img").isNull, 1L).otherwise(0L)).as("n_text_only"),
        sum(when(col("txt").isNull, 1L).otherwise(0L)).as("n_image_only"))
  }

  /** k-anonymity audit over the customer quasi-identifier pair
    * (nation, market segment): equivalence-class sizes, how many
    * classes/rows fall under k=4 (suppression candidates), and the
    * re-identification ceiling 1/min(class size). The privacy gate a
    * training-data release runs before shipping user-derived rows.
    * One groupBy + one global aggregate — trivially scale-safe. */
  def qKAnonymity(s: SparkSession, d: String): DataFrame = {
    val k = 4
    val classes = Tables.load(s, d, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      sum(col("class_size")).as("n_rows"),
      sum(when(col("class_size") < k, 1L).otherwise(0L))
        .as("n_small_classes"),
      sum(when(col("class_size") < k, col("class_size")).otherwise(0L))
        .as("n_suppressed_rows"),
      min(col("class_size")).as("min_class"),
      round(lit(1.0) / min(col("class_size")), 6).as("reident_risk"))
  }

  /** URL canonicalization dedup — the crawler-side collapse that runs
    * BEFORE any content dedup: scheme and www. stripped, query string
    * and fragment dropped, trailing slash trimmed, host lowercased.
    * Synthetic variant URLs (four spellings per target, formulas of
    * doc_id) must collapse to one canonical form each; output is the
    * canonical → variant-count table. Pure regexp_replace cascade —
    * row-local, codegen'd, identical RE2 semantics in the oracle. */
  def qUrlCanon(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val variant = did % 4
    val host = concat(lit("Site"), (did % 7).cast("string"), lit(".example"))
    val path = concat(lit("/p/"), (did % 50).cast("string"))
    val url = when(variant === 0, concat(lit("http://"), host, path))
      .when(variant === 1, concat(lit("https://www."), host, path, lit("/")))
      .when(variant === 2, concat(lit("https://"), host, path, lit("?utm=x")))
      .otherwise(concat(lit("http://www."), host, path, lit("#frag")))
    val canon = regexp_replace(
      regexp_replace(
        regexp_replace(lower(url), "^https?://(www\\.)?", ""),
        "[?#].*$", ""),
      "/$", "")
    docs(s, d).select(did, url.as("url"), canon.as("canonical"))
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("url")).as("n_distinct_spellings"))
      .orderBy("canonical")
  }

  /** Domain authority via weighted PageRank (5 fixed iterations,
    * d = 0.85) over the deterministic site↔cdn link graph the URL
    * synthesis induces (each doc links its site → its cdn, and its cdn
    * back to a second site — so every node has out-edges and no
    * dangling-mass correction is needed). The crawl-curation signal:
    * rank domains by link authority before spending a fetch/compute
    * budget on them.
    *
    * Scale + determinism: ONE corpus pass aggregates the bounded
    * (src, dst, w) edge list (the node set is domains, not documents
    * — ≤ 7+11 nodes at any corpus size), and the damped fixpoint runs
    * as a driver loop over the collected edges ([[Q.pageRankLocal]]):
    * the incoming-mass sum folds in src order (the
    * [[qLmScore]]/[[qKlDrift]] pattern), so five chained float
    * reductions stay bit-identical across engines and partitionings —
    * an ITERATIVE fixpoint computation under a full cross-engine
    * oracle, with zero per-round Spark jobs. */
  def qDomainRank(s: SparkSession, d: String): DataFrame =
    domainRank(docs(s, d), iterations = 5)
      .orderBy(col("pagerank").desc, col("node"))

  /** [[qDomainRank]]'s loop with the iteration count exposed (plan-
    * depth tests double it). */
  private[graft] def domainRank(docFrame: DataFrame,
      iterations: Int): DataFrame = {
    val did = col("doc_id")
    val site = concat(lit("site"), (did % 7).cast("string"), lit(".example"))
    val cdn = concat(lit("cdn"), (did % 11).cast("string"),
      lit(".assets.test"))
    val site2 = concat(lit("site"), ((did * 3) % 7).cast("string"),
      lit(".example"))
    // r17 (guide §5; r16 VERDICT #1, ADVICE #2): the model is ≤ 7+11
    // synthetic domains at ANY corpus size, so the whole distributed
    // machinery below the edge aggregate was scheduler overhead — 5
    // eager checkpoint rounds × (1 job + broadcast builds) on ≤18-row
    // frames. Now: exactly ONE corpus pass (both edge directions
    // exploded from a single doc_id scan — the r16 unionAll shape
    // scanned the corpus twice), one collect of the ≤154-row grouped
    // edge list, and the damped fixpoint runs on the driver with
    // bit-identical float semantics ([[Q.pageRankLocal]]).
    val both = docFrame.select(did)
      .select(explode(array(
        struct(site.as("src"), cdn.as("dst")),
        struct(cdn.as("src"), site2.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val edges = both.groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val ranked = Q.pageRankLocal(edges, iterations)
    val s = docFrame.sparkSession
    import s.implicits._
    ranked.toDF("node", "pr")
      .select(col("node"), round(col("pr"), 6).as("pagerank"))
  }

  /** Cluster-aware train/val/test split with a leakage audit. Naive
    * per-document hash splitting leaks: a near-dup pair straddling the
    * train/test boundary is test-set contamination (the failure mode
    * that motivates corpus dedup in the first place). Splitting on the
    * CLUSTER REPRESENTATIVE (cluster id for near-dup members, own id
    * for singletons) provably sends every member of a duplicate family
    * to the same split. Output: per-split sizes both ways, the
    * near-dup pair count, and the straddling-pair counts — naive > 0
    * on this corpus, cluster-aware identically 0. Buckets 0–7 train,
    * 8 val, 9 test over the md5 hash bucket. */
  def qSplitLeakage(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Sampling
    val base = docs(s, d)
    val pairs = Memo.jacPairs(s, d)
      .select(col("doc_a"), col("doc_b"))
    val cc = Memo.jacCC(s, d)
    val rep = base.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep"))
    val split = (b: org.apache.spark.sql.Column) =>
      when(b <= 7, lit("train")).when(b === 8, lit("val"))
        .otherwise(lit("test"))
    val assigned = rep.select(col("doc_id"),
      split(Sampling.hashBucket(col("rep"), 10)).as("cluster_split"),
      split(Sampling.hashBucket(col("doc_id"), 10)).as("naive_split"))
    val straddle = pairs
      .join(assigned.select(col("doc_id").as("doc_a"),
        col("cluster_split").as("ca"), col("naive_split").as("na")), "doc_a")
      .join(assigned.select(col("doc_id").as("doc_b"),
        col("cluster_split").as("cb"), col("naive_split").as("nb")), "doc_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
          .as("n_leaky_naive"),
        sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L))
          .as("n_leaky_cluster"))
    val sizes = assigned.agg(
      sum(when(col("cluster_split") === "train", 1L).otherwise(0L))
        .as("n_train"),
      sum(when(col("cluster_split") === "val", 1L).otherwise(0L))
        .as("n_val"),
      sum(when(col("cluster_split") === "test", 1L).otherwise(0L))
        .as("n_test"))
    sizes.crossJoin(straddle)
  }

  /** Per-ring-bucket candidate cap for [[qNegSamples]]. */
  private[graft] val negCandK = 64

  /** The capped candidate pool: for each of the 16 hash-ring buckets,
    * the [[negCandK]] member vectors with the smallest md5 order
    * (engine-recomputable, layout-independent). Candidate volume for
    * the sampling join is therefore O(n·K) — a CONSTANT number of
    * candidates per query vector — where the uncapped next-bucket
    * join was Σ bucketᵢ·bucketᵢ₊₁ ≈ n²/16, the same quadratic
    * blow-up as an ungated cosine self-join (just 16× cheaper).
    *
    * Computed as a TWO-PHASE top-K so no single reducer ever sorts a
    * whole ring bucket (n/16 rows — the skew bomb at corpus scale):
    * phase 1 takes the top-K within (bucket, salt) sub-partitions
    * (32-way xxhash salt, each sorts ~n/512), phase 2 the exact
    * top-K over the ≤ 16·32·K survivors. Any global top-K member is
    * its salt group's top-K member, so the result PROVABLY equals the
    * one-phase window — which is what the DuckDB oracle replays. */
  private[graft] def negCandidatePool(bk: DataFrame): DataFrame = {
    val cs = shiftrightunsigned(
      Dedup.md5Hash64(col("neg_id").cast("string")), 4)
    val side = bk.select(col("vec_id").as("neg_id"), col("bkt").as("nbkt"))
      .withColumn("cs", cs)
      .withColumn("salt", pmod(xxhash64(col("neg_id")), lit(32)))
    val w1 = Window.partitionBy("nbkt", "salt").orderBy(col("cs"), col("neg_id"))
    val w2 = Window.partitionBy("nbkt").orderBy(col("cs"), col("neg_id"))
    side
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= negCandK)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= negCandK)
      .select(col("neg_id"), col("nbkt"))
  }

  /** Deterministic negative sampling for contrastive training: each
    * vector draws 2 negatives from a CAPPED candidate pool — the
    * [[negCandK]] md5-smallest members of the NEXT hash-ring bucket
    * ([[negCandidatePool]]; O(n·K) candidate volume) — scored by the
    * md5 pair hash (layout-independent, engine-recomputable),
    * EXCLUDING anything in the query's own semantic near-dup cluster
    * — a near-duplicate used as a "negative" teaches the model the
    * opposite of the truth. Window top-2 per query with a
    * full-ordering tiebreak. */
  def qNegSamples(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Sampling
    val e = embs(s, d)
    val bk = e.select(col("vec_id"),
      Sampling.hashBucket(col("vec_id"), 16).as("bkt"))
    val cand = bk
      .join(broadcast(negCandidatePool(bk)),
        col("nbkt") === (col("bkt") + 1) % 16)
    val cl = Memo.cosCC(s, d)
    val scored = cand
      .join(cl.select(col("doc_id").as("vec_id"),
        col("cluster_id").as("cq")), Seq("vec_id"), "left")
      .join(cl.select(col("doc_id").as("neg_id"),
        col("cluster_id").as("cn")), Seq("neg_id"), "left")
      .filter(col("cq").isNull || col("cn").isNull || col("cq") =!= col("cn"))
      .withColumn("score", shiftrightunsigned(
        Dedup.md5Hash64(concat(col("vec_id").cast("string"), lit("_"),
          col("neg_id").cast("string"))), 4))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("score"), col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("vec_id"), col("rank"), col("neg_id"), col("score"))
      .orderBy("vec_id", "rank")
  }

  /** Temperature-scaled source mixing weights (τ = 0.5): w_s ∝
    * (n_s/N)^τ, the standard rebalancing that upsamples low-resource
    * sources when composing a training mixture. τ = 0.5 makes the
    * exponent an IEEE-exact `sqrt` (a general pow() is not correctly
    * rounded across libms); the normalizing denominator folds in
    * source order so the 20-term float sum is engine-identical.
    * Outputs the natural share, the temperature weight, and the
    * upsampling factor w/p per source. */
  def qMixtureWeights(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d).repartition(col("doc_id"))
      .select(col("source"), explode(TextStats.tokens(col("text"))).as("t"))
      .groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val tot = counts.agg(sum(col("n_tokens")).as("total"))
    val sq = counts.crossJoin(broadcast(tot))
      .withColumn("share_raw", col("n_tokens") / col("total"))
      .withColumn("sq", sqrt(col("share_raw")))
    val den = sq
      .agg(sort_array(collect_list(struct(col("source"), col("sq"))))
        .as("sqs"))
      .select(expr("aggregate(sqs, 0d, (a, x) -> a + x.sq)").as("denom"))
    sq.crossJoin(broadcast(den))
      .select(col("source"), col("n_tokens"),
        round(col("share_raw"), 6).as("share"),
        round(col("sq") / col("denom"), 6).as("weight"),
        round((col("sq") / col("denom")) / col("share_raw"), 6)
          .as("upsample"))
      .orderBy("source")
  }

  /** Token-distribution entropy per document: H = −Σ p·ln p over the
    * doc's token frequencies, plus the normalized H/ln(vocab) in
    * [0, 1]. Low entropy = repetitive/boilerplate text, high = diverse
    * (or gibberish when paired with a low quality score) — the
    * standard cheap complement to the repetition ratio. Per-doc fold
    * in token order (engine-identical), one groupBy(doc_id, tok) +
    * one groupBy(doc_id). */
  def qEntropy(s: SparkSession, d: String): DataFrame = {
    val tokCounts = docs(s, d).repartition(col("doc_id"))
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val withN = tokCounts
      .withColumn("n", sum(col("c")).over(Window.partitionBy("doc_id")))
      .withColumn("p", col("c") / col("n"))
      .withColumn("term", -(col("p") * log(col("p"))))
    withN.groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sort_array(collect_list(struct(col("tok"), col("term"))))
          .as("terms"))
      .select(col("doc_id"), col("n_tokens"), col("vocab"),
        round(expr("aggregate(terms, 0d, (a, x) -> a + x.term)"), 6)
          .as("entropy"),
        round(
          when(col("vocab") > 1,
            expr("aggregate(terms, 0d, (a, x) -> a + x.term)")
              / log(col("vocab").cast("double")))
            .otherwise(lit(0.0)), 6).as("norm_entropy"))
      .orderBy("doc_id")
  }

  /** Truncation-duplicate detection: doc A whose token sequence is a
    * strict PREFIX of doc B — the scrape artifact (cut-off rehosts,
    * pagination tails) that content-hash dedup misses entirely and
    * Jaccard only catches when the truncation keeps most of the text.
    * Deterministic truncated copies (half-length, id + 1,000,000, every
    * 5th doc) are injected in-plan so the pair set is provably
    * non-empty and both engines synthesize it identically. Pairing is
    * [[Dedup.prefixPairs]] — hot-prefix-capped candidate buckets on
    * the md5 of the first 8 tokens (docs shorter than 8 tokens are
    * out of scope by declared semantics — the oracle mirrors the
    * gate), with exact slice-equality verification; the oracle
    * replays all three branches (cold bucket / 16-token re-key /
    * output-bounded short rescue) with the same cap. */
  def qDedupPrefix(s: SparkSession, d: String): DataFrame = {
    val tb = docs(s, d).repartition(col("doc_id"))
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    val tr = tb.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("slice(toks, 1, greatest(size(toks) div 2, 1))").as("toks"))
    Dedup.prefixPairs(tb.unionAll(tr)).orderBy("doc_a", "doc_b")
  }

  private val jacThreshold = 0.8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scd2" -> qScd2,
    "q_lm_bigram" -> qLmBigram,
    "q_semantic_dedup" -> qSemanticDedup,
    "q_image_dedup" -> qImageDedup,
    "q_url_domains" -> qUrlDomains,
    "q_boilerplate" -> qBoilerplate,
    "q_cluster_best" -> qClusterBest,
    "q_image_clusters" -> qImageClusters,
    "q_kl_drift" -> qKlDrift,
    "q_crossmodal_dups" -> qCrossmodalDups,
    "q_k_anonymity" -> qKAnonymity,
    "q_url_canon" -> qUrlCanon,
    "q_domain_rank" -> qDomainRank,
    "q_split_leakage" -> qSplitLeakage,
    "q_neg_samples" -> qNegSamples,
    "q_mixture_weights" -> qMixtureWeights,
    "q_entropy" -> qEntropy,
    "q_dedup_prefix" -> qDedupPrefix)

  /** dHash recomputed analytically from the synthesis formula: the 9×8
    * NN grid (src = gridIdx·dim/9 resp. /8 — exact integer division),
    * the perturbed channel formulas, integer luma, one bit per
    * horizontal neighbor pair, packed into the same (hi, lo) halves.
    * The pair scan is the EXACT full self-join (no chunk-candidate
    * mirror) — legal because the 4-chunk pigeonhole at radius 3 is
    * complete, and stronger: a broken chunk mask on the Spark side
    * surfaces as a missing pair here. */
  /** Shared CTE chain ending in `sig` (doc_id, lo, hi) — the pair scan
    * and the clusters closure both start from the same recomputed
    * signatures. */
  private val IMAGE_SIG_CTES =
    """d AS (SELECT doc_id, doc_id % 97 AS grp FROM documents),
      |dim AS (SELECT doc_id, grp, 16 + grp % 17 AS w, 16 + grp % 13 AS h
      |        FROM d),
      |g0 AS (SELECT doc_id, grp, w, h, unnest(range(0, 72)) AS i FROM dim),
      |gp AS (SELECT doc_id, grp, i % 9 AS gx, i // 9 AS gy,
      |              ((i % 9) * w) // 9 AS sx, ((i // 9) * h) // 8 AS sy
      |       FROM g0),
      |gf AS (SELECT *, CASE WHEN (doc_id*7 + sx*5 + sy*11) % 37 = 0
      |                      THEN 55 ELSE 0 END AS f
      |       FROM gp),
      |gr AS (SELECT doc_id, gx, gy,
      |         (299*((sx*7 + sy*3 + grp*5) % 200 + f)
      |          + 587*((sx*11 + sy*5 + grp*3) % 200 + f)
      |          + 114*((sx*13 + sy*7 + grp) % 200 + f)) // 1000 AS gray
      |       FROM gf),
      |bits AS (SELECT l.doc_id, l.gy*8 + l.gx AS bit
      |         FROM gr l JOIN gr r ON r.doc_id = l.doc_id
      |           AND r.gy = l.gy AND r.gx = l.gx + 1
      |         WHERE l.gx < 8 AND r.gray > l.gray),
      |sig0 AS (SELECT doc_id,
      |           CAST(coalesce(sum(CASE WHEN bit < 32
      |             THEN (1::BIGINT << bit) END), 0) AS BIGINT) AS lo,
      |           CAST(coalesce(sum(CASE WHEN bit >= 32
      |             THEN (1::BIGINT << (bit - 32)) END), 0) AS BIGINT) AS hi
      |         FROM bits GROUP BY doc_id),
      |sig AS (SELECT doc_id, coalesce(lo, 0) AS lo, coalesce(hi, 0) AS hi
      |        FROM d LEFT JOIN sig0 USING (doc_id))""".stripMargin

  private val IMAGE_DEDUP_SQL =
    s"""WITH $IMAGE_SIG_CTES
      |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
      |  CAST(bit_count(xor(a.lo, b.lo))
      |     + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
      |ORDER BY media_a, media_b""".stripMargin

  /** Image clusters: exact radius-3 pair graph → recursive-CTE
    * transitive closure (same shape as the text/semantic closures). */
  private val IMAGE_CLUSTERS_SQL =
    s"""WITH RECURSIVE $IMAGE_SIG_CTES,
      |ip AS (SELECT a.doc_id AS pa, b.doc_id AS pb
      |       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |       WHERE bit_count(xor(a.lo, b.lo))
      |           + bit_count(xor(a.hi, b.hi)) <= 3),
      |e AS (SELECT pa AS src, pb AS dst FROM ip
      |      UNION ALL SELECT pb, pa FROM ip),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
      |lab AS (
      |  SELECT src AS media_id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src)
      |SELECT l.media_id, l.cluster_id,
      |  l.media_id = l.cluster_id AS is_keeper, c.cluster_size
      |FROM lab l JOIN (SELECT cluster_id, count(*) AS cluster_size
      |                 FROM lab GROUP BY 1) c USING (cluster_id)
      |ORDER BY l.media_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_scd2" ->
      """WITH m AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    CASE WHEN lag(o_orderpriority) OVER w = o_orderpriority
        |         THEN 0 ELSE 1 END AS chg
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |v AS (
        |  SELECT *, CAST(sum(chg) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    AS BIGINT) AS version
        |  FROM m),
        |i AS (
        |  SELECT o_custkey, version, o_orderpriority,
        |         min(o_orderdate) AS valid_from, count(*) AS n_orders
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT o_custkey AS custkey, version, o_orderpriority AS priority,
        |  valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  (lead(valid_from) OVER w2 IS NULL) AS is_current,
        |  n_orders
        |FROM i
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY version)
        |ORDER BY custkey, version""".stripMargin,
    "q_lm_bigram" -> {
      val T = TextStats.TOKENS("text")
      val B = Dedup.NGRAMS("text", 2)
      s"""WITH bg AS (
         |  SELECT doc_id, source, unnest($B) AS bg FROM documents),
         |tok AS (SELECT doc_id, source, unnest($T) AS tok FROM documents),
         |uni AS (SELECT source, tok, count(*) AS c
         |        FROM tok GROUP BY source, tok),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |        FROM uni GROUP BY source),
         |c12 AS (SELECT source, bg, count(*) AS c12
         |        FROM bg GROUP BY source, bg),
         |model AS (
         |  SELECT c12.source, c12.bg,
         |    ln(0.9 * c12 / u1.c + 0.1 * u2.c / tot.n) AS logp
         |  FROM c12
         |  JOIN uni u1 ON u1.source = c12.source
         |             AND u1.tok = split_part(bg, ' ', 1)
         |  JOIN uni u2 ON u2.source = c12.source
         |             AND u2.tok = split_part(bg, ' ', 2)
         |  JOIN tot ON tot.source = c12.source),
         |per_doc AS (
         |  SELECT b.doc_id, b.bg, count(*) * m.logp AS term,
         |         count(*) AS cnt
         |  FROM bg b JOIN model m ON m.source = b.source AND m.bg = b.bg
         |  GROUP BY b.doc_id, b.bg, m.logp),
         |agg AS (
         |  SELECT doc_id, ${Q.GSUM("term")} AS gterm,
         |         CAST(sum(cnt) AS BIGINT) AS n_bigrams
         |  FROM per_doc GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |  round(-gterm / n_bigrams, 6) AS lm_score
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "q_semantic_dedup" -> {
      val cos = Similarity.COSINE("ea", "eb", 64)
      s"""WITH RECURSIVE a AS (
         |  SELECT vec_id AS vec_a, embedding AS ea FROM embeddings),
         |b AS (SELECT vec_id AS vec_b, embedding AS eb FROM embeddings),
         |jac AS (
         |  SELECT vec_a, vec_b FROM a JOIN b ON vec_a < vec_b
         |  WHERE $cos >= 0.45),
         |e AS (SELECT vec_a AS src, vec_b AS dst FROM jac
         |      UNION ALL SELECT vec_b, vec_a FROM jac),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (
         |  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src)
         |SELECT l.vec_id, l.cluster_id,
         |  l.vec_id = l.cluster_id AS is_keeper, c.cluster_size
         |FROM lab l JOIN (SELECT cluster_id, count(*) AS cluster_size
         |                 FROM lab GROUP BY 1) c USING (cluster_id)
         |ORDER BY l.vec_id""".stripMargin
    },
    "q_image_dedup" -> IMAGE_DEDUP_SQL,
    "q_url_domains" ->
      """WITH t AS (SELECT doc_id,
        |  coalesce(text, '') || ' https://site' || (doc_id % 7) || '.example/p/' || doc_id
        |       || ' http://cdn' || (doc_id % 11) || '.assets.test/img/'
        |       || (doc_id % 5) AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(text, 'https?://[^ ]+')) AS url
        |      FROM t),
        |dm AS (SELECT doc_id,
        |         regexp_extract(url, 'https?://([^/]+)', 1) AS domain
        |       FROM u)
        |SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls,
        |  domain IN ('cdn0.assets.test', 'cdn1.assets.test') AS blocked
        |FROM dm GROUP BY domain ORDER BY domain""".stripMargin,
    "q_boilerplate" -> {
      val S = Dedup.SHINGLES("text")
      s"""WITH sh AS (SELECT doc_id, unnest($S) AS shingle FROM documents),
         |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df >= 32 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common,
         |  round(sum(CASE WHEN df >= 32 THEN 1 ELSE 0 END) / count(*), 6)
         |    AS boilerplate_ratio,
         |  sum(CASE WHEN df >= 32 THEN 1 ELSE 0 END) * 2 >= count(*)
         |    AS is_boilerplate
         |FROM sh JOIN dfreq USING (shingle)
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin
    },
    "q_cluster_best" -> {
      val T = TextStats.TOKENS("text")
      s"""WITH RECURSIVE ${PipelineQueries.CLOSURE_CTES},
         |t AS (SELECT doc_id, text, $T AS toks FROM documents),
         |q AS (SELECT doc_id,
         |        round(${PipelineQueries.QUALITY("text", "toks")}, 6)
         |          AS quality
         |      FROM t),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size
         |       FROM lab GROUP BY 1),
         |rk AS (SELECT l.cluster_id, l.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY l.cluster_id
         |           ORDER BY q.quality DESC, l.doc_id) AS rk
         |       FROM lab l JOIN q ON q.doc_id = l.doc_id)
         |SELECT r.cluster_id, r.doc_id AS best_doc,
         |  r.quality AS best_quality, sz.cluster_size
         |FROM rk r JOIN sz USING (cluster_id)
         |WHERE r.rk = 1 ORDER BY r.cluster_id""".stripMargin
    },
    "q_image_clusters" -> IMAGE_CLUSTERS_SQL,
    "q_domain_rank" -> {
      val base =
        """e0 AS (SELECT 'site' || (doc_id % 7) || '.example' AS src,
          |         'cdn' || (doc_id % 11) || '.assets.test' AS dst
          |       FROM documents
          |       UNION ALL
          |       SELECT 'cdn' || (doc_id % 11) || '.assets.test',
          |              'site' || ((doc_id * 3) % 7) || '.example'
          |       FROM documents),
          |e AS (SELECT src, dst, count(*) AS w FROM e0 GROUP BY src, dst),
          |wo AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
          |       FROM e GROUP BY src),
          |nodes AS (SELECT DISTINCT node FROM
          |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          |nn AS (SELECT count(*) AS n FROM nodes),
          |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS pr
          |        FROM nodes CROSS JOIN nn)""".stripMargin
      val iters = (1 to 5).map { k =>
        s"""c$k AS (SELECT e.dst, e.src, (e.w / wo.wout) * p.pr AS c
           |  FROM e JOIN wo ON wo.src = e.src
           |  JOIN pr${k - 1} p ON p.node = e.src),
           |s$k AS (SELECT dst AS node,
           |    list_sum(list(c ORDER BY src)) AS insum
           |  FROM c$k GROUP BY dst),
           |pr$k AS (SELECT nodes.node,
           |    CAST(0.15 AS DOUBLE) / nn.n
           |      + CAST(0.85 AS DOUBLE)
           |        * coalesce(s$k.insum, CAST(0.0 AS DOUBLE)) AS pr
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN s$k ON s$k.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $base,
         |$iters
         |SELECT node, round(pr, 6) AS pagerank FROM pr5
         |ORDER BY pagerank DESC, node""".stripMargin
    },
    "q_split_leakage" -> {
      def hb(e: String) = graft.ops.Sampling.HASH_BUCKET(e, 10)
      def sp(e: String) =
        s"""CASE WHEN ${hb(e)} <= 7 THEN 'train'
           |     WHEN ${hb(e)} = 8 THEN 'val' ELSE 'test' END""".stripMargin
      s"""WITH RECURSIVE ${PipelineQueries.CLOSURE_CTES},
         |rep AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id),
         |asg AS (SELECT doc_id, ${sp("rep")} AS cs, ${sp("doc_id")} AS ns
         |        FROM rep),
         |str AS (SELECT count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN a.ns <> b.ns THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaky_naive,
         |  CAST(sum(CASE WHEN a.cs <> b.cs THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_leaky_cluster
         |  FROM jac j JOIN asg a ON a.doc_id = j.doc_a
         |             JOIN asg b ON b.doc_id = j.doc_b),
         |sz AS (SELECT
         |  CAST(sum(CASE WHEN cs = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_train,
         |  CAST(sum(CASE WHEN cs = 'val' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_val,
         |  CAST(sum(CASE WHEN cs = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_test
         |  FROM asg)
         |SELECT sz.n_train, sz.n_val, sz.n_test,
         |       str.n_pairs, str.n_leaky_naive, str.n_leaky_cluster
         |FROM sz CROSS JOIN str""".stripMargin
    },
    "q_neg_samples" -> {
      val cos = Similarity.COSINE("ea", "eb", 64)
      val hb = graft.ops.Sampling.HASH_BUCKET("vec_id", 16)
      val score = "(md5_number_upper(CAST(cand.vec_id AS VARCHAR) || '_' " +
        "|| CAST(cand.neg_id AS VARCHAR)) >> 4)"
      s"""WITH RECURSIVE a AS (
         |  SELECT vec_id AS vec_a, embedding AS ea FROM embeddings),
         |b AS (SELECT vec_id AS vec_b, embedding AS eb FROM embeddings),
         |jac AS (
         |  SELECT vec_a, vec_b FROM a JOIN b ON vec_a < vec_b
         |  WHERE $cos >= 0.45),
         |e AS (SELECT vec_a AS src, vec_b AS dst FROM jac
         |      UNION ALL SELECT vec_b, vec_a FROM jac),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM reach GROUP BY src),
         |bk AS (SELECT vec_id, $hb AS bkt FROM embeddings),
         |cap AS (
         |  SELECT neg_id, nbkt FROM (
         |    SELECT vec_id AS neg_id, bkt AS nbkt,
         |      row_number() OVER (PARTITION BY bkt
         |        ORDER BY (md5_number_upper(CAST(vec_id AS VARCHAR)) >> 4),
         |                 vec_id) AS r
         |    FROM bk) WHERE r <= 64),
         |cand AS (
         |  SELECT q.vec_id, c.neg_id
         |  FROM bk q JOIN cap c ON c.nbkt = (q.bkt + 1) % 16),
         |sc AS (
         |  SELECT cand.vec_id, cand.neg_id, $score AS score
         |  FROM cand
         |  LEFT JOIN lab lq ON lq.doc_id = cand.vec_id
         |  LEFT JOIN lab ln ON ln.doc_id = cand.neg_id
         |  WHERE lq.cluster_id IS NULL OR ln.cluster_id IS NULL
         |     OR lq.cluster_id <> ln.cluster_id),
         |rk AS (
         |  SELECT vec_id, neg_id, score,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY score, neg_id) AS rank
         |  FROM sc)
         |SELECT vec_id, CAST(rank AS INTEGER) AS rank, neg_id, score
         |FROM rk WHERE rank <= 2 ORDER BY vec_id, rank""".stripMargin
    },
    "q_mixture_weights" -> {
      val T = TextStats.TOKENS("text")
      s"""WITH tok AS (SELECT source, unnest($T) AS t FROM documents),
         |counts AS (SELECT source, count(*) AS n_tokens
         |           FROM tok GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM counts),
         |sq AS (SELECT source, n_tokens, n_tokens / total AS share_raw,
         |         sqrt(n_tokens / total) AS sq
         |       FROM counts CROSS JOIN tot),
         |den AS (SELECT list_sum(list(sq ORDER BY source)) AS denom FROM sq)
         |SELECT source, n_tokens,
         |  round(share_raw, 6) AS share,
         |  round(sq / denom, 6) AS weight,
         |  round((sq / denom) / share_raw, 6) AS upsample
         |FROM sq CROSS JOIN den ORDER BY source""".stripMargin
    },
    "q_entropy" -> {
      val T = TextStats.TOKENS("text")
      s"""WITH tok AS (SELECT doc_id, unnest($T) AS tok FROM documents),
         |tc AS (SELECT doc_id, tok, count(*) AS c
         |       FROM tok GROUP BY doc_id, tok),
         |wn AS (SELECT doc_id, tok, c,
         |         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
         |       FROM tc),
         |t2 AS (SELECT doc_id, tok, n, c / n AS p,
         |         -((c / n) * ln(c / n)) AS term
         |       FROM wn),
         |agg AS (SELECT doc_id, max(n) AS n_tokens, count(*) AS vocab,
         |          list_sum(list(term ORDER BY tok)) AS h
         |        FROM t2 GROUP BY doc_id)
         |SELECT doc_id, n_tokens, vocab,
         |  round(h, 6) AS entropy,
         |  round(CASE WHEN vocab > 1
         |    THEN h / ln(CAST(vocab AS DOUBLE)) ELSE 0.0 END, 6)
         |    AS norm_entropy
         |FROM agg ORDER BY doc_id""".stripMargin
    },
    "q_dedup_prefix" -> {
      val T = TextStats.TOKENS("text")
      // replays Dedup.prefixPairs branch for branch: cold buckets at
      // prefix-df cap 256, hot long docs re-keyed on the 16-token
      // prefix, hot short docs via the full-content-key rescue
      s"""WITH tb AS (SELECT doc_id, $T AS toks FROM documents),
         |tr AS (SELECT doc_id + 1000000 AS doc_id,
         |         toks[1:greatest(len(toks) // 2, 1)] AS toks
         |       FROM tb WHERE doc_id % 5 = 0),
         |u AS (SELECT * FROM tb UNION ALL SELECT * FROM tr),
         |wn AS (SELECT doc_id, toks, len(toks) AS n,
         |         md5(array_to_string(toks[1:8], ' ')) AS pk
         |       FROM u WHERE len(toks) >= 8),
         |dfc AS (SELECT pk, count(*) AS df FROM wn GROUP BY pk),
         |cold AS (SELECT w.* FROM wn w JOIN dfc USING (pk)
         |         WHERE df <= 256),
         |hot AS (SELECT w.doc_id, w.toks, w.n FROM wn w JOIN dfc USING (pk)
         |        WHERE df > 256),
         |p_cold AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b
         |  FROM cold a JOIN cold b ON a.pk = b.pk AND a.n < b.n
         |    AND b.toks[1:a.n] = a.toks),
         |hot16 AS (SELECT doc_id, toks, n,
         |            md5(array_to_string(toks[1:16], ' ')) AS pk16
         |          FROM hot WHERE n >= 16),
         |p_16 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b
         |  FROM hot16 a JOIN hot16 b ON a.pk16 = b.pk16 AND a.n < b.n
         |    AND b.toks[1:a.n] = a.toks),
         |short_a AS (SELECT doc_id, toks, n,
         |              md5(array_to_string(toks, ' ')) AS fk
         |            FROM hot WHERE n < 16),
         |long_b AS (SELECT doc_id, toks, n,
         |             md5(array_to_string(toks[1:j], ' ')) AS fk
         |           FROM (SELECT *, unnest(range(8, least(15, n - 1) + 1)) AS j
         |                 FROM hot WHERE n >= 9)),
         |p_short AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b
         |  FROM short_a a JOIN long_b b ON a.fk = b.fk AND a.n < b.n
         |    AND b.toks[1:a.n] = a.toks),
         |pairs AS (SELECT * FROM p_cold UNION ALL SELECT * FROM p_16
         |          UNION ALL SELECT * FROM p_short)
         |SELECT doc_a, doc_b, CAST(n_a AS INTEGER) AS n_a,
         |  CAST(n_b AS INTEGER) AS n_b
         |FROM pairs ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_k_anonymity" ->
      """WITH classes AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |  FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN class_size < 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_classes,
        |  CAST(sum(CASE WHEN class_size < 4 THEN class_size ELSE 0 END)
        |    AS BIGINT) AS n_suppressed_rows,
        |  min(class_size) AS min_class,
        |  round(CAST(1.0 AS DOUBLE) / min(class_size), 6) AS reident_risk
        |FROM classes""".stripMargin,
    "q_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'http://Site' || (doc_id % 7) || '.example/p/'
        |                || (doc_id % 50)
        |    WHEN 1 THEN 'https://www.Site' || (doc_id % 7) || '.example/p/'
        |                || (doc_id % 50) || '/'
        |    WHEN 2 THEN 'https://Site' || (doc_id % 7) || '.example/p/'
        |                || (doc_id % 50) || '?utm=x'
        |    ELSE 'http://www.Site' || (doc_id % 7) || '.example/p/'
        |         || (doc_id % 50) || '#frag'
        |  END AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    lower(url), '^https?://(www\.)?', ''), '[?#].*$', ''),
        |    '/$', '') AS canonical
        |  FROM u)
        |SELECT canonical, count(*) AS n_variants,
        |  count(DISTINCT url) AS n_distinct_spellings
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,
    "q_crossmodal_dups" -> {
      val S = Dedup.SHINGLES("text")
      s"""WITH $IMAGE_SIG_CTES,
         |ip AS (SELECT a.doc_id AS pa, b.doc_id AS pb
         |       FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |       WHERE bit_count(xor(a.lo, b.lo))
         |           + bit_count(xor(a.hi, b.hi)) <= 3),
         |sh2 AS (SELECT doc_id, $S AS s2 FROM documents),
         |x2 AS (SELECT doc_id, unnest(s2) AS g FROM sh2),
         |sizes2 AS (SELECT doc_id, len(s2) AS n FROM sh2),
         |p2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         count(*) AS common
         |       FROM x2 a JOIN x2 b ON a.g = b.g AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |tp AS (SELECT doc_a, doc_b FROM p2
         |       JOIN sizes2 la ON la.doc_id = doc_a
         |       JOIN sizes2 lb ON lb.doc_id = doc_b
         |       WHERE common / (la.n + lb.n - common) >= $jacThreshold)
         |SELECT count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN t.doc_a IS NOT NULL AND i.pa IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(sum(CASE WHEN i.pa IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_text_only,
         |  CAST(sum(CASE WHEN t.doc_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_image_only
         |FROM tp t FULL OUTER JOIN ip i
         |  ON t.doc_a = i.pa AND t.doc_b = i.pb""".stripMargin
    },
    "q_kl_drift" -> {
      val T = TextStats.TOKENS("text")
      s"""WITH tok AS (
         |  SELECT source,
         |    ${graft.ops.Sampling.HASH_BUCKET("doc_id", 2)} = 0 AS even,
         |    unnest($T) AS tok
         |  FROM documents),
         |counts AS (
         |  SELECT source, tok,
         |    CAST(sum(CASE WHEN even THEN 1 ELSE 0 END) AS BIGINT) AS ce,
         |    CAST(sum(CASE WHEN even THEN 0 ELSE 1 END) AS BIGINT) AS co
         |  FROM tok GROUP BY source, tok
         |  HAVING sum(CASE WHEN even THEN 1 ELSE 0 END) > 0
         |     AND sum(CASE WHEN even THEN 0 ELSE 1 END) > 0),
         |totals AS (
         |  SELECT source, CAST(sum(ce) AS BIGINT) AS ne,
         |         CAST(sum(co) AS BIGINT) AS no_, count(*) AS n_shared
         |  FROM counts GROUP BY source),
         |terms AS (
         |  SELECT c.source, c.tok, t.n_shared,
         |    (ce / ne) * ln((ce / ne) / (co / no_)) AS term_pq,
         |    (co / no_) * ln((co / no_) / (ce / ne)) AS term_qp
         |  FROM counts c JOIN totals t USING (source)),
         |agg AS (
         |  SELECT source, max(n_shared) AS n_shared,
         |    round(${Q.GSUM("term_pq")}, 6) AS kl_even_odd,
         |    round(${Q.GSUM("term_qp")}, 6) AS kl_odd_even
         |  FROM terms GROUP BY source)
         |SELECT source, n_shared, kl_even_odd, kl_odd_even
         |FROM agg ORDER BY source""".stripMargin
    })
}
