package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ArrayType(FloatType)`).
  *
  *  - '''Brute force''': broadcast the (small) query set against the
  *    corpus; cosine per pair via array expressions (codegen'd, no UDF);
  *    per-query top-k with a ranking window. Exact — the baseline and
  *    oracle. Scales as O(|corpus| × |queries|): fine when queries
  *    broadcast, wrong when both sides are large.
  *  - '''LSH (random hyperplanes)''': sign-bit signature per vector from
  *    deterministic pseudo-hyperplanes; candidates share a signature
  *    chunk (pigeonhole); exact cosine re-rank within candidates. The
  *    100 TB path: shuffle keyed by bucket, never all-pairs.
  *
  * Cosine is computed dot/(sqrt(na)·sqrt(nb)) with a left-to-right fold
  * in index order, float widened to double per element — matching the
  * DuckDB oracle's `list_sum(list_transform(range(...)))` arithmetic so
  * results agree to the last ulp (rounded to 6 anyway).
  */
object Similarity {

  /** Codegen'd native expression (graft.functions.VectorDot) — same
    * left-to-right double fold as the interpreted
    * `aggregate(zip_with(...))` built-in route, ~10× faster. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vector_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine (graft.functions.VectorCosine): one array
    * traversal instead of the composed form's three, bit-identical by
    * construction (independent accumulators, same per-element order —
    * `VectorDotSpec` pins fused == dot/(norm·norm) exactly). Callers
    * with a REUSABLE norm (e.g. [[bruteForceTopK]], which amortizes
    * each vector's norm across all its pairs) keep the explicit
    * dot+norm decomposition — fusing there would recompute norms per
    * pair. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vector_cosine(a, b)

  /** DuckDB twin of [[cosine]] (explicit index-ordered double fold). */
  def COSINE(a: String, b: String, dim: Int): String = {
    def d(x: String, y: String) =
      s"list_sum(list_transform(range($dim), i -> CAST($x[i+1] AS DOUBLE) * CAST($y[i+1] AS DOUBLE)))"
    s"(${d(a, b)} / (sqrt(${d(a, a)}) * sqrt(${d(b, b)})))"
  }

  /** Exact top-k neighbors for each query vector (query side broadcast).
    *
    * Perf shape: norms are computed ONCE per vector (not per pair — the
    * denominator product is bit-identical either way), and the corpus
    * side is repartitioned so the nested-loop probe parallelizes — a
    * single-file parquet scan otherwise feeds the join ONE partition and
    * serializes the whole O(|q|·|corpus|) compute on one core. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
                           col("embedding").as("q_emb"),
                           norm(col("embedding")).as("q_norm"))
    val c = corpus.repartition(col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
              norm(col("embedding")).as("c_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= lit(k))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** All pairs above a cosine threshold (embedding near-dup), SIZE-
    * GATED so the quadratic oracle baseline can never run on a corpus
    * that would sink it:
    *
    *  - corpus ≤ `maxExact` rows → EXACT all-pairs as a shuffle-
    *    replicate nested loop (both sides partitioned, partition-pairs
    *    streamed — NOT a broadcast, whose whole-corpus build side OOMs
    *    long before the quadratic compute limits). This is the oracle
    *    path and stays bit-identical to the unguarded original.
    *  - corpus > `maxExact` rows → [[cosinePairsLsh]]: LSH-bucketed
    *    candidate generation + exact verify. Emitted pairs are exact
    *    (verified cosine), recall < 1 by design — random-hyperplane
    *    signatures admit no deterministic coverage proof at a cosine
    *    threshold (unlike SimHash's pigeonhole on Hamming), so the
    *    scale path is explicitly approximate and the dial is
    *    (nTables, chunkBits).
    *
    * The gate costs one parquet-metadata count. PlanAuditSpec pins
    * both shapes: no cartesian/NL join above the gate. */
  def cosinePairs(corpus: DataFrame, threshold: Double,
      maxExact: Long = 100000): DataFrame = {
    if (corpus.count() <= maxExact) {
      val n = corpus.select(col("vec_id"), col("embedding"),
                            norm(col("embedding")).as("nrm"))
      val a = n.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
                       col("nrm").as("na"))
        .repartition(col("vec_a"))
      val b = n.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
                       col("nrm").as("nb"))
        .repartition(col("vec_b"))
      a.hint("shuffle_replicate_nl").join(b, col("vec_a") < col("vec_b"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= lit(threshold))
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
    } else cosinePairsLsh(corpus, threshold)
  }

  /** Scale path for [[cosinePairs]]: vectors whose signature chunks
    * are within Hamming distance ≤ 1 in some table are candidates,
    * deduped across tables, then exact-cosine verified, so precision
    * is exact and only recall is approximate.
    *
    * MULTI-PROBE: side a explodes each table's chunk into the exact
    * piece plus its chunkBits one-bit flips, side b keeps the exact
    * piece — so a pair fires in a table iff its chunk Hamming distance
    * is ≤ 1 (flips are symmetric), still a pure equi-join on
    * (table, piece), never a cartesian. For neighbors whose bits match
    * with probability p, a table fires with p^c + c·p^(c-1)(1−p)
    * instead of p^c: at the 0.45-threshold margin (p ≈ 0.65) the
    * 8×7-bit dial goes from ≈0.05 to ≈0.23 per table, recall over 8
    * tables from ≈0.33 to ≈0.88 — measured 0.875 / 0.929 / 1.000 at
    * sf0.1/0.01/0.001 on the near-uniform test embeddings against
    * the exact all-pairs truth, vs 0.21–0.43 exact-probe. Real near-dup
    * corpora (cos ≥ 0.8, p ≈ 0.8+) bucket far more reliably.
    *
    * Cost: candidate volume per table is (c+1)·Σ bucketᵢ² at
    * 2^chunkBits buckets (≈ n²/16 per table on uniform data — the
    * recall price), and ONLY (id, table, piece) rows ride the bucket
    * shuffle: embeddings rejoin id-keyed AFTER the candidate set has
    * collapsed (the lshTopK lesson — never drag the arrays through
    * the exploded join). */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double,
      nTables: Int = 8, chunkBits: Int = 7,
      multiProbe: Boolean = true): DataFrame = {
    val nBits = nTables * chunkBits
    require(nBits <= 63, "signature must fit a long")
    val dim = corpus.select(size(col("embedding"))).first().getInt(0)
    val mask = (1L << chunkBits) - 1
    // ids + signature ONLY through the bucket join; the signature is
    // materialized once per row and chunk keys derive from the sig
    // COLUMN after the explode (never repeat the signature expression
    // inside the exploded array — the q_winnow lesson)
    val sigs = corpus.repartition(col("vec_id"))
      .select(col("vec_id"), lshSignature(col("embedding"), dim, nBits).as("sig"))
    // (table, xorMask) probe space: mask 0 = the exact piece; side b
    // probes nothing (d(a,b) <= 1 iff b's exact piece is a's probe)
    val aProbes = for {
      t <- 0 until nTables
      m <- 0L +: (if (multiProbe) (0 until chunkBits).map(1L << _) else Seq.empty)
    } yield (t, m)
    def keyed(side: String, probes: Seq[(Int, Long)]) =
      sigs.select(col("vec_id").as(s"vec_$side"), col("sig"),
          explode(typedLit(probes.toArray)).as("pr"))
        .select(col(s"vec_$side"), col("pr._1").as(s"tbl_$side"),
          expr(s"shiftright(sig, pr._1 * $chunkBits)")
            .bitwiseAND(lit(mask)).bitwiseXOR(col("pr._2")).as(s"piece_$side"))
    val exactProbes = (0 until nTables).map((_, 0L))
    val cand = keyed("a", aProbes).join(keyed("b", exactProbes),
        col("tbl_a") === col("tbl_b") && col("piece_a") === col("piece_b") &&
          col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct() // a pair can collide in several tables/probes
    val ne = corpus.repartition(col("vec_id"))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(ne.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(ne.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= lit(threshold))
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Deterministic pseudo-random hyperplane component g(j,i) in [-1,1):
    * derived from a hash of (j,i) — no RNG state, reproducible on any
    * cluster. */
  private def plane(j: Int, i: Int): Double = {
    var h = j * 0x9E3779B1 + i * 0x85EBCA77 + 1234567
    h ^= h >>> 15; h *= 0x2545F491; h ^= h >>> 13
    (h % 100000) / 100000.0
  }

  /** nBits-bit random-hyperplane signature of an embedding. */
  def lshSignature(emb: Column, dim: Int, nBits: Int = 16): Column = {
    val bits = (0 until nBits).map { j =>
      val planes = (0 until dim).map(i => plane(j, i))
      val s = dot(emb, typedLit(planes))
      when(s > lit(0.0), lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF-style ANN: a coarse k-means quantizer (seeded, MLlib) assigns
    * every corpus vector to one of `nLists` inverted lists; each query
    * probes its `nProbe` nearest centroids and exact-cosine re-ranks
    * only those lists — the classic recall/cost dial (probe all lists ⇒
    * brute force). At 100 TB the lists are the partition keys: a query
    * touches nProbe/nLists of the data.
    *
    * The quantizer FIT is capped at `maxFitRows` via a deterministic
    * hash sample ([[graft.ops.Sampling.hashBucket]] — layout-
    * independent, reproducible on any cluster): k-means is an
    * iterative, driver-coordinated job, and coarse-centroid quality
    * needs only a sample, so the full corpus must never feed the fit.
    * Full-corpus ASSIGNMENT stays scalable — `model.transform` is a
    * map-only pass with the centroids broadcast in the model.
    *
    * Dial: `nLists`/`nProbe` ≤ 0 means AUTO — nLists = ⌈√n⌉ (the
    * standard rule; fixed dials lose recall as the corpus grows:
    * 16/4 measured 0.52 → 0.64 recall@5 across sf0.001→0.1 while
    * √n at 50 % probe measures 0.82 → 0.92, PLANS_r15.md),
    * nProbe = ⌈nLists/2⌉. nLists caps at 4096 so the driver-local
    * sample fit stays bounded at any corpus size — past the cap the
    * probe FRACTION (not the list count) is the recall dial. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 0, nProbe: Int = 0,
              maxFitRows: Long = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val featured = corpus
      .withColumn("features", array_to_vector(col("embedding")))
    // parquet-metadata count; permille chosen so the expected sample is
    // ~maxFitRows (never below 1‰ — still ≥ maxFitRows/1000 rows and
    // far above nLists on any corpus big enough to take this branch)
    val n = corpus.count()
    val nListsR =
      if (nLists > 0) nLists
      else math.min(4096L, math.max(1L,
        math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    val nProbeR =
      if (nProbe > 0) nProbe else math.max(1, (nListsR + 1) / 2)
    val fitRows =
      if (n <= maxFitRows) featured
      else {
        val permille = math.max(1L, maxFitRows * 1000L / n)
        featured.where(
          graft.ops.Sampling.hashBucket(col("vec_id"), 1000) < lit(permille))
      }
    val model = new KMeans().setK(nListsR).setSeed(42)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(fitRows)
    val assigned = model.transform(featured)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
              col("list_id"))

    val spark = corpus.sparkSession
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat))
      }.toIndexedSeq).toDF("list_id", "centroid")

    val w = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("list_id"))
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", -cosine(col("q_emb"), col("centroid")))
      .withColumn("prk", row_number().over(w))
      .filter(col("prk") <= lit(nProbeR))
      .select(col("query_id"), col("q_emb"), col("list_id"))

    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(assigned, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= lit(k))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** Recall@k audit: joins an ANN result against the exact top-k and
    * reduces to one row — (n_queries, k, recall_ok) where `recall_ok`
    * flags mean recall ≥ `floor`. This is the oracle-checkable shape
    * for approximate search: the found SET is engine/seed-specific,
    * but the query count comes straight off the corpus and a collapsed
    * recall means a broken index, which flips the flag and fails the
    * hash. `n_queries` counts the TRUTH side so queries the ANN lost
    * entirely still count in the denominator. */
  def recallAtK(found: DataFrame, truth: DataFrame, k: Int,
      floor: Double): DataFrame = {
    // truth feeds two subtrees (hit join + denominator count); cached
    // post-top-k it is n_queries·k rows, while recomputing it would run
    // the whole exact search twice
    val t = truth.select(col("query_id"), col("neighbor_id")).cache()
    val hits = found.select(col("query_id"), col("neighbor_id"))
      .join(t, Seq("query_id", "neighbor_id"))
    val nq = t.select(countDistinct(col("query_id")).as("n_queries"))
    hits.agg(count(lit(1)).as("n_hits")).crossJoin(nq)
      .select(col("n_queries"), lit(k).as("k"),
        (col("n_hits") >= lit(floor) * col("n_queries") * lit(k))
          .cast("int").as("recall_ok"))
  }

  /** Pair-recall audit for the [[cosinePairsLsh]] scale path — the
    * threshold-pair analog of [[recallAtK]]. Joins the LSH-found pairs
    * against the exact all-pairs truth and reduces to one row:
    * (n_true_pairs, n_extra, recall_ok).
    *
    *  - `n_true_pairs` counts the TRUTH side, so pairs the index lost
    *    still count in the denominator — cross-engine checkable (the
    *    oracle recomputes the quadratic self-join in SQL).
    *  - `n_extra` = found pairs NOT in the truth. Provably 0: the LSH
    *    path exact-verifies every candidate's cosine against the same
    *    threshold, so precision is exact and the oracle emits the
    *    literal 0 — a nonzero value means the verify stage broke.
    *  - `recall_ok` flags hit-count ≥ floor·n_true_pairs. The planes
    *    are hash-derived (no RNG), so measured recall is a fixed
    *    number per corpus; the floor sits under the measured minimum
    *    across test SFs with margin, and a collapsed index flips the
    *    flag and fails the hash. */
  def pairRecall(found: DataFrame, truth: DataFrame,
      floor: Double): DataFrame = {
    // both sides are tiny post-aggregation pair lists, but each feeds
    // two subtrees (hit join + its own count) — cache the small frames,
    // not the upstream search (the recallAtK lesson)
    val t = truth.select(col("vec_a"), col("vec_b")).cache()
    val f = found.select(col("vec_a"), col("vec_b")).cache()
    val hits = f.join(t, Seq("vec_a", "vec_b"))
      .agg(count(lit(1)).as("n_hits"))
    val nt = t.agg(count(lit(1)).as("n_true_pairs"))
    val nf = f.agg(count(lit(1)).as("n_found"))
    nt.crossJoin(nf).crossJoin(hits)
      .select(col("n_true_pairs"),
        (col("n_found") - col("n_hits")).as("n_extra"),
        (col("n_hits") >= lit(floor) * col("n_true_pairs"))
          .cast("int").as("recall_ok"))
  }

  /** ANN via LSH bucketing: vectors sharing a signature chunk (one
    * "hash table" of `chunkBits` hyperplane bits) are candidates; exact
    * cosine re-ranks; top-k per query. Recall < 1 by design — compare
    * against [[bruteForceTopK]] to measure.
    *
    * Parameter choice is the classic LSH dial: for neighbors at angle θ
    * a bit matches with p = 1 − θ/π, a table fires with p^chunkBits,
    * and recall ≈ 1 − (1 − p^chunkBits)^nTables. The 8×4-bit default
    * holds recall ≥ 0.5 even on near-uniform embeddings (p ≈ 0.6, the
    * adversarial case — measured 0.6+ on the test corpus at every SF);
    * clustered real-world embeddings (p ≥ 0.8) get the same recall from
    * far more selective buckets. Candidate growth is bounded by
    * nTables · n / 2^chunkBits. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
      nTables: Int = 8, chunkBits: Int = 4): DataFrame = {
    val nBits = nTables * chunkBits
    require(nBits <= 63, "signature must fit a long")
    // ids + bucket keys ONLY (the bucket join and multi-table dedup
    // must not drag embedding arrays through the shuffle — they rejoin
    // below, id-keyed, once candidates have collapsed), and the
    // signature is materialized ONCE per row before the explode: the
    // chunk keys derive from the sig COLUMN in row space after
    // Generate, never by repeating the 32-dot signature expression
    // inside the exploded array (which re-evaluates it per table — the
    // q_winnow lesson).
    def keyed(df: DataFrame, idCol: String, embCol: String) = {
      val mask = (1L << chunkBits) - 1
      df.select(col(idCol), lshSignature(col(embCol), dim, nBits).as("sig"))
        .select(col(idCol), col("sig"),
          explode(typedLit((0 until nTables).toArray)).as("chunk"))
        .select(col(idCol), col("chunk"),
          expr(s"shiftright(sig, chunk * $chunkBits)")
            .bitwiseAND(lit(mask)).as("piece"))
    }
    val q = keyed(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")), "query_id", "q_emb")
    val c = keyed(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb")), "neighbor_id", "c_emb")
    val cand = broadcast(q).join(c, Seq("chunk", "piece"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct() // a pair can collide in multiple chunks
    val qe = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val ce = corpus.repartition(col("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(ce, "neighbor_id").join(broadcast(qe), "query_id")
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= lit(k))
      .select(col("query_id"), col("rk"), col("neighbor_id"),
              round(col("cos"), 6).as("cos"))
  }

  /** Driver-local Lloyd's k-means over a bounded sample (see [[pqTopK]]
    * — the fit input is capped, so the distributed fit machinery would
    * be hundreds of Spark jobs to cluster a few MB). Deterministic:
    * evenly-spaced init over the (caller-sorted) sample, argmin with
    * lowest-index tie-break, empty clusters keep their centroid. */
  private[text] def fitLloyd(points: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    val n = points.length
    require(n > 0, "empty fit sample")
    val d = points(0).length
    var centroids = Array.tabulate(k)(i => points(((i.toLong * n) / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) {
            val df = (p(j) - centroids(c)(j)).toDouble; dist += df * df; j += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else Array.tabulate(d)(j => (sums(c)(j) / counts(c)).toFloat)
      }
    }
    centroids
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): the embedding is split into `nSub`
    * sub-vectors, each quantized to one of `nCodes` per-subspace
    * centroids, so a 64-dim float vector (256 bytes) becomes `nSub`
    * small codes (8 bytes of codes + a stored norm here — a 16–32×
    * compression). Search is asymmetric distance computation (ADC):
    * the QUERY stays exact; per (query, subspace, code) the partial
    * dot product against the centroid is a lookup table, and a
    * corpus vector's approximate dot is the sum of its codes' table
    * entries. Approximate-cosine ranks candidates; top-k out.
    *
    * Why this is THE 100 TB embedding shape: at scale the fp32
    * embedding table is itself 100 TB-class, and every ANN structure
    * that stores raw vectors (brute force, IVF lists with full
    * vectors) pays that storage and scan cost. PQ codes cut the
    * scanned bytes 16–32× with a map-side-only scoring pass:
    *  - the FIT is k-means per subspace on a capped deterministic
    *    hash sample (the [[ivfTopK]] discipline — the full corpus
    *    never feeds an iterative driver-coordinated fit);
    *  - ENCODING is linear and shuffle-free in data terms: corpus ×
    *    nSub rows equi-join the BROADCAST codebook (nSub·nCodes
    *    rows), argmin per (vec, subspace) via a window partitioned
    *    by uniform keys;
    *  - SCORING joins the code table against the BROADCAST lookup
    *    table (queries · nSub · nCodes rows) — no corpus shuffle at
    *    all until the per-(query,vec) partial-sum groupBy, whose
    *    volume is corpus × nSub rows of (id, double), 32× smaller
    *    than shuffling embeddings.
    * In production PQ composes with IVF (probe lists first, ADC
    * within); here they are separate operators, each audited.
    *
    * `shortlist > 0` adds the standard second stage: ADC ranks a
    * shortlist of that many candidates per query, and only those
    * fetch their EXACT vectors for a re-rank (per query: `shortlist`
    * full-vector reads instead of a corpus scan). On unstructured
    * (near-uniform) embeddings pure ADC ordering is noisy — the
    * compressed scan's job is to not LOSE the true neighbors from a
    * generous shortlist, and the re-rank restores exact order. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             dim: Int = 64, nSub: Int = 8, nCodes: Int = 16,
             shortlist: Int = 0, maxFitRows: Long = 100000): DataFrame = {
    require(dim % nSub == 0, "dim must divide into nSub subspaces")
    val subDim = dim / nSub
    val spark = corpus.sparkSession

    val n = corpus.count()
    val fitBase =
      if (n <= maxFitRows) corpus
      else {
        val permille = math.max(1L, maxFitRows * 1000L / n)
        corpus.where(
          graft.ops.Sampling.hashBucket(col("vec_id"), 1000) < lit(permille))
      }
    // the capped hash sample COLLECTS (≤ maxFitRows × dim floats — the
    // cap is the driver-memory bound, the Bpe.fitOnCorpus discipline)
    // and all nSub Lloyd fits run driver-LOCAL: an MLlib fit is a
    // driver-coordinated job PER ITERATION, and nSub fits × its
    // iterations was 300+ Spark jobs to cluster a few MB — the
    // distributed machinery belongs to encoding/scoring, not to a
    // bounded-sample fit. Sorted by vec_id so the codebook is
    // layout-independent; Lloyd's is deterministic by construction
    // (evenly-spaced init over the sorted sample, lowest-code
    // tie-break, empty clusters keep their centroid).
    val sample = fitBase.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).take(
        math.min(maxFitRows, Int.MaxValue.toLong).toInt).map(_._2)
    val codebook: Seq[(Int, Int, Seq[Float])] = (0 until nSub).flatMap { m =>
      val subs = sample.map(v => v.slice(m * subDim, (m + 1) * subDim))
      fitLloyd(subs, nCodes, iters = 10).zipWithIndex.map {
        case (c, i) => (m, i, c.toSeq)
      }
    }
    val cb = spark.createDataFrame(codebook.toIndexedSeq)
      .toDF("m", "code", "centroid")

    // encode: argmin_L2 centroid per (vec, subspace); nSub·nCodes
    // candidate rows per vector against the broadcast codebook. The
    // argmin is a min_by AGGREGATE (r17, guide §2.3 — aggregate before
    // you shuffle): the former row_number window shuffled all
    // n·nSub·nCodes candidate rows to sort each (vec, subspace) group;
    // the hash aggregate's map-side partial min collapses every scan
    // partition to one buffer per (vec, subspace), so the exchange
    // carries n·nSub rows — nCodes× fewer. min_by ordered by
    // struct(d2, code) is the window's (d2, code) sort key — ties
    // impossible (code is unique within a group), winner identical.
    val subs = corpus.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(nSub - 1)),
          m => slice(col("embedding"), m * lit(subDim) + lit(1),
            lit(subDim)))))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("sub"))
    val codes = subs.join(broadcast(cb), Seq("m"))
      .withColumn("d2", aggregate(
        zip_with(col("sub"), col("centroid"),
          (a, b) => (a - b).cast("double") * (a - b).cast("double")),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .select(col("vec_id"), col("m"), col("code"))
    // stored per-vector norm (PQ indexes for cosine/IP keep it: one
    // float next to the codes, still ~30× smaller than the vector)
    val norms = corpus.select(col("vec_id"), norm(col("embedding")).as("vnorm"))

    // ADC lookup table: queries × codebook partial dot products
    val lut = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("m", explode(sequence(lit(0), lit(nSub - 1))))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pdot", dot(
        slice(col("q_emb"), col("m") * lit(subDim) + lit(1), lit(subDim)),
        col("centroid")))
      .select(col("query_id"), col("m"), col("code"), col("pdot"))
    val qnorms = queries.select(col("vec_id").as("query_id"),
      norm(col("embedding")).as("qnorm"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val adc = codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"))
      .join(norms, "vec_id")
      .join(broadcast(qnorms), "query_id")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("acos", col("adot") / (col("vnorm") * col("qnorm")))
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("rk", row_number().over(w))

    if (shortlist <= 0)
      adc.filter(col("rk") <= lit(k))
        .select(col("query_id"), col("rk"), col("neighbor_id"),
                round(col("acos"), 6).as("cos"))
    else {
      // stage 2: exact re-rank of the ADC shortlist — the candidate
      // set (queries × shortlist ids) broadcasts against the corpus,
      // so only shortlist full vectors per query are ever read
      val cand = adc.filter(col("rk") <= lit(shortlist))
        .select(col("query_id"), col("neighbor_id"))
      val qe = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val ce = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"))
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      broadcast(cand).join(ce, "neighbor_id")
        .join(broadcast(qe), "query_id")
        .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
        .withColumn("rk", row_number().over(wr))
        .filter(col("rk") <= lit(k))
        .select(col("query_id"), col("rk"), col("neighbor_id"),
                round(col("cos"), 6).as("cos"))
    }
  }

  /** IVF+PQ composite ANN (IVFADC — Jégou et al., "Product
    * Quantization for Nearest Neighbor Search" §IV): the coarse
    * quantizer routes every corpus vector to one of `nLists` cells,
    * and PQ encodes the RESIDUAL (vector − its cell centroid) — the
    * residual distribution is tighter than the raw vectors, so the
    * same code budget quantizes it more accurately. Search probes
    * `nProbe` cells and runs asymmetric distance computation (ADC)
    * over ONLY their codes; the dot product decomposes exactly as
    *   dot(q, v) = dot(q, c_cell) + dot(q, residual)
    * where the first term is one scalar per (query, probed cell) and
    * the second is the usual per-subspace lookup-table sum — the
    * residual codebook is shared across cells, so the LUT stays
    * (queries · nSub · nCodes) rows and list-independent.
    *
    * This is the production 100 TB shape the separate `ivfTopK` /
    * `pqTopK` operators compose into: IVF bounds the fraction of the
    * corpus a query touches (nProbe/nLists of the cells), PQ bounds
    * the bytes per touched vector (codes ~30× smaller than fp32), and
    * the optional exact re-rank reads `shortlist` full vectors per
    * query — never a corpus scan. Fits follow the capped
    * deterministic-hash-sample discipline (driver-local Lloyd on
    * ≤ maxFitRows vectors); assignment, encoding and scoring are all
    * broadcast-equi-join map passes plus one partial-sum groupBy
    * whose volume is (probed codes) rows.
    *
    * Candidates are ⊆ the probed cells BY CONSTRUCTION — the code
    * table is equi-joined with the query's probe rows on `list_id`
    * before any scoring ([[ivfPqParts]] exposes the assignment and
    * probe frames so the spec pins exactly that). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, nLists: Int = 8, nProbe: Int = 5,
      nSub: Int = 8, nCodes: Int = 16, shortlist: Int = 0,
      maxFitRows: Long = 100000): DataFrame =
    ivfPqParts(corpus, queries, k, dim, nLists, nProbe, nSub, nCodes,
      shortlist, maxFitRows)._3

  /** (cell assignment, probe set, top-k result) of [[ivfPqTopK]] —
    * the first two are the receipts the spec checks containment
    * against. */
  private[graft] def ivfPqParts(corpus: DataFrame, queries: DataFrame,
      k: Int, dim: Int, nLists: Int, nProbe: Int, nSub: Int,
      nCodes: Int, shortlist: Int, maxFitRows: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    require(dim % nSub == 0, "dim must divide into nSub subspaces")
    val subDim = dim / nSub
    val spark = corpus.sparkSession

    // capped deterministic sample, driver-local fits (the pqTopK
    // discipline: a bounded-sample Lloyd's is not a cluster job)
    val n = corpus.count()
    val fitBase =
      if (n <= maxFitRows) corpus
      else {
        val permille = math.max(1L, maxFitRows * 1000L / n)
        corpus.where(
          graft.ops.Sampling.hashBucket(col("vec_id"), 1000) < lit(permille))
      }
    val sample = fitBase.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).take(
        math.min(maxFitRows, Int.MaxValue.toLong).toInt).map(_._2)
    val coarse = fitLloyd(sample, nLists, iters = 10)
    def nearestCell(v: Array[Float]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < coarse.length) {
        var d2 = 0.0; var j = 0
        while (j < dim) {
          val df = (v(j) - coarse(c)(j)).toDouble; d2 += df * df; j += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    }
    // PQ fits on the sample's RESIDUALS — the whole point of the
    // composite: residual magnitudes are a fraction of the vectors'
    val residuals = sample.map { v =>
      val c = coarse(nearestCell(v))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    val codebook: Seq[(Int, Int, Seq[Float])] =
      (0 until nSub).flatMap { m =>
        val subs = residuals.map(_.slice(m * subDim, (m + 1) * subDim))
        fitLloyd(subs, nCodes, iters = 10).zipWithIndex.map {
          case (c, i) => (m, i, c.toSeq)
        }
      }
    val coarseDf = spark.createDataFrame(
      coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toIndexedSeq)
      .toDF("list_id", "centroid")
    val cb = spark.createDataFrame(codebook.toIndexedSeq)
      .toDF("m", "code", "sub_centroid")

    // ASSIGN + residual: corpus × nLists candidate rows against the
    // broadcast centroids; argmin per vector as a min_by AGGREGATE
    // (r17, guide §2.3 — aggregate before you shuffle): the former
    // row_number window shuffled ALL n·nLists candidate rows (with
    // embedding + centroid payloads) to sort each vector's cell list;
    // the hash aggregate's map-side partial min collapses every scan
    // partition to one buffer per vector, so the exchange carries n
    // rows. min_by ordered by struct(d2, list_id) is the window's
    // (d2, list_id) sort key — ties impossible (list_id is unique
    // within a vector's candidate set), so the winner is identical.
    val assigned = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarseDf))
      .withColumn("d2", aggregate(
        zip_with(col("embedding"), col("centroid"),
          (a, b) => (a - b).cast("double") * (a - b).cast("double")),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("list_id"), col("embedding"), col("centroid")),
        struct(col("d2"), col("list_id"))).as("best"))
      .select(col("vec_id"), col("best.list_id").as("list_id"),
        zip_with(col("best.embedding"), col("best.centroid"),
          (a, b) => a - b).as("resid"))

    // ENCODE residuals: argmin_L2 residual-centroid per (vec, subspace)
    // — min_by aggregate for the same §2.3 reason as ASSIGN above, and
    // with a larger factor: the former window shuffled n·nSub·nCodes
    // candidate rows, the aggregate's exchange carries n·nSub. list_id
    // rides in the grouping key (functionally dependent on vec_id —
    // identical groups, identical winners).
    val codes = assigned.select(col("vec_id"), col("list_id"),
        posexplode(transform(sequence(lit(0), lit(nSub - 1)),
          m => slice(col("resid"), m * lit(subDim) + lit(1),
            lit(subDim)))))
      .select(col("vec_id"), col("list_id"),
        col("pos").as("m"), col("col").as("sub"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d2", aggregate(
        zip_with(col("sub"), col("sub_centroid"),
          (a, b) => (a - b).cast("double") * (a - b).cast("double")),
        lit(0.0), (acc, x) => acc + x))
      .groupBy(col("vec_id"), col("list_id"), col("m"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
      .select(col("vec_id"), col("list_id"), col("m"), col("code"))
    val norms = corpus.select(col("vec_id"),
      norm(col("embedding")).as("vnorm"))

    // PROBE: nProbe nearest cells per query, with the exact
    // per-(query, cell) coarse dot the ADC decomposition needs
    val wP = Window.partitionBy("query_id")
      .orderBy(col("cdist"), col("list_id"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(coarseDf))
      .withColumn("cdist", -cosine(col("q_emb"), col("centroid")))
      .withColumn("coarse_dot", dot(col("q_emb"), col("centroid")))
      .withColumn("prk", row_number().over(wP))
      .filter(col("prk") <= lit(nProbe))
      .select(col("query_id"), col("list_id"), col("coarse_dot"))

    // ADC lookup table: residual-codebook partial dots, cell-free
    val lut = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("m", explode(sequence(lit(0), lit(nSub - 1))))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pdot", dot(
        slice(col("q_emb"), col("m") * lit(subDim) + lit(1), lit(subDim)),
        col("sub_centroid")))
      .select(col("query_id"), col("m"), col("code"), col("pdot"))
    val qnorms = queries.select(col("vec_id").as("query_id"),
      norm(col("embedding")).as("qnorm"))

    // SCORE: codes of PROBED cells only (the equi-join with the probe
    // rows is the containment guarantee), approximate dot = coarse
    // term + residual table sum
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    val adc = codes
      .join(broadcast(probes), Seq("list_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("rdot"), max(col("coarse_dot")).as("cdot"))
      .join(norms, "vec_id")
      .join(broadcast(qnorms), "query_id")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("acos",
        (col("cdot") + col("rdot")) / (col("vnorm") * col("qnorm")))
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("rk", row_number().over(w))

    val result =
      if (shortlist <= 0)
        adc.filter(col("rk") <= lit(k))
          .select(col("query_id"), col("rk"), col("neighbor_id"),
                  round(col("acos"), 6).as("cos"))
      else {
        // exact re-rank of the ADC shortlist (still ⊆ probed cells:
        // candidates come off the probed-cell ADC ranking)
        val cand = adc.filter(col("rk") <= lit(shortlist))
          .select(col("query_id"), col("neighbor_id"))
        val qe = queries.select(col("vec_id").as("query_id"),
          col("embedding").as("q_emb"))
        val ce = corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("c_emb"))
        val wr = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))
        broadcast(cand).join(ce, "neighbor_id")
          .join(broadcast(qe), "query_id")
          .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= lit(k))
          .select(col("query_id"), col("rk"), col("neighbor_id"),
                  round(col("cos"), 6).as("cos"))
      }
    (assigned.select(col("vec_id"), col("list_id")),
      probes.select(col("query_id"), col("list_id")), result)
  }
}
