package graft

import org.apache.spark.sql.functions._

import graft.text.{Dedup, Search, Similarity}

/** Wave-8 operators: duplicated-substring coverage, BM25 retrieval,
  * PQ ANN, epoch shuffle, incremental aggregate-state maintenance. */
class Wave8Spec extends SparkSuite {
  import spark.implicits._

  // ---- spanCoverage ----

  private def cov(rows: Seq[(Long, String)]) =
    Dedup.spanCoverage(rows.toDF("doc_id", "text"), k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

  test("spanCoverage: a shared 6-token run covers 6 tokens via merged 4-grams") {
    // docs 0 and 1 share tokens "a b c d e f" (6 tokens ⇒ three
    // overlapping 4-grams ⇒ merged span = 6); doc 2 is all-unique
    val m = cov(Seq(
      (0L, "a b c d e f x0 y0 z0"),
      (1L, "p1 q1 a b c d e f"),
      (2L, "u v w t s r")))
    assert(m(0L) === ((9, 3L, 6L, 0.666667)))
    assert(m(1L) === ((8, 3L, 6L, 0.75)))
    assert(m(2L) === ((6, 0L, 0L, 0.0)))
  }

  test("spanCoverage: intra-doc repeats count; short and empty docs are safe") {
    val m = cov(Seq(
      (0L, "m n o p zz m n o p"),   // the 4-gram "m n o p" twice in ONE doc
      (1L, "a b c"),                // shorter than k — no grams
      (2L, "")))
    assert(m(0L)._2 === 2L)         // both occurrences are dup grams
    assert(m(0L)._3 === 8L)         // spans [0..3] and [5..8]
    assert(m(1L) === ((3, 0L, 0L, 0.0)))
    assert(m(2L) === ((0, 0L, 0L, 0.0)))
  }

  test("spanCoverage equals the brute-force duplicated-position count " +
      "on generated corpora") {
    // reference: position p of doc d is covered iff SOME k-window of d
    // containing p has a gram text occurring > 1 time corpus-wide
    val k = 3
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(97L + seed)
      val vocab = Seq("a", "b", "c", "d")
      val corpus = (0L until 8L).map { id =>
        val n = rnd.nextInt(12)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val toks = corpus.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty) }.toMap
      val counts = toks.values.flatMap(ts =>
        ts.sliding(k).filter(_.length == k).map(_.mkString(" ")))
        .groupBy(identity).map { case (g, o) => g -> o.size }
      val expected = toks.map { case (id, ts) =>
        val dupStarts = (0 to ts.length - k)
          .filter(i => counts(ts.slice(i, i + k).mkString(" ")) > 1)
        val covered = dupStarts.flatMap(i => i until i + k).distinct.size
        id -> ((ts.length, dupStarts.size.toLong, covered.toLong))
      }
      val got = Dedup.spanCoverage(corpus.toDF("doc_id", "text"), k)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === expected, s"seed $seed")
    }
  }

  test("spanCoverage is layout-independent") {
    val docs = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
    val a = Dedup.spanCoverage(docs.repartition(1), 8).collect().toSeq
    val b = Dedup.spanCoverage(docs.repartition(13), 8).collect().toSeq
    assert(a === b)
  }

  // ---- BM25 ----

  test("bm25TopK: rarer terms dominate; doc with both terms outranks either alone") {
    val docs = Seq(
      (0L, "rare common filler filler"),
      (1L, "rare filler filler filler"),
      (2L, "common filler filler filler"),
      (3L, "filler filler filler filler"),
      (4L, "common filler common filler")).toDF("doc_id", "text")
    val q = Seq((0, "rare"), (0, "common")).toDF("query_id", "term")
    val top = Search.bm25TopK(docs, q, k = 4).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(top(1) === 0L)   // both terms
    // doc 1 (rare only, df=2) must beat docs with only 'common' (df=3)
    assert(top(2) === 1L)
    assert(!top.values.toSet.contains(3L)) // no query term — never retrieved
  }

  test("bm25TopK scores match the hand-computed Okapi formula") {
    // one doc, one term, trivially checkable: tf=2, dl=4, N=2, df=1,
    // avgdl=3 → idf=ln(1+(2-1+0.5)/1.5)=ln 2; denom=2+1.2*(0.25+0.75*4/3)
    val docs = Seq((0L, "t x t y"), (1L, "z z")).toDF("doc_id", "text")
    val q = Seq((0, "t")).toDF("query_id", "term")
    val got = Search.bm25TopK(docs, q, k = 1).collect()(0).getDouble(4)
    val idf = math.log(1.0 + (2 - 1 + 0.5) / (1 + 0.5))
    val exp = idf * (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 4.0 / 3.0))
    assert(math.abs(got - exp) < 1e-6)
  }

  // ---- PQ ANN ----

  test("pqTopK with exact re-rank recovers brute-force top-k on clustered vectors") {
    // 4 tight, well-separated clusters: the ADC shortlist trivially
    // holds the true neighbors, and the re-rank restores exact order
    val vecs = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      val base = Array.tabulate(64)(j => if (j / 16 == c) 10f else 0f)
      (i, base.zipWithIndex.map { case (v, j) =>
        v + ((i * 31 + j * 7) % 5).toFloat * 0.01f })
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 4)
    val pq = Similarity.pqTopK(vecs, q, k = 3, nSub = 16, nCodes = 8,
      shortlist = 24, maxFitRows = 1000)
      .select("query_id", "rk", "neighbor_id").collect().toSet
    val bf = Similarity.bruteForceTopK(vecs, q, k = 3)
      .select("query_id", "rk", "neighbor_id").collect().toSet
    assert(pq === bf)
  }

  test("pqTopK encoding is deterministic across layouts") {
    val e = graft.io.Tables.load(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val a = Similarity.pqTopK(e.repartition(2), q, k = 5,
      nSub = 16, nCodes = 32, shortlist = 64).collect().toSeq
    val b = Similarity.pqTopK(e.repartition(7), q, k = 5,
      nSub = 16, nCodes = 32, shortlist = 64).collect().toSeq
    assert(a === b)
  }

  // ---- epoch shuffle ----

  test("epoch shuffle partitions every doc exactly once, layout-independently") {
    val d = sf("sf0.001")
    val total = graft.io.Tables.load(spark, d, "documents").count()
    val rows = graft.queries.Wave8Queries.qEpochShuffle(spark, d).collect()
    assert(rows.map(_.getLong(1)).sum === total)
    val again = graft.queries.Wave8Queries.qEpochShuffle(spark, d).collect()
    assert(rows.toSeq === again.toSeq)
  }

  // ---- data-quality audit ----

  test("ordersAudit flips exactly the violated checks") {
    import java.sql.Timestamp
    val orders = Seq(
      (1L, Option(10L), "O", 5.0, Timestamp.valueOf("2000-01-01 00:00:00")),
      (1L, Option(10L), "F", -2.0, Timestamp.valueOf("2000-02-01 00:00:00")),
      (2L, None, "X", 7.0, Timestamp.valueOf("1998-01-01 00:00:00")),
      (3L, Option(99L), "P", 1.0, Timestamp.valueOf("2000-03-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate")
    val customer = Seq(Tuple1(10L)).toDF("c_custkey")
    val m = graft.ops.Quality.ordersAudit(orders, customer).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(m("completeness_custkey") === ((0.75, 0)))   // one NULL custkey
    assert(m("unique_orderkey")._2 === 0)               // key 1 duplicated
    assert(m("range_totalprice_positive") === ((-2.0, 0)))
    assert(m("set_orderstatus") === ((1.0, 0)))         // the 'X' row
    assert(m("fk_custkey_in_customer") === ((1.0, 0)))  // 99 has no customer
    assert(m("freshness_orderdate") === ((2000.0, 1)))
  }

  test("ordersAudit is all-green on the test corpus") {
    val d = sf("sf0.001")
    val rows = graft.queries.Wave8Queries.qDataQuality(spark, d).collect()
    assert(rows.length === 6)
    assert(rows.forall(_.getInt(2) === 1),
      rows.map(r => s"${r.getString(0)}=${r.getInt(2)}").mkString(", "))
  }

  // ---- mixture interleave ----

  test("mixture interleave: batches partition the corpus; composition drifts as sources exhaust") {
    val d = sf("sf0.001")
    val total = graft.io.Tables.load(spark, d, "documents").count()
    val rows = graft.queries.Wave8Queries.qMixtureInterleave(spark, d)
      .collect()
    assert(rows.map(_.getLong(1)).sum === total)
    // stride scheduling: the first batch sees at least as many sources
    // as the last (upsampled sources exhaust before T_max)
    val bySources = rows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(bySources(0) >= bySources(rows.map(_.getInt(0)).max))
    val again = graft.queries.Wave8Queries.qMixtureInterleave(spark, d)
      .collect()
    assert(rows.toSeq === again.toSeq)
  }

  // ---- quarantine ----

  test("quarantine routes exactly the poison rows; clean fields parse") {
    val d = sf("sf0.001")
    val docs = graft.io.Tables.load(spark, d, "documents")
    val poison = docs.filter(col("doc_id") % 7 === 3).count()
    val rows = graft.queries.Wave8Queries.qQuarantine(spark, d).collect()
    assert(rows.map(_.getLong(2)).sum === poison)
    assert(rows.map(_.getLong(1)).sum === docs.count() - poison)
    // clean_chars is the sum of n_chars over clean docs — parsed, not copied
    val expChars = docs.filter(col("doc_id") % 7 =!= 3)
      .agg(sum(col("n_chars"))).collect()(0).getLong(0)
    assert(rows.map(_.getLong(3)).sum === expChars)
  }

  // ---- preference pairs ----

  test("preference pairs: distinct docs per pair, non-negative quality gap, " +
      "chosen agrees with q_cluster_best") {
    val d = sf("sf0.001")
    val rows = graft.queries.Wave8Queries.qPreferencePairs(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) !== r.getLong(3),
        s"cluster ${r.getLong(0)}: chosen == rejected")
      assert(r.getDouble(4) >= 0.0,
        s"cluster ${r.getLong(0)}: negative quality gap")
    }
    // the chosen doc is exactly q_cluster_best's keeper per cluster
    val best = graft.queries.Wave6Queries.qClusterBest(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(best(r.getLong(0)) === r.getLong(2),
        s"cluster ${r.getLong(0)}: chosen != cluster-best keeper")
    }
  }

  // ---- chat template ----

  test("chat template: assistant span covers exactly the post-marker tokens") {
    val d = sf("sf0.001")
    val rows = graft.queries.Wave8Queries.qChatTemplate(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, start, len) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(start + len === n, s"doc ${r.getLong(0)}: span arithmetic")
      assert(len >= 0 && start >= 7,
        s"doc ${r.getLong(0)}: marker prefix is at least 7 tokens")
    }
    // a doc with > 8 tokens puts the remainder in the assistant span
    val docs = graft.io.Tables.load(spark, d, "documents")
      .select(col("doc_id"),
        graft.text.TextStats.tokenCount(col("text")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val nt = docs(r.getLong(0))
      if (nt > 8) assert(r.getInt(3) === nt - 8,
        s"doc ${r.getLong(0)}: assistant span should be the doc tail")
    }
  }

  test("wave-8 float-fold queries are layout-independent: byte-identical " +
      "at 4 vs 32 shuffle partitions") {
    // q_bm25_search folds term contributions in sorted term order;
    // q_mixture_interleave's weights ride the pinned fold and batch
    // assignment is row-local; q_state_merge keeps decimal state —
    // none may drift with partitioning (the Wave6Spec proof, extended)
    val queries = Seq("q_bm25_search", "q_mixture_interleave",
      "q_state_merge", "q_data_quality")
    val d = sf("sf0.001")
    queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      def at(parts: String) =
        Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(
          fn(spark, d).collect().map(_.toString).toSeq)
      assert(at("4") == at("32"), s"$name drifted across shuffle layouts")
    }
  }

  // ---- incremental state merge ----

  test("state merge: base+delta equals full recompute (n_mismatch=0)") {
    val r = graft.queries.Wave8Queries.qStateMerge(spark, sf("sf0.001"))
      .collect()(0)
    assert(r.getLong(3) === 0L, "merged state diverged from direct recompute")
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }
}
