package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.multimodal.{Codecs, Multimodal}
import graft.queries.Wave6Queries
import graft.text.Dedup

/** Wave-6 operators: perceptual-hash image dedup (dHash + pigeonhole
  * Hamming join), SCD-2 history build, bigram-LM scoring, semantic
  * dedup decisions. */
class Wave6Spec extends SparkSuite {

  // ---- dHash primitive ----

  test("dhash64 is deterministic and identical for identical images") {
    val png = Codecs.encodePng(Multimodal.nearDupWidth(3),
      Multimodal.nearDupHeight(3), Multimodal.nearDupPixels(3))
    val a = Codecs.dhash64(png).get
    val b = Codecs.dhash64(png.clone()).get
    assert(a == b)
    assert(a._1 >= 0L && a._2 >= 0L, "halves must be non-negative")
    assert((a._1 >>> 32) == 0L && (a._2 >>> 32) == 0L,
      "each half holds exactly 32 bits")
  }

  test("dhash64 of same-group perturbed images stays within a small " +
      "Hamming radius; cross-group images are far") {
    def sig(id: Long): (Long, Long) = {
      val g = Multimodal.nearDupGroup(id)
      Codecs.dhash64(Codecs.encodePng(Multimodal.nearDupWidth(g),
        Multimodal.nearDupHeight(g), Multimodal.nearDupPixels(id))).get
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // ids 5 and 102 share group 5; 6 is in group 6 (different geometry
    // and gradient). The sparse perturbation flips only a few sampled
    // comparisons, the group change rewrites the whole gradient.
    val same = ham(sig(5), sig(102))
    val cross = ham(sig(5), sig(6))
    assert(same <= 8, s"same-group Hamming should be small, got $same")
    assert(cross > 8, s"cross-group Hamming should be large, got $cross")
  }

  test("dhash64 returns None for undecodable payloads") {
    assert(Codecs.dhash64("not an image".getBytes).isEmpty)
    assert(Codecs.dhash64(Array.emptyByteArray).isEmpty)
  }

  // ---- Hamming pigeonhole join ----

  test("hammingPairs64 equals brute force at radius 3 (pigeonhole " +
      "completeness) on a corpus with adversarial bit spreads") {
    // signatures that differ in 1..4 bits spread across chunks —
    // including a 4-bit spread hitting all four chunks (must be
    // EXCLUDED at radius 3, would be the classic incompleteness trap)
    val base = 0x0123456789ABCDEFL
    val sigs = Seq(
      0L -> base,
      1L -> (base ^ 1L), // 1 bit, chunk 0
      2L -> (base ^ (1L << 17)), // 1 bit, chunk 1
      3L -> (base ^ 1L ^ (1L << 17) ^ (1L << 33)), // 3 bits, 3 chunks
      4L -> (base ^ 1L ^ (1L << 17) ^ (1L << 33) ^ (1L << 49)), // 4 bits
      5L -> ~base) // far away
    val rows = sigs.map { case (id, s) =>
      Row(id, s >>> 32, s & 0xFFFFFFFFL)
    }
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sig_hi", LongType),
      StructField("sig_lo", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val got = Dedup.hammingPairs64(df, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got == brute,
      s"pigeonhole join must equal brute force: got $got expected $brute")
    assert(!got.exists(p => p._1 == 0L && p._2 == 4L),
      "4 bits across 4 chunks is beyond radius 3")
  }

  test("hammingPairs64 equals brute force on random signature corpora " +
      "(property, fixed seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sig_hi", LongType),
      StructField("sig_lo", LongType)))
    // clustered generator: a few base signatures, members flip 0-5
    // random bits — produces a realistic mix of 0..5-distance pairs
    val gen = for {
      bases <- Gen.listOfN(4, Gen.long)
      sigs <- Gen.listOfN(24, for {
        b <- Gen.oneOf(bases)
        nf <- Gen.chooseNum(0, 5)
        bits <- Gen.listOfN(nf, Gen.chooseNum(0, 63))
      } yield bits.foldLeft(b)((s, k) => s ^ (1L << k)))
    } yield sigs
    (0 until 5).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(7L + i)).foreach { sigs =>
        val rows = sigs.zipWithIndex.map { case (s, id) =>
          Row(id.toLong, s >>> 32, s & 0xFFFFFFFFL)
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 4), schema)
        val got = Dedup.hammingPairs64(df, maxDist = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val brute = (for {
          (sa, ia) <- sigs.zipWithIndex; (sb, ib) <- sigs.zipWithIndex
          if ia < ib
          h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
        } yield (ia.toLong, ib.toLong, h)).toSet
        assert(got == brute, s"seed ${7 + i}: pigeonhole != brute force")
      }
    }
  }

  // ---- registry queries on real test data ----

  test("q_image_dedup emits only radius-3 pairs and the pair set is " +
      "symmetric-free and deduplicated") {
    val out = Wave6Queries.qImageDedup(spark, sf("sf0.001"))
    val rows = out.collect()
    assert(rows.nonEmpty, "the near-dup corpus must produce pairs")
    assert(rows.forall(_.getInt(2) <= 3))
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.forall(p => p._1 < p._2))
    assert(keys.distinct.length == keys.length)
  }

  test("q_scd2 versions are contiguous islands per customer") {
    val out = Wave6Queries.qScd2(spark, sf("sf0.001"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    val byCust = rows.groupBy(_.getLong(0))
    byCust.foreach { case (cust, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 1L, s"cust $cust versions start at 1")
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"cust $cust versions must be dense")
      // exactly one current row, and it is the last version
      val currents = sorted.filter(_.getBoolean(5))
      assert(currents.length == 1 && currents.head == sorted.last)
      // valid_to chains to the next island's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.get(4) == b.get(3),
            s"cust $cust: valid_to must equal next valid_from")
        case _ =>
      }
      // consecutive islands carry different priorities (else they'd merge)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getString(2) != b.getString(2))
        case _ =>
      }
    }
  }

  test("q_lm_bigram scores are positive and bigram counts match " +
      "token counts minus one per multi-token doc") {
    val out = Wave6Queries.qLmBigram(spark, sf("sf0.001")).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(2) > 0.0),
      "self-perplexity of observed bigrams is a positive -log-likelihood")
    // docs with n tokens contribute exactly n-1 bigram OCCURRENCES
    // (ngrams keeps duplicates — the distinct-collapsing shingles
    // variant would undercount repeated bigrams and skew the LM)
    val toks = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"),
        size(graft.text.TextStats.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r.getLong(1) == toks(r.getLong(0)) - 1L)
    }
  }

  test("q_url_domains finds every synthetic URL and flags the blocklist") {
    val rows = Wave6Queries.qUrlDomains(spark, sf("sf0.001")).collect()
    // 7 site domains + 11 cdn domains over 500 docs
    assert(rows.length == 18)
    assert(rows.map(_.getLong(2)).sum == 1000L, "two URLs per document")
    val blocked = rows.filter(_.getBoolean(3)).map(_.getString(0)).toSet
    assert(blocked == Set("cdn0.assets.test", "cdn1.assets.test"))
  }

  test("q_boilerplate ratio is n_common/n_shingles and bounded") {
    val rows = Wave6Queries.qBoilerplate(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, c, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(c <= n)
      assert(math.abs(ratio - c.toDouble / n) < 1e-6)
      assert(r.getBoolean(4) == (2 * c >= n))
    }
  }

  test("q_cluster_best picks the highest-quality member of each cluster") {
    val best = Wave6Queries.qClusterBest(spark, sf("sf0.001")).collect()
    assert(best.nonEmpty)
    // recompute membership + quality and cross-check the argmax
    val pairs = graft.text.Dedup.jaccardPairs(
      graft.io.Tables.load(spark, sf("sf0.001"), "documents"), 0.8)
      .select(col("doc_a"), col("doc_b"))
    val cc = graft.text.Dedup.connectedComponents(pairs)
    val q = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"),
        round(graft.text.TextStats.qualityScore(col("text")), 6).as("q"))
    val members = cc.join(q, "doc_id").collect()
      .groupBy(_.getLong(1))
      .map { case (cid, ms) =>
        cid -> ms.map(m => (m.getLong(0), m.getDouble(2))).toSeq
      }
    best.foreach { r =>
      val (cid, bestDoc, bestQ, size) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      val ms = members(cid)
      assert(ms.size == size)
      val expected = ms.minBy { case (id, qq) => (-qq, id) }
      assert((bestDoc, bestQ) == expected,
        s"cluster $cid argmax mismatch: got ($bestDoc,$bestQ) exp $expected")
    }
  }

  test("q_image_clusters is consistent with the image pair graph") {
    val pairs = Wave6Queries.qImageDedup(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Wave6Queries.qImageClusters(spark, sf("sf0.001")).collect()
    val cid = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair's endpoints share a cluster; cluster id = min member
    pairs.foreach { case (a, b) =>
      assert(cid(a) == cid(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_.getLong(1)).foreach { case (c, ms) =>
      assert(ms.map(_.getLong(0)).min == c)
      assert(ms.count(_.getBoolean(2)) == 1)
    }
    // membership is exactly the docs appearing in >= 1 pair
    assert(clusters.map(_.getLong(0)).toSet ==
      pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("q_kl_drift is non-negative, finite, and split is non-degenerate") {
    val rows = Wave6Queries.qKlDrift(spark, sf("sf0.001")).collect()
    assert(rows.length == 20, "one row per source")
    rows.foreach { r =>
      assert(r.getLong(1) > 0, "shared vocabulary must be non-empty")
      // Gibbs' inequality: KL >= 0 (up to the 1e-6 output rounding)
      assert(r.getDouble(2) >= -1e-6 && r.getDouble(3) >= -1e-6)
      assert(!r.getDouble(2).isNaN && !r.getDouble(3).isNaN)
    }
  }

  test("q_crossmodal_dups partitions the union of pair sets") {
    val r = Wave6Queries.qCrossmodalDups(spark, sf("sf0.001")).collect().head
    val (n, both, txt, img) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n == both + txt + img, "agreement cells must partition the union")
    val nText = graft.text.Dedup.jaccardPairs(
      graft.io.Tables.load(spark, sf("sf0.001"), "documents"), 0.8).count()
    assert(both + txt == nText, "text margin must equal the text pair count")
  }

  test("q_tpch_q5 broadcasts only the tiny dims; fact tables stay on " +
      "the shuffle path") {
    val plan = graft.queries.Wave3Queries.qTpchQ5(spark, sf("sf0.001"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // nation + region ride broadcast joins (the explicit hints)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q_url_canon collapses scheme/www/query/fragment/slash variants") {
    val rows = Wave6Queries.qUrlCanon(spark, sf("sf0.001")).collect()
    // 7 hosts x 50 paths = 350 canonical targets over 500 docs
    assert(rows.length == 350)
    assert(rows.map(_.getLong(1)).sum == 500L, "one URL per document")
    rows.foreach { r =>
      val canon = r.getString(0)
      assert(!canon.contains("http") && !canon.contains("www.") &&
        !canon.contains("?") && !canon.contains("#") && !canon.endsWith("/"),
        s"canonical form still carries variant decoration: $canon")
      assert(canon == canon.toLowerCase)
    }
  }

  test("q_k_anonymity accounts for every customer row") {
    val r = Wave6Queries.qKAnonymity(spark, sf("sf0.001")).collect().head
    val nCustomers = graft.io.Tables.load(spark, sf("sf0.001"), "customer")
      .count()
    assert(r.getLong(1) == nCustomers)
    assert(r.getLong(2) <= r.getLong(0), "small classes are a subset")
    assert(r.getLong(3) < nCustomers)
    assert(math.abs(r.getDouble(5) - 1.0 / r.getLong(4)) < 1e-6)
  }

  test("q_domain_rank conserves probability mass and ranks every domain") {
    val rows = Wave6Queries.qDomainRank(spark, sf("sf0.001")).collect()
    assert(rows.length == 18, "7 site + 11 cdn domains")
    val mass = rows.map(_.getDouble(1)).sum
    // no dangling nodes by construction => sum pr = 1 exactly (up to
    // the 6-dp output rounding x 18 rows)
    assert(math.abs(mass - 1.0) < 18 * 5e-7, s"mass $mass")
    assert(rows.forall(_.getDouble(1) > 0))
    // sites receive mass from 11 cdns each iteration; with uniform-ish
    // weights the top-ranked node must be a site domain
    assert(rows.head.getString(0).startsWith("site"))
  }

  test("domainRank plan depth stays constant as iterations double") {
    val d = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
    def depth(it: Int) = Wave6Queries.domainRank(d, it)
      .queryExecution.optimizedPlan.treeString.linesIterator.size
    val (d4, d8) = (depth(4), depth(8))
    assert(d8 == d4,
      s"per-round lineage truncation must keep the plan flat: $d4 -> $d8")
    // and deeper fixpoints stay well-formed (mass conserved)
    val mass = Wave6Queries.domainRank(d, 8)
      .agg(sum(col("pagerank"))).first().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-4)
  }

  test("q_split_leakage: cluster-aware split leaks zero near-dup pairs " +
      "and covers every document") {
    val r = Wave6Queries.qSplitLeakage(spark, sf("sf0.001")).collect().head
    val nDocs = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
      .count()
    assert(r.getLong(0) + r.getLong(1) + r.getLong(2) == nDocs,
      "every document lands in exactly one split")
    assert(r.getLong(3) > 0, "corpus must contain near-dup pairs")
    assert(r.getLong(5) == 0L,
      "cluster-representative splitting can never straddle a pair")
    assert(r.getLong(4) > 0L,
      "the naive split must demonstrate the leak on this corpus")
  }

  test("q_neg_samples never samples a semantic near-dup as a negative") {
    val negs = Wave6Queries.qNegSamples(spark, sf("sf0.001")).collect()
    assert(negs.nonEmpty)
    assert(negs.forall(_.getInt(1) <= 2))
    assert(negs.forall(r => r.getLong(0) != r.getLong(2)),
      "a vector can never be its own negative")
    // no sampled pair may be a semantic near-dup pair
    val dupPairs = Wave6Queries.qSemanticDedup(spark, sf("sf0.001"))
      .collect().groupBy(_.getLong(1)).values
      .flatMap { ms =>
        val ids = ms.map(_.getLong(0)).toSeq
        for (a <- ids; b <- ids if a != b) yield (a, b)
      }.toSet
    negs.foreach { r =>
      assert(!dupPairs.contains((r.getLong(0), r.getLong(2))),
        s"near-dup pair sampled as negative: ${r.getLong(0)},${r.getLong(2)}")
    }
  }

  test("q_neg_samples candidate pool is capped at K per ring bucket and " +
      "two-phase top-K equals the one-phase window the oracle runs") {
    import graft.ops.Sampling
    import graft.text.Dedup
    import org.apache.spark.sql.expressions.Window
    // 4000 ids -> ~250 per bucket, well above K=64 so the cap must bite
    val bk = spark.range(4000).select(col("id").as("vec_id"),
      Sampling.hashBucket(col("id"), 16).as("bkt"))
    val pool = Wave6Queries.negCandidatePool(bk)
    val perBucket = pool.groupBy("nbkt").count().collect()
    assert(perBucket.length == 16)
    assert(perBucket.forall(_.getLong(1) == Wave6Queries.negCandK),
      "every ring bucket must be capped at exactly K candidates here")
    // the salted two-phase must equal the single global window per bucket
    val onePhase = bk
      .withColumn("cs", shiftrightunsigned(
        Dedup.md5Hash64(col("vec_id").cast("string")), 4))
      .withColumn("r", row_number().over(
        Window.partitionBy("bkt").orderBy(col("cs"), col("vec_id"))))
      .filter(col("r") <= Wave6Queries.negCandK)
      .select(col("vec_id").as("neg_id"), col("bkt").as("nbkt"))
    assert(pool.exceptAll(onePhase).isEmpty && onePhase.exceptAll(pool).isEmpty,
      "two-phase top-K must equal the one-phase window")
  }

  test("q_neg_samples candidate join broadcasts the capped pool") {
    val plan = Wave6Queries.qNegSamples(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the O(16*K)-row candidate pool must be the broadcast build side:\n" + plan)
  }

  test("q_mixture_weights: weights normalize and compress toward the mean") {
    val rows = Wave6Queries.qMixtureWeights(spark, sf("sf0.001")).collect()
    assert(rows.length == 20)
    val shares = rows.map(_.getDouble(2))
    val weights = rows.map(_.getDouble(3))
    assert(math.abs(shares.sum - 1.0) < 2e-5)
    assert(math.abs(weights.sum - 1.0) < 2e-5)
    // temperature < 1 compresses: under-represented sources upsample
    // (w > p), over-represented downsample (w < p)
    rows.foreach { r =>
      val (p, w, up) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      if (p < 1.0 / 25) assert(w > p, s"low-resource source must upsample")
      assert(math.abs(up - w / p) < 1e-3)
    }
  }

  test("q_entropy is bounded by ln(vocab) and norm_entropy by 1") {
    val rows = Wave6Queries.qEntropy(spark, sf("sf0.001")).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, v, h, nh) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(v <= n)
      assert(h >= -1e-9, "entropy is non-negative")
      assert(h <= math.log(v.toDouble) + 1e-6, "H <= ln(vocab)")
      assert(nh >= -1e-9 && nh <= 1.0 + 1e-6)
      if (v == n) // all tokens distinct => uniform => H = ln(n)
        assert(math.abs(h - math.log(n.toDouble)) < 1e-5)
    }
  }

  test("q_dedup_prefix finds every injected truncation and only true " +
      "prefixes") {
    val rows = Wave6Queries.qDedupPrefix(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    // every injected half-doc (id+1e6, source >= 16 tokens) pairs with
    // its origin
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val toks = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"),
        graft.text.TextStats.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    toks.keys.filter(id => id % 5 == 0).foreach { id =>
      val half = toks(id).take(math.max(toks(id).length / 2, 1))
      if (half.length >= 8 && half.length < toks(id).length)
        assert(found.contains((id + 1000000L, id)),
          s"truncated copy of doc $id not paired with its origin")
    }
    // soundness: each reported pair is a genuine strict token prefix
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val ta = if (a >= 1000000L) {
        val src = toks(a - 1000000L)
        src.take(math.max(src.length / 2, 1))
      } else toks(a)
      val tb = if (b >= 1000000L) {
        val src = toks(b - 1000000L)
        src.take(math.max(src.length / 2, 1))
      } else toks(b)
      assert(ta.length < tb.length && tb.startsWith(ta),
        s"pair ($a,$b) is not a strict prefix")
    }
  }

  test("order-pinned float folds are layout-independent: results are " +
      "byte-identical at 4 vs 32 shuffle partitions") {
    // the bit-reproducibility claim behind q_kl_drift / q_lm_bigram /
    // q_domain_rank / q_entropy / q_mixture_weights: the fold order is
    // pinned by data (token/source), not by partitioning
    val queries = Seq("q_kl_drift", "q_lm_bigram", "q_domain_rank",
      "q_entropy", "q_mixture_weights")
    val d = sf("sf0.001")
    queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      def at(parts: String) =
        Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(
          fn(spark, d).collect().map(_.toString).toSeq)
      assert(at("4") == at("32"), s"$name drifted across shuffle layouts")
    }
  }

  test("q_semantic_dedup keepers are cluster minima and sizes add up") {
    val rows = Wave6Queries.qSemanticDedup(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid,
        "cluster id is the minimum member")
      assert(members.count(_.getBoolean(2)) == 1, "exactly one keeper")
      assert(members.forall(_.getLong(3) == members.length),
        "cluster_size matches membership")
      assert(members.length >= 2, "near-dup clusters have at least a pair")
    }
  }
}
