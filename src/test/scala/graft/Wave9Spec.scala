package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Linalg

/** Wave-9 operators: power-iteration PCA, distributed Lloyd k-means,
  * RRF hybrid retrieval, perplexity buckets, tokenizer fertility,
  * safety blocklist, l-diversity. */
class Wave9Spec extends SparkSuite {

  private def embs = Tables.load(spark, sf("sf0.001"), "embeddings")

  // ---- power-iteration PCA ----

  test("pca: loadings are unit-norm, eigenvalue positive, ratio in (0,1]") {
    val rows = graft.queries.Wave9Queries.qPcaPower(spark, sf("sf0.001"))
      .collect()
    assert(rows.length === 64)
    val norm2 = rows.map(_.getDouble(1)).map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"loading norm² = $norm2")
    val eig = rows.head.getDouble(2)
    val evr = rows.head.getDouble(3)
    assert(eig > 0.0)
    assert(evr > 0.0 && evr <= 1.0, s"explained-variance ratio $evr")
  }

  test("pca: grid-quantized distributed result tracks an exact driver-side " +
      "power iteration to ~1e-5") {
    // same algorithm in plain double arithmetic with NO quantizer and NO
    // distribution — the grid must not distort the math, only pin it
    val x = embs.select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val dim = 64
    val n = x.length
    val mu = Array.tabulate(dim)(j => x.map(_(j)).sum / n)
    val c = x.map(v => Array.tabulate(dim)(j => v(j) - mu(j)))
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var nrm = 0.0
    for (_ <- 1 to 4) {
      val d = c.map(ci => ci.zip(v).map { case (a, b) => a * b }.sum)
      val w = Array.tabulate(dim)(j =>
        c.indices.map(i => c(i)(j) * d(i)).sum)
      nrm = math.sqrt(w.map(y => y * y).sum)
      v = w.map(_ / nrm)
    }
    val got = graft.queries.Wave9Queries.qPcaPower(spark, sf("sf0.001"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    (0 until dim).foreach { j =>
      assert(math.abs(got(j) - v(j)) < 1e-5,
        s"component $j: ${got(j)} vs exact ${v(j)}")
    }
  }

  // ---- k-means ----

  test("kmeans: members partition the corpus, per-cluster rows are " +
      "consistent, inertia non-negative") {
    val rows = graft.queries.Wave9Queries.qKmeans(spark, sf("sf0.001"))
      .collect()
    assert(rows.length % 64 === 0)
    val perCluster = rows.groupBy(_.getInt(0))
    perCluster.foreach { case (c, rs) =>
      assert(rs.length === 64, s"cluster $c has ${rs.length} components")
      assert(rs.map(_.getLong(3)).distinct.length === 1)
      assert(rs.map(_.getDouble(4)).distinct.length === 1)
      assert(rs.head.getDouble(4) >= 0.0)
    }
    val total = perCluster.map(_._2.head.getLong(3)).sum
    assert(total === embs.count(), "cluster sizes must partition the corpus")
  }

  test("kmeans: more Lloyd rounds never increase total inertia") {
    val e = embs
    def inertia(iters: Int): Double =
      Linalg.kmeans(e, 64, 8, iters).collect()
        .groupBy(_.getInt(0)).map(_._2.head.getDouble(4)).sum
    val i1 = inertia(1)
    val i3 = inertia(3)
    assert(i3 <= i1 + 1e-6, s"inertia rose: $i1 -> $i3")
  }

  test("linalg queries are layout-independent: byte-identical at 4 vs 32 " +
      "shuffle partitions") {
    // every cross-row sum rides Q.gsum's integer grid; nothing may
    // drift with partitioning (the Wave8Spec proof, extended)
    val d = sf("sf0.001")
    Seq("q_pca_power", "q_kmeans").foreach { name =>
      val fn = SparkEntry.queries(name)
      def at(parts: String) =
        Session.withConf(spark, "spark.sql.shuffle.partitions" -> parts)(
          fn(spark, d).collect().map(_.toString).toSeq)
      assert(at("4") == at("32"), s"$name drifted across shuffle layouts")
    }
  }

  // ---- hybrid retrieval ----

  test("hybrid search: rrf recomputes from the rank columns; top-5 per query") {
    val rows = graft.queries.Wave9Queries.qHybridSearch(spark, sf("sf0.001"))
      .collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to 5))
    }
    rows.foreach { r =>
      val bm = Option(r.get(4)).map(_.asInstanceOf[Int])
      val cs = Option(r.get(5)).map(_.asInstanceOf[Int])
      assert(bm.isDefined || cs.isDefined)
      val expected = bm.map(k => 1.0 / (60.0 + k)).getOrElse(0.0) +
        cs.map(k => 1.0 / (60.0 + k)).getOrElse(0.0)
      assert(math.abs(r.getDouble(3) - expected) < 1e-6)
    }
  }

  // ---- perplexity buckets ----

  test("perplexity buckets: three near-equal terciles per source, " +
      "monotone mean scores head <= middle <= tail") {
    val rows = graft.queries.Wave9Queries
      .qPerplexityBuckets(spark, sf("sf0.001")).collect()
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val m = rs.map(r => r.getString(1) -> r).toMap
      assert(m.keySet === Set("head", "middle", "tail"), s"$src buckets")
      val sizes = rs.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"$src tercile sizes $sizes")
      assert(m("head").getDouble(3) <= m("middle").getDouble(3) + 1e-9)
      assert(m("middle").getDouble(3) <= m("tail").getDouble(3) + 1e-9)
    }
  }

  // ---- tokenizer fertility ----

  test("fertility: BPE emits at least one token per whitespace word") {
    val rows = graft.queries.Wave9Queries
      .qTokenizerFertility(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(5) >= 1.0, s"${r.getString(0)}: fertility < 1")
      assert(r.getDouble(6) > 0.0)
    }
  }

  // ---- safety filter ----

  test("safety filter: the normalizer catches exactly the planted " +
      "obfuscations the raw scan misses") {
    val rows = graft.queries.Wave9Queries.qSafetyFilter(spark, sf("sf0.001"))
      .collect()
    rows.foreach { r =>
      val planted = (r.getLong(0) % 3) match {
        case 0 => 1  // " h4ck n0w" -> "hack"
        case 1 => 2  // " 5l0w m3rg3" -> "slow merge"
        case _ => 0
      }
      assert(r.getInt(2) === r.getInt(1) + planted,
        s"doc ${r.getLong(0)}: raw ${r.getInt(1)} norm ${r.getInt(2)}")
      val verdict = r.getString(3)
      if (r.getInt(2) >= 2) assert(verdict === "block")
      else if (r.getInt(2) === 1) assert(verdict === "review")
      else assert(verdict === "pass")
    }
  }

  // ---- l-diversity ----

  test("l-diversity: audits the same class partition as k-anonymity") {
    val ld = graft.queries.Wave9Queries.qLDiversity(spark, sf("sf0.001"))
      .collect()(0)
    val ka = graft.queries.Wave6Queries.qKAnonymity(spark, sf("sf0.001"))
      .collect()(0)
    assert(ld.getLong(0) === ka.getLong(0), "class counts must agree")
    assert(ld.getLong(1) >= 1L)
    assert(ld.getDouble(2) >= ld.getLong(1).toDouble)
  }
}
