package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.Dedup

/** Round-8 wave 19 — graph traversal, data-driven keyword ranking,
  * bitemporal history, and privacy-preserving joins:
  *
  *  - `q_bfs_depth`: breadth-first reachability profile from a root
  *    over the shared link graph — per-depth frontier sizes for 4
  *    hops, the iterative-traversal companion to the census/rank/
  *    propagation suite (frontier joins only; lineage truncated per
  *    hop).
  *  - `q_textrank_keywords`: TextRank — PageRank over the token
  *    co-occurrence graph of the corpus itself (top-100 vocabulary,
  *    adjacent-pair edges), with the `q_domain_rank` order-pinned
  *    float-fold discipline so 5 damped iterations stay bit-identical
  *    cross-engine. The data-driven twin of the synthetic-URL
  *    PageRank.
  *  - `q_bitemporal`: valid-time × transaction-time — the SCD2
  *    priority history built from a 1996 knowledge cutoff committed
  *    as lake version 1, the full-history rebuild MERGEd as version
  *    2, then both probe dates answered AS OF both transaction
  *    versions. Proves the v1 answer is immutable after the
  *    correction lands, and that the correction changes exactly the
  *    post-cutoff knowledge.
  *  - `q_tokenized_join`: referential-integrity pseudonymization —
  *    join keys replaced by md5 tokens on BOTH sides (the
  *    privacy-preserving-join pattern: consistent tokens keep joins
  *    working with raw keys never co-located), segment revenue
  *    identical to the plain-key join.
  */
object Wave19Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- BFS depth profile ----

  private val bfsHops = 4

  /** Per-depth reachable-node counts from doc 0 over the undirected
    * link graph, depths 0–4, plus the unreached remainder as depth
    * −1. Each hop is one frontier equi-join + an anti-join against
    * the visited set — the standard distributed BFS step (frontier
    * size bounds the work, not graph size), with lineage truncated
    * per hop so 4 hops cost 4 plans, not one 4-deep one. */
  def qBfsDepth(s: SparkSession, d: String): DataFrame = {
    val und = Wave17Queries.linkEdges(s, d).filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct().cache()
    // r17 (guide §2.4, the q_kcore discipline): the edge list is
    // hash-partitioned by src ONCE and cached, so each hop's frontier
    // equi-join needs no exchange on the (large) edge side — the
    // frontier side alone shuffles. CacheManager dedupes the
    // canonically-identical plan across calls (see Wave29Queries).
    val ed = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")).cache()
    import s.implicits._
    var visited = Seq((0L, 0)).toDF("node", "depth")
    for (i <- 1 to bfsHops) {
      val frontier = visited.filter(col("depth") === i - 1)
        .select(col("node").as("src"))
      val next = ed.join(frontier, "src").select(col("dst").as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("depth", lit(i))
      visited = Dedup.truncate(visited.unionByName(next))
    }
    val perDepth = visited.groupBy("depth")
      .agg(count(lit(1)).as("n_nodes"))
    val unreached = docs(s, d).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(visited.agg(count(lit(1)).as("nv"))))
      .select(lit(-1).as("depth"), (col("nd") - col("nv")).as("n_nodes"))
    perDepth.unionByName(unreached).orderBy("depth")
  }

  // ---- TextRank keywords ----

  private val trVocab = 100
  private val trIters = 5

  /** Top-20 TextRank keywords: vocabulary = the 100 most frequent
    * alphabetic tokens (≥3 letters), edges = adjacent-token
    * co-occurrence counts between vocabulary words (undirected,
    * symmetrized), then 5 damped PageRank iterations. The per-node
    * contribution sum folds in sorted source order
    * (sort_array + aggregate — the `q_domain_rank` discipline), so
    * every float accumulation is order-pinned and cross-engine
    * bit-identical. Scale shape: one corpus token pass (row-local
    * array zip), a bounded 100-node model; the damped fixpoint runs
    * on the driver over the collected ≤ vocab² edge list
    * ([[Q.pageRankLocal]]). */
  def qTextrankKeywords(s: SparkSession, d: String): DataFrame = {
    // adjacency is computed ROW-LOCALLY: filter the token array, then
    // zip it against itself shifted by one. The naive shape (posexplode
    // → lead over a (doc_id, pos) window) shuffles EVERY token of the
    // corpus once just to find its neighbor; the array zip finds the
    // same neighbor inside the row, so the first shuffle the plan sees
    // is already the bounded (wa, wb) pair aggregate.
    val arr = filter(
      graft.text.TextStats.tokens(lower(coalesce(col("text"), lit("")))),
      t => t.rlike("^[a-z]{3,}$"))
    // r16: tokenize ONCE — the filtered token-array frame feeds BOTH
    // the vocabulary count and the adjacent-pair zip; the old shape ran
    // the split + per-token rlike over the whole corpus TWICE (the two
    // Generate subtrees have different parents, so exchange reuse can't
    // fire). Repartitioned first so a single-file parquet source
    // doesn't pin the split to one core; released once the edge list
    // below is collected.
    val base = docs(s, d).repartition(col("doc_id"))
      .select(arr.as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ts = col("ts")
    val toks = base.select(explode(ts).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("c").desc, col("tok"))))
      .filter(col("rn") <= trVocab)
      .select(col("tok"))
    val pairs = base
      .select(explode(arrays_zip(
        slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
        slice(ts, lit(2), greatest(size(ts) - 1, lit(0))))).as("pr"))
      .select(col("pr.0").as("tok"), col("pr.1").as("nxt"))
      .filter(col("tok") =!= col("nxt"))
      .join(broadcast(vocab), "tok")
      .join(broadcast(vocab.select(col("tok").as("nxt"))), "nxt")
      .select(least(col("tok"), col("nxt")).as("wa"),
        greatest(col("tok"), col("nxt")).as("wb"))
    // r17 (guide §5; r16 VERDICT #1, ADVICE #1): the PageRank model is
    // BOUNDED BY CONSTRUCTION — ≤ trVocab nodes, ≤ vocab² undirected
    // edges — and data-size-independent, so the 5 damped iterations
    // run as a driver loop over the collected ≤4950-row edge list
    // ([[Q.pageRankLocal]], bit-identical float semantics) instead of
    // 5 eager checkpoint rounds (each ~3 Spark jobs of scheduler
    // overhead at any SF). This also retires the edges/weighted/nodes
    // caches that outlived the call — the only persisted frame left
    // is `base`, unpersisted as soon as the collect returns.
    // The distributed work that REMAINS is the part that scales with
    // data: corpus tokenize → vocab top-100 → pair aggregate.
    val und =
      try pairs.groupBy("wa", "wb").agg(count(lit(1)).as("w")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      finally base.unpersist()
    val edges = (und.iterator.map { case (wa, wb, w) => (wa, wb, w) } ++
      und.iterator.map { case (wa, wb, w) => (wb, wa, w) }).toSeq
    val ranked = Q.pageRankLocal(edges, trIters)
    import s.implicits._
    ranked.toDF("node", "pr")
      .select(col("node").as("keyword"), round(col("pr"), 6).as("textrank"))
      .orderBy(col("textrank").desc, col("keyword"))
      .limit(20)
  }

  // ---- bitemporal history ----

  private val txCut = "1997-01-01"
  private val probes = Seq("1996-06-15", "1997-06-15")

  /** SCD2 priority islands over an orders subset (shared with
    * `q_scd2`'s shape): (custkey, version, priority, valid_from,
    * valid_to). */
  private def scd2(orders: DataFrame): DataFrame = {
    val byOrder = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byVer = Window.partitionBy("o_custkey").orderBy("version")
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .withColumn("chg",
        when(lag(col("o_orderpriority"), 1).over(byOrder)
          === col("o_orderpriority"), lit(0)).otherwise(lit(1)))
      .withColumn("version", sum(col("chg")).over(byOrder))
      .groupBy("o_custkey", "version", "o_orderpriority")
      .agg(min(col("o_orderdate")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVer))
      .select(col("o_custkey").as("custkey"), col("version"),
        col("o_orderpriority").as("priority"), col("valid_from"),
        col("valid_to"))
  }

  /** Valid-time × transaction-time: tx version 1 is the SCD2 history
    * known at the 1997 cutoff, tx version 2 the full-history rebuild
    * MERGEd on (custkey, version) — pre-cutoff islands are key-stable
    * (appending orders can only extend or append islands), so the
    * rebuild is a pure upsert. Both probe dates are then answered AS
    * OF both tx versions with the standard valid-interval predicate.
    * The 1996 probe must agree across tx versions (history before the
    * cutoff was already right); the 1997 probe shows stale knowledge
    * at tx 1 (every customer still on their last-known open island)
    * vs corrected knowledge at tx 2. Snapshot selection is
    * O(manifest); the probe scan prunes to the snapshot's files. */
  def qBitemporal(s: SparkSession, d: String): DataFrame = {
    Scratch.withDir("graft_bitemp") { dir =>
      val orders = Tables.load(s, d, "orders")
      Versioned.init(scd2(orders.filter(col("o_orderdate") < lit(txCut))),
        dir)
      Versioned.merge(scd2(orders), dir, Seq("custkey", "version"))
      val out = (1 to 2).flatMap { tx =>
        val snap = Versioned.read(s, dir, Some(tx.toLong))
        probes.flatMap { p =>
          snap.filter(col("valid_from") <= lit(p) &&
              (col("valid_to").isNull || col("valid_to") > lit(p)))
            .groupBy("priority")
            .agg(count(lit(1)).as("n_customers"),
              expr("bit_xor(custkey)").as("cust_xor"))
            .orderBy("priority")
            .collect().toSeq
            .map(r => (tx.toLong, p, r.getString(0), r.getLong(1),
              r.getLong(2)))
        }
      }
      import s.implicits._
      out.toDF("tx_version", "probe_date", "priority", "n_customers",
          "cust_xor")
        .orderBy("tx_version", "probe_date", "priority")
    }
  }

  // ---- privacy-preserving tokenized join ----

  /** Segment revenue computed ENTIRELY on pseudonymized keys: both
    * sides replace custkey with its md5 hex token before the join, so
    * raw keys are never co-located with order amounts — yet the
    * deterministic tokenization keeps referential integrity and the
    * rollup matches the plain-key join bit-for-bit (the oracle IS the
    * plain recompute on tokens). Map-only token derivation; the join
    * shuffles on the token exactly as it would on the key (uniform by
    * construction). */
  def qTokenizedJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.load(s, d, "customer")
      .select(md5(col("c_custkey").cast("string")).as("ctok"),
        col("c_mktsegment"))
    val ords = Tables.load(s, d, "orders")
      .select(md5(col("o_custkey").cast("string")).as("ctok"),
        col("o_totalprice"))
    cust.join(ords, "ctok")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Q.dsum(col("o_totalprice")).as("revenue"),
        countDistinct(col("ctok")).as("n_buyers"))
      .orderBy("c_mktsegment")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bfs_depth"         -> qBfsDepth,
    "q_textrank_keywords" -> qTextrankKeywords,
    "q_bitemporal"        -> qBitemporal,
    "q_tokenized_join"    -> qTokenizedJoin)

  private def bfsIterCtes: String =
    (1 to bfsHops).map { i =>
      s"""f$i AS (SELECT DISTINCT e.dst AS node FROM ed e
         |  JOIN v${i - 1} v ON v.node = e.src AND v.depth = ${i - 1}
         |  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
         |v$i AS (SELECT node, depth FROM v${i - 1}
         |  UNION ALL SELECT node, $i FROM f$i)""".stripMargin
    }.mkString(",\n")

  private def textrankIterCtes: String =
    (1 to trIters).map { k =>
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

  /** SCD2 island CTE chain ending in `isl<sfx>`; `src` is the orders
    * relation (optionally pre-filtered). */
  private def scd2Ctes(sfx: String, where: String): String =
    s"""m$sfx AS (
       |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
       |    CASE WHEN lag(o_orderpriority) OVER w = o_orderpriority
       |         THEN 0 ELSE 1 END AS chg
       |  FROM orders $where
       |  WINDOW w AS (PARTITION BY o_custkey
       |               ORDER BY o_orderdate, o_orderkey)),
       |v$sfx AS (
       |  SELECT *, CAST(sum(chg) OVER (
       |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |    AS BIGINT) AS version
       |  FROM m$sfx),
       |g$sfx AS (
       |  SELECT o_custkey AS custkey, version,
       |         o_orderpriority AS priority,
       |         min(o_orderdate) AS valid_from
       |  FROM v$sfx GROUP BY 1, 2, 3),
       |isl$sfx AS (
       |  SELECT custkey, version, priority, valid_from,
       |    lead(valid_from) OVER (
       |      PARTITION BY custkey ORDER BY version) AS valid_to
       |  FROM g$sfx)""".stripMargin

  private def bitemporalProbe(tx: Int, isl: String): String =
    probes.map { p =>
      s"""SELECT $tx AS tx_version, '$p' AS probe_date, priority,
         |  count(*) AS n_customers,
         |  CAST(bit_xor(custkey) AS BIGINT) AS cust_xor
         |FROM $isl
         |WHERE valid_from <= TIMESTAMP '$p 00:00:00'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '$p 00:00:00')
         |GROUP BY priority""".stripMargin
    }.mkString("\nUNION ALL\n")

  val oracles: Map[String, String] = Map(
    "q_bfs_depth" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
         |${Wave17Queries.LINK_EDGES_CTE},
         |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
         |        FROM raw WHERE a <> b),
         |ed AS (SELECT u AS src, v AS dst FROM und
         |       UNION ALL SELECT v, u FROM und),
         |v0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS depth),
         |$bfsIterCtes
         |SELECT depth, count(*) AS n_nodes FROM v$bfsHops GROUP BY depth
         |UNION ALL
         |SELECT -1, (SELECT n FROM nd) - (SELECT count(*) FROM v$bfsHops)
         |ORDER BY depth""".stripMargin,
    "q_textrank_keywords" ->
      s"""WITH tk AS (
         |  SELECT doc_id, i AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id,
         |          ${graft.text.TextStats.TOKENS("lower(coalesce(text, ''))")}
         |            AS ts
         |        FROM documents),
         |    unnest(generate_series(1, len(ts))) AS u(i)
         |  WHERE regexp_matches(ts[i], '^[a-z]{3,}$$')),
         |vc AS (SELECT tok FROM (
         |    SELECT tok, row_number() OVER (
         |      ORDER BY count(*) DESC, tok) AS rn
         |    FROM tk GROUP BY tok) WHERE rn <= $trVocab),
         |ap AS (SELECT a.tok AS t1,
         |    lead(a.tok) OVER (PARTITION BY a.doc_id ORDER BY a.pos) AS t2
         |  FROM tk a),
         |pp AS (SELECT least(t1, t2) AS wa, greatest(t1, t2) AS wb
         |  FROM ap WHERE t2 IS NOT NULL AND t1 <> t2
         |    AND t1 IN (SELECT tok FROM vc) AND t2 IN (SELECT tok FROM vc)),
         |ud AS (SELECT wa, wb, count(*) AS w FROM pp GROUP BY wa, wb),
         |e AS (SELECT wa AS src, wb AS dst, w FROM ud
         |      UNION ALL SELECT wb, wa, w FROM ud),
         |wo AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
         |       FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS pr
         |        FROM nodes CROSS JOIN nn),
         |$textrankIterCtes
         |SELECT node AS keyword, round(pr, 6) AS textrank FROM pr$trIters
         |ORDER BY textrank DESC, keyword LIMIT 20""".stripMargin,
    "q_bitemporal" ->
      s"""WITH ${scd2Ctes("1", s"WHERE o_orderdate < TIMESTAMP '$txCut 00:00:00'")},
         |${scd2Ctes("2", "")}
         |SELECT * FROM (
         |${bitemporalProbe(1, "isl1")}
         |UNION ALL
         |${bitemporalProbe(2, "isl2")})
         |ORDER BY tx_version, probe_date, priority""".stripMargin,
    "q_tokenized_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS revenue,
         |  count(DISTINCT ctok) AS n_buyers
         |FROM (SELECT md5(CAST(c_custkey AS VARCHAR)) AS ctok, c_mktsegment
         |      FROM customer) c
         |JOIN (SELECT md5(CAST(o_custkey AS VARCHAR)) AS ctok, o_totalprice
         |      FROM orders) o USING (ctok)
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
}
