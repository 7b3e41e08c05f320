package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned
import graft.text.{Dsir, LangId, TextStats}

/** Round-8 wave 17 — graph structure, incremental view maintenance,
  * importance-based selection, and entity resolution:
  *
  *  - `q_triangles`: triangle census of the synthetic link graph via
  *    degree-ordered edge orientation — the skew-proof wedge join
  *    (every triangle counted exactly once; hub vertices never fan
  *    out quadratically because wedges pivot on the LOWER-degree
  *    endpoint).
  *  - `q_incr_agg`: incremental aggregate maintenance — a per-source
  *    rollup kept current by applying the CDC change feed's deltas to
  *    the version-1 aggregate, checked against the full version-2
  *    recompute (the materialized-view half of `q_change_feed`).
  *  - `q_dsir_weights`: DSIR importance resampling ([[Dsir]]) — score
  *    every doc by the hashed-unigram log importance ratio against an
  *    English target split, and measure per-language selection rates
  *    on the held-out split.
  *  - `q_entity_match`: blocked fuzzy entity resolution — dirty
  *    variants (one deterministic character deletion) matched back to
  *    the clean catalog by block equi-join + Levenshtein verify +
  *    best-match ranking.
  *  - `q_tpch_q18` / `q_tpch_q13`: the two remaining TPC-H shapes the
  *    trimmed schema supports that the registry lacked — the
  *    HAVING-subquery large-order join and the filtered-ON left-join
  *    count distribution.
  */
object Wave17Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- triangle census ----

  /** Triangle counting with degree-ordered orientation: undirected
    * edges from a deterministic link structure (ring i→i+1, chord
    * i→i+2 — which plant ~N (i, i+1, i+2) triangles — plus the
    * `q_link_graph`-style long-range link i→7i+1, all mod N; the
    * HTML-extraction step is audited by q_link_graph itself), each
    * edge directed from its lower-(degree, id) endpoint to the higher
    * one.
    * Wedges then pivot on the LOW-degree vertex, so a hub of degree D
    * contributes O(D) oriented edges but only wedges bounded by its
    * LOWER-ranked neighbors — the classic bound that keeps the wedge
    * join near-linear on power-law graphs (each triangle counted
    * exactly once, as (rank-min, rank-mid, rank-max)). All data-sized
    * joins are equi-joins on vertex ids; the only nested loop is the
    * 1-row corpus-count broadcast (the link modulus). */
  def qTriangles(s: SparkSession, d: String): DataFrame =
    triangleCensus(linkEdges(s, d))

  /** Deterministic synthetic edge list shared by the graph queries
    * (triangles here, label propagation in wave 18): ring i→i+1 and
    * chord i→i+2 — which plant ~N (i, i+1, i+2) triangles and keep
    * the graph connected — plus the `q_link_graph`-style long-range
    * link i→7i+1, all mod N. */
  def linkEdges(s: SparkSession, d: String): DataFrame = {
    val tot = docs(s, d).agg(count(lit(1)).as("nd"))
    val src = docs(s, d).select(col("doc_id")).crossJoin(broadcast(tot))
    src.select(col("doc_id").as("a"),
        ((col("doc_id") + 1) % col("nd")).as("b"))
      .unionByName(src.select(col("doc_id").as("a"),
        ((col("doc_id") + 2) % col("nd")).as("b")))
      .unionByName(src.select(col("doc_id").as("a"),
        ((col("doc_id") * 7 + 1) % col("nd")).as("b")))
  }

  /** The `raw AS (...)` DuckDB twin of [[linkEdges]] (expects a CTE
    * `nd(n)` with the document count in scope). */
  val LINK_EDGES_CTE: String =
    """raw AS (
      |  SELECT doc_id AS a, (doc_id + 1) % (SELECT n FROM nd) AS b
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nd)
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 7 + 1) % (SELECT n FROM nd)
      |  FROM documents)""".stripMargin

  /** The census itself, over any (a, b) long-id edge list (directed or
    * repeated edges fine — undirected+deduped here; ids must stay
    * below 2^40 for the packed rank). Returns one row: n_nodes,
    * n_edges, n_wedges, n_triangles, clustering. */
  def triangleCensus(raw: DataFrame): DataFrame = {
    // cache = compute-once barriers (the LangId idiom): `und` feeds the
    // degree count, the orientation build and the edge total; `oriented`
    // is referenced three times by the wedge/closure self-joins. Without
    // them every reference re-expands the whole edge-construction
    // subtree (measured: a ~680-node plan for this one-row census).
    val und = raw.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
      .cache()
    val deg = und.select(col("u").as("x"))
      .unionByName(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    // total order: rank = deg · 2^40 + id (ids are far below 2^40)
    val rnk = deg.select(col("x"),
      (col("deg") * lit(1099511627776L) + col("x")).as("r"))
    val oriented = und
      .join(rnk.select(col("x").as("u"), col("r").as("ru")), "u")
      .join(rnk.select(col("x").as("v"), col("r").as("rv")), "v")
      .select(when(col("ru") < col("rv"), col("u")).otherwise(col("v")).as("lo"),
        when(col("ru") < col("rv"), col("v")).otherwise(col("u")).as("hi"),
        when(col("ru") < col("rv"), col("rv")).otherwise(col("ru")).as("rhi"))
      .cache()
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.rhi") < col("e2.rhi"))
      .select(col("e1.hi").as("w1"), col("e2.hi").as("w2"))
      .join(oriented.as("e3"),
        col("w1") === col("e3.lo") && col("w2") === col("e3.hi"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val base = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    val ne = und.agg(count(lit(1)).as("n_edges"))
    base.crossJoin(broadcast(ne)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(col("n_triangles") * lit(3.0) / col("n_wedges"), 6)
          .as("clustering"))
  }

  // ---- incremental aggregate maintenance ----

  /** The materialized-view consumer of the change feed: a per-source
    * (doc count, doc_id sum) rollup maintained INCREMENTALLY — v1
    * aggregate + CDC deltas (insert +row, delete −row, update
    * new−old) — and proven equal to the full v2 recompute, per
    * source. This is why a 100 TB lake keeps a change feed at all:
    * the maintenance join touches only changed keys (both CDC sides
    * prune to merge-touched partitions), while the recompute scans
    * the world; the `*_ok` columns are the proof the cheap path is
    * exact. Same merge construction as `q_change_feed` (updates shift
    * ids by 1e6, every 7th even doc deletes, every 5th odd inserts). */
  def qIncrAgg(s: SparkSession, d: String): DataFrame = {
    LakeFixtures.withClone(s,
      LakeFixtures.docsEvensFp(s, d), "graft_incragg") { dir =>
      val all = docs(s, d).select(col("doc_id"), col("source"),
        TextStats.fingerprint(coalesce(col("text"), lit(""))).as("fp"))
      val evens = all.filter(col("doc_id") % 2 === 0)
      val updates = evens.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("is_delete", lit(false))
      val deletes = evens.filter(col("doc_id") % 7 === 0 &&
          col("doc_id") % 3 =!= 0)
        .withColumn("is_delete", lit(true))
      val inserts = all.filter(col("doc_id") % 2 === 1 &&
          col("doc_id") % 5 === 0)
        .withColumn("is_delete", lit(false))
      Versioned.merge(updates.unionByName(deletes).unionByName(inserts),
        dir, Seq("fp"), deleteCol = Some("is_delete"))
      val v1 = Versioned.read(s, dir, Some(1L))
      val v2 = Versioned.read(s, dir, Some(2L))
      val a1 = v1.groupBy("source")
        .agg(count(lit(1)).as("n_v1"), sum(col("doc_id")).as("sum_v1"))
      val a2 = v2.groupBy("source")
        .agg(count(lit(1)).as("n_v2"), sum(col("doc_id")).as("sum_v2"))
      val cdc = v1.select(col("fp"), col("source").as("src_old"),
          col("doc_id").as("old_id"))
        .join(v2.select(col("fp"), col("source").as("src_new"),
          col("doc_id").as("new_id")), Seq("fp"), "full_outer")
        .select(coalesce(col("src_new"), col("src_old")).as("source"),
          (when(col("old_id").isNull, 1L)
            .when(col("new_id").isNull, -1L).otherwise(0L)).as("dd"),
          (coalesce(col("new_id"), lit(0L)) -
            coalesce(col("old_id"), lit(0L))).as("ds"))
      val delta = cdc.groupBy("source")
        .agg(sum(col("dd")).as("d_docs"), sum(col("ds")).as("d_sum"))
      // materialize before the block's cleanup deletes the lake files
      // (bounded: one row per source) — the q_change_feed idiom
      val out = a1.join(a2, Seq("source"), "full_outer")
        .join(delta, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_v1"), lit(0L)).as("n_v1"),
          coalesce(col("sum_v1"), lit(0L)).as("sum_v1"),
          coalesce(col("d_docs"), lit(0L)).as("d_docs"),
          coalesce(col("d_sum"), lit(0L)).as("d_sum"),
          coalesce(col("n_v2"), lit(0L)).as("n_v2"),
          coalesce(col("sum_v2"), lit(0L)).as("sum_v2"))
        .withColumn("docs_ok",
          (col("n_v1") + col("d_docs") === col("n_v2")).cast("int"))
        .withColumn("sum_ok",
          (col("sum_v1") + col("d_sum") === col("sum_v2")).cast("int"))
        .orderBy("source")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7), r.getInt(8)))
      import s.implicits._
      out.toDF("source", "n_v1", "sum_v1", "d_docs", "d_sum",
        "n_v2", "sum_v2", "docs_ok", "sum_ok")
    }
  }

  // ---- DSIR importance resampling ----

  /** Per-language selection scoreboard of the DSIR importance scores
    * ([[Dsir.selected]]) on the held-out split: the English-target
    * ratio with the self-calibrated likelihood-ratio boundary should
    * select the English-augmented docs and reject the rest — measured
    * as n_selected / n_docs per true language, plus the mean
    * integer-grid score (at sf0.001 the rule selects 100% of en and
    * 0% of everything else; a raw `score > 0` cut caught only 40% of
    * en because the smoothing mass shifts every score negative).
    * Fit + calibration use the train split only, so the eval rows
    * are honest. */
  def qDsirWeights(s: SparkSession, d: String): DataFrame =
    Dsir.selected(LangId.augmented(docs(s, d)), "en")
      .filter(!col("is_train"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sel").cast("long")).as("n_selected"),
        round(sum(col("sel").cast("long")).cast("double")
          / count(lit(1)), 6).as("rate"),
        round(sum(col("score")).cast("double") / count(lit(1)), 2)
          .as("mean_score"))
      .orderBy("lang")

  // ---- blocked fuzzy entity resolution ----

  /** 24-word vocabulary for the synthetic entity names (lengths 4–7,
    * all distinct at edit distance ≥ 2 from each other). */
  private val entWords = Seq(
    "amber", "birch", "cobalt", "dune", "ember", "fjord", "garnet",
    "harbor", "indigo", "juniper", "krill", "lagoon", "maple", "nectar",
    "onyx", "prairie", "quartz", "raven", "sepia", "tundra", "umber",
    "violet", "willow", "zephyr")

  private def entWord(i: Column): Column =
    element_at(array(entWords.map(lit): _*), i.cast("int") + 1)

  private def ENT_WORD(i: String): String =
    s"(${entWords.map(w => s"'$w'").mkString("[", ",", "]")})[CAST($i AS INTEGER) + 1]"

  /** Clean entity name for key k: three vocabulary words (coprime
    * strides → full rotation) plus a 3-digit-ish suffix. */
  private def entName(k: Column): Column =
    concat_ws("", entWord((k * 5 + 1) % 24), lit(" "),
      entWord((k * 7 + 2) % 24), lit(" "),
      entWord((k * 11 + 3) % 24), lit("-"), (k % 1000).cast("string"))

  private def ENT_NAME(k: String): String =
    s"${ENT_WORD(s"(($k) * 5 + 1) % 24")} || ' ' || " +
      s"${ENT_WORD(s"(($k) * 7 + 2) % 24")} || ' ' || " +
      s"${ENT_WORD(s"(($k) * 11 + 3) % 24")} || '-' || CAST(($k) % 1000 AS VARCHAR)"

  /** Blocked fuzzy entity resolution: every clean catalog entry gets a
    * dirty twin with ONE character deleted (position seeded by the
    * key, always past the first word so the blocking key survives),
    * and the matcher must link each dirty record back. Candidate
    * generation is DELETION-NEIGHBORHOOD indexing (the SymSpell
    * design): lev(a, b) ≤ 2 implies {a minus ≤1 chars} ∩
    * {b minus ≤2 chars} ≠ ∅ for this corpus shape (the dirty record
    * is already one deletion deep), so candidates come from an EXACT
    * equi-join on hashed deletion variants — O(n·len²) generated
    * rows, NEVER a block-pair product. The r15 sf1 sweep caught the
    * old first-word block as the registry's one quadratic row: a
    * fixed 24-word vocabulary makes block pairs Ω(n²/24) no matter
    * how the verify is tuned (92× wall for 10× data; a length-band
    * refinement bought only 1.3× because the synthetic name lengths
    * concentrate). Verify keeps the original semantics exactly —
    * first-word block equality + thresholded Levenshtein ≤ 2 (early
    * exit, O(threshold·len) per candidate) — so the result set (and
    * the DuckDB oracle, which replays the block-join definition) is
    * unchanged; only the candidate PATH scales. Resolve = best
    * (distance, key) per dirty record; the scoreboard counts
    * exact-key matches vs collisions, identical in both engines
    * because every tie-break is deterministic. */
  def qEntityMatch(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id")
    val clean = docs(s, d).select(k.as("ck"), entName(k).as("cname"),
      entWord((k * 5 + 1) % 24).as("block"))
    val named = docs(s, d).select(k.as("dk"), entName(k).as("nm"))
      .select(col("dk"), col("nm"), length(col("nm")).as("len"),
        length(substring_index(col("nm"), " ", 1)).as("fw"))
    val pos = col("fw") + lit(2) +
      (col("dk") * 3) % (col("len") - col("fw") - 1)
    val dirty = named.select(col("dk"),
      concat(col("nm").substr(lit(1), pos - 1),
        col("nm").substr(pos + 1, lit(1000))).as("dname"))
      .select(col("dk"), col("dname"))
    // deletion variants, hashed: only (id, long) rides the shuffle —
    // names rejoin id-keyed after the candidate set has collapsed
    val dv = dirty.select(col("dk"), explode(expr(
      """array_union(array(dname),
        |  transform(sequence(1, length(dname)), i ->
        |    concat(substring(dname, 1, i-1),
        |           substring(dname, i+1, 100000))))""".stripMargin))
        .as("v"))
      .select(col("dk"), xxhash64(col("v")).as("vh"))
    val cv = clean.select(col("ck"), explode(expr(
      """array_union(array_union(array(cname),
        |  transform(sequence(1, length(cname)), i ->
        |    concat(substring(cname, 1, i-1),
        |           substring(cname, i+1, 100000)))),
        |  flatten(transform(sequence(1, length(cname) - 1), i ->
        |    transform(sequence(i + 1, length(cname)), j ->
        |      concat(substring(cname, 1, i-1),
        |             substring(cname, i+1, j-i-1),
        |             substring(cname, j+1, 100000))))))""".stripMargin))
        .as("v"))
      .select(col("ck"), xxhash64(col("v")).as("vh"))
    val candIds = dv.join(cv, "vh").select(col("dk"), col("ck")).distinct()
    val cand = candIds.join(dirty, "dk").join(clean, "ck")
      // exact-precision verify reproduces the ORIGINAL candidate rule
      // (hash collisions and non-block variant hits die here)
      .filter(substring_index(col("dname"), " ", 1) === col("block"))
      .select(col("dk"), col("ck"),
        levenshtein(col("dname"), col("cname"), 2).as("dist"))
      .filter(col("dist").between(0, 2)) // threshold form returns −1 past it
    val best = cand.withColumn("rn", row_number().over(
        Window.partitionBy("dk").orderBy(col("dist"), col("ck"))))
      .filter(col("rn") === 1)
    dirty.select(col("dk"))
      .join(best.select(col("dk"), col("ck"), col("dist")), Seq("dk"), "left")
      .agg(count(lit(1)).as("n_entities"),
        count(col("ck")).as("n_matched"),
        sum((col("ck") === col("dk")).cast("long")).as("n_correct"),
        sum((col("ck") =!= col("dk")).cast("long")).as("n_wrong"),
        round(sum((col("ck") === col("dk")).cast("long")).cast("double")
          / count(lit(1)), 6).as("recall"),
        round(sum((col("ck") === col("dk")).cast("long")).cast("double")
          / count(col("ck")), 6).as("precision"))
  }

  // ---- TPC-H Q18: large-volume customers ----

  /** TPC-H Q18 on the trimmed schema: orders whose total quantity
    * exceeds 300, with customer context. The qualifying-order set is
    * a semi-join (orders never widen), and the big-order list is a
    * reaggregation of the same lineitem scan — two shuffles on
    * l_orderkey that AQE plans back-to-back. Quantity sums are exact
    * (integral doubles far below 2^53). */
  def qTpchQ18(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 300).select(col("l_orderkey"))
    Tables.load(s, d, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .join(Tables.load(s, d, "customer"),
        col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"),
        col("o_orderkey"))
      .limit(100)
  }

  // ---- TPC-H Q13: customer order-count distribution ----

  /** TPC-H Q13 shape: LEFT join with a non-key predicate in the ON
    * clause (non-urgent orders only — nulls for customers with no
    * qualifying order), per-customer counts, then the distribution of
    * those counts. Two shuffles (custkey join+agg reuse one
    * partitioning; the tiny c_count rollup follows). */
  def qTpchQ13(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "customer")
      .join(Tables.load(s, d, "orders"),
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= lit("1-URGENT"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_triangles"    -> qTriangles,
    "q_incr_agg"     -> qIncrAgg,
    "q_dsir_weights" -> qDsirWeights,
    "q_entity_match" -> qEntityMatch,
    "q_tpch_q18"     -> qTpchQ18,
    "q_tpch_q13"     -> qTpchQ13)

  val oracles: Map[String, String] = Map(
    "q_triangles" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
        |$LINK_EDGES_CTE,
        |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |        FROM raw WHERE a <> b),
        |deg AS (SELECT x, count(*) AS dg FROM (
        |          SELECT u AS x FROM und UNION ALL SELECT v FROM und)
        |        GROUP BY x),
        |rnk AS (SELECT x, dg * 1099511627776 + x AS r FROM deg),
        |o AS (SELECT CASE WHEN ru.r < rv.r THEN u ELSE v END AS lo,
        |             CASE WHEN ru.r < rv.r THEN v ELSE u END AS hi,
        |             greatest(ru.r, rv.r) AS rhi
        |      FROM und JOIN rnk ru ON ru.x = und.u
        |               JOIN rnk rv ON rv.x = und.v),
        |tri AS (SELECT count(*) AS n_tri FROM o e1
        |        JOIN o e2 ON e1.lo = e2.lo AND e1.rhi < e2.rhi
        |        WHERE EXISTS (SELECT 1 FROM o e3
        |                      WHERE e3.lo = e1.hi AND e3.hi = e2.hi)),
        |base AS (SELECT count(*) AS n_nodes,
        |           CAST(sum(dg * (dg - 1)) / 2 AS BIGINT) AS n_wedges
        |         FROM deg),
        |ne AS (SELECT count(*) AS n_edges FROM und)
        |SELECT n_nodes, n_edges, n_wedges, n_tri AS n_triangles,
        |  round(n_tri * 3.0 / n_wedges, 6) AS clustering
        |FROM base, ne, tri""".stripMargin,
    "q_incr_agg" ->
      s"""WITH fp AS (SELECT doc_id, source,
         |    ${TextStats.FINGERPRINT("coalesce(text, '')")} AS f
         |  FROM documents),
         |lake AS (SELECT doc_id, source, f FROM fp WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT doc_id + 1000000 AS doc_id, source, f, FALSE AS is_delete
         |  FROM lake WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id, source, f, TRUE
         |  FROM lake WHERE doc_id % 7 = 0 AND doc_id % 3 <> 0
         |  UNION ALL
         |  SELECT doc_id, source, f, FALSE
         |  FROM fp WHERE doc_id % 2 = 1 AND doc_id % 5 = 0),
         |v2 AS (
         |  SELECT doc_id, source, f FROM batch WHERE NOT is_delete
         |  UNION ALL
         |  SELECT doc_id, source, f FROM lake
         |  WHERE f NOT IN (SELECT f FROM batch)),
         |a1 AS (SELECT source, count(*) AS n_v1,
         |         CAST(sum(doc_id) AS BIGINT) AS sum_v1
         |       FROM lake GROUP BY source),
         |a2 AS (SELECT source, count(*) AS n_v2,
         |         CAST(sum(doc_id) AS BIGINT) AS sum_v2
         |       FROM v2 GROUP BY source),
         |cdc AS (SELECT coalesce(b.source, a.source) AS source,
         |          CASE WHEN a.f IS NULL THEN 1
         |               WHEN b.f IS NULL THEN -1 ELSE 0 END AS dd,
         |          coalesce(b.doc_id, 0) - coalesce(a.doc_id, 0) AS ds
         |        FROM lake a FULL OUTER JOIN v2 b ON a.f = b.f),
         |d AS (SELECT source, CAST(sum(dd) AS BIGINT) AS d_docs,
         |        CAST(sum(ds) AS BIGINT) AS d_sum
         |      FROM cdc GROUP BY source),
         |srcs AS (SELECT source FROM a1 UNION
         |         SELECT source FROM a2 UNION SELECT source FROM d)
         |SELECT s.source,
         |  coalesce(n_v1, 0) AS n_v1, coalesce(sum_v1, 0) AS sum_v1,
         |  coalesce(d_docs, 0) AS d_docs, coalesce(d_sum, 0) AS d_sum,
         |  coalesce(n_v2, 0) AS n_v2, coalesce(sum_v2, 0) AS sum_v2,
         |  CAST(coalesce(n_v1, 0) + coalesce(d_docs, 0)
         |    = coalesce(n_v2, 0) AS INTEGER) AS docs_ok,
         |  CAST(coalesce(sum_v1, 0) + coalesce(d_sum, 0)
         |    = coalesce(sum_v2, 0) AS INTEGER) AS sum_ok
         |FROM srcs s LEFT JOIN a1 ON a1.source = s.source
         |  LEFT JOIN a2 ON a2.source = s.source
         |  LEFT JOIN d ON d.source = s.source
         |ORDER BY s.source""".stripMargin,
    "q_dsir_weights" ->
      s"""WITH ${LangId.AUG_CTE},
         |${Dsir.SCORE_CTES("en")}
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_selected,
         |  round(CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS rate,
         |  round(CAST(sum(score) AS DOUBLE) / count(*), 2) AS mean_score
         |FROM dsel
         |WHERE NOT is_train
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_entity_match" ->
      s"""WITH clean AS (
         |  SELECT doc_id AS ck, ${ENT_NAME("doc_id")} AS cname,
         |    ${ENT_WORD("(doc_id * 5 + 1) % 24")} AS block
         |  FROM documents),
         |named AS (
         |  SELECT doc_id AS dk, ${ENT_NAME("doc_id")} AS nm
         |  FROM documents),
         |nm2 AS (SELECT dk, nm, length(nm) AS len,
         |          length(split_part(nm, ' ', 1)) AS fw
         |        FROM named),
         |dirty AS (
         |  SELECT dk,
         |    substr(nm, 1, CAST(fw + 2 + (dk * 3) % (len - fw - 1) AS INTEGER)
         |        - 1) ||
         |      substr(nm, CAST(fw + 2 + (dk * 3) % (len - fw - 1) AS INTEGER)
         |        + 1, 1000) AS dname
         |  FROM nm2),
         |d2 AS (SELECT dk, dname, split_part(dname, ' ', 1) AS block
         |       FROM dirty),
         |cand AS (
         |  SELECT dk, ck, levenshtein(dname, cname) AS dist
         |  FROM d2 JOIN clean USING (block)
         |  WHERE levenshtein(dname, cname) <= 2),
         |best AS (SELECT dk, ck, dist FROM (
         |    SELECT dk, ck, dist, row_number() OVER (
         |      PARTITION BY dk ORDER BY dist, ck) AS rn
         |    FROM cand) WHERE rn = 1)
         |SELECT count(*) AS n_entities,
         |  count(best.ck) AS n_matched,
         |  CAST(sum(CASE WHEN best.ck = d2.dk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(sum(CASE WHEN best.ck <> d2.dk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_wrong,
         |  round(CAST(sum(CASE WHEN best.ck = d2.dk THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS recall,
         |  round(CAST(sum(CASE WHEN best.ck = d2.dk THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(best.ck), 6) AS precision
         |FROM d2 LEFT JOIN best USING (dk)""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
        |  sum(l_quantity) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
}
