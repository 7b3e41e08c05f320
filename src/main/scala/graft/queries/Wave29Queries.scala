package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Dedup

/** Round-8 wave 29 — graph core structure + resampled uncertainty:
  *
  *  - `q_kcore`: k-core peeling (k = 6, 6 fixed rounds) over the
  *    deterministic document link graph — iteratively drop nodes whose
  *    degree WITHIN the surviving set falls below k. The standard
  *    distributed formulation: each round is one membership semi-join
  *    on each edge endpoint + one degree aggregation, work bounded by
  *    the surviving edge set, lineage truncated per round (the
  *    connected-components discipline). Output is the full peeling
  *    trajectory (size + id-XOR per round) — integers only, so the
  *    fixpoint is bit-replayable; the oracle unrolls the same six
  *    rounds as chained SQL CTEs.
  *  - `q_bootstrap`: percentile-bootstrap confidence intervals for
  *    mean order value per priority, B = 32 deterministic replicas.
  *    Poisson(1) resampling weights come from fixed literal CDF
  *    thresholds over the cross-engine md5-uniform, so every replica
  *    is identical in both engines; each replica keeps INTEGER
  *    receipts (Σw·cents, Σw) and the only float ops are one exact
  *    division per replica and order statistics across replicas —
  *    no float accumulation anywhere, hence bit-identical CIs.
  *    Scale shape: NO row explosion — the 32 replicas are 64
  *    simultaneous conditional aggregates in one pass (the SimHash
  *    bit-agg pattern), then one narrow unpivot of the per-group
  *    replica columns.
  */
object Wave29Queries extends QueryModule {

  // ---- k-core ----

  private val kCore = 6
  private val kRounds = 6

  def qKcore(s: SparkSession, d: String): DataFrame = {
    val und = Wave17Queries.linkEdges(s, d).filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct().cache()
    // r17 (guide §2.4): the edge list is hash-partitioned by src ONCE,
    // before the loop — the per-round degree aggregate then reuses the
    // cached partitioning (broadcast semi-joins preserve it), so the
    // six peeling rounds run ZERO exchanges: one up-front shuffle
    // replaces six in-loop ones at any scale.
    val ed = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .cache()
    // und/ed stay cached until the runner clears the cache (see
    // [[graft.Scratch]]): their plans are canonically identical per
    // (session, dir), so CacheManager dedupes repeated .cache() calls
    // onto ONE entry — unpersisting it after each call would force
    // every later call to rebuild it (measured +27 jobs per invocation)
    var surv = Dedup.truncate(
      ed.select(col("src").as("node")).distinct())
    val rounds = Seq.newBuilder[DataFrame]
    def receipt(round: Int, nodes: DataFrame): DataFrame =
      nodes.agg(count(lit(1)).as("n_surviving"),
          coalesce(expr("bit_xor(node)"), lit(0L)).as("xor_nodes"))
        .select(lit(round).as("round"), col("n_surviving"), col("xor_nodes"))
    rounds += receipt(0, surv)
    for (r <- 1 to kRounds) {
      // surv is checkpoint-truncated (size stats unknown to the
      // planner), so without the explicit broadcast both semi-joins
      // sort-merge — shuffling the full edge list twice PER ROUND;
      // broadcast keeps each round map-side up to the degree aggregate
      val deg = ed
        .join(broadcast(surv.withColumnRenamed("node", "src")),
          Seq("src"), "left_semi")
        .join(broadcast(surv.withColumnRenamed("node", "dst")),
          Seq("dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("n"))
      surv = Dedup.truncate(
        deg.filter(col("n") >= kCore).select(col("src").as("node")))
      rounds += receipt(r, surv)
    }
    rounds.result().reduce(_ unionByName _).orderBy("round")
  }

  // ---- bootstrap ----

  private val bootB = 32

  /** Cumulative Poisson(1) CDF as fixed double literals — both engines
    * parse the identical doubles, and the md5-uniform is a 53-bit
    * dyadic, so every comparison is exact. */
  private val poissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712")

  /** One 32-bit little-endian word (quarter `q` ∈ 0..3) from an
    * ALREADY-MATERIALIZED md5 hex column, assembled with a SINGLE conv
    * over byte-swapped hex chars — the per-byte conv ladder was the
    * measured bottleneck (256 conv calls/row → 32). Identical to the
    * DuckDB pair (`md5_number_upper/lower & 0xFFFFFFFF` or `>> 32`),
    * since both read the same little-endian byte order. */
  private def word32FromHex(hex: org.apache.spark.sql.Column, q: Int) = {
    val start = q * 8
    conv(concat(
      substring(hex, start + 7, 2), substring(hex, start + 5, 2),
      substring(hex, start + 3, 2), substring(hex, start + 1, 2)),
      16, 10).cast("long")
  }

  /** 32-bit dyadic uniform in [0, 1) — exact in double, so every CDF
    * threshold comparison is bit-identical cross-engine. */
  private def uniformFromWord(w: org.apache.spark.sql.Column) =
    w.cast("double") / lit(4294967296.0)

  private def weightFromU(u: org.apache.spark.sql.Column) =
    poissonCdf.zipWithIndex.reverse
      .foldLeft(lit(poissonCdf.length): org.apache.spark.sql.Column) {
        case (els, (t, i)) => when(u < lit(t.toDouble), lit(i)).otherwise(els)
      }.cast("long")

  def qBootstrap(s: SparkSession, d: String): DataFrame = {
    // Q.spread: the 64-replica hash ladder is pure per-row compute —
    // on the single-row-group test file it would otherwise run on one
    // core (measured 6.5 s -> sub-second at sf0.1)
    val rows = Q.spread(Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
          .as("cents")))
    // STAGED projections: 8 md5 digests per row (one per seed string,
    // each serving FOUR replicas via its 32-bit words), then uniforms
    // (one conv each), then CASE weights — each stage references the
    // previous stage's COLUMNS, so nothing re-evaluates the hash per
    // threshold arm or per aggregate. The fully-inlined version was
    // measured at 32 s at sf0.1; the staged 64-bit one at 11 s (the
    // per-byte conv ladder dominated); this one at ~6 s warm — the
    // residual cost is the 64-wide partial aggregate itself, which is
    // the map-side-combine shape that scales (state = groups × 64
    // longs, shuffle = one wide row per group per task).
    val nSeeds = bootB / 4
    val withH = rows.select(col("p") +: col("cents") +:
      (1 to nSeeds).map(g =>
        md5(concat(lit(s"bs$g#"), col("k"))).as(s"h$g")): _*)
    val withU = withH.select(col("p") +: col("cents") +:
      (1 to bootB).map { b =>
        val g = (b - 1) / 4 + 1
        val q = (b - 1) % 4
        uniformFromWord(word32FromHex(col(s"h$g"), q)).as(s"u$b")
      }: _*)
    val withW = withU.select(col("p") +: col("cents") +:
      (1 to bootB).map(b => weightFromU(col(s"u$b")).as(s"w$b")): _*)
    // one pass: 2 aggregates per replica (Σ w·cents, Σ w)
    val aggs = (1 to bootB).flatMap { b =>
      Seq(sum(col(s"w$b") * col("cents")).as(s"num$b"),
        sum(col(s"w$b")).as(s"den$b"))
    }
    val wide = withW.groupBy("p").agg(aggs.head, aggs.tail: _*)
    // unpivot to (p, b, num, den); replica mean = num / (100·den) is
    // one exact-integer-to-double division — identical in both engines
    val stackArgs = (1 to bootB)
      .map(b => s"$b, num$b, den$b").mkString(", ")
    val reps = wide.selectExpr("p",
        s"stack($bootB, $stackArgs) AS (b, num, den)")
      .select(col("p"), col("b"),
        (col("num").cast("double") / (lit(100.0) * col("den").cast("double")))
          .as("m"))
    val ranked = reps.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("p").orderBy(col("m"), col("b"))))
    val ci = ranked.groupBy("p").agg(
      min(when(col("r") === 2, col("m"))).as("boot_lo"),
      min(when(col("r") === bootB / 2, col("m"))).as("boot_med_lo"),
      min(when(col("r") === bootB / 2 + 1, col("m"))).as("boot_med_hi"),
      min(when(col("r") === bootB - 1, col("m"))).as("boot_hi"))
    val base = rows.groupBy("p").agg(count(lit(1)).as("n"),
      (sum(col("cents")).cast("double") / (lit(100.0) * count(lit(1))))
        .as("mean_true"))
    base.join(ci, Seq("p"))
      .select(col("p").as("o_orderpriority"), col("n"), col("mean_true"),
        col("boot_lo"),
        ((col("boot_med_lo") + col("boot_med_hi")) / lit(2.0)).as("boot_med"),
        col("boot_hi"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kcore" -> qKcore,
    "q_bootstrap" -> qBootstrap)

  // ---- oracles ----

  private val kcoreSql: String = {
    val peels = (1 to kRounds).map { r =>
      s"""d$r AS (
         |  SELECT e.src, count(*) AS n FROM ed e
         |  JOIN s${r - 1} a ON a.node = e.src
         |  JOIN s${r - 1} b ON b.node = e.dst
         |  GROUP BY e.src),
         |s$r AS (SELECT src AS node FROM d$r WHERE n >= $kCore)""".stripMargin
    }.mkString(",\n")
    val rows = (0 to kRounds).map { r =>
      s"""SELECT $r AS round, count(*) AS n_surviving,
         |  CAST(coalesce(bit_xor(node), 0) AS BIGINT) AS xor_nodes
         |FROM s$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH nd AS (SELECT count(*) AS n FROM documents),
       |${Wave17Queries.LINK_EDGES_CTE},
       |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
       |  FROM raw WHERE a <> b),
       |ed AS (SELECT u AS src, v AS dst FROM und
       |  UNION ALL SELECT v, u FROM und),
       |s0 AS (SELECT DISTINCT src AS node FROM ed),
       |$peels
       |SELECT * FROM ($rows) ORDER BY round""".stripMargin
  }

  private val bootstrapSql: String = {
    def u(b: Int) = {
      val g = (b - 1) / 4 + 1
      val half = if ((b - 1) % 4 < 2) "md5_number_upper"
        else "md5_number_lower"
      val word = if ((b - 1) % 2 == 0) s"($half('bs$g#' || CAST(k AS VARCHAR)) & 4294967295)"
        else s"($half('bs$g#' || CAST(k AS VARCHAR)) >> 32)"
      s"($word / 4294967296.0)"
    }
    def w(b: Int) = {
      val cases = poissonCdf.zipWithIndex
        .map { case (t, i) => s"WHEN ${u(b)} < $t THEN $i" }
        .mkString(" ")
      s"(CASE $cases ELSE ${poissonCdf.length} END)"
    }
    val aggs = (1 to bootB).map { b =>
      s"CAST(sum(${w(b)} * cents) AS BIGINT) AS num$b, " +
        s"CAST(sum(${w(b)}) AS BIGINT) AS den$b"
    }.mkString(",\n  ")
    val unions = (1 to bootB).map { b =>
      s"SELECT p, $b AS b, num$b AS num, den$b AS den FROM wide"
    }.mkString("\nUNION ALL\n")
    s"""WITH rows0 AS (
       |  SELECT o_orderkey AS k, o_orderpriority AS p,
       |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |wide AS (SELECT p,
       |  $aggs
       |  FROM rows0 GROUP BY p),
       |reps AS (
       |  SELECT p, b,
       |    CAST(num AS DOUBLE) / (100.0 * CAST(den AS DOUBLE)) AS m
       |  FROM ($unions)),
       |ranked AS (
       |  SELECT p, m, row_number() OVER
       |    (PARTITION BY p ORDER BY m, b) AS r
       |  FROM reps),
       |ci AS (
       |  SELECT p,
       |    min(CASE WHEN r = 2 THEN m END) AS boot_lo,
       |    (min(CASE WHEN r = ${bootB / 2} THEN m END)
       |      + min(CASE WHEN r = ${bootB / 2 + 1} THEN m END)) / 2.0
       |      AS boot_med,
       |    min(CASE WHEN r = ${bootB - 1} THEN m END) AS boot_hi
       |  FROM ranked GROUP BY p),
       |base AS (
       |  SELECT p, count(*) AS n,
       |    CAST(sum(cents) AS DOUBLE) / (100.0 * count(*)) AS mean_true
       |  FROM rows0 GROUP BY p)
       |SELECT base.p AS o_orderpriority, n, mean_true,
       |  boot_lo, boot_med, boot_hi
       |FROM base JOIN ci ON ci.p = base.p
       |ORDER BY o_orderpriority""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_kcore" -> kcoreSql,
    "q_bootstrap" -> bootstrapSql)
}
