package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.streaming.Events
import graft.text.{Dedup, Similarity, TextStats}

/** Round-7 wave 11 — corpus-graph, seam-correctness, and saturation
  * signals:
  *
  *  - `q_line_dedup`: CCNet-style line-level boilerplate removal —
  *    lines whose corpus-wide document frequency exceeds a
  *    size-scaled threshold are dropped (planted boilerplate lines
  *    make the outcome provable in both engines).
  *  - `q_link_graph`: href extraction from synthetic HTML into an
  *    edge list with in/out degrees and reciprocal-link counts — the
  *    front half of the `q_domain_rank` authority chain, starting
  *    from raw markup instead of a ready-made edge table.
  *  - `q_stream_backfill`: the lambda-architecture seam — a batch
  *    history below a cut timestamp unioned with a replayed stream
  *    that re-delivers an overlap day (at-least-once upstream), the
  *    seam deduped by event id; the oracle is the PLAIN full-batch
  *    aggregate, so the hash check proves the seam loses and
  *    duplicates nothing.
  *  - `q_matryoshka`: embedding-prefix fidelity — cosine error at
  *    dim 8/16/32 prefixes vs the full 64 dims, the audit behind
  *    truncating stored vectors.
  *  - `q_ngram_novelty`: per-doc share of shingles first seen in that
  *    doc (corpus saturation curve — falling novelty says more data
  *    stops adding content).
  */
object Wave11Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ---- line-level dedup (CCNet boilerplate removal) ----

  /** Planted boilerplate shared by both engines: every doc gets a
    * header (two rotating boilerplate texts, else a unique line) and a
    * footer (one shared line on even ids, else unique) around its
    * text. */
  private val newsletterLine = "subscribe to our newsletter today"
  private val legalLine = "all rights reserved legal notice"
  private val footerLine = "copyright shared footer line"

  /** Line-level dedup: split docs into lines, fingerprint each, and
    * drop lines whose document frequency exceeds greatest(5, N/20) —
    * the size-scaled threshold a boilerplate filter needs so it bites
    * at every corpus size. One explode + one uniform-key groupBy +
    * one equi-join back; the df table is tiny (distinct lines) and
    * broadcasts. The planted lines are provably dropped, unique lines
    * provably kept, at any SF. */
  def qLineDedup(s: SparkSession, d: String): DataFrame = {
    val did = col("doc_id")
    val header = when(did % 4 === 0, lit(newsletterLine))
      .when(did % 4 === 1, lit(legalLine))
      .otherwise(concat(lit("doc header "), did.cast("string")))
    val footer = when(did % 2 === 0, lit(footerLine))
      .otherwise(concat(lit("doc footer "), did.cast("string")))
    val lines = docs(s, d)
      .select(did, explode(array(header, coalesce(col("text"), lit("")),
        footer)).as("line"))
      .withColumn("fp", TextStats.fingerprint(col("line")))
    val df = lines.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("df"))
    val tot = docs(s, d).agg(count(lit(1)).as("nd"))
    lines.join(df, "fp")
      .crossJoin(broadcast(tot))
      .withColumn("keep", col("df") <= greatest(lit(5L), expr("nd div 20")))
      .groupBy("doc_id")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        sum(when(col("keep"), TextStats.tokenCount(col("line")).cast("long"))
          .otherwise(0L)).as("kept_tokens"))
      .orderBy("doc_id")
  }

  // ---- link graph from raw HTML ----

  /** Deterministic synthetic links both engines build: doc i links to
    * (7i+1) mod N and (31i+3) mod N. The operator under test is the
    * EXTRACTION (regex over markup) + graph build (degrees,
    * reciprocal pairs) — the step between a crawl and
    * `q_domain_rank`'s edge table. */
  def qLinkGraph(s: SparkSession, d: String): DataFrame = {
    val tot = docs(s, d).agg(count(lit(1)).as("nd"))
    val html = concat(
      lit("<p>intro</p><a href=\"/doc/"),
      ((col("doc_id") * 7 + 1) % col("nd")).cast("string"),
      lit("\">first</a> mid <a class=\"x\" href=\"/doc/"),
      ((col("doc_id") * 31 + 3) % col("nd")).cast("string"),
      lit("\">second</a>"))
    val edges = docs(s, d).select(col("doc_id"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id").as("src"),
        explode(array_distinct(regexp_extract_all(html,
          lit("href=\"/doc/([0-9]+)\""), lit(1)))).as("dst_s"))
      .select(col("src"), col("dst_s").cast("long").as("dst"))
    val outDeg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = edges.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("in_deg"))
    val recip = edges.as("e1")
      .join(edges.as("e2"),
        col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src"))
      .groupBy(col("e1.src").as("doc_id"))
      .agg(count(lit(1)).as("n_reciprocal"))
    docs(s, d).select(col("doc_id"))
      .join(outDeg, Seq("doc_id"), "left")
      .join(inDeg, Seq("doc_id"), "left")
      .join(recip, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
      .orderBy("doc_id")
  }

  // ---- lambda-seam backfill ----

  /** Batch history strictly below the cut, plus a REAL replayed stream
    * that re-delivers everything from one day BEFORE the cut (the
    * at-least-once seam), deduped on event_id, then the standard hourly
    * rollup. The oracle is the plain full-batch aggregate — hash
    * equality proves the seam neither loses nor double-counts a single
    * event. Stream side is stateless (filter + project per
    * micro-batch); the dedup pays one shuffle on event_id, which at
    * 100 TB is confined to the seam window by partition-pruning the
    * batch side and watermark-bounding the stream side. */
  def qStreamBackfill(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-20 00:00:00").cast("timestamp")
    val overlapStart = lit("2024-01-19 00:00:00").cast("timestamp")
    val batch = Tables.load(s, d, "events")
      .filter(col("ts") < cut)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val streamed = Events.runToCompletion(s,
      Events.readStream(s, d)
        .filter(col("ts") >= overlapStart)
        .select(col("event_id"), col("ts"), col("event_type"), col("value")),
      mode = "append")
    batch.unionByName(streamed)
      .dropDuplicates("event_id")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("total_value"))
      .orderBy("hour", "event_type")
  }

  // ---- matryoshka prefix fidelity ----

  private val prefixDims = Seq(8, 16, 32)
  private val fullDim = 64

  /** Cosine error of dimension-truncated embeddings vs the full vector,
    * over the deterministic consecutive-id pair set: the audit that
    * prices storing 8/16/32-dim prefixes (matryoshka-style) instead of
    * all 64. Single equi-join on vec_id (no pair explosion), one pass
    * computing every prefix cosine, errors folded on the exact integer
    * grid ([[Q.gsum]]) so the averages are layout-independent. */
  def qMatryoshka(s: SparkSession, d: String): DataFrame = {
    val e = Tables.load(s, d, "embeddings")
    val a = e.select(col("vec_id"), col("embedding").as("ae"))
    val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("be"))
    def cosK(k: Int): Column =
      Similarity.cosine(slice(col("ae"), 1, k), slice(col("be"), 1, k))
    val pairs = a.join(b, "vec_id")
      .select((prefixDims.map(k => cosK(k).as(s"c$k")) :+
        cosK(fullDim).as("cfull")): _*)
    val stacked = pairs.select(expr(
      s"stack(${prefixDims.length}, " +
        prefixDims.map(k => s"${k}L, abs(c$k - cfull)").mkString(", ") +
        ") as (dim, err)"))
    stacked.groupBy("dim")
      .agg(count(lit(1)).as("n_pairs"),
        round(Q.gsum(col("err")) / count(lit(1)), 6).as("avg_abs_err"),
        round(max(col("err")), 6).as("max_abs_err"))
      .orderBy("dim")
  }

  // ---- n-gram novelty (corpus saturation) ----

  /** Per-doc share of its (distinct) shingles whose corpus-wide FIRST
    * occurrence (min doc_id) is this doc — the saturation curve: as a
    * corpus grows, falling novelty quantifies how much genuinely new
    * content each source still contributes. One shingle explode, one
    * min-over-window keyed on the md5-64 of the shingle (not the
    * shingle STRING — same discipline as q_line_dedup: the fixed
    * 8-byte key shrinks the shuffle by the mean shingle width; the
    * oracle hashes identically via md5_number_upper).
    *
    * r16: the former groupBy(min)-then-join-back shape fed the SAME
    * hashed-shingle frame into two DIFFERENT exchange subtrees
    * (partial-agg vs raw probe), so exchange reuse could not fire and
    * the explode + md5 of every shingle in the corpus ran TWICE, and
    * the gh key shuffled twice. min-over-Window.partitionBy(gh)
    * attaches the identical first_doc to every exploded row in ONE
    * pass: one explode, one gh exchange. The attached value is
    * pointwise equal to the join's (min doc_id per gh), so the
    * aggregate — and the oracle hash — is unchanged. */
  def qNgramNovelty(s: SparkSession, d: String): DataFrame = {
    // r17: shingles assemble from the shared tokenize-once arrays
    // (Memo.docTokens) instead of re-splitting the corpus. Exploded
    // stream identical: for NULL text the coalesce('') form yields an
    // empty token array and the memoized form a NULL one — both
    // shingle to an empty array, which explode drops either way.
    val sh = Memo.docTokens(s, d).select(col("doc_id"),
      explode(Dedup.shinglesFromTokens(col("ts"), n = 3)).as("g"))
      .select(col("doc_id"), Dedup.md5Hash64(col("g")).as("gh"))
    val perDoc = sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy("gh")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs(s, d).select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(null))
          .otherwise(round(col("n_novel").cast("double")
            / col("n_shingles"), 6)).as("novelty"))
      .orderBy("doc_id")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_line_dedup"      -> qLineDedup,
    "q_link_graph"      -> qLinkGraph,
    "q_stream_backfill" -> qStreamBackfill,
    "q_matryoshka"      -> qMatryoshka,
    "q_ngram_novelty"   -> qNgramNovelty)

  private val LINE_SQL =
    s"""CASE WHEN doc_id % 4 = 0 THEN '$newsletterLine'
       |     WHEN doc_id % 4 = 1 THEN '$legalLine'
       |     ELSE 'doc header ' || CAST(doc_id AS VARCHAR) END,
       |coalesce(text, ''),
       |CASE WHEN doc_id % 2 = 0 THEN '$footerLine'
       |     ELSE 'doc footer ' || CAST(doc_id AS VARCHAR) END""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_line_dedup" ->
      s"""WITH nd AS (SELECT count(*) AS n FROM documents),
         |l AS (SELECT doc_id, unnest([$LINE_SQL]) AS line FROM documents),
         |f AS (SELECT doc_id, line,
         |        ${TextStats.FINGERPRINT("line")} AS fp FROM l),
         |df AS (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY fp),
         |k AS (SELECT f.doc_id, f.line,
         |        d.df <= greatest(5, (SELECT n FROM nd) // 20) AS keep
         |      FROM f JOIN df d USING (fp))
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN keep
         |    THEN len(${TextStats.TOKENS("line")}) ELSE 0 END) AS BIGINT)
         |    AS kept_tokens
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_link_graph" ->
      """WITH nd AS (SELECT count(*) AS n FROM documents),
        |h AS (SELECT doc_id,
        |  '<p>intro</p><a href="/doc/' ||
        |  CAST((doc_id * 7 + 1) % (SELECT n FROM nd) AS VARCHAR) ||
        |  '">first</a> mid <a class="x" href="/doc/' ||
        |  CAST((doc_id * 31 + 3) % (SELECT n FROM nd) AS VARCHAR) ||
        |  '">second</a>' AS html FROM documents),
        |e0 AS (SELECT doc_id AS src,
        |  unnest(list_distinct(regexp_extract_all(html,
        |    'href="/doc/([0-9]+)"', 1))) AS dst_s FROM h),
        |e AS (SELECT src, CAST(dst_s AS BIGINT) AS dst FROM e0),
        |outd AS (SELECT src AS doc_id, count(*) AS out_deg FROM e GROUP BY 1),
        |ind AS (SELECT dst AS doc_id, count(*) AS in_deg FROM e GROUP BY 1),
        |rec AS (SELECT e1.src AS doc_id, count(*) AS n_reciprocal
        |        FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
        |        GROUP BY 1)
        |SELECT d.doc_id, coalesce(out_deg, 0) AS out_deg,
        |  coalesce(in_deg, 0) AS in_deg,
        |  coalesce(n_reciprocal, 0) AS n_reciprocal
        |FROM documents d
        |LEFT JOIN outd USING (doc_id) LEFT JOIN ind USING (doc_id)
        |LEFT JOIN rec USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_stream_backfill" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  event_type, count(*) AS n, ${Q.DSUM("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_matryoshka" -> {
      val cos = (k: Int) => Similarity.COSINE("ae", "be", k)
      val branches = prefixDims.map(k =>
        s"SELECT CAST($k AS BIGINT) AS dim, abs(${cos(k)} - ${cos(fullDim)}) AS err FROM p")
        .mkString("\n|UNION ALL\n|")
      s"""WITH p AS (
         |  SELECT a.embedding AS ae, b.embedding AS be
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
         |u AS ($branches)
         |SELECT dim, count(*) AS n_pairs,
         |  round(${Q.GSUM("err")} / count(*), 6) AS avg_abs_err,
         |  round(max(err), 6) AS max_abs_err
         |FROM u GROUP BY dim ORDER BY dim""".stripMargin
    },
    "q_ngram_novelty" ->
      s"""WITH sh AS (SELECT doc_id,
         |    ${Dedup.SHINGLES("coalesce(text, '')")} AS s FROM documents),
         |x0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |x AS (SELECT doc_id, md5_number_upper(g) AS gh FROM x0),
         |first AS (SELECT gh, min(doc_id) AS first_doc FROM x GROUP BY gh),
         |pd AS (SELECT x.doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN f.first_doc = x.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM x JOIN first f USING (gh) GROUP BY x.doc_id)
         |SELECT d.doc_id, d.source,
         |  coalesce(n_shingles, 0) AS n_shingles,
         |  coalesce(n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(n_shingles, 0) = 0 THEN NULL
         |       ELSE round(CAST(n_novel AS DOUBLE) / n_shingles, 6) END
         |    AS novelty
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)
}
