package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.io.Tables
import graft.ops.Versioned
import graft.text.{Bpe, TextStats}

/** Round-6 wave 7 — the front and back of the corpus funnel the
  * earlier waves assumed away:
  *
  *  - `q_html_extract`: HTML → visible-text extraction
  *    ([[TextStats.extractHtml]]) — every real web corpus starts as
  *    HTML, and every text operator downstream (quality, LM,
  *    boilerplate) assumes extracted text. Deterministic synthetic
  *    HTML (title/style/script/comment/entities wrapped around each
  *    document) is built in-plan so both engines extract the same
  *    payload and the oracle replays the full strip/decode cascade.
  */
object Wave7Queries extends QueryModule {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** The deterministic HTML wrapper both engines synthesize: exercises
    * comment strip, script strip (with raw `>`/`&&` inside the block),
    * style strip, attribute-bearing tags, and every entity in
    * [[TextStats.htmlEntities]] — including the `&amp;lt;` decode-order
    * trap (must surface as the literal `&lt;`, not `<`). */
  private val htmlPieces: Seq[Either[String, String]] = Seq(
    Left("<html><head><title>Doc "), Right("doc_id"),
    Left("</title><style type=\"text/css\"> p { margin: 0; } </style>" +
      "<script>var id = "), Right("doc_id"),
    Left("; if (id > 0 && id < 99) { run(); }</script></head>" +
      "<body><!-- build "), Right("doc_id"),
    Left(" --><h1 class=\"t\">Title &amp; Section "), Right("doc_id % 5"),
    Left("</h1><p>"), Right("coalesce(text, '')"),
    Left("</p><div data-x=\"1\">tail &lt;b&gt;bold&lt;/b&gt; &quot;q&quot;" +
      " &#39;s&nbsp;end &amp;lt;raw</div></body></html>"))

  def qHtmlExtract(s: SparkSession, d: String): DataFrame = {
    val html = concat(htmlPieces.map {
      case Left(l)  => lit(l)
      case Right(e) => expr(e).cast("string")
    }: _*)
    docs(s, d)
      .select(col("doc_id"), TextStats.extractHtml(html).as("text_clean"))
      .withColumn("n_tokens", TextStats.tokenCount(col("text_clean")))
      .orderBy("doc_id")
  }

  /** Subword (BPE) token accounting per document — the count a
    * trainer's tokenizer actually sees, next to the whitespace and
    * regex counts the earlier waves used for packing/mixing budgets.
    * Applies the SHIPPED merge table ([[Bpe.shipped]] — fitted once
    * from the compile-time seed text, the way production tokenizers
    * ship as fixed artifacts), so the DuckDB oracle can replay the
    * identical precomputed merge chain; corpus-sample fitting is the
    * library path ([[Bpe.fitOnCorpus]], spec-proven). `compression` =
    * BPE tokens per code point — the delta a packing budget moves by
    * when it switches from whitespace counts to subword counts. */
  def qBpeTokens(s: SparkSession, d: String): DataFrame = {
    val m = Bpe.shipped
    val nChars = coalesce(aggregate(
      transform(TextStats.tokens(col("text")),
        w => size(regexp_extract_all(w, lit("(?s)."), lit(0))).cast("long")),
      lit(0L), (acc, x) => acc + x), lit(0L))
    // Q.spread: the BPE merge ladder is pure per-row compute — spread
    // the single-row-group test scan across cores (no-op at scale)
    Q.spread(docs(s, d)).select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_ws_tokens"),
        TextStats.regexTokenCount(col("text")).as("n_regex_tokens"),
        nChars.as("n_chars"),
        Bpe.tokenCount(col("text"), m).as("n_bpe_tokens"))
      .withColumn("compression",
        round(col("n_bpe_tokens") / greatest(col("n_chars"), lit(1L)), 6))
      .orderBy("doc_id")
  }

  /** Size-targeted export-shard assignment ([[graft.io.Export]]):
    * per (source, shard) doc counts and payload bytes at an 8 KiB
    * target — small enough that every SF yields multi-shard sources,
    * so the window arithmetic (prefix payload bytes div target, the
    * chunkByBudget shape) is exercised, not just the trivial single
    * bucket. The writer itself (gzip jsonl, one file per shard) is
    * round-trip-proven in ExportSpec against q_corpus_manifest's
    * fingerprint. */
  def qShardPlan(s: SparkSession, d: String): DataFrame =
    graft.io.Export.shardPlan(docs(s, d), targetBytes = 8192L)
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("n_bytes"))
      .orderBy("source", "shard")

  /** Snapshot-isolated MERGE round trip ([[graft.ops.Versioned]]):
    * init a versioned table from `orders` partitioned by status, merge
    * one deterministic batch — price bumps (key%7=3), deletes (key%13=0,
    * minus the update keys so no key appears twice in the source),
    * inserts (key%101=0 re-keyed +1e8) — all confined to status 'F' so
    * the 'O'/'P' partitions carry into version 2 BY FILE REFERENCE
    * (the 100 TB property: a daily delta rewrites days, not the
    * table). Returns the per-status count + decimal-exact price total
    * of the final snapshot; the oracle replays the MERGE semantics
    * (target anti-join source keys, union non-deleted source rows) in
    * pure SQL, so update-wins, delete-disappears, and insert-lands are
    * each hash-checked cross-engine. The snapshot aggregate is
    * collected (≤ 3 rows — scalar extraction, the A3 pattern) so the
    * scratch table can be deleted before returning; isolation/
    * concurrency/vacuum are `VersionedSpec`'s domain. */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val orders = Tables.load(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // zero-copy clone of the shared status-partitioned base
    // ([[LakeFixtures]]); the merge's touched-partition rewrite stages
    // under the clone, untouched partitions keep referencing the base
    LakeFixtures.withClone(s,
      LakeFixtures.ordersByStatus(s, d), "graft_merge_q") { dir =>
      val f = orders.filter(col("o_orderstatus") === "F")
      val batch =
        f.filter(col("o_orderkey") % 7 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
          .withColumn("is_delete", lit(false))
        .unionByName(f.filter(col("o_orderkey") % 13 === 0 &&
            col("o_orderkey") % 7 =!= 3)
          .withColumn("is_delete", lit(true)))
        .unionByName(f.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("is_delete", lit(false)))
      val v = Versioned.merge(batch, dir, Seq("o_orderkey"),
        deleteCol = Some("is_delete"))
      Versioned.read(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Q.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), v))
        .toDF("o_orderstatus", "n_orders", "total", "version")
    }
  }

  /** Bloom-prefiltered ingest gate ([[graft.functions.Bloom]]): the
    * even-id half of `documents` is the lake, the odd-id half the
    * batch; the lake's fingerprint set is summarized once into a
    * bounded bitset (Spark's own `BloomFilterAggregate`), the batch
    * probes it map-side, and only probable-duplicate rows pay the
    * exact verify join. Output is the exact per-doc `is_new` verdict —
    * the oracle replays it as a plain NOT IN, so the hash check proves
    * the sketch path loses nothing (no false negatives, false
    * positives rescued by the verify join). Fingerprints over
    * `coalesce(text, '')` on both engines so a NULL document can never
    * diverge the NOT-IN semantics. */
  def qBloomPrefilter(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("doc_id"),
      TextStats.fingerprint(coalesce(col("text"), lit(""))).as("fp"))
    graft.functions.Bloom.newFlags(
      dd.filter(col("doc_id") % 2 === 1),
      dd.filter(col("doc_id") % 2 === 0), "fp")
      .select("doc_id", "is_new")
      .orderBy("doc_id")
  }

  /** Format-matrix round trip: `documents` written to and read back
    * from every non-parquet batch format the engine ships (ORC, JSON
    * lines, CSV), each pass summarized by doc count + the manifest's
    * order-independent 60-bit XOR fingerprint over
    * (doc_id, source, text). The oracle computes ONE expected
    * (n_docs, content_xor) from the parquet truth and cross-joins it
    * against the format list — so all four rows hash-match iff every
    * format preserved every row bit-for-bit. CSV is the trap case and
    * runs with its loss-free dial pinned (RFC escape=`"` both ways,
    * multiLine read for embedded newlines, explicit schema — read
    * inference would widen/narrow types); `FormatRoundtripSpec` proves
    * the same pins on a hostile frame (embedded newlines, quotes,
    * separators, unicode, NULL vs empty text). The fingerprint
    * separates NULL from '' via a NUL sentinel so a format that
    * conflates them cannot hash clean. */
  def qFormatRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = docs(s, d).select(col("doc_id"), col("source"), col("text"))
    Scratch.withDir("graft_fmt") { dir =>
      def summarize(fmt: String, df: DataFrame): (String, Long, Long) = {
        val r = df.select(shiftrightunsigned(graft.text.Dedup.md5Hash64(
            concat_ws("\u0001", col("doc_id").cast("string"),
              coalesce(col("source"), lit("")),
              when(col("text").isNull, lit("N")).otherwise(lit("V")),
              coalesce(col("text"), lit("")))), 4).as("h"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x")).head()
        (fmt, r.getLong(0), r.getLong(1))
      }
      // the loss-free CSV dial (FormatRoundtripSpec): RFC escape, no
      // write-side whitespace trimming, quoted '' so NULL ≠ empty
      val csvW = Map("header" -> "true", "escape" -> "\"",
        "ignoreLeadingWhiteSpace" -> "false",
        "ignoreTrailingWhiteSpace" -> "false", "emptyValue" -> "\"\"")
      val csvR = Map("header" -> "true", "escape" -> "\"",
        "multiLine" -> "true", "nullValue" -> "\u0000")
      val out = Seq(
        summarize("csv", {
          base.write.options(csvW).csv(s"$dir/csv")
          s.read.options(csvR).schema(base.schema).csv(s"$dir/csv")
        }),
        summarize("json", {
          base.write.json(s"$dir/json")
          s.read.schema(base.schema).json(s"$dir/json")
        }),
        summarize("orc", {
          base.write.orc(s"$dir/orc")
          s.read.orc(s"$dir/orc")
        }),
        summarize("parquet", base))
      out.toDF("format", "n_docs", "content_xor").orderBy("format")
    }
  }

  /** Z-order (Morton) clustering values ([[graft.ops.ZOrder.zValue2]]):
    * orders quantized on (o_custkey mod 256, o_orderkey mod 256) and
    * interleaved to a 16-bit z-value, aggregated per high-byte bucket
    * — the layout key that clusters TWO dimensions into one sort so a
    * box predicate touches O(perimeter) files (the lake's Z-ordered
    * compaction, [[graft.ops.ZOrder.layout]]; the file-count effect is
    * measured in `Wave46Spec`). The oracle replays the interleave loop
    * bit-for-bit (generated from the same Scala loop), so every
    * bucket's count and key envelope hash-checks the bit arithmetic
    * cross-engine. */
  def qZorder(s: SparkSession, d: String): DataFrame = {
    import graft.ops.ZOrder
    Tables.load(s, d, "orders")
      .select(col("o_orderkey"),
        ZOrder.zValue2(col("o_custkey") % 256, col("o_orderkey") % 256, 8)
          .as("z"))
      .groupBy(shiftrightunsigned(col("z"), 8).as("z_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("z_bucket")
  }

  /** Mergeable-sketch distinct rollup (DataSketches HLL, Spark's
    * `hll_sketch_agg`/`hll_union_agg`): per-source fingerprint sketches
    * next to exact distinct counts, and a TOTAL row whose estimate
    * comes from UNIONING the per-source sketches — the pre-aggregated
    * sketch-table pattern that answers "distinct across 100 TB" from
    * per-partition summaries without rescanning. Like the
    * heavy-hitters audit, the sketch estimates surface as FLAGS the
    * oracle replays as literals: `est_ok` (estimate within 5%+1 of
    * exact — lgK=12's ~1.6% rel err with generous margin) and
    * `merge_ok` on TOTAL (union-of-partials estimate within 2%+1 of
    * the direct whole-corpus sketch estimate — NOT exact equality:
    * the union promotes sparse/coupon-mode partials to dense HLL
    * registers, so its estimator can differ from a still-sparse
    * direct sketch by small HLL error even over identical items; the
    * band is the honest mergeability claim). A broken sketch path
    * flips a flag and fails the hash. */
  def qHllRollup(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).select(col("source"),
      TextStats.fingerprint(coalesce(col("text"), lit(""))).as("fp"))
    val per = dd.groupBy("source").agg(
      hll_sketch_agg(col("fp")).as("sk"),
      countDistinct(col("fp")).as("n_exact"))
    val perOut = per.select(col("source"), col("n_exact"),
      (abs(hll_sketch_estimate(col("sk")) - col("n_exact")) <=
        col("n_exact") * 0.05 + lit(1.0)).as("est_ok"),
      lit(true).as("merge_ok"))
    val direct = dd.agg(
      countDistinct(col("fp")).as("n_exact"),
      hll_sketch_estimate(hll_sketch_agg(col("fp"))).as("est_direct"))
    val merged = per.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
    val total = direct.crossJoin(merged).select(
      lit("TOTAL").as("source"), col("n_exact"),
      (abs(col("est_union") - col("n_exact")) <=
        col("n_exact") * 0.05 + lit(1.0)).as("est_ok"),
      (abs(col("est_union") - col("est_direct")) <=
        col("est_direct") * 0.02 + lit(1.0)).as("merge_ok"))
    perOut.unionByName(total).orderBy("source")
  }

  /** SRT subtitle extraction — the caption-to-text step of a
    * video-text pipeline (captions ARE the training text for video).
    * Each document synthesizes a deterministic SRT payload in-plan
    * (1 + id%4 cues, fixed-width `HH:MM:SS,mmm --> HH:MM:SS,mmm`
    * timing lines — both engines build the identical string), then
    * both engines PARSE it: timing matches via one regex, the ms
    * clock decoded at fixed offsets inside each 29-char match, cue
    * text as the line after each timing line. n_cues, summed caption
    * milliseconds, and the joined transcript are all hash-checked —
    * a parse defect (offset slip, ms padding, greedy text grab)
    * breaks the hash. */
  def qSrtExtract(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    def pad(c: Column, n: Int) = lpad(c.cast("string"), n, "0")
    def ts(v: Column) = concat(lit("00:00:"),
      pad((v / 1000).cast("long"), 2), lit(","), pad(v % 1000, 3))
    val srt = concat((0 until 4).map { i =>
      val start = lit(1000L * i) + (id % 7) * 100
      val end = start + lit(500L) + (id % 9) * 100
      when(lit(i) <= id % 4, concat(lit(s"${i + 1}\n"),
        ts(start), lit(" --> "), ts(end),
        lit(s"\ncaption ${i + 1} for doc "), id.cast("string"),
        lit("\n\n"))).otherwise(lit(""))
    }: _*)
    val timing = "\\d{2}:\\d{2}:\\d{2},\\d{3}"
    def ms(x: Column) =
      substring(x, 1, 2).cast("long") * 3600000L +
        substring(x, 4, 2).cast("long") * 60000L +
        substring(x, 7, 2).cast("long") * 1000L +
        substring(x, 10, 3).cast("long")
    docs(s, d).select(id, srt.as("srt"))
      .select(id,
        regexp_extract_all(col("srt"),
          lit(s"$timing --> $timing"), lit(0)).as("m"),
        regexp_extract_all(col("srt"),
          lit(s"--> $timing\\n([^\\n]+)"), lit(1)).as("texts"))
      .select(id, size(col("m")).as("n_cues"),
        coalesce(aggregate(transform(col("m"),
          s => ms(substring(s, 18, 12)) - ms(substring(s, 1, 12))),
          lit(0L), (a, x) => a + x), lit(0L)).as("caption_ms"),
        array_join(col("texts"), " ").as("transcript"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_srt_extract" -> qSrtExtract,
    "q_html_extract" -> qHtmlExtract,
    "q_bpe_tokens" -> qBpeTokens,
    "q_shard_plan" -> qShardPlan,
    "q_merge_upsert" -> qMergeUpsert,
    "q_bloom_prefilter" -> qBloomPrefilter,
    "q_format_roundtrip" -> qFormatRoundtrip,
    "q_zorder" -> qZorder,
    "q_hll_rollup" -> qHllRollup)

  val oracles: Map[String, String] = Map(
    "q_srt_extract" -> {
      def TS(v: String) =
        s"'00:00:' || lpad(CAST(($v) // 1000 AS VARCHAR), 2, '0') || " +
          s"',' || lpad(CAST(($v) % 1000 AS VARCHAR), 3, '0')"
      val blocks = (0 until 4).map { i =>
        val start = s"${1000 * i} + (doc_id % 7) * 100"
        val end = s"$start + 500 + (doc_id % 9) * 100"
        s"(CASE WHEN $i <= doc_id % 4 THEN '${i + 1}' || chr(10) || " +
          s"${TS(start)} || ' --> ' || ${TS(end)} || chr(10) || " +
          s"'caption ${i + 1} for doc ' || CAST(doc_id AS VARCHAR) || " +
          s"chr(10) || chr(10) ELSE '' END)"
      }.mkString(" || ")
      val timing = "\\d{2}:\\d{2}:\\d{2},\\d{3}"
      def MS(x: String) =
        s"(CAST(substr($x, 1, 2) AS BIGINT) * 3600000 + " +
          s"CAST(substr($x, 4, 2) AS BIGINT) * 60000 + " +
          s"CAST(substr($x, 7, 2) AS BIGINT) * 1000 + " +
          s"CAST(substr($x, 10, 3) AS BIGINT))"
      s"""WITH s AS (SELECT doc_id, $blocks AS srt FROM documents),
         |p AS (SELECT doc_id,
         |  regexp_extract_all(srt, '$timing --> $timing') AS m,
         |  regexp_extract_all(srt, '--> $timing\\n([^\\n]+)', 1) AS texts
         |FROM s)
         |SELECT doc_id, CAST(len(m) AS INTEGER) AS n_cues,
         |  CAST(coalesce(list_sum(list_transform(m, x ->
         |    ${MS("substr(x, 18, 12)")} - ${MS("substr(x, 1, 12)")})), 0)
         |    AS BIGINT) AS caption_ms,
         |  array_to_string(texts, ' ') AS transcript
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "q_html_extract" -> {
      val html = htmlPieces.map {
        case Left(l)  => "'" + l.replace("'", "''") + "'"
        case Right(e) => s"CAST($e AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH h AS (SELECT doc_id, $html AS html FROM documents),
         |e AS (SELECT doc_id, ${TextStats.EXTRACT_HTML("html")} AS text_clean
         |      FROM h)
         |SELECT doc_id, text_clean,
         |  CAST(len(${TextStats.TOKENS("text_clean")}) AS INTEGER) AS n_tokens
         |FROM e ORDER BY doc_id""".stripMargin
    },
    "q_bpe_tokens" -> {
      val m = Bpe.shipped
      val T = TextStats.TOKENS("text")
      s"""SELECT doc_id,
         |  CAST(len($T) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         |    AS INTEGER) AS n_regex_tokens,
         |  CAST(coalesce(list_sum(list_transform($T,
         |    w -> CAST(len(regexp_extract_all(w, '(?s).')) AS BIGINT))), 0)
         |    AS BIGINT) AS n_chars,
         |  ${Bpe.TOKEN_COUNT("text", m)} AS n_bpe_tokens,
         |  round(CAST(${Bpe.TOKEN_COUNT("text", m)} AS DOUBLE)
         |    / greatest(CAST(coalesce(list_sum(list_transform($T,
         |        w -> CAST(len(regexp_extract_all(w, '(?s).')) AS BIGINT))), 0)
         |        AS BIGINT), 1), 6) AS compression
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_shard_plan" ->
      """WITH s AS (SELECT doc_id, source,
        |    CAST(strlen(coalesce(text, '')) AS BIGINT) AS nb
        |  FROM documents),
        |c AS (SELECT *, coalesce(sum(nb) OVER (PARTITION BY source
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM s)
        |SELECT source, CAST(cum // 8192 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_bytes
        |FROM c GROUP BY 1, 2 ORDER BY source, shard""".stripMargin,
    "q_merge_upsert" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |f AS (SELECT * FROM base WHERE o_orderstatus = 'F'),
         |src AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    o_totalprice + 100.0 AS o_totalprice, FALSE AS is_delete
         |  FROM f WHERE o_orderkey % 7 = 3
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE
         |  FROM f WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 <> 3
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice, FALSE
         |  FROM f WHERE o_orderkey % 101 = 0),
         |final AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
         |  UNION ALL
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM src
         |  WHERE NOT is_delete)
         |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         |  ${Q.DSUM("o_totalprice")} AS total,
         |  CAST(2 AS BIGINT) AS version
         |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bloom_prefilter" ->
      s"""WITH fps AS (SELECT doc_id,
         |    ${TextStats.FINGERPRINT("coalesce(text, '')")} AS fp
         |  FROM documents)
         |SELECT doc_id,
         |  fp NOT IN (SELECT fp FROM fps WHERE doc_id % 2 = 0) AS is_new
         |FROM fps WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin,
    "q_format_roundtrip" -> {
      val rowKey = "CAST(doc_id AS VARCHAR) || chr(1) || " +
        "coalesce(source, '') || chr(1) || " +
        "(CASE WHEN text IS NULL THEN 'N' ELSE 'V' END) || chr(1) || " +
        "coalesce(text, '')"
      s"""WITH h AS (
         |  SELECT ${graft.text.Dedup.MD5_HASH64(rowKey)} >> 4 AS h
         |  FROM documents),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(bit_xor(h) AS BIGINT) AS content_xor
         |      FROM h)
         |SELECT f.format, a.n_docs, a.content_xor
         |FROM (VALUES ('csv'), ('json'), ('orc'), ('parquet')) AS f(format), a
         |ORDER BY format""".stripMargin
    },
    "q_zorder" ->
      s"""WITH z AS (
         |  SELECT o_orderkey,
         |    ${graft.ops.ZOrder.Z_VALUE2("o_custkey % 256", "o_orderkey % 256", 8)} AS z
         |  FROM orders)
         |SELECT z >> 8 AS z_bucket, CAST(count(*) AS BIGINT) AS n_orders,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hll_rollup" ->
      s"""WITH fps AS (SELECT source,
         |    ${TextStats.FINGERPRINT("coalesce(text, '')")} AS fp
         |  FROM documents)
         |SELECT source, CAST(count(DISTINCT fp) AS BIGINT) AS n_exact,
         |  TRUE AS est_ok, TRUE AS merge_ok
         |FROM fps GROUP BY source
         |UNION ALL
         |SELECT 'TOTAL', CAST(count(DISTINCT fp) AS BIGINT), TRUE, TRUE
         |FROM fps
         |ORDER BY source""".stripMargin)
}
