package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.io.Tables
import graft.streaming.{Events, StatefulTopK, TopKIn}

/** Round-8 wave 21 — the Spark-4 arbitrary-state streaming API and a
  * classic numeric-forensics audit:
  *
  *  - `q_stream_topk`: per-event-type top-3 user leaderboard kept in
  *    `transformWithState` typed state (MapState on RocksDB) across a
  *    REAL 3-micro-batch file replay — the `mapGroupsWithState`
  *    successor surface, with the final leaderboard proven equal to
  *    the batch recompute.
  *  - `q_benford`: first-significant-digit distribution of order
  *    totals against Benford's law with the χ² distance — the
  *    data-forensics shape (digits from exact integer cents, so no
  *    float log is ever used to EXTRACT a digit).
  */
object Wave21Queries extends QueryModule {

  // ---- streaming top-k via transformWithState ----

  /** Stage the events table as three mtime-ordered parquet files
    * (event_id mod 3) and replay them one per micro-batch through
    * [[StatefulTopK]]; state must survive the batch boundaries, so
    * the final per-type leaderboard (the rows of each key's LAST
    * emission) matches the all-batch recompute the oracle runs. */
  def qStreamTopk(s: SparkSession, d: String): DataFrame = {
    // staged batch files are immutable per sf dir — memoized for the
    // JVM's life (Events.stagedInputs), so the three full events
    // scans + single-task writes are paid once, not per run
    val dir = Events.stagedInputs(s"topk|$d") { dir0 =>
      val hfs = new org.apache.hadoop.fs.Path(dir0)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      (0 to 2).foreach { b =>
        val stage = s"$dir0/stage/b$b"
        ev.filter(col("event_id") % 3 === b)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = hfs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no staged part file for batch $b"))
        val in = new org.apache.hadoop.fs.Path(s"$dir0/in/b$b.parquet")
        hfs.mkdirs(in.getParent)
        hfs.rename(part, in)
        hfs.setTimes(in, 10000L * (b + 1), -1L)
      }
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("user_id", LongType)))
    import s.implicits._
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .select(col("event_type"), col("user_id")).as[TopKIn]
    val out = stream.groupByKey(_.event_type)
      .transformWithState(new StatefulTopK(3), TimeMode.None(),
        OutputMode.Update())
      .toDF()
    val emissions = Events.runToCompletion(s, out, mode = "update",
      wideState = true)
    // per-key max via a window, not a self-join
    emissions
      .withColumn("mx", max(col("emit_seq")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .filter(col("emit_seq") === col("mx"))
      .select(col("event_type"), col("rank"), col("user_id"), col("cnt"))
      .orderBy("event_type", "rank")
  }

  // ---- Benford first-digit audit ----

  /** First significant digit of each order total (from exact integer
    * cents — `substr` of a BIGINT rendering, never a float log),
    * observed share vs Benford's log10(1 + 1/d), χ² contribution per
    * digit and the summed statistic as a TOTAL row. One 9-cell
    * aggregation; the float work is the closed-form expectation and
    * an order-pinned 9-term fold. */
  def qBenford(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val digit = substring(cents.cast("string"), 1, 1)
    val cells = Tables.load(s, d, "orders")
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = cells.agg(sum(col("n_obs")).as("n"))
    val e = cells.crossJoin(broadcast(tot))
      .withColumn("share", round(col("n_obs").cast("double") / col("n"), 6))
      .withColumn("benford",
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
      .withColumn("expected", col("n") * log10(lit(1.0) +
        lit(1.0) / col("digit").cast("double")))
      .withColumn("contrib",
        (col("n_obs") - col("expected")) * (col("n_obs") - col("expected"))
          / col("expected"))
    val total = e
      .agg(sort_array(collect_list(struct(col("digit"), col("contrib"))))
        .as("cs"))
      .select(lit("TOTAL").as("digit"), lit(null).cast("long").as("n_obs"),
        lit(null).cast("double").as("share"),
        lit(null).cast("double").as("benford"),
        round(expr("aggregate(cs, 0d, (a, x) -> a + x.contrib)"), 6)
          .as("chi2"))
    e.select(col("digit"), col("n_obs"), col("share"), col("benford"),
        round(col("contrib"), 6).as("chi2"))
      .unionByName(total)
      .orderBy("digit")
  }

  // ---- registry ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_topk" -> qStreamTopk,
    "q_benford"     -> qBenford)

  val oracles: Map[String, String] = Map(
    "q_stream_topk" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, cnt,
        |        CAST(row_number() OVER (PARTITION BY event_type
        |          ORDER BY cnt DESC, user_id) AS INTEGER) AS rank
        |      FROM c)
        |SELECT event_type, rank, user_id, cnt FROM r
        |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,
    "q_benford" ->
      """WITH cents AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |cells AS (SELECT substr(CAST(c AS VARCHAR), 1, 1) AS digit,
        |            count(*) AS n_obs
        |          FROM cents GROUP BY 1),
        |n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM cells),
        |e AS (SELECT digit, n_obs,
        |        round(CAST(n_obs AS DOUBLE) / n.n, 6) AS share,
        |        round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
        |          AS benford,
        |        n.n * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected
        |      FROM cells CROSS JOIN n),
        |e2 AS (SELECT *,
        |        (n_obs - expected) * (n_obs - expected) / expected
        |          AS contrib
        |       FROM e),
        |tot AS (SELECT 'TOTAL' AS digit, CAST(NULL AS BIGINT) AS n_obs,
        |    CAST(NULL AS DOUBLE) AS share, CAST(NULL AS DOUBLE) AS benford,
        |    round(list_sum(list(contrib ORDER BY digit)), 6) AS chi2
        |  FROM e2)
        |SELECT digit, n_obs, share, benford, round(contrib, 6) AS chi2
        |FROM e2
        |UNION ALL
        |SELECT * FROM tot
        |ORDER BY digit""".stripMargin)
}
