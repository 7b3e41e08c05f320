package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch
import graft.ops.Versioned
import graft.text.Dedup

/** Round-9 wave 63 — the lake as a Structured Streaming SINK, closing
  * the loop with wave 57's source:
  *
  *  - `q_stream_sink`: a lake→lake streaming pipe. The source side
  *    streams a table's commits (versions as offsets); the sink side
  *    lands each micro-batch as a STREAM-APPEND commit whose files
  *    were written BY THE EXECUTORS under the staging convention
  *    (rows never touch the driver), stamped with a (queryId, epoch)
  *    transaction sidecar — a crash-replayed epoch finds its stamp in
  *    the commit log and commits nothing, which is what turns
  *    at-least-once micro-batches into exactly-once table contents.
  *
  * 100 TB story: continuous ingestion into the lake costs each
  * commit's footprint once, inherits the table's CHECK constraints,
  * and needs zero engine-specific sink code — `writeStream
  * .format("graft-lake")` is the whole contract.
  */
object Wave63Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qStreamSink(s: SparkSession, d: String): DataFrame = {
    val src = LakeFixtures.ordersEvens16(s, d) // read-only source
    Scratch.withDir("graft_ssk") { work =>
      val (dst, cp) = (s"$work/t", s"$work/cp")
      import s.implicits._
      Versioned.init(Seq.empty[(Long, Long, String, Double)]
        .toDF("k", "c", "st", "p"), dst)
      val q = s.readStream.format("graft-lake").option("path", src)
        .load().writeStream.format("graft-lake").option("path", dst)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      val opOk = Versioned.history(s, dst).last.operation ==
        "STREAM-APPEND"
      val cur = Versioned.resolveVersion(s, dst, None)
      val txnOk = Versioned.currentVersion(s, dst).exists(_ >= 2L)
      val r = Versioned.read(s, dst)
        .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
          floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
        .agg(count(lit(1)).as("n"), Q.dsum(col("p")).as("sp"),
          expr("bit_xor(fp)").as("xf")).head()
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
          Q.receipt(opOk,
            s"last op=${Versioned.history(s, dst).last.operation}"),
          Q.receipt(txnOk && cur >= 2L,
            s"current version=$cur txnOk=$txnOk")))
        .toDF("n_rows", "sum_price", "xor_fp", "op_ok", "committed")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_sink" -> qStreamSink)

  val oracles: Map[String, String] = Map(
    "q_stream_sink" ->
      s"""WITH m AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders WHERE o_orderkey % 2 = 0),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM m)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS op_ok, 'ok' AS committed
         |FROM fp""".stripMargin)
}
