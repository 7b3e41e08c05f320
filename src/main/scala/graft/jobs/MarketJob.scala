package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.io.Csv
import graft.ops.{MarketPipeline, Validation}

/** The reference's Spark job as a standalone program — argv contract and
  * outputs of `controller/script.py:110-123` reproduced:
  *
  * {{{
  * MarketJob <initial_date> <final_date> <job_id> <dataset_path> [output_root]
  * }}}
  *
  * Reads the wide market CSV, writes `<output_root>/<job_id>/daily_returns`
  * and `<output_root>/<job_id>/average_daily_return` as single-part
  * header CSVs (ref `controller/script.py:52-65`), exit code -1 on any
  * failure (ref `controller/script.py:29-31,48-50,63-65`). Differences
  * by design: in-process session (no spark-submit hop), the returns
  * lineage is cached instead of recomputed for the average (ref wart,
  * SURVEY.md §4.3), and validation reports all errors.
  */
object MarketJob {

  def run(spark: SparkSession, initialDate: String, finalDate: String,
          jobId: String, datasetPath: String, outputRoot: String): Unit = {
    val market = Csv.readInferred(spark, datasetPath)
    val (returns, average) = MarketPipeline.run(market, initialDate, finalDate)
    try {
      Csv.writeSingle(returns, s"$outputRoot/$jobId/daily_returns")
      Csv.writeSingle(average, s"$outputRoot/$jobId/average_daily_return")
    } finally returns.unpersist() // a long-lived server runs many jobs
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: MarketJob <initial_date> <final_date> <job_id> <dataset_path> [output_root]")
      sys.exit(-1)
    }
    val Array(initial, fin, jobId, dataset) = args.take(4)
    val outputRoot = if (args.length > 4) args(4) else "/tmp/graft-output"
    val dateErrs = Seq(initial, fin).filterNot(Validation.isValidDate)
    if (dateErrs.nonEmpty) {
      System.err.println(s"invalid yyyy-MM-dd date(s): ${dateErrs.mkString(", ")}")
      sys.exit(-1)
    }
    val builder = graft.Session.local().appName(s"graft-market-job-$jobId")
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    try run(spark, initial, fin, jobId, dataset, outputRoot)
    catch { case e: Throwable =>
      System.err.println(s"job $jobId failed: $e")
      spark.stop()
      sys.exit(-1)
    }
    spark.stop()
  }
}
