package graft.jobs

import org.apache.spark.sql.{Observation, Row, SparkSession}

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
  * by design: in-process session (no spark-submit hop), the average is
  * observed on the `daily_returns` write instead of recomputing the
  * returns lineage (ref wart, SURVEY.md §4.3) — nothing is cached — and
  * validation reports all errors.
  */
object MarketJob {

  def run(spark: SparkSession, initialDate: String, finalDate: String,
          jobId: String, datasetPath: String, outputRoot: String): Unit = {
    val market = Csv.readInferred(spark, datasetPath)
    val assets = MarketPipeline.assetColumns(market)
    val returns = MarketPipeline.dailyReturns(market, initialDate, finalDate)
    // the averages ride the returns write: the window output is one
    // partition, so the observed avg folds the rows in the same order as
    // averageDailyReturn's aggregate and gives the same doubles
    val averages = MarketPipeline.averageColumns(assets)
    val observed = Observation()
    Csv.writeSingle(returns.observe(observed, averages.head, averages.tail: _*),
      s"$outputRoot/$jobId/daily_returns")
    val schema = MarketPipeline.averageDailyReturn(returns, assets).schema
    val values = observed.get
    val row = Row.fromSeq(schema.fieldNames.toSeq.map(values))
    Csv.writeSingle(spark.createDataFrame(java.util.List.of(row), schema),
      s"$outputRoot/$jobId/average_daily_return")
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
