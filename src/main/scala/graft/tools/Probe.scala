package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{Bench, Jobs, Session, SparkEntry}

/** Profile registry rows one at a time in one session. For each row:
  * clear the cache, print its formatted physical plan and first 20
  * rows, then run [[Bench.timedAction]] once to warm up (JIT, memos,
  * its own persisted frames) and once measured, and print
  *
  *   PROBE <row> rows=… warm_s=… s=… jobs=… stages=… tasks=…
  *
  * for the measured run, its Spark work counted by [[Jobs.during]].
  * Usage: `runMain graft.tools.Probe <sfDir> <row[,row…]>`. */
object Probe {

  final case class Record(row: String, rows: Long, warmS: Double,
      s: Double, counts: Jobs.Counts) {
    def line: String =
      f"PROBE $row rows=$rows warm_s=$warmS%.3f s=$s%.3f " +
        s"jobs=${counts.jobs} stages=${counts.stages} tasks=${counts.tasks}"
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Record] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      spark.catalog.clearCache()
      val df = fn(spark, sfDir)
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      df.show(20, truncate = false)
      val rows = df.count()
      def timed(): Double = {
        val t0 = System.nanoTime()
        Bench.timedAction(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val warmS = timed()
      val (s, counts) = Jobs.during(spark.sparkContext)(timed())
      val r = Record(name, rows, warmS, s, counts)
      println(r.line)
      r
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, rows) = args
    val spark = Session.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, SparkEntry.names(rows))
    finally spark.stop()
  }
}
