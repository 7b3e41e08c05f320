package graft.tools

import graft.Session

/** Dev tool: dump formatted physical plans for the queries whose plan
  * shape matters at scale (pushdown, broadcast, partial agg, codegen).
  * Run: `sbt "runMain graft.tools.ExplainAudit [queryName...]"`. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_filter_project", "q_segment_revenue", "q_region_revenue",
               "q1_pricing", "q_top_customers", "q_daily_returns")
    val dir = "/root/testdata/sf0.001"
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
