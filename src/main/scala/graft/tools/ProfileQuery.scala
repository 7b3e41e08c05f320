package graft.tools

import graft.Session

/** Builder-side profiling harness: time any registry query (cold+warm)
  * and dump its formatted physical plan. Usage:
  *   runMain graft.tools.ProfileQuery <sfDir> <queryName> [explain]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val doExplain = args.length > 2 && args(2) == "explain"
    val spark = Session.local(Session.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // comma-separated names profile several queries in ONE session
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      val fn = graft.SparkEntry.queries(nm)
      if (doExplain)
        println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      spark.catalog.clearCache()
      // rows via an untimed count; timed runs use the BENCH action
      // (all-columns hash) so profiling times the same plan the bench
      // does — a .count() here profiled the PRUNED plan and sent r15
      // chasing a q_twap "regression" the query didn't have
      val n = fn(spark, sfDir).count()
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        graft.Bench.timedAction(fn(spark, sfDir))
        println(f"PROFILE $nm run$i rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
