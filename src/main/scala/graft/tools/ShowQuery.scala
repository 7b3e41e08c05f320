package graft.tools

import graft.Session

/** Builder-side inspection harness: print the first rows of any
  * registry query. Usage:
  *   runMain graft.tools.ShowQuery <sfDir> <queryName> [nRows]
  */
object ShowQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val n = if (args.length > 2) args(2).toInt else 20
    val spark = Session.local(Session.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.queries(name)(spark, sfDir).show(n, false)
    spark.stop()
  }
}
