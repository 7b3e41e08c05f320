package graft

/** Replicates the driver's t1 smoke gate: `SparkEntry.entry` on sf0.001
  * must return >0 rows. Run: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    // extension smoke: native expression + composed graft_* functions
    // reachable from plain SQL
    val d = spark.sql("SELECT vector_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .first().getDouble(0)
    println(s"VECTOR_DOT_SQL=$d")
    val fp = spark.sql("SELECT graft_fingerprint('Hello  World') AS fp, " +
        "graft_hash_bucket('k1', 1000) AS b").first()
    println(s"GRAFT_SQL=${fp.getString(0)},${fp.getLong(1)}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
