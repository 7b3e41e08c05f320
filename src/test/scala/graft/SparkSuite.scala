package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), built by
  * [[Session]] like Verify/Bench, with few shuffle partitions. The
  * warehouse is one [[Scratch]] directory per JVM, removed at exit
  * (specs address tables by path, so it stays empty). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      Scratch.memo("warehouse", "spark-sql")(_ => ()))
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"
}
