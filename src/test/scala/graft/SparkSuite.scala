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

  /** A fresh directory for a spec's tables and outputs. All of them sit
    * in one JVM-lifetime [[Scratch]] directory, like the warehouse, so
    * specs leave nothing in `java.io.tmpdir` and nothing beside the
    * engine's own scratch under `Scratch.root`. */
  def tmp(prefix: String = "graft"): String =
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      Scratch.memo("specs", "dirs")(_ => ()),
      s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}")).toString

  /** Delete spec directories early, through their own filesystem. */
  def rm(dirs: String*): Unit = dirs.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
