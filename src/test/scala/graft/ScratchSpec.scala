package graft

import java.io.File

/** The scratch lifecycle: block-scoped directories vanish with their
  * block, memo directories are built once, and a long-lived session
  * running lake queries leaves nothing behind in `java.io.tmpdir`
  * except the scratch root's memos. Persisted frames outlive a call
  * until the runner clears the cache, unless the call collected. */
class ScratchSpec extends SparkSuite {

  private def names(dir: File): Set[String] =
    Option(dir.list()).fold(Set.empty[String])(_.toSet)

  test("withDir deletes its directory when the block exits, also on failure") {
    val kept = Scratch.withDir("graft_spec") { dir =>
      new File(dir, "f").createNewFile()
      dir
    }
    assert(!new File(kept).exists())
    var failed = ""
    intercept[IllegalStateException] {
      Scratch.withDir("graft_spec") { dir => failed = dir; throw new IllegalStateException }
    }
    assert(failed.nonEmpty && !new File(failed).exists())
  }

  test("memo builds once per key and keeps its directory") {
    var builds = 0
    def m = Scratch.memo("spec_memo", "k") { dir =>
      builds += 1
      new File(dir, "f").createNewFile()
    }
    val a = m
    assert(m == a && builds == 1 && new File(a, "f").exists())
    intercept[RuntimeException](Scratch.memo("spec_memo", "bad")(_ => sys.error("x")))
    assert(Scratch.memo("spec_memo", "bad")(_ => ()).nonEmpty)
  }

  test("a lake subset run twice leaves only memos in the scratch root") {
    val rows = Seq("q_branch_publish", "q_sql_branch", "q_sql_ddl",
      "q_manifest_segments", "q_sql_tag_travel", "q_winnow")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val root = Scratch.root.toFile
    // compression codecs unpack their native library into tmpdir once
    // per JVM on first use; load it before the snapshot
    Scratch.withDir("graft_spec") { d => spark.range(1).write.parquet(d + "/w") }
    val before = names(tmp)
    def run(): Unit = rows.foreach { n =>
      Bench.timedAction(SparkEntry.queries(n)(spark, sf("sf0.001")))
    }
    run()
    val firstMemos = names(root).filter(_.startsWith("memo-"))
    run()
    val leaked = names(tmp) -- before
    assert(leaked.isEmpty, s"new entries in java.io.tmpdir outside the scratch root: $leaked")
    val (memos, rest) = names(root).partition(_.startsWith("memo-"))
    assert(memos.nonEmpty && memos == firstMemos,
      s"the second run added memo directories: ${memos -- firstMemos}")
    // no per-call (`gen-`) or block-scoped directory outlives its call
    assert(rest.isEmpty, s"directories that outlived their call: $rest")
  }

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("two q_lm_bigram runs leave its persisted frames in the CacheManager") {
    spark.catalog.clearCache()
    (1 to 2).foreach(_ =>
      Bench.timedAction(SparkEntry.queries("q_lm_bigram")(spark, sf("sf0.001"))))
    assert(!cacheEmpty, "the second run released the frames it reads")
    assert(!spark.sparkContext.getPersistentRDDs.isEmpty)
    spark.catalog.clearCache()
  }

  test("q_textrank_keywords leaves nothing cached") {
    spark.catalog.clearCache()
    Bench.timedAction(SparkEntry.queries("q_textrank_keywords")(spark, sf("sf0.001")))
    assert(cacheEmpty, "the collected token frame is still cached")
  }
}
