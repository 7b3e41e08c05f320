package graft

import java.io.File

/** The scratch lifecycle: block-scoped directories vanish with their
  * block, a generation releases its predecessor, memo directories are
  * built once, and a long-lived session running lake queries leaves
  * nothing behind in `java.io.tmpdir` except the scratch root's memos
  * and one generation per key. */
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

  test("a new generation unpersists the previous frames and deletes its directory") {
    val g1 = Scratch.generation("spec_gen", spark)
    val df = spark.range(10).toDF("x").cache()
    df.count()
    g1.hold(df)
    val d1 = g1.dir
    assert(new File(d1).isDirectory)
    assert(df.storageLevel.isValid)
    val g2 = Scratch.generation("spec_gen", spark)
    assert(!new File(d1).exists())
    assert(!df.storageLevel.isValid)
    assert(new File(g2.dir).isDirectory)
    // another session's generation under the same op is independent
    val other = spark.newSession()
    val g3 = Scratch.generation("spec_gen", other)
    assert(new File(g2.dir).isDirectory && new File(g3.dir).isDirectory)
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

  test("a lake subset run twice leaves only memos and one generation per key") {
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
    val gens = rest.filter(_.startsWith("gen-"))
    assert(rest == gens, s"block-scoped directories outlived their block: ${rest -- gens}")
    val perOp = gens.groupBy(_.replaceAll("-\\d+$", ""))
    assert(perOp.values.forall(_.size == 1), s"more than one generation per key: $perOp")
  }
}
