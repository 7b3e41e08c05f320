package graft

import java.util.concurrent.CountDownLatch

import graft.tools.Probe

/** `tools/Probe` counts the same Spark work for a row every time it runs
  * in one session, and [[Jobs.during]] counts only the calling thread's
  * jobs. */
class ProbeSpec extends SparkSuite {

  test("Probe.run counts the same jobs, stages and tasks on a second run") {
    // a TPC row, a text row with persisted frames, a lake row
    val rows = Seq("q1_pricing", "q_lm_bigram", "q_sql_tag_travel")
    val first = Probe.run(spark, sf("sf0.001"), rows)
    val second = Probe.run(spark, sf("sf0.001"), rows)
    assert(first.map(_.row) == rows && second.map(_.row) == rows)
    for ((a, b) <- first.zip(second)) {
      def shape(r: Probe.Record) = (r.rows, r.counts.jobs, r.counts.stages, r.counts.tasks)
      assert(a.counts.jobs > 0 && a.counts.tasks >= a.counts.stages, a.line)
      assert(shape(a) == shape(b), s"${a.line} then ${b.line}")
    }
  }

  test("Jobs.during leaves out a job that another thread runs at the same time") {
    val sc = spark.sparkContext
    val go = new CountDownLatch(1)
    var otherRows = 0L
    // started before the block, so it does not inherit the block's tag
    val other = new Thread(() => {
      go.await()
      otherRows = sc.parallelize(1 to 4, 2).map { x => Thread.sleep(300); x }.count()
    })
    other.start()
    val (n, counts) = Jobs.during(sc) {
      go.countDown()
      while (sc.statusTracker.getActiveJobIds().isEmpty) Thread.sleep(5)
      val mine = sc.parallelize(1 to 10, 3).count()
      other.join()
      mine
    }
    assert(n == 10 && otherRows == 4)
    assert(counts.jobs == 1 && counts.stages == 1 && counts.tasks == 3, counts)
  }
}
