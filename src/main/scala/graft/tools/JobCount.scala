package graft.tools

import graft.Session
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Builder-side evidence harness for ITERATIVE queries whose final
  * plan dump is checkpoint/collect-truncated (the plan file shows a
  * LocalTableScan or an RDD scan, not the per-round machinery): count
  * the Spark jobs, stages and tasks one full invocation schedules.
  * That count IS the fixed cost the collected-loop / lazy-truncation
  * optimizations remove. Usage:
  *   runMain graft.tools.JobCount <sfDir> <q1,q2,...>
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Session.local(Session.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val verbose = sys.env.contains("JOBCOUNT_VERBOSE")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val desc = Option(j.properties)
            .map(_.getProperty("spark.job.description", "")).getOrElse("")
          val site = Option(j.properties)
            .map(_.getProperty("callSite.short", "")).getOrElse("")
          println(s"JOB ${j.jobId} stages=${j.stageInfos.size} " +
            s"site=$site desc=${desc.take(60)}")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      val fn = graft.SparkEntry.queries(nm)
      spark.catalog.clearCache()
      // warm-up (JIT + shared fixture memos), then the counted run
      graft.Bench.timedAction(fn(spark, sfDir))
      Thread.sleep(300) // let the async listener bus drain
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      graft.Bench.timedAction(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(f"JOBCOUNT $nm jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} t=$sec%.2f s")
    }
    spark.stop()
  }
}
