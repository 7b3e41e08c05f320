package graft.tools

import graft.Session
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Similarity

/** Scratch measurement: recall@k of the PQ/ADC path vs exact top-k,
  * per SF and per (nSub, nCodes) dial — picks q_ann_pq's floor. */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
      val q = e.filter(col("vec_id") < lit(10L))
      val truth = Similarity.bruteForceTopK(e, q, 5)
        .select("query_id", "neighbor_id").cache()
      val nTrue = truth.count()
      for ((nSub, nCodes, sl) <- Seq((8, 16, 32), (8, 16, 64), (8, 16, 128),
          (16, 16, 64), (16, 32, 64))) {
        val found = Similarity.pqTopK(e, q, 5, nSub = nSub, nCodes = nCodes,
            shortlist = sl)
          .select("query_id", "neighbor_id")
        val nHits = found.join(truth, Seq("query_id", "neighbor_id")).count()
        val rec = if (nTrue == 0) 1.0 else nHits.toDouble / nTrue
        println(f"$sf nSub=$nSub nCodes=$nCodes sl=$sl n_true=$nTrue n_hits=$nHits recall=$rec%.3f")
      }
      truth.unpersist()
    }
    spark.stop()
  }
}
