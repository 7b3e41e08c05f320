package graft.tools

import graft.Session
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Similarity

/** Scratch measurement: recall@k of the IVF+PQ composite vs exact
  * top-k, per SF and per (nLists, nProbe, nSub, nCodes, shortlist)
  * dial — picks q_ann_ivfpq's floor. */
object IvfPqRecall {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
      val q = e.filter(col("vec_id") < lit(10L))
      val truth = Similarity.bruteForceTopK(e, q, 5)
        .select("query_id", "neighbor_id").cache()
      val nTrue = truth.count()
      for ((nl, np, nSub, nCodes, sl) <- Seq(
          (8, 4, 16, 32, 64), (8, 5, 16, 32, 64), (8, 6, 16, 32, 64),
          (16, 8, 16, 32, 64), (16, 10, 16, 32, 64))) {
        val found = Similarity.ivfPqTopK(e, q, 5, nLists = nl,
            nProbe = np, nSub = nSub, nCodes = nCodes, shortlist = sl)
          .select("query_id", "neighbor_id")
        val nHits = found.join(truth, Seq("query_id", "neighbor_id")).count()
        val rec = if (nTrue == 0) 1.0 else nHits.toDouble / nTrue
        println(f"$sf nLists=$nl nProbe=$np nSub=$nSub nCodes=$nCodes " +
          f"sl=$sl n_true=$nTrue n_hits=$nHits recall=$rec%.3f")
      }
      truth.unpersist()
    }
    spark.stop()
  }
}
