package graft.tools

import graft.Session
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.text.Similarity

/** Scratch measurement: pair recall of the cosinePairsLsh scale path
  * vs the exact all-pairs truth, per SF and per (nTables, chunkBits)
  * dial — picks the floor for q_cosine_pairs_lsh. */
object LshPairRecall {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
      val truth = Similarity.cosinePairs(e, 0.45, maxExact = Long.MaxValue)
        .select("vec_a", "vec_b").cache()
      val nTrue = truth.count()
      for ((nt, cb, mp) <- Seq((8, 7, false), (8, 7, true), (8, 6, true), (7, 9, true))) {
        val found = Similarity.cosinePairsLsh(e, 0.45, nTables = nt,
            chunkBits = cb, multiProbe = mp)
          .select("vec_a", "vec_b")
        val nFound = found.count()
        val nHits = found.join(truth, Seq("vec_a", "vec_b")).count()
        val rec = if (nTrue == 0) 1.0 else nHits.toDouble / nTrue
        println(f"$sf tables=$nt bits=$cb probe=$mp n_true=$nTrue n_found=$nFound n_hits=$nHits recall=$rec%.3f")
      }
      truth.unpersist()
    }
    spark.stop()
  }
}
