package graft.tools

import graft.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder tooling (not engine code): scale the synthetic test tables
  * up by an integer factor with REFERENTIALLY CONSISTENT key shifts —
  * replica `i` of every table shifts each key family by
  * `i × (max key + 1)` of the OWNING table, so joins match exactly
  * within a replica and never across replicas. Row counts, join
  * cardinalities and aggregate magnitudes scale linearly; fixed
  * dimensions (region, nation) stay fixed; timestamps keep their
  * range (time-density grows with the factor, as a bigger cluster's
  * ingest would).
  *
  * Text/embedding payloads are PERTURBED per replica by default so a
  * scaled corpus's near-dup group sizes MATCH the source corpus's —
  * verbatim replication makes every doc `factor` exact copies, so
  * pair-miner output grows ~(factor choose 2)×/group and sf1 slopes
  * measure the fixture, not the operator (the r14 finding). The
  * perturbations are within-replica-similarity-PRESERVING and
  * cross-replica-similarity-DESTROYING:
  *  - documents.text: the last ~25 % of each doc's tokens get a
  *    replica-unique suffix (`tok` → `tok~i`). The map is the SAME
  *    injective per-token rewrite for every doc of replica `i`, so
  *    any shingle two docs shared still matches within the replica —
  *    within-replica Jaccard is preserved and the replica reproduces
  *    the source corpus's group structure. Across replicas the tail
  *    shingle sets are disjoint, so J(copy_i, copy_j) ≈
  *    (1−r)/(1+r) = 0.6 at r=0.25 — below the 0.8 miner threshold.
  *  - embeddings.embedding: a SIGNED PERMUTATION of the coordinates,
  *    seeded by the replica index. A signed permutation is an
  *    orthogonal map, so every within-replica inner product (hence
  *    cosine) is preserved EXACTLY; across replicas cos(P_i v, P_j v)
  *    is ~N(0, 1/√dim) on the near-uniform test embeddings — far
  *    below the 0.45 pair threshold.
  * Replica 0 stays verbatim, so the source corpus is a subset of the
  * scaled one. Pass `verbatim` as the 4th arg for the old worst-case
  * exact-duplicate stress.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor> [verbatim|perturb]
  * Emits one single-file `<t>.parquet` per table (what DuckDB's
  * oracle loader and `Tables.load` both expect). */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, dst, factorS) = (args(0), args(1), args(2))
    val perturb = args.lift(3).forall(_ != "verbatim")
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = Session.local(16).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def load(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def keyMax(t: String, c: String): Long =
      load(t).agg(max(col(c))).head().getLong(0) + 1L

    val kc = keyMax("customer", "c_custkey")
    val ks = keyMax("supplier", "s_suppkey")
    val kp = keyMax("part", "p_partkey")
    val ko = keyMax("orders", "o_orderkey")
    val ke = keyMax("events", "event_id")
    val ku = keyMax("events", "user_id")
    val kd = keyMax("documents", "doc_id")
    val kv = keyMax("embeddings", "vec_id")

    val shifts: Map[String, Seq[(String, Long)]] = Map(
      "region" -> Seq.empty,
      "nation" -> Seq.empty,
      "customer" -> Seq("c_custkey" -> kc),
      "supplier" -> Seq("s_suppkey" -> ks),
      "part" -> Seq("p_partkey" -> kp),
      "orders" -> Seq("o_orderkey" -> ko, "o_custkey" -> kc),
      "lineitem" -> Seq("l_orderkey" -> ko, "l_partkey" -> kp,
        "l_suppkey" -> ks),
      "events" -> Seq("event_id" -> ke, "user_id" -> ku),
      "documents" -> Seq("doc_id" -> kd),
      "embeddings" -> Seq("vec_id" -> kv))

    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dst))
    val embDim: Int =
      load("embeddings").select(size(col("embedding"))).head().getInt(0)

    // within-replica-preserving, cross-replica-destroying payload
    // perturbations (see scaladoc); identity for replica 0
    def perturbText(df: DataFrame, i: Int): DataFrame =
      if (!perturb || i == 0) df
      else {
        val toks = split(col("text"), " ")
        val n = size(toks)
        val keepN = greatest(lit(0),
          (n - greatest(lit(1), ceil(n * lit(0.25)))).cast("int"))
        val tail = transform(
          slice(toks, keepN + lit(1), greatest(lit(0), n - keepN)),
          tk => concat(tk, lit(s"~$i")))
        df.withColumn("text",
            concat_ws(" ", concat(slice(toks, lit(1), keepN), tail)))
          .withColumn("n_chars", length(col("text")))
      }

    def perturbEmbedding(df: DataFrame, i: Int): DataFrame =
      if (!perturb || i == 0) df
      else {
        // deterministic signed permutation per replica (orthogonal:
        // exact within-replica cosine preservation)
        val rnd = new scala.util.Random(i.toLong * 7919L + 13L)
        val perm = rnd.shuffle((1 to embDim).toVector)
        val signs = Vector.fill(embDim)(if (rnd.nextBoolean()) 1f else -1f)
        df.withColumn("embedding", array(perm.indices.map(j =>
          (element_at(col("embedding"), perm(j)) * lit(signs(j)))
            .cast("float")): _*))
      }

    shifts.foreach { case (t, ss) =>
      val base = load(t)
      val out: DataFrame =
        if (ss.isEmpty) base // fixed dimension
        else (0 until factor).map { i =>
          val shifted = ss.foldLeft(base) { case (df, (c, k)) =>
            df.withColumn(c, col(c) + lit(i.toLong * k))
          }
          t match {
            case "documents" => perturbText(shifted, i)
            case "embeddings" => perturbEmbedding(shifted, i)
            case _ => shifted
          }
        }.reduce(_ unionByName _)
      val tmp = s"$dst/_tmp_$t"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dst/$t.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"SCALEUP $t -> $dst/$t.parquet")
    }
    spark.stop()
  }
}
