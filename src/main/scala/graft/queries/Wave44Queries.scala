package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Scratch
import graft.ops.Versioned
import graft.streaming.Events
import graft.text.Dedup

/** Round-9 wave 44 — the streaming right-to-be-forgotten loop:
  *
  *  - `q_stream_dv`: erasure REQUESTS (customer ids) arrive as a real
  *    file stream in three mtime-pinned micro-batches; each batch is
  *    applied to the versioned lake as a MERGE-ON-READ vectored
  *    delete inside `foreachBatch`, exactly-once via the
  *    batchId↔version skip (a replayed batch re-deletes only if its
  *    version is missing — [[Versioned.deleteVectored]] commits are
  *    idempotent per version by the lock protocol). ZERO data files
  *    are rewritten across the whole run (the receipt pins the final
  *    file list IDENTICAL to v1's); the erased customers are gone
  *    from the current snapshot (fingerprint = the oracle's replay)
  *    while every pre-erasure version still time-travels.
  *
  * 100 TB story: this is how a compliance stream hits a petabyte
  * table — each request batch costs O(erased rows) vector append, no
  * rewrite storm; the rewrite is amortized into the next scheduled
  * [[Versioned.compactSmall]]. The erasure id list per batch is
  * driver-collected by design: right-to-be-forgotten requests are
  * human-scale, and the predicate they build pushes down into the
  * column-pruned find pass.
  */
object Wave44Queries extends QueryModule {

  private def fpCol(cols: org.apache.spark.sql.Column*) =
    shiftrightunsigned(Dedup.md5Hash64(concat_ws("#", cols: _*)), 4)

  def qStreamDv(s: SparkSession, d: String): DataFrame = {
    // the three staged request batches are constants — memoized for
    // the JVM's life; the checkpoint and the MUTATED lake clone stay
    // per-run (a reused checkpoint would skip every batch and leave
    // the fresh clone untouched)
    val dir = Events.stagedInputs("sdv_batches") { dir0 =>
      val hfs = new org.apache.hadoop.fs.Path(dir0)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      import s.implicits._
      (0 to 2).foreach { b =>
        val stage = s"$dir0/stage/b$b"
        Seq(b + 1L).toDF("c").coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = hfs.listStatus(new org.apache.hadoop.fs.Path(stage))
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no staged part file for batch $b"))
        val in = new org.apache.hadoop.fs.Path(s"$dir0/in/b$b.parquet")
        hfs.mkdirs(in.getParent)
        hfs.rename(part, in)
        hfs.setTimes(in, 10000L * (b + 1), -1L)
      }
    }
    Scratch.withCheckpoint("sdv") { ck =>
      LakeFixtures.withClone(s,
        LakeFixtures.ordersRange16(s, d), "graft_sdv_lake") { lakePath =>
        import s.implicits._
        val v1Files = Versioned.files(s, lakePath, Some(1L))
        val stream = s.readStream
          .schema(StructType(Seq(StructField("c", LongType))))
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
        val q = stream.writeStream
          .foreachBatch { (bdf: DataFrame, batchId: Long) =>
            val committed = Versioned.currentVersion(s, lakePath).getOrElse(0L)
            if (committed < batchId + 2) { // replay-idempotent: b → v(b+2)
              val ids = bdf.select("c").distinct().collect()
                .map(_.getLong(0)).toSeq
              if (ids.nonEmpty) {
                Versioned.deleteVectored(s, lakePath, col("c").isin(ids: _*))
                ()
              }
            }
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try {
          q.processAllAvailable()
          if (!q.awaitTermination(300000L))
            sys.error("stream-dv replay did not terminate within 300s")
        } finally q.stop()
        val nv = Versioned.currentVersion(s, lakePath).getOrElse(0L)
        val filesIdentical = Versioned.files(s, lakePath) == v1Files
        val dvRows = Versioned.deletionVector(s, lakePath)
          .map(_.count()).getOrElse(0L)
        val v1Erased = Versioned.read(s, lakePath, Some(1L))
          .filter(col("c").isin(1L, 2L, 3L)).count()
        val r = Versioned.read(s, lakePath)
          .withColumn("fp", fpCol(col("k"), col("c"), col("st"),
            floor(col("p") * lit(100.0) + lit(0.5)).cast("long")))
          .agg(count(lit(1)).as("n_rows"), Q.dsum(col("p")).as("sum_price"),
            expr("bit_xor(fp)").as("xor_fp")).head()
        Seq((r.getLong(0), r.getDouble(1), r.getLong(2),
            Q.receipt(filesIdentical, "final file list differs from v1"),
            Q.receipt(dvRows == v1Erased,
              s"dvRows=$dvRows v1Erased=$v1Erased"),
            nv.toInt))
          .toDF("n_rows", "sum_price", "xor_fp", "zero_rewrite",
            "dv_complete", "n_versions")
      }
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_dv" -> qStreamDv)

  val oracles: Map[String, String] = Map(
    "q_stream_dv" ->
      s"""WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
         |    o_orderstatus AS st, o_totalprice AS p
         |  FROM orders WHERE o_custkey NOT IN (1, 2, 3)),
         |fp AS (SELECT p,
         |    md5_number_upper(CAST(k AS VARCHAR) || '#' ||
         |      CAST(c AS VARCHAR) || '#' || st || '#' ||
         |      CAST(CAST(floor(p * 100.0 + 0.5) AS BIGINT) AS VARCHAR))
         |      >> 4 AS fp
         |  FROM b)
         |SELECT count(*) AS n_rows, ${Q.DSUM("p")} AS sum_price,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
         |  'ok' AS zero_rewrite, 'ok' AS dv_complete, 4 AS n_versions
         |FROM fp""".stripMargin)
}
