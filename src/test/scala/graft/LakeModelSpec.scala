package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.ops.Versioned

/** MODEL-BASED randomized check of the versioned lake's op algebra:
  * a seeded random interleaving of MERGE (upsert + delete flags),
  * copy-on-write DELETE, vectored DELETE, vectored UPDATE, full and
  * selective COMPACT, branch publishes, and SQL `DELETE` / `UPDATE`
  * (the connector's row-level path, keyed on the reader's row-id
  * columns) is applied both to the real table and to a trivial
  * in-memory Map model. After every op the current snapshot must equal
  * the model on BOTH read surfaces — `Versioned.read` and SQL through
  * the connector — and at the end EVERY historical version must still
  * equal its model snapshot on both (`VERSION AS OF` for SQL), also
  * through a byte copy of the table read with cold caches — the
  * strongest practical statement of snapshot isolation: no op, in any
  * order, may bleed into the past or lose a row. Seeds are fixed so a
  * failure replays deterministically. */
class LakeModelSpec extends SparkSuite {
  import spark.implicits._

  private type Model = Map[Long, Long] // k -> n

  private def readState(dir: String, v: Option[Long] = None): Model =
    Versioned.read(spark, dir, v).select("k", "n").as[(Long, Long)]
      .collect().toMap

  private def readSql(dir: String, v: Option[Long] = None): Model =
    spark.sql(s"SELECT k, n FROM lake.`$dir`" +
        v.fold("")(x => s" VERSION AS OF $x"))
      .as[(Long, Long)].collect().toMap

  private def df(rows: Seq[(Long, Long)]) = rows.toDF("k", "n")

  test("random op interleavings preserve the model at every version " +
      "(seeds 7 and 99)") {
    val sqlOps = mutable.Set[String]()
    Seq(7, 99).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val dir = tmp(s"graft_model_$seed")
      // published branches are referenced IN PLACE by main's
      // manifests (the shallow-clone contract), so branch roots
      // live until the end-of-run history check
      val branchRoot = tmp(s"graft_model_br_$seed")
      try {
        var model: Model = (1L to 30L).map(k => k -> k * 10L).toMap
        Versioned.init(df(model.toSeq).repartition(3), dir,
          statsCols = Seq("k"))
        val history = mutable.ArrayBuffer[Model](model)
        var branchNo = 0

        def commitExpected(newModel: Model): Unit = {
          model = newModel
          history += model
        }

        /** A SQL statement commits one version, or none when it
          * matches no row. */
        def sqlExpected(stmt: String, expected: Model): Unit = {
          val before = Versioned.currentVersion(spark, dir)
          spark.sql(stmt)
          if (Versioned.currentVersion(spark, dir) != before)
            commitExpected(expected)
          else assert(expected == model, s"no-op `$stmt` must mean no hits")
        }

        (1 to 14).foreach { step =>
          rnd.nextInt(9) match {
            case 0 => // merge: upsert a random batch
              val keys = (1 to 1 + rnd.nextInt(6))
                .map(_ => 1L + rnd.nextInt(40)).distinct
              val batch = keys.map(k => k -> (1000L * step + k))
              Versioned.merge(df(batch), dir, Seq("k"))
              commitExpected(model ++ batch)
            case 1 => // merge with delete flags
              val up = (1 to 3).map(_ => 1L + rnd.nextInt(40)).distinct
                .map(k => (k, 2000L * step + k, false))
              val del = (1 to 2).map(_ => 1L + rnd.nextInt(40)).distinct
                .filterNot(k => up.exists(_._1 == k))
                .map(k => (k, 0L, true))
              Versioned.merge((up ++ del).toDF("k", "n", "is_delete"),
                dir, Seq("k"), deleteCol = Some("is_delete"))
              commitExpected(model ++ up.map(t => t._1 -> t._2) -- del.map(_._1))
            case 2 => // copy-on-write delete by predicate
              val m = 2 + rnd.nextInt(5)
              val r = rnd.nextInt(m)
              val e = Versioned.delete(spark, dir, col("k") % m === r)
              val expected = model.filterNot { case (k, _) => k % m == r }
              if (e.version > 0) commitExpected(expected)
              else assert(expected == model, "no-op delete must mean no hits")
            case 3 => // vectored delete
              val m = 2 + rnd.nextInt(5)
              val r = rnd.nextInt(m)
              val e = Versioned.deleteVectored(spark, dir,
                col("k") % m === r)
              val expected = model.filterNot { case (k, _) => k % m == r }
              if (e.version > 0) commitExpected(expected)
              else assert(expected == model)
            case 4 => // vectored update
              val m = 2 + rnd.nextInt(4)
              val r = rnd.nextInt(m)
              val u = Versioned.updateVectored(spark, dir,
                col("k") % m === r, Map("n" -> (col("n") + 7L)))
              val expected = model.map { case (k, n) =>
                k -> (if (k % m == r) n + 7L else n) }
              if (u.version > 0) commitExpected(expected)
              else assert(expected == model)
            case 5 => // compact (full or selective) — data-identical
              if (rnd.nextBoolean()) {
                Versioned.compact(spark, dir, 1 + rnd.nextInt(3))
                commitExpected(model)
              } else {
                val c = Versioned.compactSmall(spark, dir,
                  minBytes = 1L << 20, targetFiles = 2)
                // no-op (version -1) when fewer than two slivers exist
                if (c.version > 0) commitExpected(model)
              }
            case 6 => // branch, mutate on the branch, squash publish
              branchNo += 1
              val br = s"$branchRoot/b$branchNo"
              Versioned.branch(spark, dir, br)
              val keys = (1 to 1 + rnd.nextInt(5))
                .map(_ => 1L + rnd.nextInt(40)).distinct
              val batch = keys.map(k => k -> (3000L * step + k))
              Versioned.merge(df(batch), br, Seq("k"))
              var expected = model ++ batch
              if (rnd.nextBoolean()) {
                val m = 2 + rnd.nextInt(5)
                val r = rnd.nextInt(m)
                val e = Versioned.deleteVectored(spark, br,
                  col("k") % m === r)
                if (e.version > 0)
                  expected = expected.filterNot { case (k, _) => k % m == r }
              }
              Versioned.publish(spark, br)
              commitExpected(expected)
            case 7 => // SQL DELETE: not a source filter, so row-level
              val m = 2 + rnd.nextInt(6)
              val r = rnd.nextInt(m)
              sqlExpected(s"DELETE FROM lake.`$dir` WHERE k % $m = $r",
                model.filterNot { case (k, _) => k % m == r })
            case 8 => // SQL UPDATE
              val m = 2 + rnd.nextInt(4)
              val r = rnd.nextInt(m)
              sqlExpected(
                s"UPDATE lake.`$dir` SET n = n + 1 WHERE k % $m = $r",
                model.map { case (k, n) =>
                  k -> (if (k % m == r) n + 1L else n) })
          }
          assert(readState(dir) == model,
            s"seed=$seed step=$step: current snapshot diverged from model")
          assert(readSql(dir) == model,
            s"seed=$seed step=$step: SQL read diverged from model")
        }
        // snapshot isolation across the WHOLE history, both surfaces
        history.zipWithIndex.foreach { case (m0, i) =>
          assert(readState(dir, Some(i + 1L)) == m0,
            s"seed=$seed: version ${i + 1} no longer matches its model")
          assert(readSql(dir, Some(i + 1L)) == m0,
            s"seed=$seed: SQL VERSION AS OF ${i + 1} diverged from model")
        }
        // a byte copy at a new path starts with cold metadata caches
        // (manifests, vectors) and must read every version the same
        val copy = dir + "_copy"
        val hconf = spark.sparkContext.hadoopConfiguration
        val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
        assert(org.apache.hadoop.fs.FileUtil.copy(hfs,
          new org.apache.hadoop.fs.Path(dir), hfs,
          new org.apache.hadoop.fs.Path(copy), false, hconf))
        history.zipWithIndex.foreach { case (m0, i) =>
          assert(readState(copy, Some(i + 1L)) == m0,
            s"seed=$seed: copied version ${i + 1} diverged from model")
          assert(readSql(copy, Some(i + 1L)) == m0,
            s"seed=$seed: copied SQL VERSION AS OF ${i + 1} diverged")
        }
        sqlOps ++= Versioned.history(spark, dir).map(_.operation)
          .filter(_.endsWith("_SQL"))
      } finally {
        Seq(dir, dir + "_copy", branchRoot).foreach { d0 =>
          val p = new org.apache.hadoop.fs.Path(d0)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      }
    }
    // the seeds must exercise both SQL row-level kinds
    assert(sqlOps == Set("DELETE_SQL", "UPDATE_SQL"), s"SQL ops: $sqlOps")
  }
}
