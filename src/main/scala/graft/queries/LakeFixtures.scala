package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Versioned

/** SHARED, IMMUTABLE base lakes for the registry's lake queries.
  *
  * Every lake query used to rebuild its own scratch lake from the
  * orders table on every invocation — at bench time that is two full
  * init writes per query (warm-up + timed) for a fixture that is
  * byte-identical across queries. Instead, each base shape is built
  * ONCE per JVM per scale-factor directory, and queries obtain their
  * own isolated table via [[Versioned.clone]] — a zero-copy metadata
  * commit (one small manifest write), which is exactly the
  * shallow-clone economics the lake itself advertises: dev/test
  * sandboxes against a production table that nobody copies.
  *
  * Isolation contract (why sharing is sound):
  *  - the base is NEVER written, compacted, or vacuumed — queries
  *    only clone it; every mutation (merge/delete/compact/vacuum)
  *    runs on the clone and stages files under the CLONE's directory;
  *  - [[Versioned.vacuum]] on a clone cannot touch base files: its
  *    data sweep walks only the clone's own `data/` directory, and
  *    shared files live under the base's;
  *  - queries whose semantics REQUIRE self-rooted files (e.g.
  *    [[graft.io.ExternalLog.export]]'s relative-path contract) keep
  *    building their own lake and must not use these fixtures.
  */
object LakeFixtures {

  /** First-staging seconds per fixture key — same attribution contract
    * as [[Memo.buildLog]] (r17): the bench warm-up absorbs each
    * fixture's one-time staging; the artifact records it. */
  val buildLog = scala.collection.concurrent.TrieMap[String, Double]()

  /** The shared (k, c, st, p) orders projection the lake queries use. */
  def ordersBase(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
        col("o_orderstatus").as("st"), col("o_totalprice").as("p"))

  /** JVM-lifetime memo ([[graft.Scratch.memo]]) of any immutable
    * derived directory fixture (base lakes, clustered layouts,
    * multi-commit replay bases). Only READ-ONLY fixtures may memoize —
    * anything a query mutates must stay per-run. */
  def memoDir(key: String, prefix: String)(init: String => Unit): String =
    graft.Scratch.memo(prefix, key) { dir =>
      val t0 = System.nanoTime()
      init(dir)
      buildLog.put(key, (System.nanoTime() - t0) / 1e9)
    }

  /** Full orders, range-clustered on the customer key into 16 files —
    * the erasure-locality layout (one customer ⇒ one file). */
  def ordersRange16(s: SparkSession, d: String): String =
    memoDir(s"r16|$d", "graft_base_r16") { dir =>
      Versioned.init(ordersBase(s, d).repartitionByRange(16, col("c")), dir)
    }

  /** Even order keys in 16 round-robin files — the wave-25/32
    * merge-round base. */
  def ordersEvens16(s: SparkSession, d: String): String =
    memoDir(s"e16|$d", "graft_base_e16") { dir =>
      Versioned.init(ordersBase(s, d).filter(col("k") % 2 === 0)
        .repartition(16), dir)
    }

  /** (o_orderkey, o_orderstatus, o_totalprice) partitioned by status —
    * the partition-scoped merge base. */
  def ordersByStatus(s: SparkSession, d: String): String =
    memoDir(s"st|$d", "graft_base_st") { dir =>
      Versioned.init(Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        dir, partitionCol = Some("o_orderstatus"))
    }

  /** (k, c, p, bkt = c DIV 100) bucket-clustered one file per bucket,
    * per-file min/max stats registered on c and a per-file Bloom
    * sidecar on k — the read-only layout for the data-skipping and
    * point-lookup probes and the metadata-only aggregates. */
  def ordersBuckets(s: SparkSession, d: String): String =
    memoDir(s"bkt|$d", "graft_base_bkt") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
        .withColumn("bkt", (col("c") / 100).cast("long"))
      Versioned.init(base.repartition(col("bkt")), dir,
        partitionCol = Some("bkt"), statsCols = Seq("c"),
        bloomCols = Seq("k"))
    }

  /** Even-doc_id documents as (doc_id, source, fp) — the CDC-cadence
    * lake base shared by the change-feed / incremental-aggregate /
    * stream-merge / time-travel queries. */
  def docsEvensFp(s: SparkSession, d: String): String =
    memoDir(s"defp|$d", "graft_base_defp") { dir =>
      val all = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          graft.text.TextStats.fingerprint(
            coalesce(col("text"), lit(""))).as("fp"))
      Versioned.init(all.filter(col("doc_id") % 2 === 0), dir)
    }

  /** Even-doc_id documents as (doc_id, source, text) — the payload-
    * bearing CDC lake base (signature maintenance). */
  def docsEvensText(s: SparkSession, d: String): String =
    memoDir(s"detx|$d", "graft_base_detx") { dir =>
      val base = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          coalesce(col("text"), lit("")).as("text"))
      Versioned.init(base.filter(col("doc_id") % 2 === 0), dir)
    }

  /** Even order keys as (k, st, p) PARTITIONED by status — the
    * commit-log-follower base: a partition-scoped merge's change feed
    * opens one partition's files, not the table. */
  def ordersEvensByStatus(s: SparkSession, d: String): String =
    memoDir(s"est|$d", "graft_base_est") { dir =>
      Versioned.init(ordersBase(s, d).filter(col("k") % 2 === 0)
        .select(col("k"), col("st"), col("p")), dir,
        partitionCol = Some("st"))
    }

  /** [[ordersEvensByStatus]] plus the commit-log follower's fixed
    * three-commit history (partition-scoped insert merge, vectored
    * delete, vectored update) — byte-identical every run, so the
    * follower query consumes it READ-ONLY (its checkpoint lives in
    * its own temp dir): v1 base, v2 merge, v3 DV delete, v4 DV
    * update. */
  def ordersEvensStatusHistory(s: SparkSession, d: String): String =
    memoDir(s"esth|$d", "graft_base_esth") { dir =>
      Versioned.clone(s, ordersEvensByStatus(s, d), dir + "/t")
      val t = dir + "/t"
      val base = ordersBase(s, d)
      Versioned.merge(base.filter(col("k") % 2 === 1 &&
          col("k") % 5 === 0 && col("st") === "O")
        .select(col("k"), col("st"), col("p")),
        t, Seq("k"))                                              // v2
      Versioned.deleteVectored(s, t, col("k") % 7 === 0)          // v3
      Versioned.updateVectored(s, t, col("k") % 9 === 0,
        Map("p" -> (col("p") + lit(10.0))))                       // v4
    } + "/t"

  /** Odd order keys in 8 round-robin files — the second leg of the
    * multi-table-transaction catalog. */
  def ordersOdds8(s: SparkSession, d: String): String =
    memoDir(s"o8|$d", "graft_base_o8") { dir =>
      Versioned.init(ordersBase(s, d).filter(col("k") % 2 === 1)
        .repartition(8), dir)
    }

  /** (k, c, p) orders under the HIDDEN `c div 100` transform — the
    * hidden-partitioning base. */
  def ordersHidden(s: SparkSession, d: String): String =
    memoDir(s"hid|$d", "graft_base_hid") { dir =>
      Versioned.init(Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p")),
        dir, partitionCol = Some("c div 100"))
    }

  /** (k, c, p, bkt) orders partitioned by the GENERATED `bkt = c div
    * 100` — the declared twin of [[ordersHidden]]'s invisible
    * transform: the column is user-visible but its value is engine-
    * derived, so writers can omit it and cannot mis-derive it. */
  def ordersGenPart(s: SparkSession, d: String): String =
    memoDir(s"gen|$d", "graft_base_gen") { dir =>
      val base = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          col("o_totalprice").as("p"))
        .withColumn("bkt", expr("c div 100"))
      Versioned.init(base.repartition(col("bkt")), dir,
        partitionCol = Some("bkt"))
      Versioned.addGeneratedColumn(s, dir, "bkt", "c div 100")
    }

  /** Run `body` on a fresh isolated clone of `base`, deleted (with its
    * scratch parent) when `body` exits. */
  def withClone[A](s: SparkSession, base: String, prefix: String)(
      body: String => A): A =
    graft.Scratch.withDir(prefix) { root =>
      val dir = root + "/t"
      Versioned.clone(s, base, dir)
      body(dir)
    }
}
