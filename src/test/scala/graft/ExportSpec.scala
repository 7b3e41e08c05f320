package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.io.Export
import graft.text.Curation

/** The sharded jsonl.gz export: deterministic size-targeted shard
  * assignment, one gzip file per shard on disk, and a full round trip
  * whose per-source counts, token mass, and bit_xor content
  * fingerprint match Curation.manifest of the input — the same
  * integrity line q_corpus_manifest ships. */
class ExportSpec extends SparkSuite {

  private def manifestMap(df: org.apache.spark.sql.DataFrame) =
    Curation.manifest(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  test("round trip: written shards re-read to the exact input manifest") {
    val docs = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
    val dir = tmp("graft_export")
    val shardManifest = Export.writeJsonlShards(docs, dir, targetBytes = 4096L)
      .collect()
    assert(shardManifest.nonEmpty)
    assert(shardManifest.map(_.getLong(2)).sum == docs.count(),
      "every document lands in exactly one shard")

    val back = Export.readJsonlShards(spark, dir)
    assert(manifestMap(back.select(col("doc_id"), col("source"), col("text")))
        == manifestMap(docs),
      "per-source n_docs / n_tokens / content_xor must survive the round trip")

    // text payload is byte-identical, not just fingerprint-identical
    val mismatched = back.select(col("doc_id"), col("text").as("rt"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .filter(col("rt") =!= col("text") || col("rt").isNull)
    assert(mismatched.isEmpty)
  }

  test("one gzip jsonl file per shard directory; size target respected") {
    val docs = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
    val dir = tmp("graft_export2")
    val target = 4096L
    val m = Export.writeJsonlShards(docs, dir, targetBytes = target).collect()
    assert(m.map(r => (r.getString(0), r.getLong(1))).distinct.length == m.length)
    assert(m.exists(_.getLong(1) > 0L),
      "the 4 KiB target must force multi-shard sources on this corpus")

    m.foreach { r =>
      val shardDir = Paths.get(dir, s"source=${r.getString(0)}", s"shard=${r.getLong(1)}")
      val files = Files.list(shardDir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toList
      assert(files.length == 1,
        s"shard dir $shardDir must hold exactly one part file, got ${files.length}")
      assert(files.head.getFileName.toString.endsWith(".gz"))
    }

    // chunk-by-budget bound: a shard overflows by at most one document
    val maxDoc = docs.agg(max(octet_length(col("text")))).first().getInt(0)
    m.foreach { r =>
      assert(r.getLong(3) <= target + maxDoc,
        s"shard ${r.getString(0)}/${r.getLong(1)} payload ${r.getLong(3)} " +
          s"exceeds target + max doc")
    }
  }

  test("shard assignment is deterministic and ignores input layout") {
    val docs = graft.io.Tables.load(spark, sf("sf0.001"), "documents")
    def plan(df: org.apache.spark.sql.DataFrame) =
      Export.shardPlan(df, 4096L).select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plan(docs) == plan(docs.repartition(7)))
  }
}
