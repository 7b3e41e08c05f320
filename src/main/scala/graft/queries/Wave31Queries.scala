package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables
import graft.text.Search

/** Round-8 wave 31 — retrieval with pseudo-relevance feedback:
  *
  *  - `q_rm3_search`: RM3-style query expansion over the BM25
  *    retriever ([[Search.rm3TopK]]) — top-10 feedback docs per query,
  *    5 expansion terms by the doc-id-order-folded relevance-model
  *    weight, then a second BM25 pass with the expanded query. The
  *    standard recall lever when the original query underspecifies the
  *    topic; the oracle replays both passes and the expansion-term
  *    SELECTION (bit-identical weights make the chosen terms — not
  *    just scores — deterministic).
  */
object Wave31Queries extends QueryModule {

  def qRm3Search(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Search.rm3TopK(Tables.load(s, d, "documents"),
      Wave8Queries.bm25Terms.toDF("query_id", "term"),
      kFeedback = 10, nExpand = 5, k = 10,
      dlOpt = Some(Memo.docLengths(s, d)),
      tokOpt = Some(Memo.docTerms(s, d)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rm3_search" -> qRm3Search)

  private val values = Wave8Queries.bm25Terms
    .map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_rm3_search" -> Search.RM3_SQL(values, kFeedback = 10,
      nExpand = 5, k = 10))
}
