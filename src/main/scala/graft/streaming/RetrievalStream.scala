package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.LexIndex

/** Streaming BM25 retrieval — the online twin of q_bm25_topk_idx: each
  * microbatch of queries (query_id, qtext) scores against the PUBLISHED
  * posting-list artifact ([[graft.sources.LexIndex]]) and emits per-query
  * top-k documents, so a serving/routing pipeline can rank against the
  * corpus as of the last index publish.
  *
  * Shape (the sibling dedup streams' foreachBatch convention, which
  * avoids a full artifact scan per trigger): the trigger's query rows COLLECT to
  * the driver — a trigger's query set is human/router-generated and
  * budget-bounded by the retrieval family's contract, never corpus-sized
  * — and the driver-known term set is precisely what lets the probe
  * prune the artifact to the query terms' partitions. Per-trigger
  * artifact IO is O(posting lists touched); scoring/ranking are the
  * batch probe's own code path, so online results can never drift from
  * the gated batch semantics.
  *
  * Freshness contract (as all sibling twins): queries rank against the
  * corpus as of the last publish; newly ingested documents appear at the
  * next republish.
  */
object RetrievalStream {
  import org.apache.spark.sql.functions._

  /** Score one microbatch of (query_id, qtext) rows against the
    * published artifact. The query_id column's TYPE flows through
    * untouched (a router keying queries by a long corpus doc_id needs no
    * conversion); query text normalizes through the index's own token
    * domain (lowercase \W+ split, distinct — [[graft.operators
    * .RetrievalOps.queryTokens]]'s engine-side twin). Only the DISTINCT
    * TERM STRINGS collect to the driver (the partition-pruning set,
    * query-budget-bounded) — never full query rows. Returns None for a
    * term-less trigger (empty batch, or all-punctuation queries). */
  def probeIndexBatch(s: SparkSession, indexDir: String,
      batch: DataFrame, topK: Int): Option[DataFrame] = {
    val qterms = batch.select(col("query_id"),
      explode(array_distinct(
        graft.operators.TextRules.tokens(col("qtext")))).as("term"))
    val terms = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    if (terms.isEmpty) None
    else Some(LexIndex.searchBm25Terms(s, indexDir, qterms, terms, topK))
  }

  /** foreachBatch entry: wire as
    * `stream.writeStream.foreachBatch(RetrievalStream.foreachBatchProbe(
    * s, dir, topK)(sink))`. Term-less triggers skip the probe (and the
    * sink). */
  def foreachBatchProbe(s: SparkSession, indexDir: String, topK: Int)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      probeIndexBatch(s, indexDir, batch, topK).foreach(sink)
}
