package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** Incremental (streaming) embedding near-dup — the vector twin of
  * [[NearDupStream]]: each arriving embedding probes the published corpus
  * BUCKET index (the hyperplane-LSH analog of the MinHash band index)
  * and exact-cosine verifies the meetings.
  *
  * Shape (the billion-vector topology):
  *   - STATIC side: the corpus bucket index (bucket → vec_id; ONE row
  *     per corpus vector, width-capped per bucket by the SAME
  *     [[VectorOps.cappedBuckets]] rule the batch joins use) plus the
  *     corpus embeddings for verification — both batch products,
  *     republished on each corpus rebuild exactly like the band index.
  *   - STREAM side: each arriving vector computes its probe buckets as
  *     one pure native expression (hyperplane_sig — per-row, no
  *     aggregation, so append mode holds), explodes to (probes+1) probe
  *     rows, inner-joins the index, and exact-cosine verifies against
  *     the static embeddings.
  *
  * No in-stream dedup stage is needed: a corpus vector owns exactly ONE
  * bucket and a query's probe buckets are pairwise distinct, so an
  * (incoming, corpus) pair meets at most once — the same argument that
  * keeps the batch pointwise path dedup-free.
  *
  * Freshness contract (same as the text twin, documented not hidden): an
  * arriving vector is checked against the corpus as of the last index
  * publish; two NEW vectors that are near-dups only of each other wait
  * for the next rebuild. Batch parity is pinned in EmbedNearDupStreamSpec:
  * streamed against the full-corpus index, the folded pair set equals
  * the batch q_embed_neardup_lsh result.
  */
object EmbedNearDupStream {

  /** Verified (in_id, corpus_id, sim) matches of a watermarked embedding
    * stream (`vec_id`, `embedding`, event-time `ts`) against the corpus
    * bucket index, built in-query from `corpusEmb` by the same
    * [[VectorOps.cappedBuckets]] rule the batch joins use. Pure
    * stream-static join — append-safe, state-free. The index is re-read
    * in full on every trigger, so this entry suits small corpora and the
    * batch parity specs; at corpus scale route the stream through
    * [[foreachBatchProbe]] over a published index. */
  def nearDupAgainstCorpus(s: SparkSession, stream: DataFrame,
      corpusEmb: DataFrame, width: Int, probes: Int, cap: Long,
      threshold: Double, delay: String = "10 minutes"): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val idx = VectorOps.cappedBuckets(corpusEmb, width, cap, "vec_id")
    stream
      .withWatermark("ts", delay)
      .select(col("ts"), col("vec_id").as("in_id"),
        col("embedding").as("ie"),
        explode(expr(s"hyperplane_sig(embedding, $width, $probes)"))
          .as("qbucket"))
      .join(idx, col("qbucket") === col("bucket") &&
        col("vec_id") =!= col("in_id"))
      .join(corpusEmb.select(col("vec_id"), col("embedding").as("ce")),
        "vec_id")
      .select(col("ts"), col("in_id"), col("vec_id").as("corpus_id"),
        expr("cosine_sim(ie, ce)").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** One microbatch's verified matches against a PUBLISHED
    * [[graft.sources.VectorIndex]] through the PARTITION-PRUNED gated
    * batch search ([[graft.sources.VectorIndex.matchesAbove]]) — the
    * per-trigger unit of [[foreachBatchProbe]]. Width, probes and the
    * capped bucket table come from the artifact, whose `_current`
    * pointer resolves per call, so a mergePublish reaches the stream on
    * its next trigger. `consume` runs while the microbatch frame is
    * pinned ([[ProbeStream.loan]]: one count + one probe over it, never
    * a re-derive); the search gets that count as its known batch size,
    * so it derives its `bpart` partition set from the (tiny) batch and
    * reads ONLY those index partitions: per-trigger read cost is
    * O(microbatch × partitions touched), not O(corpus). Output schema
    * matches [[nearDupAgainstCorpus]]: (ts, in_id, corpus_id, sim). */
  def probeIndexBatch[T](s: SparkSession, microbatch: DataFrame,
      indexDir: String, threshold: Double)(consume: DataFrame => T): T =
    ProbeStream.loan(
        microbatch.select(col("ts"), col("vec_id"), col("embedding")),
        graft.sources.VectorIndex.QueryBatchBroadcastRowLimit) {
      (b, g) =>
        val matches = graft.sources.VectorIndex.matchesAbove(s, indexDir,
          b.select(col("vec_id"), col("embedding")), threshold,
          knownBatchRows = Some(g.rows))
        // ts rides back via a microbatch-sized join (the search APIs keep
        // the (vec_id, embedding) contract; event time is the stream's
        // concern), broadcast only under the loan's gate
        consume(matches
          .join(g.hint(b.select(col("vec_id").as("in_id"), col("ts"))),
            Seq("in_id"))
          .select(col("ts"), col("in_id"), col("corpus_id"), col("sim")))
    }

  /** The production streaming probe at corpus scale: a
    * `writeStream.foreachBatch` body that runs each trigger through
    * [[probeIndexBatch]] — partition-pruned gated search, no per-trigger
    * full-index scan, no cache residue. */
  def foreachBatchProbe(s: SparkSession, indexDir: String,
      threshold: Double)(sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    ProbeStream.foreachBatch(sink)(probeIndexBatch(s, _, indexDir, threshold)(_))
}
