package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.VideoOps

/** Incremental (streaming) video dedup — the video leg of the multimodal
  * dedup-stream triple (image dHash / audio fingerprint / VIDEO): each
  * arriving MP4 payload is DEMUXED through the real container walk
  * (stco + stsz), fingerprinted over its per-sample byte sums, and
  * probed against the published fingerprint index by exact group
  * equality — the [[AudioDedupStream]] group probe on another decoder.
  *
  * Freshness contract (shared with every dedup probe): an arrival is
  * checked against the corpus as of the last index publish; two NEW
  * duplicate videos wait for the next rebuild. Parity with the
  * codec-derived fingerprint groups is pinned in VideoDedupStreamSpec.
  */
object VideoDedupStream {

  /** One microbatch's matches against a PUBLISHED
    * [[graft.sources.FingerprintIndex]] through the partition-pruned
    * group scan. `microbatch`: (ts, doc_id, binary MP4 payload) rows.
    * Output: one row per (arrival, matched group) — (ts, in_id, fp,
    * n_samples, corpus_n, corpus_rep). Broadcast gate as in
    * [[AudioDedupStream.groupProbe]]. */
  def probeIndexBatch[T](s: SparkSession, microbatch: DataFrame,
      indexDir: String,
      broadcastRowLimit: Long =
        graft.sources.VectorIndex.QueryBatchBroadcastRowLimit)
      (consume: DataFrame => T): T =
    AudioDedupStream.groupProbe(s, microbatch, indexDir, "n_samples",
      broadcastRowLimit)(bytes =>
      VideoOps.fingerprint(VideoOps.demux(bytes)))(consume)

  /** `writeStream.foreachBatch` body routing every trigger through
    * [[probeIndexBatch]]. */
  def foreachBatchProbe(s: SparkSession, indexDir: String)
      (sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    ProbeStream.foreachBatch(sink)(probeIndexBatch(s, _, indexDir)(_))
}
