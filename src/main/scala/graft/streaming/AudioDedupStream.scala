package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.AudioOps

/** Incremental (streaming) audio dedup — the audio twin of
  * [[ImageDedupStream]]: each arriving clip decodes to its perceptual
  * fingerprint map-side and probes the published corpus FINGERPRINT index
  * for exact matches, so an ingest pipeline can route duplicate audio
  * before it reaches storage.
  *
  * Shape (the billion-clip topology):
  *   - STATIC side: the fingerprint group index (fp, member count,
  *     min-doc rep — one row per DISTINCT fingerprint, however many clips
  *     share it). A batch product, republished on corpus rebuild like the
  *     MinHash band index.
  *   - STREAM side: each trigger decodes+fingerprints its arrivals in the
  *     [[ProbeStream.decoded]] codec stage (one codec pass per
  *     partition), then equi-joins on fp against the index. Exact
  *     fingerprint equality is the match semantic (the batch groupBy's
  *     key), so each arrival meets each index row at most once: no
  *     pair-dedup step is needed at all.
  *
  * Freshness contract (same as every sibling probe): an arriving clip
  * is checked against the corpus as of the last index publish; two NEW
  * clips that only duplicate each other wait for the next rebuild. Parity
  * is pinned in AudioDedupStreamSpec: the whole corpus probed against
  * its own index yields exactly the codec-derived fingerprint groups.
  */
object AudioDedupStream {

  /** One microbatch's matches against a PUBLISHED
    * [[graft.sources.FingerprintIndex]] through the partition-pruned
    * group scan — the corpus-scale production probe. `microbatch`:
    * (ts, doc_id, binary WAV payload) rows. Output: one row per
    * (arrival, matched fingerprint group) — (ts, in_id, fp, n_frames,
    * corpus_n, corpus_rep). */
  def probeIndexBatch[T](s: SparkSession, microbatch: DataFrame,
      indexDir: String,
      broadcastRowLimit: Long =
        graft.sources.VectorIndex.QueryBatchBroadcastRowLimit)
      (consume: DataFrame => T): T =
    groupProbe(s, microbatch, indexDir, "n_frames", broadcastRowLimit)(
      bytes => AudioOps.fingerprint(AudioOps.decodeWav(bytes)._3))(consume)

  /** The exact-group probe audio and [[VideoDedupStream]] share:
    * `fingerprint` maps a payload to (fp, its frame or sample count),
    * emitted under `countCol`. The batch's fingerprint set derives its
    * `fpart` partition values (bounded collect) and the index contributes
    * only those partitions; above `broadcastRowLimit` the decoded batch is
    * not broadcast and the group table is read in full (the
    * [[ProbeStream.loan]] gate). */
  private[streaming] def groupProbe[T](s: SparkSession,
      microbatch: DataFrame, indexDir: String, countCol: String,
      broadcastRowLimit: Long)(fingerprint: Array[Byte] => (Long, Long))
      (consume: DataFrame => T): T = {
    val FI = graft.sources.FingerprintIndex
    val decoded = ProbeStream.decoded(s, microbatch)(fingerprint)
      .select(col("ts"), col("in_id"), col("sig._1").as("fp"),
        col("sig._2").as(countCol))
    ProbeStream.loan(decoded, broadcastRowLimit) { (fps, g) =>
      // a corpus-scale batch touches every partition anyway: skip the
      // pruning derivation along with the broadcast hint
      val idx = (if (g.small) FI.prunedGroups(s, indexDir, fps.select("fp"))
        else FI.loadGroups(s, indexDir))
        .select(col("fp").as("cand_fp"), col("n"), col("rep"))
      consume(idx.join(g.hint(fps), col("fp") === col("cand_fp"))
        .select(col("ts"), col("in_id"), col("fp"), col(countCol),
          col("n").as("corpus_n"), col("rep").as("corpus_rep")))
    }
  }

  /** `writeStream.foreachBatch` body routing every trigger through
    * [[probeIndexBatch]]. */
  def foreachBatchProbe(s: SparkSession, indexDir: String)
      (sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    ProbeStream.foreachBatch(sink)(probeIndexBatch(s, _, indexDir)(_))
}
