package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.MultiModalOps

/** Incremental (streaming) image dedup — the multimodal twin of
  * [[NearDupStream]]/[[EmbedNearDupStream]]: each arriving image decodes
  * to its 64-bit perceptual dHash map-side and probes the published
  * corpus SIGNATURE index for exact (hamming 0) and near (hamming <= 3)
  * matches, so a media-ingest pipeline can route duplicates before they
  * reach storage.
  *
  * Shape (the billion-image topology):
  *   - STATIC side: the distinct-signature index
  *     ([[MultiModalOps.imageSigs]] — dhash, member count, min-doc rep;
  *     one row per DISTINCT perceptual hash, however many images share
  *     it), band-exploded 4×16-bit exactly like the batch near-dup join.
  *     A batch product, republished on corpus rebuild like the MinHash
  *     band index.
  *   - STREAM side: each trigger decodes+dhashes its arrivals (a pure
  *     per-row scalar in the codec stage), explodes each to 4 band rows
  *     and inner-joins the index with the in-join
  *     `bit_count(dh ^ cand) <= 3` gate — banding is EXACT for
  *     hamming <= 3 by pigeonhole, so the stream misses nothing the batch
  *     join would find. A pair can meet in up to 4 bands (all 4 when
  *     hamming = 0); the trigger folds those meetings to one row.
  *
  * Freshness contract (same as every sibling probe): an arriving image is
  * checked against the corpus as of the last index publish; two NEW
  * images that only duplicate each other wait for the next rebuild.
  * Parity is pinned in ImageDedupStreamSpec: the whole corpus probed
  * against its own index yields exactly the brute-force
  * hamming-<= 3 (doc, signature) match set.
  */
object ImageDedupStream {

  /** One microbatch's matches against a PUBLISHED banded
    * [[graft.sources.FingerprintIndex]] through the partition-pruned
    * band scan — the corpus-scale production probe: decode+dHash runs in
    * the [[ProbeStream.decoded]] codec stage, the batch's 4 band keys per
    * arrival derive the `ipart` partition set (bounded collect), and the
    * index contributes only those partitions. The band split is the
    * index's own [[graft.sources.FingerprintIndex.bandsExpr]] at the
    * artifact's recorded family (resolved per trigger, so a
    * precision-floor escalation reaches the stream on its next
    * microbatch): a local copy could drift from the published split and
    * silently miss hamming <= 3 matches. Within one trigger a pair
    * meeting in several bands folds to one row (distinct); cross-trigger
    * re-emission is the sink's idempotence concern.
    *
    * `microbatch`: (ts, doc_id, binary PNG payload) rows. Output: one row
    * per (arrival, matched corpus signature) — (ts, in_id, in_dhash,
    * corpus_dhash, hamming, corpus_n, corpus_rep); hamming 0 = exact
    * perceptual dup of an existing group. Above `broadcastRowLimit` the
    * decoded batch is not broadcast and the banded index is read in full
    * (the [[ProbeStream.loan]] gate). */
  def probeIndexBatch[T](s: SparkSession, microbatch: DataFrame,
      indexDir: String,
      broadcastRowLimit: Long =
        graft.sources.VectorIndex.QueryBatchBroadcastRowLimit)
      (consume: DataFrame => T): T = {
    val FI = graft.sources.FingerprintIndex
    val dhs = ProbeStream.decoded(s, microbatch,
      () => MultiModalOps.ensureHeadless())(MultiModalOps.dhashPng)
      .withColumnRenamed("sig", "dh")
    ProbeStream.loan(dhs, broadcastRowLimit) { (dh, g) =>
      // the version and its band family resolve ONCE per trigger: keys
      // and the band table they probe always come from the same version
      val live = FI.open(s, indexDir)
      val bands = expr(FI.bandsExpr("dh", live.meta.bandfam))
      val keys = dh.select(explode(bands).as("p"))
        .select(col("p.band").as("band"), col("p.bv").as("bv"))
      // a corpus-scale batch touches every partition anyway: skip the
      // pruning derivation along with the broadcast hint
      val idx = (if (g.small) FI.prunedBands(s, live, keys)
        else FI.bandsAt(s, live.dir))
        .select(col("band"), col("bv"), col("dhash").as("cand"),
          col("n"), col("rep"))
      val probes = dh
        .select(col("ts"), col("in_id"), col("dh"), explode(bands).as("p"))
        .select(col("ts"), col("in_id"), col("dh"),
          col("p.band").as("pband"), col("p.bv").as("pbv"))
      // 4x16-bit banding is pigeonhole-exact for hamming <= 3 only
      consume(idx.join(g.hint(probes),
          col("pband") === col("band") && col("pbv") === col("bv") &&
            expr("bit_count(dh ^ cand)") <= 3)
        .select(col("ts"), col("in_id"), col("dh"), col("cand"),
          col("n"), col("rep"))
        .distinct()
        .select(col("ts"), col("in_id"), col("dh").as("in_dhash"),
          col("cand").as("corpus_dhash"),
          expr("CAST(bit_count(dh ^ cand) AS BIGINT)").as("hamming"),
          col("n").as("corpus_n"), col("rep").as("corpus_rep")))
    }
  }

  /** `writeStream.foreachBatch` body routing every trigger through
    * [[probeIndexBatch]]. */
  def foreachBatchProbe(s: SparkSession, indexDir: String)
      (sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    ProbeStream.foreachBatch(sink)(probeIndexBatch(s, _, indexDir)(_))
}
