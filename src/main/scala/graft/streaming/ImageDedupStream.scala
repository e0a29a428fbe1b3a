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
  *   - STREAM side: decode+dhash is a pure per-row scalar (append-safe,
  *     no aggregation), the probe explodes to 4 band rows, inner-joins
  *     the index with the in-join `bit_count(dh ^ cand) <= 3` gate —
  *     banding is EXACT for hamming <= 3 by pigeonhole, so the stream
  *     misses nothing the batch join would find.
  *
  * A pair can meet in up to 4 bands (all 4 when hamming = 0), so the
  * join is followed by `dropDuplicatesWithinWatermark(in_id, cand)` —
  * the same watermark-bounded pair-dedup state the text twin carries;
  * state is O(matches within the watermark window), event-time reaped.
  *
  * Freshness contract (same as both sibling twins): an arriving image is
  * checked against the corpus as of the last index publish; two NEW
  * images that only duplicate each other wait for the next rebuild.
  * Parity is pinned in ImageDedupStreamSpec: the whole corpus streamed
  * against its own index yields exactly the brute-force
  * hamming-<= 3 (doc, signature) match set.
  */
object ImageDedupStream {

  // ONE band derivation for probe and artifact: a local copy here could
  // drift from the published banded index's split and silently miss
  // hamming<=3 matches, so the stream delegates to the index's expr.
  // The published-index probe passes the artifact's RECORDED family
  // (resolved per trigger, so a precision-floor escalation reaches the
  // stream on its next microbatch); the caller-held lazy join keeps the
  // publish default — its signature table was never family-escalated.
  private def bandsExpr(c: String, fam: Int =
      graft.sources.FingerprintIndex.BandFamily) =
    graft.sources.FingerprintIndex.bandsExpr(c, fam)

  /** Matches of a watermarked image stream (`doc_id`, binary `payload`,
    * event-time `ts`) against the published signature index `sigs`
    * ([[MultiModalOps.imageSigs]] schema: dhash, n, rep). Emits one row
    * per (arrival, matched corpus signature) with the hamming distance
    * and the group's size/representative — hamming 0 = exact perceptual
    * dup of an existing group.
    *
    * Kept for small/fixture corpora and the parity specs; at corpus
    * scale the per-trigger cost is a FULL scan of the caller-held
    * signature table — route production streams through
    * [[foreachBatchProbe]]/[[probeIndexBatch]] instead. */
  @deprecated("lazy stream-static join re-scans the full signature table " +
    "per trigger; at corpus scale use foreachBatchProbe/probeIndexBatch " +
    "(partition-pruned published-index probe)", "0.1.0")
  def matchesAgainstIndex(s: SparkSession, stream: DataFrame,
      sigs: DataFrame, maxHamming: Int = 3,
      delay: String = "10 minutes"): DataFrame = {
    import s.implicits._
    require(maxHamming <= 3,
      s"4x16-bit banding is only pigeonhole-exact for hamming <= 3, got $maxHamming")
    val idx = sigs
      .select(col("dhash").as("cand"), col("n"), col("rep"),
        explode(expr(bandsExpr("dhash"))).as("b"))
      .select(col("cand"), col("n"), col("rep"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    // Decode+hash as the same typed mapPartitions CODEC STAGE the batch
    // path uses (one headless/codec init per partition, tight per-blob
    // loop) — not a per-row udf; micro-batch partitions get the identical
    // decode discipline. Stateless and row-wise, so applying the
    // watermark AFTER the stage is semantically identical to before it
    // (the event-time column passes through untouched), and the
    // watermark tag survives onto the join/dedup below.
    stream
      .select(col("ts"), col("doc_id").as("in_id"), col("payload"))
      .as[(java.sql.Timestamp, Long, Array[Byte])]
      .mapPartitions { it =>
        MultiModalOps.ensureHeadless()
        it.map { case (ts, id, bytes) => (ts, id, MultiModalOps.dhashPng(bytes)) }
      }
      .toDF("ts", "in_id", "dh")
      .withWatermark("ts", delay)
      .select(col("ts"), col("in_id"), col("dh"),
        explode(expr(bandsExpr("dh"))).as("p"))
      .select(col("ts"), col("in_id"), col("dh"),
        col("p.band").as("pband"), col("p.bv").as("pbv"))
      .join(idx, col("pband") === col("band") && col("pbv") === col("bv") &&
        expr("bit_count(dh ^ cand)") <= maxHamming)
      .dropDuplicatesWithinWatermark("in_id", "cand")
      .select(col("ts"), col("in_id"), col("dh").as("in_dhash"),
        col("cand").as("corpus_dhash"),
        expr("CAST(bit_count(dh ^ cand) AS BIGINT)").as("hamming"),
        col("n").as("corpus_n"), col("rep").as("corpus_rep"))
  }

  /** One microbatch's matches against a PUBLISHED banded
    * [[graft.sources.FingerprintIndex]] through the partition-pruned
    * band scan — the corpus-scale production probe: decode+dHash runs in
    * the same mapPartitions codec stage, the batch's 4 band keys per
    * arrival derive the `ipart` partition set (bounded collect), and the
    * index contributes only those partitions. Within one trigger a pair
    * meeting in several bands folds to one row (distinct — the job the
    * lazy path's watermark dedup state did per horizon; cross-trigger
    * re-emission is the sink's idempotence concern). Loan-patterned;
    * output schema matches [[matchesAgainstIndex]].
    *
    * BROADCAST GATE (the VectorIndex search convention): the decoded
    * batch frame is broadcast only at or below `broadcastRowLimit` — a
    * backlog catch-up trigger (one huge first microbatch after downtime)
    * falls through to the planner's shuffle join over the full index
    * instead of failing on Spark's broadcast limits or OOMing the
    * driver. A caller that already knows its batch bound passes
    * `knownBatchRows` and the gate count is skipped. */
  def probeIndexBatch[T](s: SparkSession, microbatch: DataFrame,
      indexDir: String, maxHamming: Int = 3,
      broadcastRowLimit: Long =
        graft.sources.VectorIndex.QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None)(consume: DataFrame => T): T = {
    import s.implicits._
    require(maxHamming <= 3,
      s"4x16-bit banding is only pigeonhole-exact for hamming <= 3, got $maxHamming")
    val dh = graft.Caching.persist(microbatch
      .select(col("ts"), col("doc_id").as("in_id"), col("payload"))
      .as[(java.sql.Timestamp, Long, Array[Byte])]
      .mapPartitions { it =>
        MultiModalOps.ensureHeadless()
        it.map { case (ts, id, bytes) => (ts, id, MultiModalOps.dhashPng(bytes)) }
      }
      .toDF("ts", "in_id", "dh"))
    try {
      val (small, hint) = graft.sources.VectorIndex.batchGate(
        knownBatchRows, dh.count(), broadcastRowLimit)
      // the version and its band family resolve ONCE per trigger: keys
      // and the band table they probe always come from the same version
      val live = graft.sources.FingerprintIndex.open(s, indexDir)
      val fam = live.meta.bandfam
      val keys = dh.select(explode(expr(bandsExpr("dh", fam))).as("p"))
        .select(col("p.band").as("band"), col("p.bv").as("bv"))
      // a corpus-scale batch touches every partition anyway: skip the
      // pruning derivation along with the broadcast hint
      val idx = (if (small)
          graft.sources.FingerprintIndex.prunedBands(s, live, keys)
        else graft.sources.FingerprintIndex.bandsAt(s, live.dir))
        .select(col("band"), col("bv"), col("dhash").as("cand"),
          col("n"), col("rep"))
      val probes = dh
        .select(col("ts"), col("in_id"), col("dh"),
          explode(expr(bandsExpr("dh", fam))).as("p"))
        .select(col("ts"), col("in_id"), col("dh"),
          col("p.band").as("pband"), col("p.bv").as("pbv"))
      consume(idx.join(hint(probes),
          col("pband") === col("band") && col("pbv") === col("bv") &&
            expr("bit_count(dh ^ cand)") <= maxHamming)
        .select(col("ts"), col("in_id"), col("dh"), col("cand"),
          col("n"), col("rep"))
        .distinct()
        .select(col("ts"), col("in_id"), col("dh").as("in_dhash"),
          col("cand").as("corpus_dhash"),
          expr("CAST(bit_count(dh ^ cand) AS BIGINT)").as("hamming"),
          col("n").as("corpus_n"), col("rep").as("corpus_rep")))
    } finally dh.unpersist()
  }

  /** `writeStream.foreachBatch` body routing every trigger through
    * [[probeIndexBatch]] — parity with the lazy join is spec-pinned. */
  def foreachBatchProbe(s: SparkSession, indexDir: String,
      maxHamming: Int = 3)(sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (microbatch, _) => probeIndexBatch(s, microbatch, indexDir, maxHamming)(sink)
}
