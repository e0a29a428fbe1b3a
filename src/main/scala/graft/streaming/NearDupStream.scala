package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.CurationStream.TimedDoc

/** Incremental (streaming) near-duplicate detection — closes the lambda
  * split CurationStream documents: exact dedup already streams; this
  * streams NEAR-dup too, as a stream-static join of each arriving
  * document's 32 MinHash band keys against the corpus band index.
  *
  * Shape (the billion-doc topology):
  *   - STATIC side: the corpus band index (band, minhash → doc_id) and
  *     the per-doc shingle-hash sets — both products of the batch
  *     pipeline (DedupOps.docHashes + the same native minhash_sig), in
  *     production republished as compacted parquet on each corpus
  *     rebuild. Size: 32 rows/doc (index) + 1 row/doc (hash sets).
  *   - STREAM side: per-doc shingle hashes computed as ONE pure array
  *     expression (no groupBy — a streaming aggregation would force
  *     update mode and unbounded state), then posexplode to 32 band-key
  *     rows, inner-join the index, exact-Jaccard verify against the
  *     static hash sets, and drop duplicate pairs within the watermark
  *     (the same pair can surface via several colliding bands, or twice
  *     when both members arrive inside the stream window).
  *
  * Contract (documented, not hidden): an arriving doc is checked against
  * the corpus as of the last index publish. Two NEW docs that are
  * near-dups only of each other are caught by the NEXT rebuild, not
  * in-stream — the standard freshness/completeness trade of incremental
  * dedup; streaming EXACT dedup (dedupByFingerprint) still catches
  * verbatim copies immediately.
  *
  * Decision parity with batch `DedupOps.nearDupPairs` is pinned in
  * NearDupStreamSpec: streamed against the full-corpus index, the
  * verified pair set is identical.
  */
object NearDupStream {

  /** Distinct word-3-gram shingle hashes as a pure column expression —
    * the same shingle definition as DedupOps.shingles (token prefix
    * capped at DocTokenCap → 3-grams → array_distinct → xxhash64), but
    * per-row instead of explode+groupBy, so it runs on a stream. Must
    * stay in lockstep with the batch definition: the stream/batch
    * parity spec compares the two pair sets verbatim. */
  def shingleHashes(toks: Column): Column = {
    val cap = graft.operators.DedupOps.DocTokenCap
    // least(size, cap) gives the prefix bound with zero allocation —
    // slicing would copy an up-to-20k-element array per arriving doc
    // just to measure it; the transform below never reads past the bound
    val grams = expr(
      s"""CASE WHEN least(size(toks), $cap) >= 3
        |  THEN array_distinct(transform(
        |         sequence(0, least(size(toks), $cap)-3),
        |         i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))
        |  ELSE array() END""".stripMargin)
    transform(grams, sh => xxhash64(sh))
  }

  /** The corpus band index: one (band, minhash, doc_id) row per band of
    * each corpus doc's native MinHash signature. `corpus` is
    * DedupOps.docHashes output (doc_id, hs, n). `fam` picks the banding
    * geometry ([[graft.functions.MinHashSig.famRows]]) — the default is
    * the publish family; a precision-floor escalation rebuilds the index
    * through this same entry at the next rung. */
  def bandIndex(s: SparkSession, corpus: DataFrame,
      fam: Int = graft.sources.DedupIndex.BandFamily): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    corpus
      .select(col("doc_id"), posexplode(expr(sigExpr("hs", fam))))
      .select(col("col").as("minhash"), col("pos").as("band"), col("doc_id"))
  }

  /** The family-`fam` signature call over a hash-array column — ONE
    * site choosing between the default geometry (which consumers may
    * have pre-cached) and an explicit (rows, bands) rung. */
  private[graft] def sigExpr(c: String, fam: Int): String =
    if (fam == graft.sources.DedupIndex.BandFamily) s"minhash_sig($c)"
    else {
      val MH = graft.functions.MinHashSig
      s"minhash_sig($c, ${MH.famRows(fam)}, ${MH.famBands(fam)})"
    }

  /** Stream-STREAM near-dup: verified (doc_a, doc_b, jaccard) pairs
    * between two documents that BOTH arrive within `window` of each
    * other — the self-join twin of nearDupAgainstCorpus, closing its
    * documented freshness gap (two NEW docs that are near-dups only of
    * each other used to wait for the next index rebuild).
    *
    * Topology: each arriving doc explodes to its 32 MinHash band keys;
    * the band table self-joins on (band, value) with the event-time
    * distance bounded in BOTH directions, which is what lets each
    * side's state store evict rows once the opposite watermark passes
    * the bound (the attribution-join shape in Sessionize). Exact
    * Jaccard verification runs on the shingle-hash arrays carried
    * through the join; multi-band collisions collapse via
    * dropDuplicatesWithinWatermark.
    *
    * State: O(docs-per-window × 32 band rows), each row carrying the
    * doc's (token-capped) hash array — sized for a deployment window of
    * minutes-to-hours of arrivals, NOT for corpus-wide history; the
    * corpus-scale path remains the stream-static band index. Run both:
    * this operator catches same-window pairs immediately, the index
    * catches everything else on its republish cadence.
    *
    * Contract: `tsUs` must be a real arrival time. A row whose event
    * time is at or before the stream's INITIAL watermark (epoch 0) is
    * dropped as late by the join before any state is built. */
  def nearDupWithinStream(s: SparkSession, docs: Dataset[TimedDoc],
      window: String = "1 hour", bucketSlots: Int = 256): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // WIDTH CAP, streaming form. The batch self-join caps per-(band, bv)
    // bucket width by counting first (splitByWidth) — a pre-join
    // aggregation a stream-stream join cannot chain behind. Instead each
    // doc claims slot = hash(id) mod bucketSlots in each of its buckets
    // and dropDuplicatesWithinWatermark((band, bv, slot)) admits only the
    // FIRST claimant per slot per horizon: bucket width is <= bucketSlots
    // by construction, state is O(buckets × slots), and an in-window
    // flood of near-identical docs enumerates <= C(bucketSlots, 2) pairs
    // per bucket instead of C(flood, 2) — flood-fixture pinned in
    // NearDupStreamSpec. Costs vs the batch star-cap, stated honestly:
    // benign buckets (width << slots) lose a band to a slot collision
    // with probability ~width²/2·slots — harmless, a true pair collides
    // in ~8+ other bands; flood members beyond the retained slots get NO
    // within-stream edge (the batch star links them all) — they are
    // linked durably by the next index republish (nearDupAgainstCorpus),
    // which is this operator's documented completeness backstop anyway.
    def side(p: String): DataFrame = docs.toDF()
      .select(col("docId").as(s"${p}_id"),
        timestamp_micros(col("tsUs")).as(s"${p}_ts"),
        graft.operators.TextRules.tokens(col("text")).as("toks"))
      .select(col(s"${p}_id"), col(s"${p}_ts"),
        shingleHashes(col("toks")).as(s"${p}_hs"))
      .filter(size(col(s"${p}_hs")) > 0)
      .select(col(s"${p}_id"), col(s"${p}_ts"), col(s"${p}_hs"),
        posexplode(expr(s"minhash_sig(${p}_hs)")))
      .withColumnRenamed("pos", s"${p}_band")
      .withColumnRenamed("col", s"${p}_bv")
      .withColumn(s"${p}_slot",
        pmod(xxhash64(col(s"${p}_id")), lit(bucketSlots.toLong)))
      .withWatermark(s"${p}_ts", window)
      .dropDuplicatesWithinWatermark(s"${p}_band", s"${p}_bv", s"${p}_slot")
    val bound = expr(s"INTERVAL $window")
    // self-pairs are excluded with =!= rather than an id ORDERING:
    // Catalyst pushes post-join filters back into the join condition,
    // and the streaming state-watermark extractor walks every < / >
    // conjunct as a potential time constraint — an id inequality there
    // hits an internal error (Spark 4.1). Both orientations of a pair
    // therefore emit; least/greatest canonicalizes and the watermark
    // dedup collapses them (it already collapses multi-band collisions).
    side("x").join(side("y"),
        col("x_band") === col("y_band") && col("x_bv") === col("y_bv") &&
          col("x_id") =!= col("y_id") &&
          col("y_ts") >= col("x_ts") - bound &&
          col("y_ts") <= col("x_ts") + bound)
      .withColumn("inter",
        size(array_intersect(col("x_hs"), col("y_hs"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("x_hs")) + size(col("y_hs")) - col("inter")))
      .filter(col("jaccard") >= 0.8)
      // ts = the pair's COMPLETION time (later member's arrival): both
      // orientations compute the same value, so the row surviving the
      // dedup is deterministic — x_ts alone would report whichever
      // orientation happened to win. ts_wm (= x_ts) keeps its event-time
      // tag through the join for the watermark dedup (chained stateful
      // operators propagate the watermark; re-declaring it is disallowed)
      .select(least(col("x_id"), col("y_id")).as("doc_a"),
        greatest(col("x_id"), col("y_id")).as("doc_b"),
        col("jaccard"), greatest(col("x_ts"), col("y_ts")).as("ts"),
        col("x_ts").as("ts_wm"))
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
      .drop("ts_wm")
  }

  /** Stream-static near-dup: verified (doc_a, doc_b, jaccard) pairs for
    * arriving docs vs the corpus, each pair emitted once within
    * `horizon`. `corpus` is DedupOps.docHashes output; `horizon` should
    * cover the index republish period so a pair cannot re-emit between
    * rebuilds. */
  @scala.annotation.nowarn("cat=deprecation") // intentional delegation:
  // this inline variant shares the lazy join's scale caveat and scaladoc
  def nearDupAgainstCorpus(s: SparkSession, docs: Dataset[TimedDoc],
      corpus: DataFrame, horizon: String = "30 days"): DataFrame =
    nearDupAgainstIndex(s, docs, bandIndex(s, corpus), corpus, horizon)

  /** The same stream-static join over PRE-BUILT index artifacts, fed by
    * `sources.DedupIndex.publish`'s parquet datasets (band index + hash
    * arrays) instead of an in-query signature build. `bands` is
    * (band, minhash, doc_id); `corpusDocs` carries (doc_id, hs, n).
    *
    * Kept for small/fixture corpora and the parity specs; at corpus
    * scale the per-trigger cost is a FULL scan of both caller-held
    * tables — route production streams through
    * [[foreachBatchProbe]]/[[probeIndexBatch]] instead. */
  @deprecated("lazy stream-static join re-scans the full band and doc " +
    "tables per trigger; at corpus scale use foreachBatchProbe/" +
    "probeIndexBatch (partition-pruned published-index probe)", "0.1.0")
  def nearDupAgainstIndex(s: SparkSession, docs: Dataset[TimedDoc],
      bands: DataFrame, corpusDocs: DataFrame,
      horizon: String = "30 days"): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val index = bands
    val hashSets = corpusDocs.select(col("doc_id").as("c_id"),
      col("hs").as("c_hs"), col("n").as("c_n"))

    val arriving = docs.toDF()
      .select(col("docId").as("q_id"), col("tsUs"),
        graft.operators.TextRules.tokens(col("text")).as("toks"))
      .select(col("q_id"), col("tsUs"), shingleHashes(col("toks")).as("q_hs"))
      .filter(size(col("q_hs")) > 0)
      .withColumn("q_n", size(col("q_hs")).cast("long"))

    arriving
      .select(col("q_id"), col("tsUs"), col("q_hs"), col("q_n"),
        posexplode(expr("minhash_sig(q_hs)")))
      .select(col("q_id"), col("tsUs"), col("q_hs"), col("q_n"),
        col("pos").as("band"), col("col").as("minhash"))
      .join(index, Seq("band", "minhash"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(hashSets, col("doc_id") === col("c_id"))
      .withColumn("inter",
        size(array_intersect(col("q_hs"), col("c_hs"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("q_n") + col("c_n") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(
        least(col("q_id"), col("doc_id")).as("doc_a"),
        greatest(col("q_id"), col("doc_id")).as("doc_b"),
        col("jaccard"),
        timestamp_micros(col("tsUs")).as("ts"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }

  /** One microbatch's verified corpus matches through the
    * PARTITION-PRUNED index scans — the text twin of
    * [[EmbedNearDupStream.probeIndexBatch]], and the corpus-scale
    * replacement for [[nearDupAgainstIndex]]'s lazy join (which re-plans
    * a FULL band-table scan per trigger): candidates come from
    * [[graft.sources.DedupIndex.prunedBands]] (the microbatch's 32 band
    * keys derive a static `dpart` PartitionFilter), and the exact-Jaccard
    * verification reads the doc store through
    * [[graft.sources.DedupIndex.prunedDocs]] pruned to the CANDIDATES'
    * id partitions — per trigger the artifact contributes
    * O(partitions touched), never O(corpus). Loan-patterned like the
    * vector twin: the microbatch's shingle/signature frame and the
    * candidate set are pinned only while `consume` runs.
    *
    * `microbatch`: (docId, text, tsUs) rows. Output schema matches
    * [[nearDupAgainstIndex]]: (doc_a, doc_b, jaccard, ts); within one
    * trigger each pair emits once (the candidate set is distinct-folded
    * across bands). CROSS-trigger re-emission of a pair — the job the
    * lazy path's watermark dedup state did — is the sink's concern under
    * foreachBatch's standard idempotent-by-batchId contract.
    *
    * `indexDir` may be a flat published index OR a VERSIONED ROOT
    * ([[graft.sources.DedupIndex.publishVersionedFrom]]): a root
    * resolves through its `_current` pointer PER TRIGGER, so a
    * maintain/republish reaches the stream on its next microbatch — no
    * restart, the freshness upgrade over the lazy join's load-once
    * static side (the vector and fingerprint probes get the same
    * behavior for free: their loaders resolve the pointer per call).
    *
    * BROADCAST GATE (the VectorIndex search convention): the microbatch
    * frame, its band keys, and the candidate set are broadcast only at
    * or below `broadcastRowLimit` — a backlog catch-up trigger (one
    * huge first microbatch after downtime) falls through to the
    * planner's shuffle joins over the full index instead of failing on
    * Spark's broadcast limits or OOMing the driver. A caller that knows
    * its batch bound passes `knownBatchRows` and the gate count is
    * skipped. */
  def probeIndexBatch[T](s: SparkSession, microbatch: DataFrame,
      indexDir: String,
      broadcastRowLimit: Long =
        graft.sources.VectorIndex.QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None)(consume: DataFrame => T): T = {
    graft.functions.GraftFunctions.register(s)
    val DI = graft.sources.DedupIndex
    // a versioned root resolves ONCE per trigger (one pointer read, one
    // meta read); a flat index dir is read as-is
    val dir = graft.sources.StorageOps.currentVersion(s, indexDir)
      .map(v => s"$indexDir/$v").filter(DI.isPublished(s, _))
      .getOrElse(indexDir)
    val m = DI.loadMeta(s, dir)
    val q = graft.Caching.persist(microbatch
      .select(col("docId").as("q_id"), col("tsUs"),
        graft.operators.TextRules.tokens(col("text")).as("toks"))
      .select(col("q_id"), col("tsUs"), shingleHashes(col("toks")).as("q_hs"))
      .filter(size(col("q_hs")) > 0)
      .withColumn("q_n", size(col("q_hs")).cast("long")))
    try {
      val (small, hint) = graft.sources.VectorIndex.batchGate(
        knownBatchRows, q.count(), broadcastRowLimit)
      // sign at the artifact's recorded family — resolved per trigger
      // alongside the version pointer, so a precision-floor escalation
      // reaches the stream on its next microbatch like any republish
      val fam = m.bandfam
      val inBands = q
        .select(col("q_id"), posexplode(expr(sigExpr("q_hs", fam))))
        .select(col("q_id"), col("pos").as("band"), col("col").as("minhash"))
      // a corpus-scale batch touches every partition anyway: skip the
      // pruning derivations along with the broadcast hints
      val index = (if (small)
          DI.prunedBands(s, dir, m,
            inBands.select(col("band"), col("minhash").as("bv")))
        else DI.bandsOf(s, dir, m))
      // distinct collapses multi-band meetings BEFORE the verify join —
      // each surviving pair is Jaccard-scored exactly once
      val cands = graft.Caching.persist(
        index.join(hint(inBands), Seq("band", "minhash"))
          .filter(col("doc_id") =!= col("q_id"))
          .select(col("q_id"), col("doc_id").as("c_id")).distinct())
      try {
        val corp = (if (small)
            DI.prunedDocs(s, dir, m, cands.select(col("c_id")))
          else DI.loadDocs(s, dir))
          .select(col("doc_id").as("c_id"), col("hs").as("c_hs"),
            col("n").as("c_n"))
        consume(corp
          .join(hint(cands), Seq("c_id"))
          .join(hint(q.select(col("q_id"), col("tsUs"), col("q_hs"),
            col("q_n"))), Seq("q_id"))
          .withColumn("inter",
            size(array_intersect(col("q_hs"), col("c_hs"))).cast("long"))
          .withColumn("jaccard", col("inter").cast("double") /
            (col("q_n") + col("c_n") - col("inter")))
          .filter(col("jaccard") >= 0.8)
          .select(least(col("q_id"), col("c_id")).as("doc_a"),
            greatest(col("q_id"), col("c_id")).as("doc_b"),
            col("jaccard"), timestamp_micros(col("tsUs")).as("ts")))
      } finally cands.unpersist()
    } finally q.unpersist()
  }

  /** The production streaming probe at corpus scale: a
    * `writeStream.foreachBatch` body routing every trigger through
    * [[probeIndexBatch]] — pruned band + doc scans, no per-trigger
    * full-index read, no cache residue. Parity with the lazy
    * [[nearDupAgainstIndex]] pair set is spec-pinned. */
  def foreachBatchProbe(s: SparkSession, indexDir: String)
      (sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (microbatch, _) => probeIndexBatch(s, microbatch, indexDir)(sink)
}
