package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The published near-dup index — the static side NearDupStream's
  * scaladoc promises ("republished as compacted parquet on each corpus
  * rebuild"), as real artifacts rather than prose:
  *
  *   <dir>/docs/   (doc_id, hs, n, truncated)  — per-doc shingle-hash sets
  *   <dir>/bands/  (band, minhash, doc_id)     — the MinHash band index
  *   <dir>/probe/  (doc_id, pre)               — sampled docs' PORTABLE
  *                                               per-shingle base hashes
  *                                               (the precision
  *                                               instrument, r16; stored
  *                                               FAMILY-FREE since r17 —
  *                                               band values derive on
  *                                               read at the artifact's
  *                                               recorded family)
  *   <dir>/meta/   (ndocs, parts, probemod,    — corpus count, bands
  *                  bandfam)                      layout modulus, frozen
  *                                               probe-sample modulus,
  *                                               band family (geometry
  *                                               rung)
  *
  * PARTITIONED BANDS LAYOUT (the VectorIndex convention): `bands` lands
  * hive-partitioned by `dpart = xxhash64(band, minhash) mod parts`
  * ([[StorageOps.partOf]]), repartitioned BY that column so each
  * partition directory holds ONE file; `parts` derives from the corpus
  * size at publish ([[StorageOps.layoutParts]] at [[RowsPerPart]]) and
  * is recorded in `meta`. The partition column
  * is a pure function of the band join key, so a small probe batch can
  * derive its partition-value set and read only those partitions
  * ([[prunedBands]] — the read cut behind
  * DedupOps.crossDedupBestFromIndex), while `parts` stays layout-only:
  * a republish may change it without invalidating any key.
  *
  * Both datasets commit atomically through the Spark committer (task temp
  * dirs → rename → `_SUCCESS`), so a reader that checks [[isPublished]]
  * never observes a half-written publish — the same reader-side wait
  * contract StorageOps.isCommitted carries for the data sink
  * (the reference's `_SUCCEED` marker, ShuffleDataExecutor.java:119-138).
  * A maintained index lives under a versioned root and runs the shared
  * lifecycle of [[StorageOps]] (publishNext, currentDir, readMeta,
  * fragmented, pruneVersions); every read takes the meta once
  * ([[loadMeta]]) and hands it down.
  *
  * Size at 100 TB: `docs` is one row per corpus doc (hash arrays,
  * token-capped); `bands` is 32 rows per doc of three int64s — both a
  * small multiple of a doc-id listing, far under the corpus itself, and
  * both partition-friendly (bands bucket naturally by (band, minhash) for
  * the stream join; docs by doc_id for the verify join). A rebuild is one
  * batch job; consumers swap directories on the `_SUCCESS` flip.
  *
  * PUBLISHED-KEY CONTRACT — the `minhash` column is a HASH, not an
  * arithmetic encoding: MinHashSig packs a band's r minima as
  * `((m1·P + m2)·P + m3)…`, which WRAPS int64 from r = 3 on
  * (MinHashSig.scala band-packing scaladoc). Key equality is therefore a
  * ~2^-64-collision-grade signal that the band's minima collided, not a
  * certainty — every consumer (in-repo: the stream join, cross-dedup,
  * the batch self-join) must exact-verify candidate pairs against
  * `docs.hs`, and an external consumer of this artifact must NOT treat
  * equal keys as proven r-minima collisions. */
object DedupIndex {

  /** Docs per layout partition ([[StorageOps.layoutParts]]): 32 band
    * rows each — ~8M skinny rows, ~200 MB per `bands` file. */
  private[graft] val RowsPerPart = 250L * 1000

  /** Probe-sample modulus for the PRECISION instrument
    * ([[graft.operators.DedupOps.probeBandsFromPres]]): targets ~500
    * sampled docs whatever the corpus size (mod 1 below 500 docs — at
    * fixture scale the probe IS the corpus, which is what makes its
    * precision reading statistically meaningful there). FROZEN at
    * publish and recorded in meta (`probemod`): merges lack the
    * replaced docs' text, so they can only maintain the sample the
    * publish chose; the periodic full republish re-derives it — the
    * same freeze-then-rebuild contract as the banding geometry. */
  private[graft] def probeModFor(nDocs: Long): Long =
    math.max(1L, nDocs / 500)

  /** The BAND FAMILY this artifact's band values were derived under —
    * recorded in meta so a probe can never silently join keys from one
    * geometry against stored values from another (a recall collapse
    * with no error). 1 (or a meta without the field) = the retired r15
    * LINEAR permutation constants, refused by every reader and upgraded
    * through the next merge (bands REBUILD from the stored hash sets —
    * hs is family-independent xxhash64 of shingles). 2 = the publish
    * default: independent splitmix constants at (6 rows, 32 bands).
    * 3..[[graft.functions.MinHashSig.MaxFamily]] = the PRECISION
    * ESCALATION ladder (r17): each rung re-bands the same constants at
    * a deeper (rows, bands) geometry — [[escalateBandFamily]], the
    * actuator a tripped [[PrecisionProbe]] floor fires. Readers derive
    * their probe keys at [[Meta.bandfam]]; only family-1 (and unknown
    * future) artifacts refuse ([[requireUsableBandFamily]]). */
  val BandFamily = 2

  /** The one-row meta: corpus count, `bands` layout modulus, frozen
    * probe-sample modulus, band family. A LEGACY artifact (no meta, or a
    * meta an older writer wrote without a field) reads the doc-store
    * count, parts 0 (consumers full-scan, the next merge upgrades the
    * layout), probemod 0 (no probe until the next full publish) and
    * family 1 (the retired linear constants). */
  final case class Meta(ndocs: Long, parts: Int, probemod: Long, bandfam: Int) {
    /** True iff this build derives the recorded family's band values. */
    def famUsable: Boolean = derivable(bandfam)
    /** True when the corpus count has drifted off the layout modulus —
      * the signal that the next merge pays the O(index) full rewrite
      * ([[MergeStats]] `*FullRewrite`), so an operator can schedule it
      * deliberately (off-peak) instead of discovering it inside an
      * ingest. A legacy artifact (parts = 0) always needs the rebuild —
      * the rewrite doubles as its layout upgrade. */
    def needsRebuild: Boolean =
      parts <= 0 || parts != StorageOps.layoutParts(ndocs, RowsPerPart)
  }

  /** True iff this build derives band family `fam` (2..MaxFamily). */
  private def derivable(fam: Int): Boolean =
    fam >= BandFamily && fam <= graft.functions.MinHashSig.MaxFamily

  /** The artifact's meta, read ONCE (legacy defaults in [[Meta]]). */
  def loadMeta(s: SparkSession, indexDir: String): Meta = {
    val m = StorageOps.readMeta(s, indexDir)
    Meta(m("ndocs", loadDocs(s, indexDir).count()), m("parts", 0),
      m("probemod", 0L), m("bandfam", 1))
  }

  private def requireUsableBandFamily(indexDir: String, m: Meta): Unit =
    require(m.famUsable,
      s"band index at $indexDir was published under band family " +
        s"${m.bandfam} (this build derives families $BandFamily.." +
        s"${graft.functions.MinHashSig.MaxFamily}) — its stored band " +
        "values can never match keys derived by this build, so probing " +
        "it would silently miss every cross near-dup; merge a batch " +
        "(the bands rebuild from the stored hash sets) or republish " +
        "from the corpus")

  /** What a [[mergePublishStats]] actually wrote, per partitioned
    * dataset: partition directories REWRITTEN (they hold batch rows or
    * rows of replaced ids) vs hard-copied verbatim from the live index
    * (no decode, no shuffle). The `*FullRewrite` flags mark the O(index)
    * fallbacks — a layout-modulus change at the merged count, or a
    * legacy artifact missing that dataset's partition column (where the
    * full write doubles as the upgrade to the current layout). */
  final case class MergeStats(parts: Int, dirtyDocParts: Int,
      copiedDocParts: Int, dirtyBandParts: Int, copiedBandParts: Int,
      docsFullRewrite: Boolean, bandsFullRewrite: Boolean)

  /** The `bands` partition value — a pure function of the join key. */
  private def dpartOf(band: org.apache.spark.sql.Column,
      minhash: org.apache.spark.sql.Column, nParts: Int) =
    StorageOps.partOf(nParts, band, minhash)

  /** The `docs` partition value — a pure function of doc_id alone, so a
    * replaced doc's old row and its replacement land in the SAME
    * partition, and the dirty-partition set of a merge is derivable from
    * the batch ids without touching the index. */
  private def docPartOf(docId: org.apache.spark.sql.Column, nParts: Int) =
    StorageOps.partOf(nParts, docId)

  /** Write all three datasets under the partitioned layout — the shared
    * tail of [[publishFrom]] and the full-rewrite merge path. `meta`
    * commits LAST so [[isPublished]] implies complete layouts. */
  private def writeAll(s: SparkSession, docs: DataFrame, bands: DataFrame,
      indexDir: String, nDocs: Long,
      probe: Option[DataFrame] = None, probeMod: Long = 0,
      fam: Int = BandFamily): Unit = {
    val parts = StorageOps.layoutParts(nDocs, RowsPerPart)
    docs.select("doc_id", "hs", "n", "truncated")
      .withColumn("dpart", docPartOf(col("doc_id"), parts))
      .repartition(parts, col("dpart"))
      .write.partitionBy("dpart")
      .mode("overwrite").parquet(s"$indexDir/docs")
    bands.select("band", "minhash", "doc_id")
      .withColumn("dpart", dpartOf(col("band"), col("minhash"), parts))
      .repartition(parts, col("dpart"))
      .write.partitionBy("dpart")
      .mode("overwrite").parquet(s"$indexDir/bands")
    // the sampled probe base hashes: ~500 docs x shingles — a single
    // file at any corpus size, written VERBATIM (compaction passes a
    // stored frame through unchanged); meta still commits LAST
    probe.foreach(writeProbeWithBands(s, _, indexDir, fam))
    StorageOps.writeMeta(s, indexDir, Meta(nDocs, parts, probeMod, fam))
  }

  /** Write the probe base-hash dataset AND its family-derived band
    * values (doc_id, band, pbv) beside it (r18, VERDICT #6): the health
    * surfaces' [[probePrecision]] used to re-derive the bands from `pre`
    * on EVERY read — a famRows·famBands-permutation cross join + two
    * aggregations that dominated q_dedup_index_escalated_stats (5.4-6.3s
    * r17; 612 permutations at the family-3 rung) for a result that is a
    * pure function of (stored pres, recorded family), i.e. of the
    * artifact version itself. Deriving ONCE at write time makes every
    * health read a ~sampled-docs×bands parquet scan. Ordering: bands
    * commit after `probe` and before `meta`, so a torn write reads as
    * probe_bands-uncommitted and [[loadProbe]] degrades to the on-read
    * derivation (identical rows, the pre-r18 cost). A verbatim-copied
    * legacy probe without `pre` (pre-r17 schema) stores no bands —
    * [[hasProbe]] already rejects that schema — and neither does a probe
    * compacted under a family this build cannot derive (family 1): the
    * copy stays verbatim and [[loadProbe]] derives on read. */
  private def writeProbeWithBands(s: SparkSession, probe: DataFrame,
      indexDir: String, fam: Int): Unit = {
    probe.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/probe")
    if (probe.columns.contains("pre") && derivable(fam))
      graft.operators.DedupOps.probeBandsFromPres(s,
          s.read.parquet(s"$indexDir/probe").select("doc_id", "pre"), fam)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$indexDir/probe_bands")
  }

  /** Build and publish both index datasets for the corpus at `corpusDir`.
    * Overwrites any previous publish at `indexDir` (the republish cycle).
    * Returns (docRows, bandRows). */
  def publish(s: SparkSession, corpusDir: String, indexDir: String): (Long, Long) =
    publishFrom(s, graft.Tables.documents(s, corpusDir), indexDir)

  /** [[publish]] over an arbitrary documents-shaped frame (doc_id, text) —
    * the entry the merge-equivalence spec and partial-corpus publishes
    * use. */
  def publishFrom(s: SparkSession, corpus: DataFrame, indexDir: String): (Long, Long) = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.Caching.persist(
      graft.operators.DedupOps.docHashesOf(s, corpus))
    try {
      val nDocs = docs.count()
      // the precision probe's BASE HASHES are derived HERE, while the
      // corpus TEXT is in hand (the index stores hash sets only) — its
      // sample modulus freezes into meta and merges maintain the
      // sampled rows; band values derive on read at the artifact's
      // family, which is what lets an escalation re-probe in-cycle
      val probeMod = probeModFor(nDocs)
      writeAll(s, docs, graft.streaming.NearDupStream.bandIndex(s, docs),
        indexDir, nDocs,
        Some(graft.operators.DedupOps.probePres(s, corpus, probeMod)),
        probeMod)
      (loadDocs(s, indexDir).count(), loadBands(s, indexDir).count())
    } finally docs.unpersist()
  }

  /** Incremental index maintenance — the lifecycle step between full
    * rebuilds: merge an ACCEPTED batch of documents (doc_id, text; the
    * docs cross-dedup admitted) into a published index and publish the
    * result as a NEW index directory. Consumers swap directories on the
    * `_SUCCESS` flip exactly as the rebuild contract above describes —
    * writing beside, never into, the live index is what makes the swap
    * atomic on any store (and is why `newIndexDir != indexDir` is
    * enforced: an in-place overwrite would race its own readers).
    *
    * Re-submitted ids take LATEST-WINS: the old index's rows for ids
    * present in the batch are dropped before the union, so a re-ingested
    * (edited) document replaces its hash set and band keys.
    *
    * Incrementality: shingling/hashing/banding run over the BATCH only,
    * and the write is PARTITION-LEVEL (see [[mergePublishStats]]): both
    * layouts partition by pure key functions, so the merge rewrites only
    * the partitions holding batch or replaced rows and hard-copies every
    * other partition file verbatim — O(batch) compute + O(dirty)
    * write, never a corpus re-shingle and no longer an O(index) copy.
    * Returns (docRows, bandRows) of the merged publish. */
  def mergePublish(s: SparkSession, indexDir: String, newDocs: DataFrame,
      newIndexDir: String): (Long, Long) =
    mergePublishStats(s, indexDir, newDocs, newIndexDir)._1

  /** [[mergePublish]] returning what was actually written.
    *
    * Partition-level dirty-set derivation, per dataset:
    *   - `docs` partitions by a pure function of doc_id, so the dirty
    *     set is derivable from the BATCH alone (a replaced doc's old row
    *     lives in the same partition its replacement lands in) — no
    *     index scan at all;
    *   - `bands` partitions by a pure function of (band, minhash). A
    *     replaced doc's old band keys re-derive from its STORED hash set
    *     (bandIndex is a pure row function, minima are order-invariant),
    *     read through the doc-pruned scan — so the dirty band-partition
    *     set costs O(batch + replaced), again with no band-table scan.
    *
    * Dirty partitions rewrite through a partition-PRUNED read of the
    * live index (anti-join replaced ids, union batch rows); clean
    * partition directories hard-copy verbatim (one file each — the
    * layout invariant). Fallbacks to the full rewrite, per dataset: the
    * layout modulus changed at the merged count, or the live artifact
    * predates that dataset's partition column (r11 bands-only layout,
    * pre-r11 unpartitioned) — where the full write doubles as the
    * upgrade. */
  def mergePublishStats(s: SparkSession, indexDir: String,
      newDocs: DataFrame, newIndexDir: String): ((Long, Long), MergeStats) = {
    require(isPublished(s, indexDir), s"no published index at $indexDir")
    // canonical paths: getAbsolutePath would let a symlinked or
    // dot-segment spelling of the live dir slip past the guard
    require(new java.io.File(newIndexDir).getCanonicalPath !=
      new java.io.File(indexDir).getCanonicalPath,
      "merge must publish beside the live index, not into it")
    graft.functions.GraftFunctions.register(s)
    val batch = graft.Caching.persist(
      graft.operators.DedupOps.docHashesOf(s, newDocs))
    try {
      val batchIds = batch.select(col("doc_id"))
      val m = loadMeta(s, indexDir)
      val parts = m.parts
      val docsParted = loadDocsRaw(s, indexDir).columns.contains("dpart")
      val bandsParted = loadBandsRaw(s, indexDir).columns.contains("dpart")

      // replaced ids' stored rows: via the doc-pruned scan when the docs
      // layout allows it, else a full-scan semi-join (legacy)
      val batchDocParts: Array[Long] =
        if (parts > 0 && docsParted)
          batch.select(docPartOf(col("doc_id"), parts).as("p"))
            .distinct().collect().map(_.getLong(0))
        else Array.empty
      val replacedDocs = graft.Caching.persist(
        (if (parts > 0 && docsParted)
           StorageOps.prunedByVals(loadDocsRaw(s, indexDir), "dpart",
             batchDocParts, parts)
         else loadDocsRaw(s, indexDir))
          .select("doc_id", "hs", "n", "truncated")
          .join(batchIds, Seq("doc_id"), "left_semi"))
      try {
        val nReplaced = replacedDocs.count()
        val nDocs2 = m.ndocs - nReplaced + batch.count()
        val parts2 = StorageOps.layoutParts(nDocs2, RowsPerPart)
        val incremental = parts2 == parts && parts > 0
        // a family-1 (retired linear constants) or unknown-future
        // artifact's stored band VALUES are unusable: neither the
        // incremental path nor the row-merging fallback may touch them —
        // the bands rebuild from the merged DOC HASH SETS below (hs is
        // family-independent). A usable family (2..MaxFamily, including
        // precision-ESCALATED rungs) merges at ITS OWN geometry: batch
        // rows sign at `fam`, and the merged meta re-records it.
        val fam = m.bandfam
        val famOk = m.famUsable

        // ---- docs --------------------------------------------------
        val (dirtyDoc, copiedDoc) =
          if (incremental && docsParted) {
            val dirtyRows = StorageOps.prunedByVals(loadDocsRaw(s, indexDir),
                "dpart", batchDocParts, parts)
              .select("doc_id", "hs", "n", "truncated")
              .join(batchIds, Seq("doc_id"), "left_anti")
              .unionByName(batch.select("doc_id", "hs", "n", "truncated"))
              .withColumn("dpart", docPartOf(col("doc_id"), parts))
            dirtyRows.repartition(math.max(1, batchDocParts.length),
                col("dpart"))
              .write.partitionBy("dpart")
              .mode("overwrite").parquet(s"$newIndexDir/docs")
            (batchDocParts.length,
              StorageOps.copyCleanParts(s, s"$indexDir/docs",
                s"$newIndexDir/docs", "dpart", batchDocParts.toSet))
          } else {
            loadDocs(s, indexDir).join(batchIds, Seq("doc_id"), "left_anti")
              .unionByName(batch.select("doc_id", "hs", "n", "truncated"))
              .withColumn("dpart", docPartOf(col("doc_id"), parts2))
              .repartition(parts2, col("dpart"))
              .write.partitionBy("dpart")
              .mode("overwrite").parquet(s"$newIndexDir/docs")
            (parts2, 0)
          }

        // ---- bands -------------------------------------------------
        val batchBands = graft.streaming.NearDupStream
          .bandIndex(s, batch, if (famOk) fam else BandFamily)
          .select(col("band"), col("minhash"), col("doc_id"))
        val (dirtyBand, copiedBand) =
          if (!famOk) {
            // the family upgrade: re-derive EVERY band row from the
            // merged doc store (one signature pass — the same cost the
            // original publish paid), never merging old-family values
            val mergedDocs = loadDocs(s, indexDir)
              .join(batchIds, Seq("doc_id"), "left_anti")
              .unionByName(batch.select("doc_id", "hs", "n", "truncated"))
            graft.streaming.NearDupStream.bandIndex(s, mergedDocs)
              .select(col("band"), col("minhash"), col("doc_id"))
              .withColumn("dpart", dpartOf(col("band"), col("minhash"),
                parts2))
              .repartition(parts2, col("dpart"))
              .write.partitionBy("dpart")
              .mode("overwrite").parquet(s"$newIndexDir/bands")
            (parts2, 0)
          } else if (incremental && bandsParted) {
            // replaced docs' old band keys, re-derived from stored hs at
            // the artifact's own family (this branch implies famOk)
            val replacedBands =
              graft.streaming.NearDupStream.bandIndex(s, replacedDocs, fam)
                .select(col("band"), col("minhash"))
            val dirtyBp = batchBands
              .select(dpartOf(col("band"), col("minhash"), parts).as("p"))
              .union(replacedBands
                .select(dpartOf(col("band"), col("minhash"), parts)))
              .distinct().collect().map(_.getLong(0))
            val dirtyRows = StorageOps.prunedByVals(loadBandsRaw(s, indexDir),
                "dpart", dirtyBp, parts)
              .select("band", "minhash", "doc_id")
              .join(batchIds, Seq("doc_id"), "left_anti")
              .unionByName(batchBands)
              .withColumn("dpart", dpartOf(col("band"), col("minhash"),
                parts))
            dirtyRows.repartition(math.max(1, dirtyBp.length), col("dpart"))
              .write.partitionBy("dpart")
              .mode("overwrite").parquet(s"$newIndexDir/bands")
            (dirtyBp.length,
              StorageOps.copyCleanParts(s, s"$indexDir/bands",
                s"$newIndexDir/bands", "dpart", dirtyBp.toSet))
          } else {
            bandsOf(s, indexDir, m).join(batchIds, Seq("doc_id"), "left_anti")
              .unionByName(batchBands)
              .withColumn("dpart", dpartOf(col("band"), col("minhash"),
                parts2))
              .repartition(parts2, col("dpart"))
              .write.partitionBy("dpart")
              .mode("overwrite").parquet(s"$newIndexDir/bands")
            (parts2, 0)
          }

        // ---- precision probe ----------------------------------------
        // maintained at the FROZEN sample modulus: replaced sampled docs
        // drop their stored rows, batch-sampled docs re-derive from the
        // batch text — O(batch/mod) compute, one small file. The stored
        // layer is the FAMILY-FREE base hashes (r17), so the probe
        // survives family upgrades and escalations verbatim; only a
        // pre-r17 artifact (probe stored as family-derived band values —
        // hasProbe rejects its schema) or a probe-less legacy stays
        // probe-less (probemod 0) until its next full publish.
        val probeMod =
          if (hasProbeAt(s, indexDir, m.probemod)) m.probemod else 0L
        if (probeMod > 0) {
          writeProbeWithBands(s,
            loadProbePres(s, indexDir)
              .join(batchIds, Seq("doc_id"), "left_anti")
              .unionByName(graft.operators.DedupOps
                .probePres(s, newDocs, probeMod)),
            newIndexDir, if (famOk) fam else BandFamily)
        }
        StorageOps.writeMeta(s, newIndexDir, Meta(nDocs2, parts2, probeMod,
          if (famOk) fam else BandFamily))
        // the merged family is usable by construction: count the raw bands
        ((loadDocs(s, newIndexDir).count(),
          loadBandsRaw(s, newIndexDir).count()),
          MergeStats(parts2, dirtyDoc, copiedDoc, dirtyBand, copiedBand,
            docsFullRewrite = !(incremental && docsParted),
            bandsFullRewrite = !famOk || !(incremental && bandsParted)))
      } finally replacedDocs.unpersist()
    } finally batch.unpersist()
  }

  // ---- versioned-root lifecycle (the VectorIndex convention) ---------
  // A maintained text index lives under ONE root: <root>/v<n>/{docs,
  // bands,meta} + <root>/_current (the [[StorageOps]] lifecycle).
  // mergePublish's "publish beside, never into" contract becomes
  // automatic — the next version IS beside the live one — and consumers
  // resolve through [[StorageOps.currentDir]] instead of being handed a
  // new directory name per merge.

  /** Publish `corpus` as the root's next immutable version and flip the
    * pointer. Returns (docRows, bandRows) of the published version. */
  def publishVersionedFrom(s: SparkSession, corpus: DataFrame,
      root: String): (Long, Long) =
    StorageOps.publishNext(s, root)(publishFrom(s, corpus, _))

  /** [[isPublished]] through the version pointer. */
  def isPublishedVersioned(s: SparkSession, root: String): Boolean =
    StorageOps.currentVersion(s, root)
      .exists(v => isPublished(s, s"$root/$v"))

  /** [[Meta.needsRebuild]] of the artifact at `indexDir`. */
  def needsRebuild(s: SparkSession, indexDir: String): Boolean =
    loadMeta(s, indexDir).needsRebuild

  /** One production ingest cycle on a versioned root — the text twin of
    * [[VectorIndex.maintain]]: merge `newDocs` into the live version as
    * the next version (partition-level; a layout drift or legacy
    * artifact takes the full rewrite INSIDE the merge, which IS this
    * index's rebuild — nothing retrains), flip the pointer, prune
    * non-active versions to `keep` (default 2: the previous version
    * stays readable for mid-probe sessions). Crash-safe at each step:
    * versions are immutable, the pointer flips last, and a crashed merge
    * leaves a meta-less next version that [[isPublished]] rejects.
    * Returns the merged (docRows, bandRows) and the [[MergeStats]]
    * (whose `*FullRewrite` flags report whether the rebuild ran). */
  def maintain(s: SparkSession, root: String, newDocs: DataFrame,
      keep: Int = 2,
      precisionProbe: Option[PrecisionProbe] = None): ((Long, Long), MergeStats) = {
    val live = StorageOps.currentDir(s, root)
    val (counts, stats) = StorageOps.publishNext(s, root)(
      mergePublishStats(s, live, newDocs, _))
    // PRECISION GATE (r16 verdict #2 — the observe-then-act close of
    // the q_dedup_index_stats drift signal, mirroring
    // VectorIndex.maintain's recall gate): probe the merged artifact's
    // banded-candidate precision; a floor trip escalates the band
    // family ONCE (deeper rows-per-band geometry, recall pinned —
    // [[escalateBandFamily]]) and re-probes, surfacing per caller
    // policy if still below. An armed gate on a probe-less artifact
    // fails loudly — silently skipping a gate the caller armed would
    // defeat its purpose (the recall-gate convention).
    precisionProbe.foreach { p =>
      val merged = StorageOps.currentDir(s, root)
      val m = loadMeta(s, merged)
      require(hasProbeAt(s, merged, m.probemod),
        s"precision probe armed but the index at $root carries no " +
          "readable probe dataset (legacy or pre-r17 artifact) — run a " +
          "full publish to derive one, or disarm the probe")
      if (probePrecisionAt(s, merged, m).below(p.floor)) {
        val next = escalateBandFamily(s, root)
        val after = probePrecision(s, StorageOps.currentDir(s, root))
        if (after.below(p.floor)) {
          val msg = s"precision floor ${p.floor} not restored by the " +
            s"band-family escalation at $root: family $next measures " +
            s"${after.precision.getOrElse(Double.NaN)} over " +
            s"${after.candidates} probe candidates — the floor is " +
            "unreachable for this corpus at this rung; escalate again " +
            "next cycle, lower the floor, or raise the verify threshold"
          if (p.failUnrecovered) throw new IllegalStateException(msg)
          else log.warn(msg)
        }
      }
    }
    compactIfFragmented(s, root)
    StorageOps.pruneVersions(s, root, keep)
    (counts, stats)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Banded-candidate PRECISION of the published artifact, measured
    * from its stored probe: sampled docs' portable band values
    * (derived at the artifact's recorded family) self-join on
    * (band, pbv), candidate pairs are exact-Jaccard verified against
    * the doc store through the id-pruned scan, and precision is
    * verified/candidates ([[ProbeStats]]). The same statistic
    * q_dedup_index_stats publishes into the correctness gate — this
    * entry is the engine-side read the maintain gate acts on. Cost:
    * probe × probe over ~500 sampled docs plus a pruned verify join —
    * independent of corpus size. */
  def probePrecision(s: SparkSession, indexDir: String): ProbeStats =
    probePrecisionAt(s, indexDir, loadMeta(s, indexDir))

  /** [[probePrecision]] with the artifact's meta already in hand. */
  private[graft] def probePrecisionAt(s: SparkSession, indexDir: String,
      m: Meta): ProbeStats = {
    require(hasProbeAt(s, indexDir, m.probemod),
      s"no readable precision probe at $indexDir")
    val probe = graft.Caching.persist(probeAt(s, indexDir, m.bandfam))
    try {
      val cand = graft.Caching.persist(
        probe.alias("a").join(probe.alias("b"),
            col("a.band") === col("b.band") &&
              col("a.pbv") === col("b.pbv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct())
      try {
        val probeDocs = probe.select(countDistinct("doc_id"))
          .collect()(0).getLong(0)
        val nCand = cand.count()
        val ids = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        val verified = graft.operators.DedupOps
          .verifyPairs(cand, prunedDocs(s, indexDir, m, ids)).count()
        ProbeStats(probeDocs, nCand, verified)
      } finally cand.unpersist()
    } finally probe.unpersist()
  }

  /** The PRECISION-FLOOR ACTUATOR: republish the live version's data
    * re-banded at the NEXT band family rung — same docs, same probe
    * base hashes (copied verbatim), bands re-derived from the stored
    * hash sets at the deeper (rows, bands) geometry
    * ([[graft.functions.MinHashSig.famRows]]; recall at J=0.8 pinned
    * by the ladder's construction). One signature pass over the doc
    * store — the cost a full publish pays, bought only when a floor
    * trips. Family-1 artifacts upgrade through a merge instead
    * (their escalation IS the upgrade to family 2); an exhausted
    * ladder fails loudly. Returns the new family. */
  def escalateBandFamily(s: SparkSession, root: String): Int = {
    val live = StorageOps.currentDir(s, root)
    val m = loadMeta(s, live)
    val fam = m.bandfam
    require(fam >= BandFamily,
      s"cannot escalate a family-$fam artifact: merge a batch first " +
        "(the merge rebuilds its bands at the current publish family)")
    val next = fam + 1
    require(next <= graft.functions.MinHashSig.MaxFamily,
      s"band-family ladder exhausted at $root: family $fam is the " +
        s"deepest geometry under the ${4096}-permutation cap — a still-" +
        "tripped precision floor now needs a different remedy (raise " +
        "the verify threshold, shard the corpus, or lower the floor)")
    val docs = loadDocs(s, live)
    StorageOps.publishNext(s, root)(writeAll(s, docs,
      graft.streaming.NearDupStream.bandIndex(s, docs, next), _, m.ndocs,
      storedProbe(s, live, m), m.probemod, next))
    next
  }

  /** The stored probe base hashes of the artifact at `indexDir`, for a
    * republish that copies them VERBATIM (any stored schema generation). */
  private def storedProbe(s: SparkSession, indexDir: String,
      m: Meta): Option[DataFrame] =
    if (m.probemod > 0 && StorageOps.isCommitted(s, s"$indexDir/probe"))
      Some(s.read.parquet(s"$indexDir/probe"))
    else None

  /** Small-file compaction hook in the [[maintain]] cycle — the
    * [[VectorIndex.compactIfFragmented]] twin: if either partitioned
    * dataset of the ACTIVE version holds more than one data file in any
    * partition directory, republish the version compacted (same rows,
    * same recorded count, the canonical one-file-per-partition layout)
    * as the next version and flip. This library's writers keep the
    * invariant by construction; the hook covers foreign/legacy
    * artifacts. Returns whether a compaction version was published. */
  def compactIfFragmented(s: SparkSession, root: String): Boolean = {
    val live = StorageOps.currentDir(s, root)
    if (!Seq("docs", "bands").exists(ds =>
        StorageOps.fragmented(s, s"$live/$ds"))) return false
    val m = loadMeta(s, live)
    // RAW reads + re-recorded family: compaction is a verbatim layout
    // move, so it must neither refuse a family this build cannot derive
    // (the rows copy unchanged — r16 ADVICE: the loadBands family gate
    // here raised a misleading "probing would miss" error for an
    // artifact nobody was probing) nor silently stamp the output with
    // the publish-default family; the probe copies verbatim too
    StorageOps.publishNext(s, root)(writeAll(s,
      loadDocsRaw(s, live).select("doc_id", "hs", "n", "truncated"),
      loadBandsRaw(s, live).select("band", "minhash", "doc_id"),
      _, m.ndocs, storedProbe(s, live, m), m.probemod, m.bandfam))
    true
  }

  /** True iff the artifact is complete: data datasets committed AND
    * `meta` committed — meta writes LAST (after every dirty-partition
    * write and clean-partition hard-copy), so its presence is what makes
    * this gate imply a whole layout; a merge that crashed mid-copy
    * leaves a meta-less partitioned dir that must read as UNPUBLISHED.
    * The one exception is a true LEGACY pre-layout artifact (no meta by
    * construction): it is accepted only when BOTH datasets are also
    * unpartitioned — consumers then take the full-scan path
    * ([[Meta.parts]] = 0) and the next merge upgrades it. A partitioned
    * dataset without meta is torn, never legacy. */
  def isPublished(s: SparkSession, indexDir: String): Boolean =
    StorageOps.isCommitted(s, s"$indexDir/docs") &&
      StorageOps.isCommitted(s, s"$indexDir/bands") && {
        StorageOps.isCommitted(s, s"$indexDir/meta") ||
          (!loadDocsRaw(s, indexDir).columns.contains("dpart") &&
            !loadBandsRaw(s, indexDir).columns.contains("dpart"))
      }

  /** The doc store WITHOUT the layout's partition column — the
    * reader-facing schema is (doc_id, hs, n, truncated) exactly; `dpart`
    * is derivable from doc_id whenever a consumer wants the pruned
    * scan. */
  def loadDocs(s: SparkSession, indexDir: String): DataFrame =
    loadDocsRaw(s, indexDir).select("doc_id", "hs", "n", "truncated")

  // corpus-scale index datasets route through the chaos read gate (the
  // VectorIndex convention: no-op frame at probability 0, retry
  // bit-identity under injection pinned in ChaosSpec)
  private def loadDocsRaw(s: SparkSession, indexDir: String): DataFrame =
    graft.Chaos.gate(s, s.read.parquet(s"$indexDir/docs"))

  /** The band table WITHOUT the layout's partition column — the
    * reader-facing schema is (band, minhash, doc_id) exactly; `dpart` is
    * derivable from (band, minhash) whenever a consumer wants the pruned
    * scan ([[prunedBands]] reads [[loadBandsRaw]] and drops it after the
    * filter). */
  def loadBands(s: SparkSession, indexDir: String): DataFrame =
    bandsOf(s, indexDir, loadMeta(s, indexDir))

  /** [[loadBands]] with the artifact's meta already in hand. */
  private[graft] def bandsOf(s: SparkSession, indexDir: String,
      m: Meta): DataFrame = {
    requireUsableBandFamily(indexDir, m)
    loadBandsRaw(s, indexDir).select("band", "minhash", "doc_id")
  }

  /** The sampled PORTABLE probe bands (doc_id, band, pbv), derived ON
    * READ from the stored base hashes at the artifact's recorded band
    * family — see [[graft.operators.DedupOps.probeBandsFromPres]].
    * Sampled-small: ~500 docs × famBands rows at any corpus size. */
  def loadProbe(s: SparkSession, indexDir: String): DataFrame =
    probeAt(s, indexDir, loadMeta(s, indexDir).bandfam)

  // stored derived bands when this build's writers produced them
  // ([[writeProbeWithBands]]); on-read derivation at `fam` (read only
  // then) for any older artifact — identical rows either way
  private def probeAt(s: SparkSession, indexDir: String,
      fam: => Int): DataFrame =
    if (StorageOps.isCommitted(s, s"$indexDir/probe_bands"))
      s.read.parquet(s"$indexDir/probe_bands").select("doc_id", "band", "pbv")
    else graft.operators.DedupOps.probeBandsFromPres(s,
      loadProbePres(s, indexDir), fam)

  /** The stored probe base layer (doc_id, pre) — family-free; merges
    * maintain it, escalations and compactions copy it verbatim. */
  private[graft] def loadProbePres(s: SparkSession,
      indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/probe").select("doc_id", "pre")

  /** True iff the artifact carries a READABLE precision probe: a
    * recorded sample modulus, a committed probe dataset, and the r17
    * family-free schema (a pre-r17 probe stored family-DERIVED
    * (band, pbv) rows — unreadable after any family change, so it
    * reads as probe-less and the next full publish re-derives). Health
    * surfaces gate on this and emit NULL probe columns when false
    * (r16 ADVICE: a probe-less artifact must degrade, not throw). */
  def hasProbe(s: SparkSession, indexDir: String): Boolean =
    hasProbeAt(s, indexDir, loadMeta(s, indexDir).probemod)

  /** [[hasProbe]] with the modulus already in hand — callers that just
    * did a [[loadMeta]] skip the second meta read. */
  private[graft] def hasProbeAt(s: SparkSession, indexDir: String,
      probeMod: Long): Boolean =
    probeMod > 0 &&
      StorageOps.isCommitted(s, s"$indexDir/probe") &&
      s.read.parquet(s"$indexDir/probe").columns.contains("pre")

  private def loadBandsRaw(s: SparkSession, indexDir: String): DataFrame =
    graft.Chaos.gate(s, s.read.parquet(s"$indexDir/bands"))

  /** The band table pruned to the partitions a probe batch's band keys
    * touch: derives the batch's `dpart` value set at the published
    * layout modulus (a distinct-collect bounded by `parts`, never the
    * batch size) and plants a static `isin` the scan turns into a
    * PartitionFilter — skipped when every partition is touched, which is
    * when pruning could not have helped. A (band, minhash) bucket lives
    * entirely inside one partition (the column is a pure key function),
    * so per-bucket width statistics computed over the pruned scan are
    * exact. `batchBands`: (band, bv) — minhash under its join alias. */
  private[graft] def prunedBands(s: SparkSession, indexDir: String, m: Meta,
      batchBands: DataFrame): DataFrame = {
    requireUsableBandFamily(indexDir, m)
    val nParts = m.parts
    val raw = loadBandsRaw(s, indexDir)
    if (nParts <= 0 || !raw.columns.contains("dpart")) // legacy: full scan
      return raw.select("band", "minhash", "doc_id")
    val parts = batchBands
      .select(dpartOf(col("band"), col("bv"), nParts).as("dpart"))
      .distinct().collect().map(_.getLong(0))
    StorageOps.prunedByVals(raw, "dpart", parts, nParts)
      .select("band", "minhash", "doc_id")
  }

  /** The doc store pruned to the partitions a given doc_id set touches —
    * the VERIFY-join twin of [[prunedBands]]: `docs` partitions by a pure
    * function of doc_id, so a candidate set's hash-array rows live in a
    * derivable partition subset. `ids` carries one doc_id column (first
    * column is used); the distinct-collect is bounded by the layout
    * modulus, never the candidate count. Legacy artifacts degrade to the
    * full scan. */
  private[graft] def prunedDocs(s: SparkSession, indexDir: String, m: Meta,
      ids: DataFrame): DataFrame = {
    val nParts = m.parts
    val raw = loadDocsRaw(s, indexDir)
    if (nParts <= 0 || !raw.columns.contains("dpart")) // legacy: full scan
      return raw.select("doc_id", "hs", "n", "truncated")
    val parts = ids
      .select(docPartOf(col(ids.columns.head), nParts).as("dpart"))
      .distinct().collect().map(_.getLong(0))
    StorageOps.prunedByVals(raw, "dpart", parts, nParts)
      .select("doc_id", "hs", "n", "truncated")
  }
}
