package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The published FINGERPRINT index — the multimodal dedup streams'
  * static side ([[graft.streaming.AudioDedupStream]] /
  * [[graft.streaming.VideoDedupStream]] /
  * [[graft.streaming.ImageDedupStream]]) as a real partitioned artifact
  * instead of a caller-held DataFrame, completing the index family:
  * text (DedupIndex), vectors (VectorIndex), and now the fingerprint
  * group tables the codec pipelines publish on each corpus rebuild.
  *
  * Two dataset shapes, one layout discipline (the shared versioned
  * lifecycle of [[StorageOps]] — immutable `v<n>` dirs, `_current`
  * pointer, one-row meta — hive-partitioned by [[StorageOps.partOf]], one
  * file per partition):
  *
  *   EXACT-equality probes (audio/video fingerprints):
  *     <dir>/v<n>/groups/  (fp, n, rep)  partitioned by
  *                         fpart = xxhash64(fp) mod parts
  *   BANDED hamming-<=3 probes (image dHash):
  *     <dir>/v<n>/bands/   (band, bv, dhash, n, rep)  — the 4x16-bit
  *                         band explosion of each DISTINCT signature,
  *                         partitioned by ipart = xxhash64(band, bv)
  *                         mod parts (a probe derives the same 4 keys
  *                         per arrival, so banding AND pruning use one
  *                         derivation)
  *   plus <dir>/v<n>/meta/ (ngroups, parts) and <dir>/_current.
  *
  * A small probe batch derives its partition-value set (bounded by
  * `parts`, never the batch size) and reads ONLY those partitions —
  * the same static-isin PartitionFilter cut both sibling indexes carry,
  * pinned in PlanShapeSpec. At 100 TB the group table is one row per
  * DISTINCT fingerprint (far under the corpus); a republish is one
  * batch job and readers swap on the pointer flip.
  */
object FingerprintIndex {

  /** Distinct fingerprints per layout partition
    * ([[StorageOps.layoutParts]]). */
  private[graft] val RowsPerPart = 4L * 1000 * 1000

  /** The publish-default band family: contiguous 4×16-bit chunks. */
  val BandFamily = 1

  /** The PRECISION-ESCALATION ladder for the banded (dHash) shape:
    * family f ≥ 2 permutes bit positions by π(k) = k·m_f mod 64 (m_f
    * odd ⇒ π bijective ⇒ still a partition into four disjoint 16-bit
    * bands, so the pigeonhole guarantee — hamming ≤ 3 collides in ≥ 1
    * band — holds at EVERY family). What changes is which bits share a
    * band: dHash bits are spatially contiguous gradients, so images
    * with constant regions (borders, letterboxing, flat sky) agree on
    * RUNS of adjacent bits and flood a contiguous chunk's bucket with
    * pairs that are nowhere near hamming ≤ 3 overall — the precision
    * collapse the in-gate probe measures. A scatter family spreads any
    * 16 agreeing contiguous bits ~4 per band, leaving every band ~12
    * independent bits, and the flood's buckets disperse. One multiplier
    * per rung so repeated escalations keep moving the partition. */
  private val ScatterMults = Map(2 -> 21, 3 -> 13, 4 -> 37, 5 -> 45)

  /** Family `fam`'s bit-permutation multiplier — exposed so the
    * escalated health query's DuckDB oracle can interpolate the SAME
    * constant its band replay needs ([[graft.operators.MultiModalOps]];
    * the two derivations must never fork). */
  private[graft] def scatterMult(fam: Int): Int =
    ScatterMults.getOrElse(fam, throw new IllegalArgumentException(
      s"no scatter family $fam (valid: 2..$MaxFamily)"))

  /** Deepest supported band family ([[ScatterMults]] rungs + the
    * contiguous family 1). */
  val MaxFamily = 5

  /** The 4-band explosion of a 64-bit signature column at band family
    * `fam` — the SAME split [[graft.streaming.ImageDedupStream]] probes
    * with (pigeonhole-exact for hamming <= 3 at every family). Family 1
    * keeps the contiguous shift-mask fast path; scatter families pay a
    * 64-step fold per signature — probe batches and publishes, never a
    * per-row hot loop. */
  private[graft] def bandsExpr(c: String, fam: Int = BandFamily): String =
    if (fam == BandFamily)
      s"""transform(sequence(0, 3),
         |          j -> struct(j AS band,
         |                      shiftrightunsigned($c, j * 16) & 65535 AS bv))"""
        .stripMargin
    else {
      val m = ScatterMults.getOrElse(fam, throw new IllegalArgumentException(
        s"band family must be in [1, $MaxFamily], got $fam"))
      s"""transform(sequence(0, 3),
         |  j -> struct(j AS band,
         |    aggregate(filter(sequence(0, 63),
         |                     k -> ((k * $m) % 64) DIV 16 = j),
         |              CAST(0 AS BIGINT),
         |              (acc, k) -> acc + shiftleft(
         |                shiftrightunsigned($c, k) & 1,
         |                ((k * $m) % 64) % 16)) AS bv))""".stripMargin
    }

  /** The one-row meta of a version. `last_batch` (stored name) is the
    * foreachBatch batchId of the last applied merge, -1 for none;
    * artifacts written before it or `bandfam` existed read as -1 and the
    * contiguous family (the exact-equality shape has no banding). */
  final case class Meta(ngroups: Long, parts: Int, last_batch: Long = -1L,
      bandfam: Int = BandFamily) {
    /** The replay guard's memory; None for a publish (no batch). */
    def lastApplied: Option[Long] = Some(last_batch).filter(_ >= 0)
    /** True when the distinct-fingerprint count has drifted off the
      * layout modulus — the next merge pays the O(index) full rewrite
      * ([[MergeStats.fullRewrite]]), so an operator can schedule it
      * deliberately (off-peak); read by q_fingerprint_index_stats. */
    def needsRebuild: Boolean =
      parts <= 0 || parts != StorageOps.layoutParts(ngroups, RowsPerPart)
  }

  /** The active version of the index at `dir` and its meta, resolved
    * and read once — every read handed it sees that one version. */
  def open(s: SparkSession, dir: String): StorageOps.Version[Meta] =
    StorageOps.open(s, dir) { v =>
      val m = StorageOps.readMeta(s, v)
      Meta(m[Long]("ngroups"), m[Int]("parts"), m("last_batch", -1L),
        m("bandfam", BandFamily))
    }

  def loadMeta(s: SparkSession, dir: String): Meta = open(s, dir).meta

  private def published(s: SparkSession, vdir: String): Boolean =
    StorageOps.committed(s, vdir, "meta") &&
      (StorageOps.committed(s, vdir, "groups") ||
        StorageOps.committed(s, vdir, "bands"))

  def isPublished(s: SparkSession, dir: String): Boolean =
    StorageOps.currentVersion(s, dir).exists(v => published(s, s"$dir/$v"))

  /** [[open]] for a write path: the version must be fully published. */
  private def openPublished(s: SparkSession,
      dir: String): StorageOps.Version[Meta] = {
    val live = open(s, dir)
    require(published(s, live.dir), s"no published fingerprint index at $dir")
    live
  }

  /** The foreachBatch batchId recorded by the last applied merge. */
  def lastAppliedBatch(s: SparkSession, dir: String): Option[Long] =
    loadMeta(s, dir).lastApplied

  /** The replay-guard decision on a submitted batchId vs the recorded
    * last applied one. foreachBatch batchIds are MONOTONIC, so only two
    * stale shapes exist and they mean different things:
    *
    *   - `== last`: Spark's standard crash-replay of the last
    *     uncommitted trigger — the merge already landed, so the
    *     re-submission is a silent NO-OP (returns true);
    *   - `< last`: an out-of-order re-submission no foreachBatch ever
    *     produces — the caller is confused (a manual retry of an OLDER
    *     batch), and silently applying it would double-count while
    *     silently dropping it could LOSE a batch that was never applied.
    *     Rejected loudly.
    *
    * A fresh (`> last`) or unguarded (None) submission returns false and
    * the merge proceeds. */
  private def replayedBatch(dir: String, m: Meta,
      batchId: Option[Long]): Boolean =
    (batchId, m.lastApplied) match {
      case (Some(b), Some(last)) if b == last => true
      case (Some(b), Some(last)) if b < last =>
        throw new IllegalArgumentException(
          s"out-of-order batchId $b: the index at $dir already applied " +
            s"batch $last — foreachBatch ids are monotonic, so an older " +
            "re-submission is a caller bug (it was either already merged, " +
            "or skipping it lost data). After a DELIBERATE streaming " +
            "checkpoint reset (ids restart at 0), run " +
            "clearLastAppliedBatch once before restarting the stream")
      case _ => false
    }

  /** CHECKPOINT-RESET RECOVERY (r15 ADVICE): clear the recorded
    * last-applied batchId by publishing the ACTIVE version's data
    * verbatim (file-level hard copies, no decode, no shuffle) under a
    * fresh meta with `last_batch` unset. The replay guard rejects any
    * batchId older than the recorded one — correct for true
    * out-of-order re-submissions, but a DELIBERATE streaming
    * checkpoint reset restarts foreachBatch ids at 0, which would
    * hard-fail every merge until ids climb past the old record. This
    * helper is the sanctioned escape: run it once, after the reset and
    * BEFORE the stream restarts, instead of rebuilding the index from
    * the corpus. The operator owns not double-applying data across the
    * reset (exactly the at-most-once contract an unguarded caller has).
    * Returns false (no new version) when no batchId was recorded. */
  def clearLastAppliedBatch(s: SparkSession, dir: String): Boolean = {
    val live = openPublished(s, dir)
    if (live.meta.lastApplied.isEmpty) return false
    StorageOps.publishNext(s, dir) { next =>
      for ((ds, pc) <- Seq("groups" -> "fpart", "bands" -> "ipart"))
        if (StorageOps.committed(s, live.dir, ds)) {
          StorageOps.copyCleanParts(s, s"${live.dir}/$ds", s"$next/$ds", pc,
            Set.empty)
          val marker = new org.apache.hadoop.fs.Path(s"$next/$ds/_SUCCESS")
          marker.getFileSystem(s.sparkContext.hadoopConfiguration)
            .create(marker, true).close()
        }
      // last_batch intentionally unset; the band family copies verbatim
      StorageOps.writeMeta(s, next, live.meta.copy(last_batch = -1L))
    }
    true
  }

  /** [[Meta.needsRebuild]] of the active version — the DedupIndex twin. */
  def needsRebuild(s: SparkSession, dir: String): Boolean =
    loadMeta(s, dir).needsRebuild

  /** Publish an exact-equality group table (fp, n, rep — extra columns
    * ignored) as the next version. Returns the published group count.
    * `lastBatch` records the foreachBatch batchId when the publish is a
    * merge fallback inside a batch-driven ingest (see [[mergeGroups]]'s
    * replay guard); a plain corpus publish leaves it unset. */
  def publishGroups(s: SparkSession, groups: DataFrame, dir: String,
      lastBatch: Long = -1L): Long = {
    val g = graft.Caching.persist(groups.select("fp", "n", "rep"))
    try {
      val nGroups = g.count()
      val parts = StorageOps.layoutParts(nGroups, RowsPerPart)
      StorageOps.publishNext(s, dir) { v =>
        g.withColumn("fpart", StorageOps.partOf(parts, col("fp")))
          .repartition(parts, col("fpart"))
          .write.partitionBy("fpart")
          .mode("errorifexists").parquet(s"$v/groups")
        StorageOps.writeMeta(s, v, Meta(nGroups, parts, lastBatch))
      }
      nGroups
    } finally g.unpersist()
  }

  /** Publish a banded signature table from (dhash, n, rep) rows — the
    * image shape: 4 band rows per distinct signature, partitioned by the
    * band key, derived at band family `fam` (default: contiguous; a
    * precision escalation republishes at the next scatter rung).
    * Returns the published (distinct-signature) count. */
  def publishBandedSigs(s: SparkSession, sigs: DataFrame,
      dir: String, lastBatch: Long = -1L,
      fam: Int = BandFamily): Long = {
    val g = graft.Caching.persist(sigs.select("dhash", "n", "rep"))
    try {
      val nGroups = g.count()
      val parts = StorageOps.layoutParts(nGroups, RowsPerPart)
      StorageOps.publishNext(s, dir) { v =>
        g.select(col("dhash"), col("n"), col("rep"),
            explode(expr(bandsExpr("dhash", fam))).as("b"))
          .select(col("b.band").as("band"), col("b.bv").as("bv"),
            col("dhash"), col("n"), col("rep"))
          .withColumn("ipart", StorageOps.partOf(parts, col("band"), col("bv")))
          .repartition(parts, col("ipart"))
          .write.partitionBy("ipart")
          .mode("errorifexists").parquet(s"$v/bands")
        StorageOps.writeMeta(s, v, Meta(nGroups, parts, lastBatch, fam))
      }
      nGroups
    } finally g.unpersist()
  }

  /** What a [[mergeGroups]]/[[mergeBandedSigs]] actually wrote: partition
    * directories REWRITTEN (they hold batch fingerprints) vs hard-copied
    * verbatim; `fullRewrite` marks the O(index) fallback (layout modulus
    * moved at the merged group count). */
  final case class MergeStats(parts: Int, dirtyParts: Int, copiedParts: Int,
      fullRewrite: Boolean)

  /** Incremental ingest for the exact-equality shape — merge a batch of
    * ARRIVALS (doc_id, fp) into the published group table as the next
    * version: per fingerprint `n` grows by the batch count and `rep`
    * keeps the minimum doc id (the groupBy the batch pipeline publishes,
    * applied incrementally). PARTITION-LEVEL like both sibling indexes:
    * `fpart` is a pure function of fp, so only the partitions holding
    * batch fingerprints change — they rewrite from a PRUNED scan of the
    * live groups full-outer-merged with the batch aggregates; the clean
    * majority hard-copies byte-identically. A layout-modulus change at
    * the merged count falls back to the full rewrite. Merge == rebuild
    * is exact (counts are associative, min is order-free) — spec-pinned
    * against a from-scratch publish of the union. Contract: arrivals are
    * NEW corpus members (the dedup-stream admission shape — exact
    * re-ingests were already routed by the probe); this index keeps
    * group aggregates, not memberships, so a re-submitted doc_id would
    * count twice.
    *
    * REPLAY GUARD: a foreachBatch caller passes the trigger's `batchId`;
    * it is recorded in the published meta, and a merge re-submitting the
    * SAME batchId (Spark's standard crash-replay of the last
    * uncommitted trigger) is a NO-OP returning the live count — without
    * it, a crashed trigger that re-runs maintain would double-count
    * every group the batch touched, permanently and undetectably
    * (unlike DedupIndex's latest-wins merge, group counts are not
    * idempotent). A batchId OLDER than the recorded one is REJECTED, not
    * no-op'd ([[replayedBatch]] — foreachBatch ids are monotonic, so an
    * out-of-order re-submission is a caller bug either way). Callers
    * outside foreachBatch may omit it and own at-most-once submission
    * themselves.
    *
    * An EMPTY arrivals batch returns the live counts WITHOUT publishing:
    * the merged table would be byte-identical, so writing a version for
    * it would only accumulate pointless O(index) clean-copies past the
    * prune budget (every maintain gate keys off dirtyParts == 0 meaning
    * "nothing written" — this early-return makes that implication
    * exact). */
  def mergeGroups(s: SparkSession, dir: String,
      arrivals: DataFrame, batchId: Option[Long] = None): (Long, MergeStats) = {
    val live = openPublished(s, dir)
    val m = live.meta
    val parts = m.parts
    if (replayedBatch(dir, m, batchId))
      return (m.ngroups, MergeStats(parts, 0, 0, fullRewrite = false))
    val b = graft.Caching.persist(arrivals
      .groupBy("fp").agg(count(lit(1)).as("bn"), min("doc_id").as("brep")))
    try {
      val dirtyFp: Array[Long] = b
        .select(StorageOps.partOf(parts, col("fp")).as("p"))
        .distinct().collect().map(_.getLong(0))
      if (dirtyFp.isEmpty)
        return (m.ngroups, MergeStats(parts, 0, 0, fullRewrite = false))
      // merged group count: old + batch fps that are NEW (absent from the
      // dirty partitions' stored groups — a bounded pruned read)
      val stored = StorageOps.prunedByVals(groupsAt(s, live.dir), "fpart",
        dirtyFp, parts)
      val newFps = b.join(stored.select("fp"), Seq("fp"), "left_anti").count()
      val n2 = m.ngroups + newFps
      if (StorageOps.layoutParts(n2, RowsPerPart) != parts) {
        // O(index) fallback: merged table rewritten at the new modulus
        val merged = groupsAt(s, live.dir).select("fp", "n", "rep")
          .join(b, Seq("fp"), "full_outer")
          .select(col("fp"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L)))
              .as("n"),
            least(col("rep"), col("brep")).as("rep"))
        val p2 = StorageOps.layoutParts(
          publishGroups(s, merged, dir, batchId.getOrElse(-1L)), RowsPerPart)
        return (n2, MergeStats(p2, p2, 0, fullRewrite = true))
      }
      val dirtyRows = stored.select("fp", "n", "rep")
        .join(b, Seq("fp"), "full_outer")
        .select(col("fp"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L)))
            .as("n"),
          least(col("rep"), col("brep")).as("rep"))
        .withColumn("fpart", StorageOps.partOf(parts, col("fp")))
      StorageOps.publishNext(s, dir) { v =>
        dirtyRows.repartition(math.max(1, dirtyFp.length), col("fpart"))
          .write.partitionBy("fpart")
          .mode("errorifexists").parquet(s"$v/groups")
        val copied = StorageOps.copyCleanParts(s, s"${live.dir}/groups",
          s"$v/groups", "fpart", dirtyFp.toSet)
        StorageOps.writeMeta(s, v,
          m.copy(ngroups = n2, last_batch = batchId.getOrElse(-1L)))
        (n2, MergeStats(parts, dirtyFp.length, copied, fullRewrite = false))
      }
    } finally b.unpersist()
  }

  /** Incremental ingest for the banded shape — merge arrivals
    * (doc_id, dhash) into the published banded table: an affected
    * signature's FOUR band rows (all pure functions of the dhash)
    * refresh together, so the dirty `ipart` set derives from the batch's
    * distinct signatures alone; clean partitions hard-copy. Fallback,
    * merge == rebuild contract, the `batchId` REPLAY GUARD (equal
    * replays no-op, older re-submissions reject), and the empty-batch
    * no-publish early-return as [[mergeGroups]]. */
  def mergeBandedSigs(s: SparkSession, dir: String,
      arrivals: DataFrame, batchId: Option[Long] = None): (Long, MergeStats) = {
    val live = openPublished(s, dir)
    val m = live.meta
    val parts = m.parts
    if (replayedBatch(dir, m, batchId))
      return (m.ngroups, MergeStats(parts, 0, 0, fullRewrite = false))
    // every band derivation in this merge runs at the ARTIFACT's
    // recorded family — a batch banded at the publish default against
    // an escalated artifact would land its rows in partitions no probe
    // at the recorded family ever reads
    val fam = m.bandfam
    val b = graft.Caching.persist(arrivals
      .groupBy("dhash").agg(count(lit(1)).as("bn"), min("doc_id").as("brep")))
    try {
      val dirtyIp: Array[Long] = b
        .select(col("dhash"), explode(expr(bandsExpr("dhash", fam))).as("k"))
        .select(StorageOps.partOf(parts, col("k.band"), col("k.bv")).as("p"))
        .distinct().collect().map(_.getLong(0))
      if (dirtyIp.isEmpty)
        return (m.ngroups, MergeStats(parts, 0, 0, fullRewrite = false))
      val stored = StorageOps.prunedByVals(bandsAt(s, live.dir), "ipart",
        dirtyIp, parts)
      // a signature's 4 band rows live in the dirty partitions by
      // construction, so the distinct-dhash read here is complete
      val newSigs = b.join(stored.select("dhash").distinct(),
        Seq("dhash"), "left_anti").count()
      val n2 = m.ngroups + newSigs
      if (StorageOps.layoutParts(n2, RowsPerPart) != parts) {
        val merged = bandsAt(s, live.dir)
          .select("dhash", "n", "rep").distinct()
          .join(b, Seq("dhash"), "full_outer")
          .select(col("dhash"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L)))
              .as("n"),
            least(col("rep"), col("brep")).as("rep"))
        val p2 = StorageOps.layoutParts(publishBandedSigs(s, merged, dir,
          batchId.getOrElse(-1L), fam), RowsPerPart)
        return (n2, MergeStats(p2, p2, 0, fullRewrite = true))
      }
      // refreshed rows for the BATCH signatures only (all 4 band rows —
      // their keys define the dirty set, so every refreshed row lands in
      // a dirty partition by construction); a bystander signature that
      // merely shares a dirty partition keeps its stored rows verbatim
      // through `untouched` (its clean-partition rows hard-copy), so no
      // row is written twice. least() skips nulls, so a brand-new
      // signature takes the batch rep and an updated one the minimum.
      val affected = b.join(
          stored.select("dhash", "n", "rep").distinct(),
          Seq("dhash"), "left_outer")
        .select(col("dhash"),
          (coalesce(col("n"), lit(0L)) + col("bn")).as("n"),
          least(col("rep"), col("brep")).as("rep"))
      val refreshed = affected
        .select(col("dhash"), col("n"), col("rep"),
          explode(expr(bandsExpr("dhash", fam))).as("k"))
        .select(col("k.band").as("band"), col("k.bv").as("bv"),
          col("dhash"), col("n"), col("rep"))
        .withColumn("ipart", StorageOps.partOf(parts, col("band"), col("bv")))
      val untouched = stored
        .join(b.select("dhash"), Seq("dhash"), "left_anti")
        .select(col("band"), col("bv"), col("dhash"), col("n"), col("rep"))
        .withColumn("ipart", StorageOps.partOf(parts, col("band"), col("bv")))
      StorageOps.publishNext(s, dir) { v =>
        refreshed.unionByName(untouched)
          .repartition(math.max(1, dirtyIp.length), col("ipart"))
          .write.partitionBy("ipart")
          .mode("errorifexists").parquet(s"$v/bands")
        val copied = StorageOps.copyCleanParts(s, s"${live.dir}/bands",
          s"$v/bands", "ipart", dirtyIp.toSet)
        StorageOps.writeMeta(s, v,
          m.copy(ngroups = n2, last_batch = batchId.getOrElse(-1L)))
        (n2, MergeStats(parts, dirtyIp.length, copied, fullRewrite = false))
      }
    } finally b.unpersist()
  }

  /** Small-file compaction hook in the [[maintain]] cycle — the
    * [[DedupIndex.compactIfFragmented]]/VectorIndex twin, completing the
    * family's lifecycle symmetry: if the active version's partitioned
    * dataset holds more than one data file in any partition directory,
    * republish it compacted (same rows, same recorded count and
    * `last_batch`, the canonical one-file-per-partition layout) as the
    * next version and flip. This library's writers keep the invariant by
    * construction (dirty writes repartition BY the partition column,
    * clean partitions hard-copy single files); the hook covers
    * foreign/legacy artifacts. COST, stated: proving a version healthy
    * lists every partition directory (up to the 64k layout cap — the
    * same per-maintain price the sibling indexes pay). On an object
    * store where per-trigger LIST calls matter, run this hook on its
    * own hygiene cadence instead of inside every [[maintain]];
    * maintain already skips it when a replayed batch wrote nothing.
    * Returns whether a compaction version was published. */
  def compactIfFragmented(s: SparkSession, dir: String): Boolean = {
    val live = open(s, dir)
    val banded = StorageOps.committed(s, live.dir, "bands")
    if (!StorageOps.fragmented(s,
        s"${live.dir}/${if (banded) "bands" else "groups"}")) return false
    val m = live.meta
    if (banded)
      publishBandedSigs(s,
        bandsAt(s, live.dir).select("dhash", "n", "rep").distinct(),
        dir, m.last_batch, m.bandfam)
    else publishGroups(s, groupsAt(s, live.dir), dir, m.last_batch)
    true
  }

  /** One production ingest cycle — the family's maintain shape
    * ([[VectorIndex.maintain]]/[[DedupIndex.maintain]]) on the
    * fingerprint artifact: merge the arrivals in (partition-level; a
    * modulus drift takes the full rewrite inside the merge, which IS
    * this index's rebuild — nothing retrains), run the
    * [[compactIfFragmented]] hygiene hook, then prune non-active
    * versions to `keep`. `banded` selects the image shape
    * ([[mergeBandedSigs]] over (doc_id, dhash)) vs the exact shape
    * ([[mergeGroups]] over (doc_id, fp)). Returns the merged group
    * count and the [[MergeStats]].
    *
    * A foreachBatch ingest pipeline MUST pass its trigger's `batchId`:
    * foreachBatch's standard failure mode is batch replay, and this
    * index's group counts are not idempotent under re-merge — the
    * recorded batchId turns a replayed trigger into a no-op (see
    * [[mergeGroups]]'s replay-guard contract). */
  def maintain(s: SparkSession, dir: String, arrivals: DataFrame,
      banded: Boolean = false, keep: Int = 2,
      batchId: Option[Long] = None,
      precisionProbe: Option[PrecisionProbe] = None): (Long, MergeStats) = {
    require(precisionProbe.isEmpty || banded,
      "precision probe armed on the exact-equality (groups) shape: " +
        "exact probes verify by definition (precision is identically " +
        "1), so there is nothing to gate — arm it on banded ingests")
    val out =
      if (banded) mergeBandedSigs(s, dir, arrivals, batchId)
      else mergeGroups(s, dir, arrivals, batchId)
    // a replay no-op or an empty batch wrote nothing (the merges
    // early-return before publishing in both cases, so dirtyParts == 0
    // really means no new version exists): skip the compaction probe's
    // per-partition listing, the prune listing, AND the precision gate
    // (nothing changed, so no reading moved) entirely
    val (_, st) = out
    if (st.dirtyParts > 0 || st.fullRewrite) {
      // PRECISION GATE (r16 verdict #2, the [[DedupIndex.maintain]] /
      // VectorIndex recall-gate shape): measure the merged artifact's
      // banded-candidate precision from its own stored bands; a floor
      // trip republishes at the next SCATTER family ([[ScatterMults]] —
      // hamming≤3 recall pinned by pigeonhole at every family) and
      // re-probes once, surfacing per caller policy if still below.
      precisionProbe.foreach { p =>
        if (probePrecision(s, dir).below(p.floor)) {
          val next = escalateBandFamily(s, dir)
          val after = probePrecision(s, dir)
          if (after.below(p.floor)) {
            val msg = s"precision floor ${p.floor} not restored by the " +
              s"band-family escalation at $dir: family $next measures " +
              s"${after.precision.getOrElse(Double.NaN)} over " +
              s"${after.candidates} probe candidates — escalate again " +
              "next cycle, widen the fingerprint, or lower the floor"
            if (p.failUnrecovered) throw new IllegalStateException(msg)
            else log.warn(msg)
          }
        }
      }
      compactIfFragmented(s, dir)
      StorageOps.pruneVersions(s, dir, keep)
    }
    out
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Banded-candidate PRECISION of the active version, measured from
    * the stored band table itself (keys are stored AT the artifact's
    * family, so the read is family-agnostic): a deterministic
    * signature sample (phash over the rep doc id, ~500 sigs however
    * large the index) joins the band table on its own keys; candidates
    * are distinct foreign signatures sharing a band; verification is
    * the production hamming ≤ 3 gate. The same statistic
    * q_fingerprint_index_stats publishes into the correctness gate —
    * this entry is the engine-side read the maintain gate acts on.
    * The aggregates are computed EAGERLY so the candidate frame's
    * persist releases before returning (r16 ADVICE). */
  def probePrecision(s: SparkSession, dir: String): ProbeStats = {
    val live = open(s, dir)
    val probeMod = math.max(1L, live.meta.ngroups / 500)
    val bands = bandsAt(s, live.dir).select("band", "bv", "dhash", "n", "rep")
    val probe = bands.filter(graft.Tables.phash(col("rep")) % probeMod === 0)
    val cand = graft.Caching.persist(
      probe.alias("p").join(bands.alias("c"),
          col("p.band") === col("c.band") && col("p.bv") === col("c.bv") &&
            col("p.dhash") =!= col("c.dhash"))
        .select(col("p.dhash").as("pd"), col("c.dhash").as("cd"))
        .distinct())
    try {
      val probeSigs = probe.select(countDistinct("dhash"))
        .collect()(0).getLong(0)
      val r = cand.agg(
        count(lit(1)).as("c"),
        coalesce(sum(expr("CAST(bit_count(pd ^ cd) <= 3 AS BIGINT)")),
          lit(0L)).as("v")).collect()(0)
      ProbeStats(probeSigs, r.getLong(0), r.getLong(1))
    } finally cand.unpersist()
  }

  /** The PRECISION-FLOOR ACTUATOR: republish the active version's
    * signature table re-banded at the next scatter family — same
    * (dhash, n, rep) rows (recovered by the distinct fold), same
    * recorded last_batch, bands re-derived at π(k) = k·m mod 64. The
    * hamming ≤ 3 guarantee is pigeonhole over ANY partition of the 64
    * bits into four disjoint 16-bit bands, so escalation never pays
    * recall. Exact-equality artifacts refuse (no banding); an
    * exhausted ladder fails loudly. Returns the new family. */
  def escalateBandFamily(s: SparkSession, dir: String): Int = {
    val live = openPublished(s, dir)
    require(StorageOps.committed(s, live.dir, "bands"),
      s"cannot escalate the exact-equality (groups) shape at $dir: " +
        "it has no banding")
    val fam = live.meta.bandfam
    val next = fam + 1
    require(next <= MaxFamily,
      s"band-family ladder exhausted at $dir: family $fam is the last " +
        "scatter rung — a still-tripped precision floor now needs a " +
        "wider fingerprint or a lower floor")
    publishBandedSigs(s,
      bandsAt(s, live.dir).select("dhash", "n", "rep").distinct(),
      dir, live.meta.last_batch, next)
    next
  }

  /** The active group table, reader-facing schema (fp, n, rep). */
  def loadGroups(s: SparkSession, dir: String): DataFrame =
    groupsAt(s, StorageOps.currentDir(s, dir)).select("fp", "n", "rep")

  // corpus-scale datasets of a resolved version dir, with the layout's
  // partition column, through the chaos read gate
  private def groupsAt(s: SparkSession, vdir: String): DataFrame =
    graft.Chaos.gate(s, s.read.parquet(s"$vdir/groups"))

  private[graft] def bandsAt(s: SparkSession, vdir: String): DataFrame =
    graft.Chaos.gate(s, s.read.parquet(s"$vdir/bands"))

  /** The active banded signature table (band, bv, dhash, n, rep). */
  def loadBands(s: SparkSession, dir: String): DataFrame =
    bandsAt(s, StorageOps.currentDir(s, dir))
      .select("band", "bv", "dhash", "n", "rep")

  /** The group table pruned to the partitions a probe's fingerprint set
    * touches: derives `fpart` values from `fps` (one fp column; the
    * distinct-collect is bounded by the layout modulus) and plants the
    * static isin — [[StorageOps.prunedByVals]], the shared filter. */
  def prunedGroups(s: SparkSession, dir: String, fps: DataFrame): DataFrame = {
    val live = open(s, dir)
    val nParts = live.meta.parts
    val parts = fps
      .select(StorageOps.partOf(nParts, col(fps.columns.head)).as("p"))
      .distinct().collect().map(_.getLong(0))
    StorageOps.prunedByVals(groupsAt(s, live.dir), "fpart", parts, nParts)
      .select("fp", "n", "rep")
  }

  /** The banded table of an [[open]]ed version pruned to the partitions a
    * probe's band-key set touches. `keys`: (band, bv) rows derived at
    * `live.meta.bandfam`. */
  def prunedBands(s: SparkSession, live: StorageOps.Version[Meta],
      keys: DataFrame): DataFrame = {
    val nParts = live.meta.parts
    val parts = keys
      .select(StorageOps.partOf(nParts, col("band"), col("bv")).as("p"))
      .distinct().collect().map(_.getLong(0))
    StorageOps.prunedByVals(bandsAt(s, live.dir), "ipart", parts, nParts)
      .select("band", "bv", "dhash", "n", "rep")
  }
}
