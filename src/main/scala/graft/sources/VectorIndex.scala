package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.VectorOps
import graft.functions.GraftFunctions

/** The published VECTOR index — the embedding family's twin of
  * [[DedupIndex]], closing the parity gap the r8 review named: text
  * near-dup has a real persisted index with incremental merge; the
  * vector side re-derived hyperplane buckets and re-trained IVF
  * centroids per session. This artifact persists both, versioned:
  *
  *   <dir>/v<n>/meta/       one row (n, width, probes, cap, cells)
  *   <dir>/v<n>/buckets/    (bucket, vec_id, embedding)  — hyperplane LSH
  *                          table, width-capped per bucket (the corpus
  *                          side of every bucket join)
  *   <dir>/v<n>/centroids/  (cell, centroid)             — IVF centroids
  *   <dir>/v<n>/cells/      (cell, vec_id, embedding)    — IVF inverted
  *                          lists (uncapped: one row per corpus vector)
  *   <dir>/v<n>/pqbooks/    (m, cell, pc)                — OPTIONAL
  *   <dir>/v<n>/codes/      (cell, vec_id, code[M])       (pq = true)
  *                          PQ pair: frozen sub-codebooks + the argmin
  *                          code of every corpus vector, cell-aligned
  *                          with `cells` (same `cpart` layout) — the
  *                          [[searchIvfPq]] ADC scan side
  *   <dir>/_current         pointer to the active version
  *
  * Version directories are IMMUTABLE and run the shared lifecycle of
  * [[StorageOps]]: a publish fills the next v<n> and flips the one-line
  * pointer ([[StorageOps.publishNext]]), so [[mergePublish]] needs no
  * "beside the live dir" contortion. Every public read [[open]]s the
  * index ONCE — one pointer read, one meta read — and hands that
  * resolved version down, so a concurrent flip can never pair one
  * version's meta or centroids with another version's lists.
  *
  * SCHEDULE FREEZE — the merge-vs-rebuild contract: `meta` records the
  * geometry (signature width, probe count, bucket cap, cell count) the
  * index was built with, and [[mergePublish]] REUSES it — bucket keys
  * and cell ids must stay comparable across merges, and re-deriving the
  * width from the merged count would silently invalidate every existing
  * key. Centroids are likewise frozen at merge (standard IVF ingest: new
  * vectors are assigned, never re-trained). The cost is drift: when the
  * corpus outgrows the frozen schedule ([[needsRebuild]]), a full
  * [[publishFrom]] re-derives geometry and re-trains — the same periodic
  * rebuild cycle [[DedupIndex]] documents.
  *
  * Size at 100 TB: both `buckets` and `cells` are one row per corpus
  * vector of (int64, int64, float[dim]) — the embedding payload itself,
  * i.e. the index is ~2× the embedding column and far under the corpus;
  * `centroids` is cells × dim floats (driver-small); `meta` is one row.
  *
  * PARTITIONED LAYOUT: `buckets` is hive-partitioned by
  * `bpart = xxhash64(bucket) mod parts` and `cells` by
  * `cpart = cell mod parts`, where `parts` is a per-version LAYOUT
  * constant derived from the corpus size at publish
  * ([[StorageOps.layoutParts]] at [[RowsPerPart]]) and recorded in
  * `meta`; each version is repartitioned by its partition column so
  * every partition directory holds ONE file. The partition column is a
  * pure function of the join key, so `parts` is layout-only, NOT frozen
  * geometry — a merge or rebuild re-derives it at the new count without
  * invalidating keys.
  * A probe whose batch is below the hint gate reads only its derived
  * partitions: [[searchLsh]]/[[searchIvf]]/[[probeBestMatch]] collect
  * the batch's partition-value set (≤ `parts` rows, never the batch
  * size) and plant a static `isin` filter via [[prunedScan]] that
  * Spark turns into a PartitionFilter on the scan — pinned in
  * PlanShapeSpec ("vector index probe prunes partitions"). A
  * corpus-scale batch skips the derivation, which is also when pruning
  * could not have helped.
  *
  * QUERY-BATCH HINT GATE (the triangleStats convention): the search
  * APIs broadcast the caller's batch only at or below
  * `broadcastRowLimit` (default [[QueryBatchBroadcastRowLimit]]) — one
  * cheap count on the batch — and fall through to the planner's
  * shuffle join above it, so a million-query batch re-scoring run (the
  * q_knn_join shape) never hits the 8 GB broadcast wall or a driver
  * collect. VectorIndexSpec ("limit 0 forces the shuffle path...")
  * forces the shuffle path with limit 0 and pins it result-identical
  * to the gated path. A caller that already knows its batch bound (a
  * per-trigger streaming probe, a foreachBatch consumer) passes
  * `knownBatchRows` and the gate count is SKIPPED; below the gate the
  * derived batch frame is persisted for the call ([[batchFrame]]), so
  * a gated search runs the batch lineage once, not three times. */
object VectorIndex {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The frozen geometry + corpus count of a published index, plus the
    * version's LAYOUT partition count (`parts` — see the header: layout,
    * not geometry; merges re-derive it). `parts == 0` marks a LEGACY
    * pre-partitioned-layout artifact (meta without a `parts` field):
    * probes fall back to the full scan and the next merge rewrites it
    * under the current layout. */
  /** `wboost` (r17): the WIDTH-ESCALATION rung this artifact was
    * published at — its recorded width = the count-scheduled width PLUS
    * this boost (clamped at LshMaxWidth). 0 for every schedule-default
    * publish and every pre-r17 artifact. The boost is the occupancy
    * gate's actuator ([[OccupancyProbe]]/[[escalateWidth]]): a corpus
    * whose DENSITY (not count) saturates the scheduled buckets
    * republishes one width deeper, and `wboost` makes that a durable
    * geometry decision — [[needsRebuild]] compares against
    * schedule+boost, so maintain cycles preserve the rung instead of
    * silently rebuilding back down to the saturated width. */
  final case class Meta(n: Long, width: Int, probes: Int, cap: Long,
      cells: Int, parts: Int, pqres: Boolean = false,
      pqm: Int = 0, pqk: Int = 0, wboost: Int = 0)

  /** The effective PQ budget (M subspaces, K sub-centroids) of a
    * published PQ pair: the SCHEDULED budget recorded at publish
    * (`pqm`/`pqk` — frozen across merges exactly like the centroids:
    * codes and books are a matched pair, so the budget rides the meta,
    * not a caller's schedule call at the CURRENT count), or the fixed
    * (4, 16) every pre-schedule artifact was built with. */
  def pqBudget(m: Meta): (Int, Int) =
    if (m.pqm > 0) (m.pqm, m.pqk) else (4, 16)

  /** One [[open]]ed version: its directory and its meta. */
  private[graft] type Live = StorageOps.Version[Meta]

  /** What a [[mergePublishStats]] actually wrote, per partitioned
    * dataset: how many partition directories were REWRITTEN (dirty — they
    * contain batch rows or rows of replaced ids) vs hard-copied verbatim
    * from the previous version (clean — no decode, no shuffle).
    * `fullRewrite` marks the O(index) fallbacks: a layout-modulus change
    * (`parts` moved at the merged count) or a legacy unpartitioned
    * artifact. `drainRecompute` marks the bucket-membership recovery
    * pass: a replaced id was removed from a bucket AT the frozen cap, so
    * the capped store no longer holds the bucket's full membership and
    * the dirty buckets rebuild from a corpus signature pass instead of
    * the pruned stored rows (still only dirty PARTITIONS are written). */
  final case class MergeStats(parts: Int, dirtyBucketParts: Int,
      copiedBucketParts: Int, dirtyCellParts: Int, copiedCellParts: Int,
      fullRewrite: Boolean, drainRecompute: Boolean)

  /** Vectors per layout partition of `buckets` / `cells`
    * ([[StorageOps.layoutParts]]): ~a few hundred MB of embedding
    * payload per file at 1k dims. */
  private[graft] val RowsPerPart = 4L * 1000 * 1000

  /** Broadcast budget for a CALLER's query batch, in rows. At ~4 KB per
    * row (int64 + a ~1k-dim float embedding + probe fan-out) the default
    * keeps the payload well under Spark's 8 GB broadcast hard limit —
    * the same entry-budget discipline as
    * [[graft.operators.GraphAnalyticsOps.TriangleBroadcastEntryLimit]].
    * Above it the hint is dropped and the bucket/cell join falls through
    * to the planner as a shuffle join — same rows, no driver wall. */
  private[graft] val QueryBatchBroadcastRowLimit = 500L * 1000

  /** The query-batch hint gate as ONE shared decision: (small, hint).
    * `count` is by-name — it runs only when the caller did not pass
    * `knownBatchRows`. Every gated search here AND every streaming
    * probe (text + three codec streams) derives its gate through this
    * helper, so the semantics cannot drift between the probes — the
    * bandsExpr lesson applied to the gate itself. */
  private[graft] def batchGate(knownBatchRows: Option[Long],
      count: => Long, limit: Long = QueryBatchBroadcastRowLimit)
      : (Boolean, DataFrame => DataFrame) = {
    val small = knownBatchRows.getOrElse(count) <= limit
    (small, if (small) broadcast else identity)
  }

  private def bpartOf(bucket: org.apache.spark.sql.Column, nParts: Int) =
    StorageOps.partOf(nParts, bucket)
  private def cpartOf(cell: org.apache.spark.sql.Column, nParts: Int) =
    pmod(cell.cast("long"), lit(nParts.toLong))

  /** The batch's partition-value set as a static pruning filter over the
    * partitioned index dataset. `partVals` must be a single LongType
    * column of DERIVED partition values (bpartOf/cpartOf over the batch
    * — not the read-back partition column, whose hive-inferred type is
    * IntegerType), so the distinct-collect is bounded by `nParts`, never
    * the batch size; [[StorageOps.prunedByVals]] plants the filter. */
  private def prunedScan(idx: DataFrame, partVals: DataFrame,
      partCol: String, nParts: Int): DataFrame = {
    if (nParts <= 0 || !idx.columns.contains(partCol)) return idx // legacy
    val parts = partVals.distinct().collect().map(_.getLong(0))
    StorageOps.prunedByVals(idx, partCol, parts, nParts)
  }

  /** The probe-side frame of a gated search call. Below the gate the
    * derived batch frame (probe explode / centroid rank) is PERSISTED so
    * the partition-set collect and the final index join materialize the
    * batch lineage once instead of three times (the count, when not
    * skipped via `knownBatchRows`, runs on the cheaper pre-explode
    * projection). The cache is left armed — the RETURNED lazy plan reads
    * it — but under a BOUNDED per-session slot keyed by (search API,
    * dir): the next gated call through the same slot unpersists the
    * previous call's frame before arming its own, so a caller probing in
    * a LOOP (a foreachBatch consumer firing one gated search per
    * trigger) holds exactly ONE pinned batch frame per slot however many
    * triggers fire — never an unbounded registry. Consuming an OLD
    * call's plan after a newer call merely recomputes its (small) batch
    * lineage uncached; `clearCache` still reclaims everything early.
    * Above the gate nothing is persisted (a corpus-scale batch must not
    * be pinned). Sessions are weak keys — a stopped session's slots
    * become collectable.
    *
    * Swap ordering: the PREVIOUS frame unpersists BEFORE the new one
    * persists, and is skipped entirely when the two frames share the
    * same cache entry (Spark's CacheManager matches canonicalized
    * plans, so a stream replaying an identical batch re-derives the
    * SAME entry — unpersisting the old frame after persisting the new
    * one would evict that shared entry and leave the just-armed frame
    * silently uncached). SINGLE WRITER PER SLOT is assumed: two
    * concurrent gated calls through the same (API, dir) slot may still
    * unpersist each other's frame mid-consume — results stay correct
    * (the plan recomputes), only the pin is lost; serialize per-slot
    * probes if the pin matters. */
  private val armedBatchFrames = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, DataFrame]]()

  private def batchFrame(slot: String, small: Boolean,
      derived: DataFrame): DataFrame =
    if (!small) derived
    else {
      val m = armedBatchFrames.synchronized {
        armedBatchFrames.computeIfAbsent(derived.sparkSession,
          _ => scala.collection.concurrent.TrieMap.empty[String, DataFrame])
      }
      m.remove(slot).foreach { old =>
        // sameResult = canonicalized comparison: catches a replayed
        // batch whose rebuilt frame differs only by expression ids
        val sameEntry = scala.util.Try(
          old.queryExecution.analyzed
            .sameResult(derived.queryExecution.analyzed)).getOrElse(false)
        if (!sameEntry) scala.util.Try(old.unpersist())
      }
      val frame = graft.Caching.persist(derived)
      m.put(slot, frame)
      frame
    }

  /** Live armed-slot count for `s` — the leak-boundedness observable
    * ([[batchFrame]]); spec-pinned to stay flat across repeated gated
    * probes. */
  private[graft] def armedSlotCount(s: SparkSession): Int =
    armedBatchFrames.synchronized {
      Option(armedBatchFrames.get(s)).map(_.size).getOrElse(0)
    }

  /** The active version and its [[Meta]], resolved and read ONCE — the
    * handle every public read passes down. Fields an older writer did not
    * record read as their legacy values: `parts` 0 (pre-partitioned
    * layout: probes full-scan, the next merge rewrites), `pqres` false
    * (raw-encoded), `pqm`/`pqk` 0 (the fixed (4, 16) budget, see
    * [[pqBudget]]), `wboost` 0 (no width escalation). */
  def open(s: SparkSession, dir: String): StorageOps.Version[Meta] =
    StorageOps.open(s, dir) { v =>
      val m = StorageOps.readMeta(s, v)
      Meta(m[Long]("n"), m[Int]("width"), m[Int]("probes"), m[Long]("cap"),
        m[Int]("cells"), m("parts", 0), m("pqres", false), m("pqm", 0),
        m("pqk", 0), m("wboost", 0))
    }

  def loadMeta(s: SparkSession, dir: String): Meta = open(s, dir).meta

  /** True iff a version pointer exists and every dataset of that version
    * committed — the reader-side gate (DedupIndex.isPublished shape). */
  def isPublished(s: SparkSession, dir: String): Boolean =
    StorageOps.currentVersion(s, dir).exists(v => published(s, s"$dir/$v"))

  private def published(s: SparkSession, vdir: String): Boolean =
    StorageOps.committed(s, vdir, "meta", "buckets", "centroids", "cells")

  /** A dataset of a resolved version dir, partition column included;
    * the corpus-scale ones (buckets, cells, codes) route through the
    * chaos read gate (graft.Chaos — a no-op frame at the default
    * probability 0, so pruning/pushdown pins hold; under injection the
    * probe queries must stay bit-identical through Spark's task
    * retries, ChaosSpec). */
  private[graft] def at(s: SparkSession, vdir: String, ds: String): DataFrame = {
    val df = s.read.parquet(s"$vdir/$ds")
    if (Set("buckets", "cells", "codes")(ds)) graft.Chaos.gate(s, df) else df
  }

  /** The active bucket table, WITHOUT the layout's partition column —
    * the reader-facing schema is (bucket, vec_id, embedding) exactly;
    * `bpart` is derivable from `bucket` whenever a consumer wants the
    * pruned scan. */
  def loadBuckets(s: SparkSession, dir: String): DataFrame =
    at(s, StorageOps.currentDir(s, dir), "buckets")
      .select("bucket", "vec_id", "embedding")

  def loadCentroids(s: SparkSession, dir: String): DataFrame =
    at(s, StorageOps.currentDir(s, dir), "centroids").select("cell", "centroid")

  /** The active inverted lists as (cell, vec_id, embedding) — see
    * [[loadBuckets]] on the dropped partition column. */
  def loadCells(s: SparkSession, dir: String): DataFrame =
    at(s, StorageOps.currentDir(s, dir), "cells")
      .select("cell", "vec_id", "embedding")

  /** Cosine floor the LSH bucket-precision probe verifies candidates
    * against — the corpus near-dup threshold (0.45) every embedding
    * pair query and oracle uses; one constant so the engine probe and
    * the q_index_stats oracle can never verify at different bars. */
  val LshProbeCos = 0.45

  /** Hyperplane-bucket candidate PRECISION of the active version —
    * the r16 verdict #6 probe closing the quality-observability gap
    * the recall audit leaves: [[recallAudit]] covers the IVF/PQ paths
    * end-to-end, but the LSH leg's recall can stay high while its
    * BUCKETS saturate (width frozen, corpus grown) and every probe
    * drags in mostly-noise candidates — a cost collapse the recall
    * number cannot see. Measured like the banded families': a
    * deterministic vector sample (phash over vec_id, ~500 however
    * large the corpus) self-joined on the STORED bucket keys;
    * verification is exact cosine at [[LshProbeCos]]. Cost: probe ×
    * probe plus the embeddings already carried by the bucket rows —
    * independent of corpus size. Eager ([[ProbeStats]]); the
    * q_index_stats health surface publishes it into the DuckDB gate
    * (bucket assignment replays portably — the lshCtes convention). */
  def lshProbePrecision(s: SparkSession, dir: String): ProbeStats =
    lshPrecisionAt(s, open(s, dir))

  /** [[lshProbePrecision]] of an [[open]]ed version. */
  private[graft] def lshPrecisionAt(s: SparkSession, live: Live): ProbeStats = {
    GraftFunctions.register(s)
    val mod = math.max(1L, live.meta.n / 500)
    val probe = at(s, live.dir, "buckets")
      .select("bucket", "vec_id", "embedding")
      .filter(Tables.phash(col("vec_id")) % mod === 0)
    val cand = graft.Caching.persist(
      probe.alias("a").join(probe.alias("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          expr("cosine_sim(a.embedding, b.embedding)").as("sim")))
    try {
      val pv = probe.select(countDistinct("vec_id")).collect()(0).getLong(0)
      val r = cand.agg(count(lit(1)).as("c"),
        coalesce(sum(when(col("sim") >= LshProbeCos, 1L).otherwise(0L)),
          lit(0L)).as("v")).collect()(0)
      ProbeStats(pv, r.getLong(0), r.getLong(1))
    } finally cand.unpersist()
  }

  /** True iff the active version ALSO carries the optional PQ pair
    * (`pqbooks` + `codes`) — published with `pq = true`. An index
    * without it (including every pre-PQ artifact) reports false and
    * [[searchIvfPq]] refuses with a clear error instead of a missing-
    * path crash; merges of a non-PQ index stay non-PQ. */
  def hasPq(s: SparkSession, dir: String): Boolean =
    StorageOps.currentVersion(s, dir).exists(v => hasPqAt(s, s"$dir/$v"))

  private[graft] def hasPqAt(s: SparkSession, vdir: String): Boolean =
    StorageOps.committed(s, vdir, "pqbooks", "codes")

  /** The frozen PQ sub-codebooks of the active version as
    * (m, cell, pc) — driver-small (M·K·subDim floats) at any corpus.
    * Whether they are RESIDUAL-encoded (trained over
    * x − centroid(cell(x))) is [[Meta.pqres]]: codes and books are a
    * matched pair, so the flag rides the meta, not the caller's memory. */
  def loadPqBooks(s: SparkSession, dir: String): DataFrame =
    at(s, StorageOps.currentDir(s, dir), "pqbooks").select("m", "cell", "pc")

  /** The active PQ code rows as (cell, vec_id, code: array<int>) — one
    * row per corpus vector, cell-aligned with [[loadCells]] (same
    * assignment, same `cpart` layout) so an ADC probe prunes identically
    * to the exact IVF probe while scanning codes instead of embeddings.
    * Pre-schedule artifacts stored four fixed columns (c0..c3); the
    * reader normalizes them to the array so every consumer sees ONE
    * schema (a merge of such an artifact upgrades the stored layout —
    * see [[mergePublishStats]]'s legacy route). */
  def loadCodes(s: SparkSession, dir: String): DataFrame =
    normalizeCodes(at(s, StorageOps.currentDir(s, dir), "codes"))

  /** The ONE legacy-schema normalization (pre-schedule c0..c3 columns →
    * the code array) — shared by [[loadCodes]] and the searches' pruned
    * scan so a future layout generation cannot drift between the load
    * path and the search path. A pure projection: applied AFTER any
    * partition filter, pruning unaffected. */
  private def normalizeCodes(raw: DataFrame): DataFrame =
    if (raw.schema.fieldNames.contains("code"))
      raw.select("cell", "vec_id", "code")
    else raw.select(col("cell"), col("vec_id"),
      array(col("c0"), col("c1"), col("c2"), col("c3")).as("code"))

  /** The searches' code scan: partition-pruned below the batch gate,
    * normalized to the (cell, vec_id, code) array schema either way
    * (legacy c0..c3 artifacts included — the array build is a pure
    * projection AFTER the partition filter, so pruning is unaffected). */
  private def codesScan(s: SparkSession, live: Live, small: Boolean,
      qcells: DataFrame): DataFrame =
    normalizeCodes(cellScan(s, live, "codes", small, qcells))

  /** A cell-aligned dataset (cells or codes) of `live`, pruned to the
    * probed cells' partitions below the batch gate. */
  private def cellScan(s: SparkSession, live: Live, ds: String,
      small: Boolean, qcells: DataFrame): DataFrame = {
    val raw = at(s, live.dir, ds)
    if (!small) raw
    else prunedScan(raw, qcells.select(cpartOf(col("qcell"), live.meta.parts)),
      "cpart", live.meta.parts)
  }

  /** Depth (rows per probe query) of the stored recall ground truth —
    * audits at any k <= GtDepth read the store instead of re-scanning
    * the corpus. 16 gives 3× headroom over the registered k = 5 while
    * keeping the dataset driver-trivial (|probe| × 16 rows). The depth
    * is a write-time constant, not frozen geometry: the store holds the
    * exact top-GtDepth at every version by construction (merges refill
    * dirty queries to full depth), so a future constant change simply
    * takes effect at the next publish. */
  val GtDepth = 16

  /** True iff the active version carries the OPTIONAL recall
    * ground-truth pair (`gtq` probe queries + `gt` exact top lists) —
    * published via `publishFrom(gtProbe = ...)`. Without it,
    * [[recallAudit]] falls back to the live brute scan. */
  def hasGt(s: SparkSession, dir: String): Boolean =
    StorageOps.currentVersion(s, dir).exists(v => hasGtAt(s, s"$dir/$v"))

  private def hasGtAt(s: SparkSession, vdir: String): Boolean =
    StorageOps.committed(s, vdir, "gt", "gtq")

  /** The stored ground-truth PROBE QUERIES (query_id, embedding) —
    * sampled-small by the [[recallAudit]] cost contract. Maintenance
    * keeps the embeddings synced with the artifact corpus (latest-wins
    * on a merge that replaces a probe query's own vector), so this
    * frame always scores against what the index actually holds. */
  def loadGtq(s: SparkSession, dir: String): DataFrame =
    gtqAt(s, StorageOps.currentDir(s, dir))

  private def gtqAt(s: SparkSession, vdir: String): DataFrame =
    at(s, vdir, "gtq").select("query_id", "embedding")

  /** The stored exact-cosine top-[[GtDepth]] neighbor lists
    * (query_id, neighbor_id, sim, rk) over the artifact's own corpus,
    * self-excluded, ranked by (sim desc, neighbor_id) — exactly the
    * audit's brute ordering. Computed ONCE at publish/rebuild (when a
    * full corpus pass is already being paid) and maintained
    * INCREMENTALLY at merge (new-batch × probe scoring only), so the
    * armed [[maintain]] recall gate stops costing O(sample × corpus)
    * per ingest cycle — the reference analog: worker health is judged
    * on the heartbeat delta, not a full rescan
    * (ShuffleWorkerStatusManager.java:90-130). */
  def loadGt(s: SparkSession, dir: String): DataFrame =
    gtAt(s, StorageOps.currentDir(s, dir))

  private def gtAt(s: SparkSession, vdir: String): DataFrame =
    at(s, vdir, "gt").select("query_id", "neighbor_id", "sim", "rk")

  /** Exact-cosine top-`depth` of every probe query against `corpus`
    * (vec_id, embedding), self-excluded, ranked by (sim desc,
    * neighbor_id) — the one definition of ground truth every consumer
    * (publish, merge refill, [[recallAudit]]'s live fallback) shares.
    * `gtq` is broadcast: sampled-small by contract. */
  private def bruteGt(gtq: DataFrame, corpus: DataFrame,
      depth: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(gtq.select(col("query_id"), col("embedding").as("qe"))),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= depth)
  }

  /** Build and publish a fresh index over `corpus` (vec_id, embedding —
    * extra columns ignored). Geometry derives from `scheduleN` when
    * given, else from the corpus count — the override exists so a caller
    * indexing a SLICE of a table can keep the full table's schedule (the
    * registered parity query does; production leaves it None). IVF
    * centroids train on the deterministic phash%4 sample, exactly like
    * the inline q_ann_ivf path. Returns the published Meta. */
  def publishFrom(s: SparkSession, corpus: DataFrame, dir: String,
      scheduleN: Option[Long] = None, pq: Boolean = false,
      pqResidual: Boolean = false,
      gtProbe: Option[DataFrame] = None,
      widthBoost: Int = 0): Meta = {
    GraftFunctions.register(s)
    require(!pqResidual || pq, "pqResidual requires pq = true")
    require(widthBoost >= 0, s"widthBoost must be >= 0, got $widthBoost")
    val c = graft.Caching.persist(
      corpus.select(col("vec_id"), col("embedding")))
    try {
      val n = scheduleN.getOrElse(c.count())
      // the occupancy-escalation rung rides ON TOP of the count
      // schedule (clamped at LshMaxWidth); the EFFECTIVE boost is
      // recorded so needsRebuild compares schedule+boost and maintain
      // cycles preserve the rung (see [[Meta.wboost]])
      val width = math.min(VectorOps.LshMaxWidth,
        VectorOps.lshWidthFor(n) + widthBoost)
      // the PQ budget is scheduled HERE and recorded in meta (frozen
      // across merges like every other geometry knob — books and codes
      // are a matched pair, so merges must encode at the publish budget,
      // not whatever the schedule would pick at the merged count)
      val (pqm, pqk) =
        if (pq) (VectorOps.pqSubspacesFor(dimOf(c)), VectorOps.pqCodebookFor(n))
        else (0, 0)
      val meta = Meta(n, width, VectorOps.LshProbes,
        VectorOps.knnCapFor(n, width), VectorOps.ivfCellsFor(n),
        StorageOps.layoutParts(n, RowsPerPart), pqres = pq && pqResidual,
        pqm = pqm, pqk = pqk,
        wboost = width - VectorOps.lshWidthFor(n))
      val cent = VectorOps.trainCentroids(s,
        c.filter(Tables.phash(col("vec_id")) % 4 === 0), meta.cells)
      // the cell assignment (corpus × centroids argmin) is computed ONCE
      // and persisted: residual book training reads it here and the
      // publish's cells dataset + residual encode reuse it below —
      // without the handoff a residual publish paid the assignment and
      // the zip_with subtraction twice (r15 review)
      val cells = graft.Caching.persist(
        VectorOps.assignCells(c, cent)
          .select(col("cell"), col("vec_id"), col("embedding")))
      try {
        // PQ books train on the same phash%4 sample discipline as the
        // centroids (trainPqCodebooks applies the filter itself), frozen
        // at publish exactly like the centroids — merges encode against
        // them, a rebuild retrains. RESIDUAL mode trains them on the
        // x − centroid(cell(x)) frame instead of the raw vectors
        // ([[VectorOps.residualFrame]]): canonical IVFADC, same
        // machinery.
        val books =
          if (!pq) None
          else if (pqResidual)
            Some(VectorOps.trainPqCodebooks(s,
              VectorOps.residualFrame(cells, cent), dimOf(c) / pqm, pqm, pqk))
          else Some(VectorOps.trainPqCodebooks(s, c, dimOf(c) / pqm, pqm, pqk))
        publishWith(s, c, dir, meta, cent, books, Some(cells), gtProbe)
      } finally cells.unpersist()
    } finally c.unpersist()
  }

  /** `embedding` dimension from one row of `e` — the publish path's
    * input to the [[VectorOps.pqSubspacesFor]] schedule. */
  private def dimOf(e: DataFrame): Int =
    e.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)

  /** The sub-dimension as stored in the frozen books — the MERGE and
    * SEARCH paths derive it here rather than from the caller's frame,
    * which may legitimately be EMPTY (an empty ingest batch must merge
    * as a no-op, not crash on a first-row collect). */
  private def subDimOfBooks(books: DataFrame): Int =
    books.select(size(col("pc"))).limit(1).collect()(0).getInt(0)

  /** Publish `corpus` under an EXPLICIT geometry + centroid table — the
    * shared final stage of [[publishFrom]] and the rebuild side of the
    * merge-equivalence spec (merge must equal a rebuild at the frozen
    * schedule and centroids; a free rebuild retrains). With `pqBooks`
    * set, the version also carries the PQ pair: the codes are the
    * argmin encode of `corpus` against the books, cell-aligned with the
    * inverted lists. */
  private[graft] def publishWith(s: SparkSession, corpus: DataFrame,
      dir: String, meta: Meta, cent: DataFrame,
      pqBooks: Option[DataFrame] = None,
      cellsPre: Option[DataFrame] = None,
      gtProbe: Option[DataFrame] = None): Meta = {
    GraftFunctions.register(s)
    val buckets = VectorOps.cappedBuckets(corpus, meta.width, meta.cap,
      "vec_id", "embedding")
    // `cellsPre`: a caller that already assigned (and persisted) the
    // cells hands them in — publishFrom's residual path trains books on
    // the same frame. The encode mode follows meta.pqres: books and
    // codes are a matched pair recorded in the version's meta.
    val cells = cellsPre.getOrElse(VectorOps.assignCells(corpus, cent)
      .select(col("cell"), col("vec_id"), col("embedding")))
    val codes = pqBooks.map { books =>
      val encodeInput =
        if (meta.pqres) VectorOps.residualFrame(cells, cent) else corpus
      val (nm, _) = pqBudget(meta)
      VectorOps.pqEncode(encodeInput, books, subDimOfBooks(books), nm)
        .join(cells.select("cell", "vec_id"), Seq("vec_id"))
        .select("cell", "vec_id", "code")
    }
    // the recall ground truth is computed HERE, at publish — the one
    // moment a full corpus pass is already being paid (r15 verdict #1);
    // merges maintain it incrementally from then on
    val gtq = gtProbe.map(
      _.select(col("vec_id").as("query_id"), col("embedding")))
    writeVersion(s, dir, meta, buckets, cent, cells, pqBooks, codes,
      gtq, gtq.map(g => bruteGt(g, corpus, GtDepth)))
  }

  /** Write all four datasets as the next immutable version, then flip the
    * pointer ([[StorageOps.publishNext]]): it moves only after every
    * dataset committed.
    * `buckets`/`cells` land hive-partitioned by their derived partition
    * column, repartitioned BY that column first so each partition
    * directory holds one file (a value hashes to exactly one task) —
    * the canonical compacted layout every publish and merge produces. */
  private def writeVersion(s: SparkSession, dir: String, meta: Meta,
      buckets: DataFrame, cent: DataFrame, cells: DataFrame,
      pqBooks: Option[DataFrame] = None,
      codes: Option[DataFrame] = None,
      gtq: Option[DataFrame] = None,
      gt: Option[DataFrame] = None): Meta =
    StorageOps.publishNext(s, dir) { v =>
      StorageOps.writeMeta(s, v, meta)
      buckets.select("bucket", "vec_id", "embedding")
        .withColumn("bpart", bpartOf(col("bucket"), meta.parts))
        .repartition(meta.parts, col("bpart"))
        .write.partitionBy("bpart")
        .mode("errorifexists").parquet(s"$v/buckets")
      cent.select("cell", "centroid")
        .write.mode("errorifexists").parquet(s"$v/centroids")
      cells.select("cell", "vec_id", "embedding")
        .withColumn("cpart", cpartOf(col("cell"), meta.parts))
        .repartition(meta.parts, col("cpart"))
        .write.partitionBy("cpart")
        .mode("errorifexists").parquet(s"$v/cells")
      pqBooks.foreach(_.select("m", "cell", "pc")
        .write.mode("errorifexists").parquet(s"$v/pqbooks"))
      codes.foreach(_.select("cell", "vec_id", "code")
        .withColumn("cpart", cpartOf(col("cell"), meta.parts))
        .repartition(meta.parts, col("cpart"))
        .write.partitionBy("cpart")
        .mode("errorifexists").parquet(s"$v/codes"))
      // the optional ground-truth pair: |probe| and |probe| x GtDepth rows
      // — single-file datasets at any corpus size (the probe is sampled)
      gtq.foreach(_.select("query_id", "embedding").coalesce(1)
        .write.mode("errorifexists").parquet(s"$v/gtq"))
      gt.foreach(_.select("query_id", "neighbor_id", "sim", "rk").coalesce(1)
        .write.mode("errorifexists").parquet(s"$v/gt"))
      meta
    }

  /** Incremental ingest — merge a batch of (vec_id, embedding) into the
    * published index as the next version. Geometry and centroids are
    * FROZEN (see the header); re-submitted ids take latest-wins and
    * batch vectors are assigned to the frozen centroids, so
    * merge == rebuild at frozen geometry exactly — spec-pinned
    * including an engaged-cap drain case. See [[mergePublishStats]] for
    * the partition-level cost contract. */
  def mergePublish(s: SparkSession, dir: String, batch: DataFrame): Meta =
    mergePublishStats(s, dir, batch)._1

  /** [[mergePublish]] returning what was actually written. The merge is
    * PARTITION-LEVEL: because `bpart`/`cpart` are pure functions of the
    * join keys, a batch can only change the partitions that hold its own
    * rows or rows of the ids it replaces — every other partition
    * directory of the previous version is byte-identical in the merged
    * result and is hard-copied verbatim (one file each, no decode, no
    * shuffle). Per merge the engine therefore:
    *
    *   1. locates replaced ids with ONE skinny column scan of the cell
    *      store (vec_id + the partition value — no embedding pages),
    *      which also yields the exact merged count without a second scan;
    *   2. reads the replaced ids' old rows through a partition-PRUNED
    *      scan and re-derives their old bucket keys from the stored
    *      embeddings (the key is a pure function of the vector — no
    *      bucket-table scan at all);
    *   3. rewrites only the dirty cell partitions (pruned scan ∪ batch
    *      assignments) and the dirty bucket partitions (pruned stored
    *      rows minus replaced plus batch, re-ranked at the frozen cap);
    *   4. hard-copies every clean partition directory.
    *
    * Merge == rebuild stays EXACT: an untouched bucket's capped rows
    * re-rank to themselves; an at-cap bucket GAINING members never needs
    * its cap-dropped tail (dropped members rank below every stored
    * member, so they can never re-enter a top-cap that only got more
    * crowded); and the one case where the capped store is insufficient —
    * a replaced id removed from a bucket AT the cap, whose dropped tail
    * may be promoted — is detected and routed through a corpus signature
    * pass that recovers the dirty buckets' true membership
    * (`drainRecompute`; dirty partitions only are still all that's
    * written). A layout-modulus change at the merged count (or a legacy
    * unpartitioned artifact) falls back to the full rewrite
    * (`fullRewrite`), which doubles as the artifact's upgrade path. */
  def mergePublishStats(s: SparkSession, dir: String,
      batch: DataFrame): (Meta, MergeStats) = {
    GraftFunctions.register(s)
    val live = open(s, dir)
    require(published(s, live.dir), s"no published vector index at $dir")
    val (m, prev) = (live.meta, live.dir)
    val b = graft.Caching.persist(
      batch.select(col("vec_id"), col("embedding")))
    try {
      val ids = b.select("vec_id")
      val cent = at(s, prev, "centroids").select("cell", "centroid")
      // PQ books are frozen at merge exactly like the centroids: batch
      // rows encode against them, and the merged version carries the
      // pair forward (a non-PQ index stays non-PQ)
      val pqB =
        if (hasPqAt(s, prev))
          Some(at(s, prev, "pqbooks").select("m", "cell", "pc"))
        else None
      val nBatch = b.count()
      // one skinny scan of the cell store (vec_id + cpart only): where do
      // the replaced ids live, and how many are there — bounded collect
      // (≤ parts rows after the groupBy)
      val repByPart: Array[(Long, Long)] =
        if (m.parts <= 0) Array.empty
        else at(s, prev, "cells").select(col("vec_id"), col("cpart"))
          .join(ids, Seq("vec_id"), "left_semi")
          .groupBy("cpart").count().collect()
          .map(r => (r.get(0).asInstanceOf[Number].longValue, r.getLong(1)))
      val nReplaced = repByPart.map(_._2).sum
      val n2 = m.n - nReplaced + nBatch
      val parts2 = StorageOps.layoutParts(n2, RowsPerPart)
      // a pre-schedule PQ artifact (no recorded budget) stores codes as
      // fixed c0..c3 columns: partition-level merging would mix schemas
      // (dirty partitions in the array layout beside hard-copied legacy
      // files), so it takes the full rewrite — which doubles as the
      // upgrade to the array layout, exactly like the legacy-parts path
      if (m.parts <= 0 || parts2 != m.parts ||
          (pqB.isDefined && m.pqm == 0)) {
        val fullMeta = mergeFullRewrite(s, dir, live, b, ids, cent, pqB)
        return (fullMeta, MergeStats(fullMeta.parts, fullMeta.parts, 0,
          fullMeta.parts, 0, fullRewrite = true, drainRecompute = false))
      }

      val replacedCparts = repByPart.map(_._1)
      val batchCells = graft.Caching.persist(
        VectorOps.assignCells(b, cent)
          .select(col("cell"), col("vec_id"), col("embedding")))
      try {
        // replaced ids' OLD rows, via the pruned cell scan; their old
        // bucket keys re-derive from the stored embeddings
        val replacedOld = StorageOps.prunedByVals(at(s, prev, "cells"),
            "cpart", replacedCparts, m.parts)
          .join(ids, Seq("vec_id"), "left_semi")
          .select(col("vec_id"), col("embedding"))
        val replacedBuckets = graft.Caching.persist(replacedOld
          .select(col("vec_id"), bucketKeyOf(m.width).as("bucket")))
        try {
          val batchBuckets = b
            .select(col("vec_id"), col("embedding"),
              bucketKeyOf(m.width).as("bucket"))
          val dirtyBp = batchBuckets
            .select(bpartOf(col("bucket"), m.parts).as("p"))
            .union(replacedBuckets.select(bpartOf(col("bucket"), m.parts)))
            .distinct().collect().map(_.getLong(0))
          val dirtyCp = (batchCells
            .select(cpartOf(col("cell"), m.parts).as("p"))
            .distinct().collect().map(_.getLong(0)) ++ replacedCparts)
            .distinct
          val storedDirty = StorageOps.prunedByVals(at(s, prev, "buckets"),
              "bpart", dirtyBp, m.parts)
            .select("bucket", "vec_id", "embedding")
          // drain detection: is any REPLACED id's old bucket at the cap?
          // (only then can its cap-dropped tail be promoted, and only
          // then is the capped store's membership insufficient)
          val drain = nReplaced > 0 && storedDirty
            .join(replacedBuckets.select("bucket").distinct(),
              Seq("bucket"), "left_semi")
            .groupBy("bucket").count()
            .filter(col("count") >= m.cap).limit(1).count() > 0
          val dirtyBucketMembers =
            if (!drain)
              storedDirty.join(ids, Seq("vec_id"), "left_anti")
                .unionByName(batchBuckets
                  .select("bucket", "vec_id", "embedding"))
                .select(col("vec_id"), col("embedding"))
            else // corpus signature pass: true membership of dirty buckets
              at(s, prev, "cells").select(col("vec_id"), col("embedding"))
                .join(ids, Seq("vec_id"), "left_anti")
                .unionByName(b)
                .filter(bpartOf(bucketKeyOf(m.width), m.parts)
                  .isin(dirtyBp.toSeq: _*))
          val newDirtyBuckets = VectorOps.cappedBuckets(dirtyBucketMembers,
            m.width, m.cap, "vec_id", "embedding")
          val newDirtyCells = StorageOps.prunedByVals(at(s, prev, "cells"),
              "cpart", dirtyCp, m.parts)
            .select("cell", "vec_id", "embedding")
            .join(ids, Seq("vec_id"), "left_anti")
            .unionByName(batchCells)

          // write the next version: dirty partitions through the writer,
          // clean partition directories hard-copied from the previous one.
          // `pqres` demotes to false when meta said residual but no books
          // loaded (degenerate artifact); the returned Meta carries the
          // SAME demotion — persisted and in-memory metas must never
          // diverge (mergeFullRewrite already did this; r15 ADVICE).
          val pqRes = pqB.isDefined && m.pqres
          val meta2 = m.copy(n = n2, pqres = pqRes)
          def writeDirty(rows: DataFrame, ds: String, partCol: String,
              part: org.apache.spark.sql.Column, dirty: Array[Long],
              v: String): Int = {
            rows.withColumn(partCol, part)
              .repartition(math.max(1, dirty.length), col(partCol))
              .write.partitionBy(partCol)
              .mode("errorifexists").parquet(s"$v/$ds")
            StorageOps.copyCleanParts(s, s"$prev/$ds", s"$v/$ds", partCol,
              dirty.toSet)
          }
          val byBucket = bpartOf(col("bucket"), m.parts)
          val byCell = cpartOf(col("cell"), m.parts)
          StorageOps.publishNext(s, dir) { v =>
            StorageOps.writeMeta(s, v, meta2)
            val copiedB = writeDirty(newDirtyBuckets.select("bucket", "vec_id",
              "embedding"), "buckets", "bpart", byBucket, dirtyBp, v)
            cent.select("cell", "centroid")
              .write.mode("errorifexists").parquet(s"$v/centroids")
            val copiedC = writeDirty(newDirtyCells.select("cell", "vec_id",
              "embedding"), "cells", "cpart", byCell, dirtyCp, v)
            // the PQ pair rides the cells' partition bookkeeping verbatim:
            // codes are cell-aligned and uncapped, so the dirty cparts are
            // exactly the cells' dirty cparts and no drain case exists
            pqB.foreach { books =>
              books.select("m", "cell", "pc")
                .write.mode("errorifexists").parquet(s"$v/pqbooks")
              // residual books encode residual batch vectors (frozen
              // centroids are already in hand via batchCells) — the pair
              // contract: codes always match the books' training frame
              val encodeInput =
                if (pqRes) VectorOps.residualFrame(batchCells, cent) else b
              // this path only runs for budget-recorded artifacts (legacy
              // c0..c3 stores routed to the full rewrite above), so the
              // stored schema is the code array
              val batchCodes = VectorOps
                .pqEncode(encodeInput, books, subDimOfBooks(books), m.pqm)
                .join(batchCells.select("cell", "vec_id"), Seq("vec_id"))
                .select("cell", "vec_id", "code")
              writeDirty(StorageOps.prunedByVals(at(s, prev, "codes"), "cpart",
                  dirtyCp, m.parts)
                .select("cell", "vec_id", "code")
                .join(ids, Seq("vec_id"), "left_anti")
                .unionByName(batchCodes), "codes", "cpart", byCell, dirtyCp, v)
            }
            mergeGt(s, prev, v, b, ids)
            (meta2, MergeStats(m.parts, dirtyBp.length, copiedB,
              dirtyCp.length, copiedC,
              fullRewrite = false, drainRecompute = drain))
          }
        } finally replacedBuckets.unpersist()
      } finally batchCells.unpersist()
    } finally b.unpersist()
  }

  /** The O(index) rewrite path — the pre-partition-level merge, kept as
    * the fallback for a layout-modulus change or a legacy unpartitioned
    * artifact (where it doubles as the upgrade to the current layout).
    * The bucket table is REBUILT from the merged cells — the UNCAPPED
    * per-vector store — not merged from the stored capped rows: a member
    * the cap dropped at an earlier publish is absent from the stored
    * buckets, so a merge over them could never re-admit it when a later
    * batch drains its flooded bucket, silently diverging from the
    * frozen-geometry rebuild the contract promises. */
  private def mergeFullRewrite(s: SparkSession, dir: String, live: Live,
      b: DataFrame, ids: DataFrame, cent: DataFrame,
      pqBooks: Option[DataFrame]): Meta = {
    val m = live.meta
    val pqRes = pqBooks.isDefined && m.pqres
    val mergedCells = graft.Caching.persist(
      at(s, live.dir, "cells").select("cell", "vec_id", "embedding")
        .join(ids, Seq("vec_id"), "left_anti")
        .unionByName(VectorOps.assignCells(b, cent)
          .select(col("cell"), col("vec_id"), col("embedding"))))
    try {
      val mergedBuckets = VectorOps.cappedBuckets(
        mergedCells.select(col("vec_id"), col("embedding")),
        m.width, m.cap, "vec_id", "embedding")
      // the frozen-book re-encode over the merged corpus (codes could
      // also be merged like cells, but this path is already O(index));
      // residual books re-encode residuals against the frozen centroids
      // the frozen budget rides the rewrite: (4, 16) for a legacy store
      // — whose codes dataset this path upgrades to the array layout,
      // recording the budget in meta from here on — else the recorded one
      val (nm, nk) = pqBudget(m)
      val codes = pqBooks.map { books =>
        val encodeInput =
          if (pqRes) VectorOps.residualFrame(mergedCells, cent)
          else mergedCells.select(col("vec_id"), col("embedding"))
        VectorOps.pqEncode(encodeInput, books, subDimOfBooks(books), nm)
          .join(mergedCells.select("cell", "vec_id"), Seq("vec_id"))
          .select("cell", "vec_id", "code")
      }
      // cells is uncapped (one row per vector): its count IS the new n.
      // `parts` is layout-only, so unlike the frozen geometry it is
      // re-derived at the merged count (keys stay valid either way).
      val n2 = mergedCells.count()
      // the gt pair rides the full rewrite at full-rescore cost — this
      // path is already O(index), and the probe set is sampled-small
      val gtq2 =
        if (hasGtAt(s, live.dir)) Some(refreshedGtq(s, live.dir, b)) else None
      writeVersion(s, dir,
        m.copy(n = n2, parts = StorageOps.layoutParts(n2, RowsPerPart),
          pqres = pqRes,
          pqm = if (pqBooks.isDefined) nm else 0,
          pqk = if (pqBooks.isDefined) nk else 0),
        mergedBuckets, cent, mergedCells, pqBooks, codes,
        gtq2, gtq2.map(g =>
          bruteGt(g, mergedCells.select("vec_id", "embedding"), GtDepth)))
    } finally mergedCells.unpersist()
  }

  /** The stored probe queries with latest-wins embedding refresh against
    * a merge batch — a probe query whose OWN vector the batch replaces
    * keeps auditing the vector the index actually holds. */
  private def refreshedGtq(s: SparkSession, vdir: String,
      b: DataFrame): DataFrame =
    gtqAt(s, vdir)
      .join(b.select(col("vec_id").as("query_id"),
        col("embedding").as("new_e")), Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("new_e"), col("embedding")).as("embedding"))

  /** GROUND-TRUTH MAINTENANCE for the partition-level merge — the gt
    * twin of the buckets' drain logic, applied BEFORE the version `v`
    * flips live. Exactness argument:
    *
    *   - a stored top-[[GtDepth]] list is the exact prefix of the old
    *     corpus ordering, so every UNSTORED old vector ranks below all
    *     of its rows;
    *   - a merge can only promote BATCH vectors into a list (scored
    *     here: O(|probe| × batch) — the incremental cost) …
    *   - … UNLESS it REMOVES a stored row (a replaced id was a stored
    *     neighbor) or replaces the probe query's own vector: those
    *     queries' prefixes are no longer exact, and they RESCORE against
    *     the merged corpus (the drain analog — rare, O(dirty × corpus),
    *     and only the affected queries pay it).
    *
    * A batch id absent from every stored list needs no removal handling:
    * its old vector ranked below depth (removing it cannot change the
    * prefix) and its new vector enters through the batch scoring. */
  private def mergeGt(s: SparkSession, prev: String, next: String,
      b: DataFrame, ids: DataFrame): Unit = {
    if (!hasGtAt(s, prev)) return
    val gtq2 = refreshedGtq(s, prev, b)
    val gt = gtAt(s, prev)
    // bounded collect: dirty queries <= the sampled probe size
    val dirtyQ = gt
      .join(ids.select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .select("query_id")
      .union(gt.select("query_id").join(ids.select(col("vec_id")
        .as("query_id")), Seq("query_id"), "left_semi"))
      .distinct().collect().map(_.getLong(0))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val qClean = if (dirtyQ.isEmpty) gtq2
      else gtq2.filter(!col("query_id").isin(dirtyQ.map(Long.box): _*))
    val keptClean = (if (dirtyQ.isEmpty) gt
      else gt.filter(!col("query_id").isin(dirtyQ.map(Long.box): _*)))
      .select("query_id", "neighbor_id", "sim")
    val batchScored = b
      .join(broadcast(qClean.select(col("query_id"),
        col("embedding").as("qe"))), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
    val cleanGt = keptClean.unionByName(batchScored)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= GtDepth)
    val newGt = if (dirtyQ.isEmpty) cleanGt else {
      val qDirty = gtq2.filter(col("query_id").isin(dirtyQ.map(Long.box): _*))
      val mergedCorpus = at(s, prev, "cells").select("vec_id", "embedding")
        .join(ids, Seq("vec_id"), "left_anti")
        .unionByName(b.select("vec_id", "embedding"))
      cleanGt.unionByName(bruteGt(qDirty, mergedCorpus, GtDepth))
    }
    newGt.select("query_id", "neighbor_id", "sim", "rk").coalesce(1)
      .write.mode("errorifexists").parquet(s"$next/gt")
    gtq2.select("query_id", "embedding").coalesce(1)
      .write.mode("errorifexists").parquet(s"$next/gtq")
  }

  /** The stored bucket key of a corpus vector — probe 0 of the frozen
    * signature, a pure function of the embedding (cappedBuckets'
    * derivation). */
  private def bucketKeyOf(width: Int) =
    element_at(expr(s"hyperplane_sig(embedding, $width, 0)"), 1)

  /** True when the corpus has outgrown the frozen geometry — the signal
    * to schedule a full [[publishFrom]] rebuild (width or cell-count
    * schedule would pick differently at the current count). Width
    * compares against schedule PLUS the recorded escalation rung
    * ([[Meta.wboost]]) — a width-escalated artifact is healthy AT its
    * rung, not perpetually "drifted" back to the saturated width. */
  def needsRebuild(meta: Meta): Boolean =
    math.min(VectorOps.LshMaxWidth,
      VectorOps.lshWidthFor(meta.n) + meta.wboost) != meta.width ||
      VectorOps.ivfCellsFor(meta.n) != meta.cells

  /** The QUALITY gate a [[maintain]] caller can arm beside the layout
    * one: after the merge, [[recallAudit]] runs over `queries` (a
    * SAMPLED set; against an artifact published with `gtProbe` the
    * baseline reads the stored ground truth — otherwise it is a brute
    * O(|queries| x corpus) scan) against the freshly-merged artifact,
    * and if any ARMED search variant's recall@`k` lands below `floor`,
    * maintain retrains — the frozen-quantizer drift [[needsRebuild]]'s
    * count-schedule predicate cannot see, acted on in the same cycle
    * that detected it.
    *
    * `variants` selects WHICH production paths the floor applies to
    * (the minimum over the armed subset): default empty = all published
    * variants — but a consumer that only ever searches through refine
    * should arm `Set("refine")`, so an LSH sag cannot trip a retrain
    * nobody would benefit from. Arming a variant the artifact does not
    * publish (e.g. "ivfadc" on a non-PQ index, or a typo) fails loudly
    * at the audit's empty-probe check rather than silently passing.
    *
    * `failUnrecovered` is the caller policy for a floor the retrain
    * CANNOT satisfy: after a rebuild with this probe armed, maintain
    * re-audits the rebuilt artifact once, and if the armed minimum is
    * still below the floor it either throws (true) or logs a warning
    * (false, default) — so a permanently-failing gate is observable
    * instead of a silent full retrain every cycle (r15 ADVICE). */
  final case class RecallProbe(queries: DataFrame, floor: Double,
      k: Int = 5, nprobe: Int = 2, refineK: Int = 50,
      variants: Set[String] = Set.empty,
      failUnrecovered: Boolean = false)

  /** One production ingest cycle — the loop every consumer of this
    * artifact runs, packaged: merge `batch` in (partition-level,
    * frozen geometry), then IF the merged corpus has outgrown the
    * frozen schedules ([[needsRebuild]]) — or, with `recallProbe`
    * armed, IF the merged artifact's audited recall@k fell below the
    * probe's floor ([[RecallProbe]]: the observe-then-act close of the
    * q_ann_recall_idx drift signal) — run the full [[publishFrom]]
    * rebuild: re-deriving geometry, retraining centroids and (when the
    * index carries the PQ pair) the sub-codebooks from the post-merge
    * corpus, which lives in the uncapped `cells` dataset — and finally
    * prune non-active versions to `keep` (default 2: the previous
    * version stays readable for mid-probe sessions; the pointer flip
    * already made the new one active). Returns the active [[Meta]] and
    * whether a rebuild ran. At most ONE rebuild per cycle, and the
    * schedule check short-circuits the audit (a schedule-driven rebuild
    * retrains anyway, so the audit's brute scan would be spent on a
    * version about to be replaced). Idempotent per batch in the
    * latest-wins sense every merge has; crash-safe at every step
    * boundary because each step is itself a pointer-flip publish over
    * immutable version dirs. */
  def maintain(s: SparkSession, dir: String, batch: DataFrame,
      keep: Int = 2, recallProbe: Option[RecallProbe] = None,
      occupancyProbe: Option[OccupancyProbe] = None): (Meta, Boolean) = {
    val merged = mergePublish(s, dir, batch)
    def auditedMin(p: RecallProbe): Double = {
      val audit = recallAudit(s, dir, p.queries, p.k, p.nprobe, p.refineK)
      val armed = if (p.variants.isEmpty) audit
        else audit.filter(col("variant").isin(p.variants.toSeq: _*))
      val r = armed.agg(min(col(s"recall_at_${p.k}"))).collect()(0)
      // a null minimum means ZERO audited rows — an empty probe query
      // set (or an armed variant the artifact does not publish) audits
      // nothing, and silently skipping the gate the caller armed would
      // defeat its purpose
      require(!r.isNullAt(0),
        s"recall probe on $dir produced no rows: the probe query set is " +
          "empty (or matched no corpus), or none of the armed variants " +
          s"${p.variants.mkString("{", ",", "}")} is published by this " +
          "artifact — sample real query vectors and arm published paths")
      r.getDouble(0)
    }
    val recallTripped = !needsRebuild(merged) &&
      recallProbe.exists(p => auditedMin(p) < p.floor)
    val rebuilt =
      if (needsRebuild(merged) || recallTripped) {
        // the rebuild re-derives the gt pair too: from the artifact's
        // own probe set when it carries one, else (first rebuild under
        // an armed probe) from the probe's queries — so an armed cycle
        // becomes incremental from its first retrain onward.
        // widthBoost = the recorded rung: a schedule- or recall-driven
        // rebuild must not silently demote a width-escalated artifact
        // back to the occupancy-saturated width
        republish(s, dir, open(s, dir), recallProbe.map(_.queries), 0)
        // a floor the retrain cannot satisfy must be OBSERVABLE, not a
        // silent O(corpus) publish on every subsequent cycle: re-audit
        // the rebuilt artifact once and surface per caller policy
        recallProbe.foreach { p =>
          val after = auditedMin(p)
          if (after < p.floor) {
            val msg = s"recall floor ${p.floor} not restored by the " +
              s"retrain at $dir: post-rebuild min recall@${p.k} over " +
              s"${if (p.variants.isEmpty) "all variants"
                else p.variants.mkString(",")} = $after — the floor " +
              "is unreachable for this corpus/geometry, and every " +
              "further armed maintain cycle will retrain again; lower " +
              "the floor, arm fewer variants, or raise the search budget"
            if (p.failUnrecovered) throw new IllegalStateException(msg)
            else log.warn(msg)
          }
        }
        true
      } else false
    // OCCUPANCY GATE (r17 — the third index family's observe-then-act
    // close, the DedupIndex/FingerprintIndex precision-floor shape):
    // the count schedule keeps EXPECTED occupancy at LshTargetBucket,
    // but a corpus whose DENSITY concentrates into few buckets (low
    // effective rank, clustered embeddings) saturates them at an
    // unchanged count — a cost collapse needsRebuild cannot see and
    // recall cannot see either (searches return fine, they just scan
    // ever-wider buckets). Trip: measured mean occupancy over live
    // buckets above factor × target → escalate ONE width rung
    // ([[escalateWidth]]) → re-probe → surface per policy. Runs after
    // the schedule/recall block so a schedule rebuild (which re-derives
    // width at the current count + rung) gets to act first.
    occupancyProbe.foreach { p =>
      val occ = bucketOccupancy(s, dir)
      if (occ.meanOccupancy > p.factor * VectorOps.LshTargetBucket) {
        escalateWidth(s, dir)
        val after = bucketOccupancy(s, dir)
        if (after.meanOccupancy > p.factor * VectorOps.LshTargetBucket) {
          val msg = s"bucket occupancy ${after.meanOccupancy} still above " +
            s"${p.factor} x ${VectorOps.LshTargetBucket} after the width " +
            s"escalation at $dir (width ${loadMeta(s, dir).width}): the " +
            "corpus concentrates into too few hyperplane regions for one " +
            "rung to disperse — near-duplicate mass (dedup it first), a " +
            "degenerate embedding space, or a floor set too tight"
          if (p.failUnrecovered) throw new IllegalStateException(msg)
          else log.warn(msg)
        }
      }
    }
    compactIfFragmented(s, dir)
    StorageOps.pruneVersions(s, dir, keep)
    (loadMeta(s, dir), rebuilt)
  }

  /** Bucket-occupancy reading of the active version: live (non-empty)
    * bucket count, mean occupancy over them, and the widest bucket —
    * one partial-aggregated scan of the bucket table, the saturation
    * statistic the [[OccupancyProbe]] gate trips on. */
  def bucketOccupancy(s: SparkSession, dir: String): OccupancyStats = {
    val r = loadBuckets(s, dir).groupBy("bucket")
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)), avg("c"), max("c")).collect()(0)
    OccupancyStats(r.getLong(0), r.getDouble(1), r.getLong(2))
  }

  /** The OCCUPANCY gate's actuator: republish the active version one
    * width rung deeper — same corpus (the uncapped cells floats), same
    * PQ mode, the gt pair re-derived from the stored probe, width =
    * schedule + (recorded rung + 1), recorded back as [[Meta.wboost]]
    * so every later maintain preserves it. Each rung halves expected
    * bucket occupancy for a non-degenerate corpus; recall impact is
    * bounded by the multi-probe dial and stays observable through the
    * recall gate, which runs BEFORE this actuator in a maintain cycle —
    * an escalation that sags recall is caught by the NEXT armed cycle's
    * audit (the gates alternate rather than fight within one cycle:
    * at most one recall-driven rebuild and one width rung per
    * maintain). Fails loudly at the
    * LshMaxWidth ceiling (2^24 buckets — past that the kNN cap is the
    * remaining defense). Returns the new Meta. */
  def escalateWidth(s: SparkSession, dir: String): Meta = {
    val live = open(s, dir)
    val m = live.meta
    require(m.width < VectorOps.LshMaxWidth,
      s"width-escalation ladder exhausted at $dir: width ${m.width} is " +
        s"the ${VectorOps.LshMaxWidth}-bit ceiling — occupancy past it " +
        "means concentrated near-duplicate mass; dedup the corpus or " +
        "accept the kNN bucket cap as the cost bound")
    republish(s, dir, live, None, 1)
  }

  /** Full [[publishFrom]] rebuild of `live`'s corpus (the uncapped cells
    * floats) as the next version: same PQ mode, the gt pair from the
    * stored probe set (else `gtFallback`), width `boost` rungs above the
    * recorded one. */
  private def republish(s: SparkSession, dir: String, live: Live,
      gtFallback: Option[DataFrame], boost: Int): Meta =
    publishFrom(s, at(s, live.dir, "cells").select("vec_id", "embedding"),
      dir, pq = hasPqAt(s, live.dir), pqResidual = live.meta.pqres,
      gtProbe =
        if (hasGtAt(s, live.dir)) Some(gtqAt(s, live.dir)
          .select(col("query_id").as("vec_id"), col("embedding")))
        else gtFallback,
      widthBoost = live.meta.wboost + boost)

  /** Small-file compaction hook in the [[maintain]] cycle: if any
    * partitioned dataset of the ACTIVE version has accumulated more than
    * one data file per partition directory, republish the version
    * compacted (same meta, same rows, the canonical one-file-per-
    * partition layout) as the next immutable version and flip the
    * pointer — [[StorageOps.compactVersioned]]'s manifest-flip shape
    * applied to the multi-dataset index. This engine's own writers keep
    * the invariant by construction (every dirty write repartitions BY
    * the partition column; clean copies move single files), so the check
    * is normally a cheap FS listing and no-op — the hook exists for
    * artifacts a foreign writer (or a pre-invariant version of this
    * library) fragmented. Returns whether a compaction version was
    * published. */
  def compactIfFragmented(s: SparkSession, dir: String): Boolean = {
    val live = open(s, dir)
    val v = live.dir
    val pq = hasPqAt(s, v)
    if (!(Seq("buckets", "cells") ++ (if (pq) Seq("codes") else Nil))
        .exists(ds => StorageOps.fragmented(s, s"$v/$ds"))) return false
    val gt = hasGtAt(s, v)
    // writeVersion projects every dataset to its stored columns
    writeVersion(s, dir, live.meta,
      at(s, v, "buckets"), at(s, v, "centroids"), at(s, v, "cells"),
      if (pq) Some(at(s, v, "pqbooks")) else None,
      if (pq) Some(normalizeCodes(at(s, v, "codes"))) else None,
      // the gt pair copies VERBATIM — compaction is a layout move, and
      // recomputing ground truth here would be a pointless corpus scan
      if (gt) Some(gtqAt(s, v)) else None,
      if (gt) Some(gtAt(s, v)) else None)
    true
  }

  /** Best corpus match per incoming vector against the published bucket
    * index — the artifact-backed twin of the inline cross-dedup plan
    * (VectorOps.embedCrossDedup): probe buckets at the frozen
    * width/probes, exact-cosine verify against the embedding carried IN
    * the bucket rows (no second corpus join), threshold before the
    * ranking window so rank 1 is the best QUALIFYING match. Batch at or
    * below `broadcastRowLimit` → broadcast hint + partition-pruned index
    * scan; above → planner shuffle join over the full index (header:
    * QUERY-BATCH HINT GATE). */
  def probeBestMatch(s: SparkSession, dir: String, incoming: DataFrame,
      threshold: Double,
      broadcastRowLimit: Long = QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame = {
    val w = Window.partitionBy("in_id")
      .orderBy(col("sim").desc, col("corpus_id"))
    bucketMatches(s, dir, "probeBestMatch", incoming, threshold,
        broadcastRowLimit, knownBatchRows)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("in_id").as("vec_id"), col("corpus_id").as("match_id"))
      .orderBy("vec_id")
  }

  /** ALL verified corpus matches of `incoming` above `threshold` —
    * [[probeBestMatch]] without the rank-1 fold: probe buckets at the
    * frozen width/probes, exact-cosine verify against the embedding
    * carried in the bucket rows, keep every qualifying (in_id,
    * corpus_id, sim) row. This is the per-microbatch probe shape of the
    * streaming ingest path ([[graft.streaming.EmbedNearDupStream]]
    * routes each trigger through here with `knownBatchRows` = the
    * microbatch count, so every trigger reads only its derived `bpart`
    * partitions and never runs a gate-count job against the batch
    * lineage). No pair-dedup stage is needed: a corpus vector owns
    * exactly ONE bucket row and a query's probe buckets are pairwise
    * distinct, so an (incoming, corpus) pair meets at most once — the
    * same argument the streaming twin documents. Gate semantics
    * identical to the other searches (header: QUERY-BATCH HINT GATE). */
  def matchesAbove(s: SparkSession, dir: String, incoming: DataFrame,
      threshold: Double,
      broadcastRowLimit: Long = QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame =
    bucketMatches(s, dir, "matchesAbove", incoming, threshold,
      broadcastRowLimit, knownBatchRows)

  /** The verified (in_id, corpus_id, sim >= threshold) rows of
    * `incoming`'s probe buckets — the body [[probeBestMatch]] and
    * [[matchesAbove]] share; `api` names the call's batch-frame slot. */
  private def bucketMatches(s: SparkSession, dir: String, api: String,
      incoming: DataFrame, threshold: Double, broadcastRowLimit: Long,
      knownBatchRows: Option[Long]): DataFrame = {
    GraftFunctions.register(s)
    val live = open(s, dir)
    val inc0 = incoming
      .select(col("vec_id").as("in_id"), col("embedding").as("ie"))
    val (small, hint) = batchGate(knownBatchRows, inc0.count(), broadcastRowLimit)
    val inc = batchFrame(s"$api|$dir", small, inc0.select(col("in_id"),
      col("ie"), probeBuckets(live.meta, "ie")))
    bucketScan(s, live, small, inc)
      .join(hint(inc),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("in_id"))
      .select(col("in_id"), col("vec_id").as("corpus_id"),
        expr("cosine_sim(ie, embedding)").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** A query column's probe buckets at the frozen width/probes, one row
    * each, as `qbucket`. */
  private def probeBuckets(m: Meta, q: String) =
    explode(expr(s"hyperplane_sig($q, ${m.width}, ${m.probes})")).as("qbucket")

  /** The bucket table of `live`, pruned to `q`'s probe buckets'
    * partitions below the batch gate. */
  private def bucketScan(s: SparkSession, live: Live, small: Boolean,
      q: DataFrame): DataFrame = {
    val raw = at(s, live.dir, "buckets")
    (if (!small) raw
     else prunedScan(raw, q.select(bpartOf(col("qbucket"), live.meta.parts)),
       "bpart", live.meta.parts))
      .select("bucket", "vec_id", "embedding")
  }

  /** LSH top-k search against the published bucket table — the
    * artifact-backed twin of the inline q_ann_lsh plan: each query
    * explodes into its probe buckets at the frozen width/probes, exact
    * cosine top-k within the probed buckets. (The artifact's bucket
    * table is width-capped; the cap is inert except under an embedding
    * flood — the q_knn_join convention.) Batch at or below
    * `broadcastRowLimit` → broadcast hint + partition-pruned index scan;
    * above → planner shuffle join over the full index. */
  def searchLsh(s: SparkSession, dir: String, queries: DataFrame,
      k: Int,
      broadcastRowLimit: Long = QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame =
    lshAt(s, dir, open(s, dir), queries, k, broadcastRowLimit, knownBatchRows)

  private def lshAt(s: SparkSession, dir: String, live: Live,
      queries: DataFrame, k: Int, broadcastRowLimit: Long,
      knownBatchRows: Option[Long]): DataFrame = {
    GraftFunctions.register(s)
    val q0 = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (small, hint) = batchGate(knownBatchRows, q0.count(), broadcastRowLimit)
    val q = batchFrame(s"searchLsh|$dir", small,
      q0.select(col("query_id"), col("qe"), probeBuckets(live.meta, "qe")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    bucketScan(s, live, small, q).join(hint(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk")
      .orderBy("query_id", "rk")
  }

  /** IVF top-k search against the published centroid + inverted-list
    * datasets — the artifact-backed twin of the inline q_ann_ivf search
    * stage: nprobe nearest cells per query by centroid cosine, exact
    * top-k within the probed lists. The centroid table is broadcast
    * unconditionally — it is the INDEX side, bounded by the cell
    * schedule (driver-small by construction), not the caller's batch.
    * Batch at or below `broadcastRowLimit` → broadcast hint +
    * partition-pruned inverted-list scan; above → planner shuffle join
    * over the full lists. */
  def searchIvf(s: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int,
      broadcastRowLimit: Long = QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame =
    ivfAt(s, dir, open(s, dir), queries, k, nprobe, broadcastRowLimit,
      knownBatchRows)

  private def ivfAt(s: SparkSession, dir: String, live: Live,
      queries: DataFrame, k: Int, nprobe: Int, broadcastRowLimit: Long,
      knownBatchRows: Option[Long]): DataFrame = {
    GraftFunctions.register(s)
    val q0 = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (small, hint) = batchGate(knownBatchRows, q0.count(), broadcastRowLimit)
    val qcells = batchFrame(s"searchIvf|$dir", small,
      probedCells(s, live, q0, nprobe, withCentroid = false)
        .select("query_id", "qe", "qcell"))
    val lists = cellScan(s, live, "cells", small, qcells)
      .select("cell", "vec_id", "embedding")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    lists.join(hint(qcells),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk")
      .orderBy("query_id", "rk")
  }

  /** The `nprobe` nearest cells of each query (query_id, qe) by centroid
    * cosine, as (query_id, qe, qcell[, centroid], csim, crk). The
    * centroid table is broadcast unconditionally — it is the INDEX side,
    * bounded by the cell schedule. `withCentroid` carries the matched
    * centroid for the residual LUT; other callers never ship the float
    * array through the ranking exchange. */
  private def probedCells(s: SparkSession, live: Live, q0: DataFrame,
      nprobe: Int, withCentroid: Boolean): DataFrame =
    q0.join(broadcast(at(s, live.dir, "centroids").select("cell", "centroid")))
      .select((Seq(col("query_id"), col("qe"), col("cell").as("qcell")) ++
        (if (withCentroid) Seq(col("centroid")) else Nil) :+
        expr("cosine_sim(qe, centroid)").as("csim")): _*)
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("csim").desc, col("qcell"))))
      .filter(col("crk") <= nprobe)

  /** IVF-ADC top-k search over the published PQ pair — the billion-scale
    * layout (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search"): nprobe nearest cells per query by centroid cosine exactly
    * like [[searchIvf]], then rank WITHIN the probed cells by asymmetric
    * PQ distance over the stored codes at the artifact's recorded
    * (M, K) budget ([[pqBudget]]). The probe never touches a corpus
    * embedding: the scan side is `codes` (M small ints per vector
    * instead of the float payload — the order-of-100× scan cut that is
    * the point of PQ), the query side is the per-query M×K lookup table
    * joined in as one flat array ([[VectorOps.pqLut]] — Q·(M·K) doubles
    * however large the corpus), and the per-row score is M codegen'd
    * array lookups generated literally at plan time. Distances are the PQ metric (squared L2 to
    * sub-centroids), so results approximate [[searchIvf]]'s exact-cosine
    * ranking; cell alignment with the inverted lists means the partition
    * pruning and the gate behave identically. Requires a `pq = true`
    * publish ([[hasPq]]) — refused, not degraded, on an index without
    * the pair: an ADC caller wants the cheap scan, and silently falling
    * back to the float scan would invert the cost contract.
    *
    * RESIDUAL mode (r15 — the canonical IVFADC of Jégou et al. §V-A,
    * previously documented as deferred): an index published with
    * `pqResidual = true` trains its books and computes its codes over
    * x − centroid(cell(x)) instead of the raw vectors, concentrating
    * the sub-codebooks on within-cell variance — better recall when
    * the code budget is scarce (measured: it doubled recall at the old
    * 16-bit budget and stops paying at the scheduled 40-bit one —
    * SCALING.md r16 row). The layout and merge bookkeeping are
    * UNCHANGED (codes stay cell-aligned, dirty-partition accounting
    * identical); the only search-side difference is the lookup table,
    * which becomes per-(query, probed cell) — the query's residual
    * against each probed centroid ([[VectorOps.pqLutPerCell]]) —
    * multiplying the broadcast by nprobe: Q·nprobe·(M·K) doubles,
    * still driver-small at any corpus. The mode is recorded in meta
    * (`pqres`, [[Meta.pqres]]) because books and codes are a matched
    * pair; this search branches on it transparently, so consumers (the
    * recall audit included) never pass a flag. The raw-vector default
    * keeps ONE training and ONE code set shared with the inline
    * q_embed_pq family and its oracle replay; the residual artifact
    * (q_ann_ivfpq_res_idx) carries its own full oracle — the same
    * unrolled Lloyd replay pointed at a residual input frame. */
  def searchIvfPq(s: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int,
      broadcastRowLimit: Long = QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame =
    ivfPqAt(s, dir, open(s, dir), queries, k, nprobe, broadcastRowLimit,
      knownBatchRows)

  /** The frozen PQ books of `live` (refused on an index without the
    * pair), their sub-dimension, and the recorded (M, K) budget. */
  private def pqOf(s: SparkSession, dir: String,
      live: Live): (DataFrame, Int, (Int, Int)) = {
    require(hasPqAt(s, live.dir),
      s"index at $dir has no PQ datasets (publish with pq = true)")
    val books = at(s, live.dir, "pqbooks").select("m", "cell", "pc")
    (books, subDimOfBooks(books), pqBudget(live.meta))
  }

  private def ivfPqAt(s: SparkSession, dir: String, live: Live,
      queries: DataFrame, k: Int, nprobe: Int, broadcastRowLimit: Long,
      knownBatchRows: Option[Long]): DataFrame = {
    GraftFunctions.register(s)
    val (books, subDim, (nm, nk)) = pqOf(s, dir, live)
    val q0 = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (small, hint) = batchGate(knownBatchRows, q0.count(), broadcastRowLimit)
    val res = live.meta.pqres
    // the probed-cell ranking; in RESIDUAL mode the matched centroid
    // rides along (the branch below subtracts it per probed cell)
    val ranked = probedCells(s, live, q0, nprobe, withCentroid = res)
    // residual artifact → per-(query, probed cell) LUT over the query's
    // residual against THAT cell's centroid ([[VectorOps.pqLutPerCell]]);
    // raw artifact → the per-query LUT, joined to every probed cell
    val withLut =
      if (res)
        VectorOps.pqLutPerCell(
          ranked.select(col("query_id"), col("qcell"),
            VectorOps.residualExpr("qe", "centroid").as("embedding")),
          books, subDim, nm, nk)
      else ranked.select("query_id", "qcell")
        .join(VectorOps.pqLut(
          q0.select(col("query_id").as("vec_id"), col("qe").as("embedding")),
          books, subDim, nm, nk), Seq("query_id"))
    val qcells = batchFrame(s"searchIvfPq|$dir", small, withLut)
    val codes = codesScan(s, live, small, qcells)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id"))
    codes.join(hint(qcells),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorOps.pqAdc(nm, nk).as("adc"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk")
      .orderBy("query_id", "rk")
  }

  /** Two-stage IVFADC + REFINE search — the standard exact re-rank of
    * the ADC short-list (Jégou et al. §IV-E "re-ranking with source
    * coding"): stage 1 ranks within the probed cells by asymmetric PQ
    * distance over the stored codes exactly like [[searchIvfPq]] and
    * keeps the top `refineK` candidates per query; stage 2 re-ranks ONLY
    * those candidates by exact cosine against the stored floats, read
    * through the SAME `cpart`-pruned inverted-list scan — a candidate
    * lives in a probed cell by construction, so the refine touches no
    * partition the ADC stage didn't. Cost contract at 100 TB: candidate
    * generation stays on the codes (the ~128× scan cut), the float read
    * is O(queries × refineK) rows out of already-probed partitions, and
    * recall@k rises toward [[searchIvf]]'s exact ranking — the
    * accuracy/IO dial between pure ADC and exact IVF, exported through
    * q_ann_recall's `refine` row. Requires the PQ pair like
    * [[searchIvfPq]]. */
  def searchIvfPqRefine(s: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int, refineK: Int = 50,
      broadcastRowLimit: Long = QueryBatchBroadcastRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame =
    refineAt(s, dir, open(s, dir), queries, k, nprobe, refineK,
      broadcastRowLimit, knownBatchRows)

  private def refineAt(s: SparkSession, dir: String, live: Live,
      queries: DataFrame, k: Int, nprobe: Int, refineK: Int,
      broadcastRowLimit: Long, knownBatchRows: Option[Long]): DataFrame = {
    GraftFunctions.register(s)
    val (books, subDim, (nm, nk)) = pqOf(s, dir, live)
    require(refineK >= k, s"refineK ($refineK) must be >= k ($k)")
    val q0 = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (small, hint) = batchGate(knownBatchRows, q0.count(), broadcastRowLimit)
    val res = live.meta.pqres
    // qe rides along (unlike searchIvfPq): the refine stage needs the
    // query floats for the exact re-rank; the centroid only in RESIDUAL
    // mode
    val ranked = probedCells(s, live, q0, nprobe, withCentroid = res)
    // residual vs raw LUT, exactly as in [[searchIvfPq]]; the refine
    // stage itself is mode-blind (exact cosine over stored floats)
    val withLut =
      if (res)
        // the LUT frame consumes `ranked` ONCE; qe reattaches from the
        // cheap base query frame (a pure function of query_id), so the
        // centroid join + per-query window ranking is not planned twice
        // on either side of a self-join (r15 review)
        VectorOps.pqLutPerCell(
          ranked.select(col("query_id"), col("qcell"),
            VectorOps.residualExpr("qe", "centroid").as("embedding")),
          books, subDim, nm, nk)
          .join(q0, Seq("query_id"))
      else ranked.select("query_id", "qe", "qcell")
        .join(VectorOps.pqLut(
          q0.select(col("query_id").as("vec_id"), col("qe").as("embedding")),
          books, subDim, nm, nk), Seq("query_id"))
    val qcells = batchFrame(s"searchIvfPqRefine|$dir", small, withLut)
    val codes = codesScan(s, live, small, qcells)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("neighbor_id"))
    val cand = codes
      .join(hint(qcells.drop("qe")),
        col("cell") === col("qcell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorOps.pqAdc(nm, nk).as("adc"))
      .withColumn("ark", row_number().over(wAdc))
      .filter(col("ark") <= refineK)
      .select("query_id", "neighbor_id")
    val lists = cellScan(s, live, "cells", small, qcells)
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    lists.join(hint(cand), Seq("neighbor_id"))
      .join(hint(qcells.select("query_id", "qe").distinct()), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk")
      .orderBy("query_id", "rk")
  }

  /** Recall@k SELF-CHECK of the published artifact — the operational
    * question the count-schedule [[needsRebuild]] flag cannot answer:
    * "what recall does the index IN PRODUCTION deliver right now?" The
    * vector index merges with FROZEN centroids, hyperplane width and PQ
    * codebooks, so repeated [[maintain]] cycles on a drifting corpus can
    * degrade search quality with zero layout signal (the reference's
    * worker SELF-CHECK analog — health is checked, not just counted:
    * ShuffleWorkerStatusManager.java:90-130). This audit measures it
    * directly, entirely against the artifact:
    *
    *   - GROUND TRUTH is exact-cosine top-k over the artifact's OWN
    *     uncapped `cells` floats — the corpus the index actually holds
    *     after every merge, not the fixture the caller remembers;
    *   - the approximate legs are the artifact's production searches at
    *     their production parameters: [[searchLsh]], [[searchIvf]], and
    *     (when the PQ pair is published) [[searchIvfPq]] (`ivfadc`) +
    *     [[searchIvfPqRefine]] (`refine`).
    *
    * Output: one row per variant — (variant, n_hits, n_brute,
    * recall_at_<k>). Cost contract at 100 TB: the brute baseline is
    * O(|queries| × corpus) — the audit's irreducible price — so callers
    * SAMPLE queries (the q_ann_recall_sampled dial: recall is estimated
    * over a deterministic query sample, never the query universe); the
    * approximate legs are partition-pruned probes. `shareTag` (when set)
    * memoizes the brute baseline and each leg via [[graft.SharedPlans]]
    * under keys qualified by the ACTIVE VERSION — a maintain pointer
    * flip naturally invalidates the audit's frames — so the 2×4
    * references to the brute frame in the stats rows execute it once.
    * The tag must uniquely identify (queries, k, nprobe, refineK) for
    * the session; None skips persistence entirely (spec-friendly: adds
    * no pinned RDDs). */
  /** True iff [[recallAudit]] at (`q`, `k`) can read the stored ground
    * truth: the artifact carries the pair, k is within the stored
    * depth, and the caller's (query_id, embedding) SET equals the
    * stored probe's (two anti-join emptiness probes over sampled-small
    * frames — the check costs nothing next to even one approximate
    * leg). Embeddings join by exact array equality, which parquet
    * round-trips preserve for float32 — a caller passing the stored
    * ids with DIFFERENT embeddings (a re-embedded corpus, a hand-built
    * frame) must NOT take the fast path, or every approximate leg
    * would be audited against a stale exact baseline: a silent
    * wrong-audit (r16 ADVICE). A corpus smaller than k+1 needs no
    * special case — the stored lists and the live scan both yield
    * n−1 rows per query. */
  private[graft] def storedGtUsable(s: SparkSession, dir: String,
      q: DataFrame, k: Int): Boolean =
    gtUsableAt(s, StorageOps.currentDir(s, dir), q, k)

  private def gtUsableAt(s: SparkSession, vdir: String, q: DataFrame,
      k: Int): Boolean =
    k <= GtDepth && hasGtAt(s, vdir) && {
      val gtq = gtqAt(s, vdir)
      // accept the audit-normalized alias (qe) or the raw column name
      val embCol = if (q.columns.contains("qe")) col("qe")
        else col("embedding")
      val qe = q.select(col("query_id"), embCol.as("embedding"))
      qe.join(gtq, Seq("query_id", "embedding"), "left_anti")
        .limit(1).count() == 0 &&
        gtq.join(qe, Seq("query_id", "embedding"), "left_anti")
          .limit(1).count() == 0
    }

  def recallAudit(s: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int, refineK: Int = 50,
      shareTag: Option[String] = None): DataFrame = {
    GraftFunctions.register(s)
    // ONE resolve for the whole audit: the brute baseline and every
    // approximate leg read the same version
    val live = open(s, dir)
    val vkey = live.dir
    def leg(name: String)(build: => DataFrame): DataFrame = shareTag match {
      case Some(tag) =>
        graft.SharedPlans.shared(s, s"recall_idx:$tag:$name|$vkey")(build)
      case None => build
    }
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // STORED-GT FAST PATH (r15 verdict #1): when the artifact carries
    // the maintained ground-truth pair for exactly this query set, the
    // brute baseline is a |probe| × k parquet read instead of an
    // O(|queries| × corpus) scan — the cost moved to publish time and
    // to the incremental per-merge refresh. The live scan stays as the
    // fallback for gt-less artifacts and foreign query sets.
    val brute = leg("brute") {
      if (gtUsableAt(s, live.dir, q, k))
        gtAt(s, live.dir).filter(col("rk") <= k)
          .select("query_id", "neighbor_id")
      else {
        val w = Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))
        Tables.spread(s, at(s, live.dir, "cells").select("vec_id", "embedding"))
          .join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            expr("cosine_sim(qe, embedding)").as("sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select("query_id", "neighbor_id")
      }
    }
    val (lim, known) = (QueryBatchBroadcastRowLimit, None)
    val legs: Seq[(String, DataFrame)] =
      Seq("ivf" -> leg("ivf")(
          ivfAt(s, dir, live, queries, k, nprobe, lim, known)),
        "lsh" -> leg("lsh")(lshAt(s, dir, live, queries, k, lim, known))) ++
      (if (hasPqAt(s, live.dir))
        Seq("ivfadc" -> leg("ivfadc")(
            ivfPqAt(s, dir, live, queries, k, nprobe, lim, known)),
          "refine" -> leg("refine")(
            refineAt(s, dir, live, queries, k, nprobe, refineK, lim, known)))
      else Nil)
    // ONE hit-counting pass over the UNION of the legs: the brute
    // baseline subplan appears exactly twice in the collected plan (the
    // 1-row denominator + the semi join) instead of twice PER VARIANT —
    // without a shareTag the un-persisted O(|queries| x corpus) brute
    // scan would otherwise re-execute 2x4 times (r15 review; the
    // maintain recall gate runs exactly this un-shared path every
    // ingest cycle). A variant with zero hits keeps its row through the
    // left join + fill.
    import s.implicits._
    val approxAll = legs.map { case (name, df) =>
      df.select(lit(name).as("variant"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionAll(_))
    val hits = approxAll
      .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("variant").agg(count(lit(1)).as("n_hits"))
    val total = brute.agg(count(lit(1)).as("n_brute"))
    legs.map(_._1).toDF("variant")
      .join(hits, Seq("variant"), "left_outer")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(total))
      .select(col("variant"), col("n_hits"), col("n_brute"),
        // NULL (not an ANSI divide-by-zero) when the brute baseline is
        // empty, so a misconfigured audit surfaces as "no rows" at the
        // caller's null check instead of a mid-plan arithmetic error
        when(col("n_brute") > 0,
          round(col("n_hits").cast("double") / col("n_brute"), 4))
          .as(s"recall_at_$k"))
      .orderBy("variant")
  }
}
