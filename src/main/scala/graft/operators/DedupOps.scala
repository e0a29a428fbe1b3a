package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Near-duplicate detection family for training-data pipelines —
  * generalizes the reference's similarity matcher (SimilarityUtils.java:21-41)
  * from prefix equality to shingle/Jaccard, MinHash+LSH and SimHash.
  *
  * All three queries emit the same output contract: candidate pairs that
  * pass an EXACT Jaccard >= 0.8 verification, ordered (doc_a, doc_b). The
  * sketches differ only in HOW candidates are generated:
  *   - q_ngram_jaccard: exact blocked join on shared shingles (ground truth
  *     baseline; the join is bounded by shingle collisions).
  *   - q_text_minhash: 192 MinHash permutations, banded r=6/b=32 →
  *     candidate iff all six minima of some band collide.
  *     P(miss | J>=0.8) <= (1-0.8^6)^32 ≈ 6e-5 (J>=0.9: 3e-11).
  *   - q_text_simhash: 512-bit seeded SimHash (native SimHashSig), 32
  *     bands of 16 bits + a 512-bit hamming gate. Probabilistic recall,
  *     same style as MinHash banding: measured on the corpus, J>=0.8
  *     pairs flip ~6% of signature bits (random pairs ~50%), so a 16-bit
  *     band collides with prob >= 0.35 per true pair (expected ~12 of 32
  *     bands; miss ~4e-7) while random pairs collide at 2^-16 per band.
  *     The previous 4-bit nibble banding had a 256-value key space — the
  *     self-join degenerated to ~n²/32 pairs at corpus scale; 16-bit
  *     bands make the key space 32×65536 ≈ 2M.
  *
  * Physical design (this is where the 100 TB shape is decided):
  *   - One pass builds per-doc shingle-HASH arrays (doc_id, hs, n): the
  *     shingling + xxhash64 stay inside whole-stage codegen; the only wide
  *     exchange is the groupBy(doc_id), and downstream stages carry 8-byte
  *     hashes, never shingle strings.
  *   - MinHash/SimHash signatures are computed by native one-pass
  *     expressions over `hs` (MinHashSig/SimHashSig) — per-doc
  *     O(bits×|hs|) CPU with NO row explosion and no extra shuffle (v1
  *     exploded 64 rows/shingle and shuffled 29M rows at sf0.1; this form
  *     shuffles 5k).
  *   - BOTH band self-joins run through cappedBandPairs: buckets wider
  *     than LshBucketCap degrade from all-pairs to star pairing, making
  *     total candidates <= (cap/2+1)·|band rows| — LINEAR in the corpus
  *     by construction, whatever the key distribution (flood-fixture
  *     pinned in DedupSpec).
  *   - Exact verification joins candidate pairs back to the doc arrays and
  *     evaluates `array_intersect` per pair — again codegen, no shuffle
  *     beyond the candidate join itself. At 1000 executors the doc-array
  *     side co-partitions by doc_id.
  */
object DedupOps {
  private type Q = (SparkSession, String) => DataFrame

  // Cache ownership: the public operators here (nearDupPairs, and the
  // registered queries) persist() reused subplans (doc hash arrays,
  // shingle tables) that BACK their returned frames — the CALLER owns the
  // release (unpersist/clearCache once consumed; the engine's runners
  // clearCache per query). Same convention as GraphOps.connectedComponents.

  /** Per-doc token budget for shingling. docHashes collects one hash
    * array per document; without a bound, a single pathological 10 MB
    * document makes a jumbo aggregation row (and a jumbo cached row) on
    * whichever executor it lands. Shingling the first DocTokenCap tokens
    * bounds the array at the SOURCE — a pure projection, no extra
    * shuffle or sort — and mirrors exactly in the oracle SQL (a token
    * prefix slice). 20k tokens ≈ 160 KB of hashes per row, and a
    * truncated near-dup pair is still compared prefix-to-prefix, so
    * detection quality degrades only for pairs whose divergence is
    * entirely beyond the budget (the flag lets a pipeline route those
    * to a second pass if it cares). Inert on the test corpora (~100
    * tokens/doc) — oracle outputs are unchanged. */
  val DocTokenCap = 20000

  /** (doc_id, shingle, truncated): distinct word-3-gram shingles per
    * document over the first DocTokenCap tokens, with the truncation
    * flag. The corpus arrives as one parquet file (one input split), so
    * the CPU-heavy shingling is explicitly spread across the cluster
    * first; hash-partitioning by doc_id also satisfies docHashes'
    * groupBy, so Catalyst inserts no further exchange. */
  def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(s, Tables.documents(s, d))

  /** shingles over an arbitrary documents-shaped frame (doc_id, text) —
    * the cross-corpus operator feeds two different slices through the
    * same definition. */
  def shinglesOf(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), TextRules.tokens(col("text")).as("all_toks"))
      .select(col("doc_id"),
        (size(col("all_toks")) > DocTokenCap).as("truncated"),
        slice(col("all_toks"), 1, DocTokenCap).as("toks"))
      .select(col("doc_id"), col("truncated"),
        explode(expr(
          """CASE WHEN size(toks) >= 3
            |  THEN array_distinct(transform(sequence(0, size(toks)-3),
            |         i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))
            |  ELSE array() END""".stripMargin)).as("shingle"))

  /** The PORTABLE precision-probe pipeline (r15 verdict #5; two stages
    * since r17): band values derived from the SAME independent
    * per-permutation constants as the production
    * [[graft.functions.MinHashSig]] but over a PORTABLE per-shingle
    * base hash (md5-derived int60) instead of the production xxhash64 —
    * band values with a DuckDB twin, so banded-candidate PRECISION sits
    * inside the correctness gate, which the xxhash64 keys (documented
    * as having no portable SQL twin) never could. The production and
    * portable bandings share the geometry, the permutation family and
    * the corpus, so their collision statistics are the same random
    * variable — the portable probe IS a valid drift instrument for the
    * production index, and the xxhash64 keys' own invariants stay
    * spec-pinned engine-side as before (DedupIndexSpec). */
  /** The probe's FAMILY-INDEPENDENT base layer — what the published
    * artifact actually stores (r17): per sampled doc, the portable
    * per-shingle base hashes (doc_id, pre), pre = md5-int60 mod P.
    * Deriving band values is a pure function of (pres, band family)
    * ([[probeBandsFromPres]]), so a precision-floor escalation can
    * re-read the probe at the NEXT family in the same maintain cycle —
    * without this split the probe was stored as family-derived (band,
    * pbv) rows, and any family change orphaned the instrument until
    * the next full publish (text is gone by merge time; `pre` is the
    * only family-free portable form that survives). */
  private[graft] def probePres(s: SparkSession, docs: DataFrame,
      mod: Long): DataFrame = {
    val P = graft.functions.MinHashSig.P
    shinglesOf(s, docs.filter(Tables.phash(col("doc_id")) % mod === 0))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)")
          .mod(P).as("pre"))
  }

  /** (doc_id, band, pbv) probe bands derived from stored portable base
    * hashes at band family `fam` — (famRows(fam), famBands(fam))
    * geometry over the SAME independent permutation constants the
    * production [[graft.functions.MinHashSig]] uses, with the minima
    * ':'-joined (no int64 packing — the polynomial pack wraps, which
    * has no SQL twin). Physical shape: the sampled pres cross a
    * BROADCAST permutation table, map-side partial-agg'd down to one
    * (doc, permutation) minimum each — ~500 docs × shingles ×
    * permutations generated rows but only docs × permutations rows ever
    * shuffle, so even the family-5 rung (4080 permutations) stays a
    * seconds-scale probe derivation. */
  private[graft] def probeBandsFromPres(s: SparkSession, pres: DataFrame,
      fam: Int): DataFrame = {
    import s.implicits._
    val MH = graft.functions.MinHashSig
    val (rows, bands) = (MH.famRows(fam), MH.famBands(fam))
    val P = MH.P
    val perms = (0 until rows * bands)
      .map(j => (j, MH.permA(j), MH.permC(j))).toDF("j", "pa", "pc")
    pres.crossJoin(broadcast(perms))
      .groupBy(col("doc_id"), col("j"))
      // pa, pre < P ~ 1e9: pa*pre + pc < 2^63, no wrap in either engine
      .agg(min(expr(s"(pa * pre + pc) % $P")).as("m"))
      .groupBy(col("doc_id"),
        expr(s"CAST(j DIV $rows AS INT)").as("band"))
      .agg(collect_list(struct(col("j"), col("m"))).as("ms"))
      .select(col("doc_id"), col("band"),
        array_join(transform(array_sort(col("ms")),
          x => x.getField("m").cast("string")), ":").as("pbv"))
  }

  /** Per-doc shingle-hash sets: (doc_id, hs: array<bigint>, n,
    * truncated). |hs| <= DocTokenCap - 2 by construction. */
  /** Full-corpus per-doc hash sets, memoized per (session, dir) via
    * [[graft.SharedPlans]]: the shingle→xxhash→collect stage is the
    * common prefix of the MinHash, SimHash and cross-dedup pipelines —
    * every consumer gets one persisted frame instead of re-shingling the
    * corpus. Deterministic lineage (tokenizer + xxhash64 over text). */
  def docHashes(s: SparkSession, d: String): DataFrame =
    graft.SharedPlans.shared(s, s"doc_hashes|$d")(
      docHashesOf(s, Tables.documents(s, d)))

  /** docHashes over an arbitrary documents-shaped frame. */
  def docHashesOf(s: SparkSession, docs: DataFrame): DataFrame =
    shinglesOf(s, docs)
      .select(col("doc_id"), col("truncated"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(collect_list("h").as("hs"), count(lit(1)).as("n"),
        max(col("truncated")).as("truncated"))

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the per-doc hash sets; xxhash64 collisions are negligible (~1e-19/pair)
    * so hash-set intersection == shingle-set intersection. UNORDERED —
    * most consumers (clustering, keep-best, the e2e funnel) feed the
    * pairs straight into joins or aggregations, and a range-exchange sort
    * here would be torn down immediately; the pair QUERIES apply their
    * output ordering themselves. */
  private[graft] def verifyPairs(cand0: DataFrame, docs: DataFrame): DataFrame = {
    // persisted (r17 optimization round, guide §5): the pair frame is the
    // BUILD side of both verify attaches, and the second join's broadcast
    // build otherwise re-executes the first join — which re-executes the
    // whole candidate self-join beneath it (the per-stage probe showed
    // the pair-generation map stage running twice per query). Candidate
    // pairs are width-cap bounded; runners release via clearCache.
    val cand = graft.Caching.persist(cand0)
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n").as("nb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Shingle document-frequency cap for pair generation (CCNet-style
    * hot-shingle guard): a boilerplate shingle present in df documents
    * contributes df² join rows while carrying almost no similarity signal
    * — at 100 TB one templated footer floods the self-join. Shingles with
    * df above max(floor, frac·nDocs) are excluded from PAIRING ONLY;
    * Jaccard is still verified over the FULL shingle sets, so surviving
    * pairs score exactly. A true near-dup pair (J >= 0.8) shares many
    * shingles; losing its boilerplate ones leaves plenty of uncapped
    * collisions, so recall at the cap is ~1 (spec-pinned on a
    * boilerplate-flood fixture). Same constants feed the oracle SQL —
    * the two sides must never drift. */
  val NgramDfCapFloor = 1000L
  val NgramDfCapFrac = 0.005

  def ngramDfCap(nDocs: Long): Long =
    math.max(NgramDfCapFloor, math.ceil(nDocs * NgramDfCapFrac).toLong)

  /** Exact pair frame (doc_a, doc_b, inter, n_a, n_b): blocked exact
    * shingle intersection with the df-cap bounding the pair join — the
    * shared ground-truth base of q_ngram_jaccard (symmetric similarity)
    * and q_containment (asymmetric overlap). SPLIT-INTERSECTION shape:
    * candidate pairs AND their kept-shingle intersection counts come
    * straight off the capped self-join (groupBy-count — no distinct
    * pass, no re-verification join); the capped (boilerplate) shingles'
    * contribution is recovered from per-doc capped-hash arrays, which
    * are tiny by construction — few DISTINCT boilerplate shingles per
    * doc even when their df is huge. inter_total = inter_kept +
    * |capped_a ∩ capped_b| is exact, so the result equals the uncapped
    * intersection for every pair that shares at least one uncapped
    * shingle (the cap's documented recall contract). */
  private def exactPairFrame(s: SparkSession, d: String): DataFrame =
    exactPairsOf(s, Tables.documents(s, d))

  /** [[exactPairFrame]] over an arbitrary documents-shaped frame
    * (doc_id, text) — specs plant subset/overlap fixtures through the
    * exact production pipeline. */
  private[graft] def exactPairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    // persisted: feeds the df aggregation, both capped-join sides, the
    // capped arrays and the per-doc sizes — all within the one action
    val sh = graft.Caching.persist(shinglesOf(s, docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")))
    // Job 1: corpus doc count for the relative cap — a parquet
    // metadata-only count (footer row counts, no text scan). Job 2 (pays
    // the one-time shingle-cache materialization): the hot-shingle set,
    // DRIVER-COLLECTABLE BY CONSTRUCTION — at most |shingle rows| / floor
    // distinct shingles can exceed df = floor, so the collect is bounded
    // at any corpus size (the same bound that makes the cap work at all).
    // The cap is then a codegen'd isin filter — zero extra joins or
    // shuffles vs the uncapped r2 plan (an anti-join/tagged-join variant
    // measured +2.5-3s of pure local job overhead from the extra
    // broadcast subtrees racing to materialize the cache).
    val nDocs = docs.count()
    val cap = ngramDfCap(nDocs)
    // the filter must use the COMPUTED cap, not the constant floor: at
    // large nDocs the cap is 0.005·nDocs >> floor, and filtering at the
    // floor would ship every df>1000 shingle to the driver — unbounded
    // in exactly the flood regime the cap exists for
    val cappedHs = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .collect().map(_.getLong(0))
    val isCapped: Column =
      if (cappedHs.isEmpty) lit(false) else col("h").isInCollection(cappedHs)
    val kept = sh.filter(!isCapped)
    val pairsKept = kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_kept"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // sizes is one row per DOC — unbounded at corpus scale, so the
    // broadcast hint is gated on the already-collected doc count; above
    // the gate the join is left to the planner (shuffle on doc id)
    val sizesJ: DataFrame => DataFrame =
      if (nDocs <= 2000000L) df => broadcast(df) else identity
    val base = pairsKept
      .join(sizesJ(sizes).as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizesJ(sizes).as("zb"), col("doc_b") === col("zb.doc_id"))
    // un-flooded corpora (no capped shingles) skip the array-recovery
    // stage entirely — the plan is then exactly the uncapped one
    val withInter =
      if (cappedHs.isEmpty) base.withColumn("inter", col("n_kept"))
      else {
        val cappedArr = sh.filter(isCapped)
          .groupBy("doc_id").agg(collect_list("h").as("ch"))
        base
          .join(cappedArr.select(col("doc_id").as("doc_a"), col("ch").as("ch_a")),
            Seq("doc_a"), "left")
          .join(cappedArr.select(col("doc_id").as("doc_b"), col("ch").as("ch_b")),
            Seq("doc_b"), "left")
          .withColumn("inter", col("n_kept") +
            when(col("ch_a").isNull || col("ch_b").isNull, lit(0L))
              .otherwise(size(array_intersect(col("ch_a"), col("ch_b"))).cast("long")))
      }
    withInter
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("za.n").as("n_a"), col("zb.n").as("n_b"))
  }

  /** Ground truth: exact n-gram Jaccard over [[exactPairFrame]]'s
    * candidate pairs — the symmetric near-dup certificate. */
  private val qNgramJaccard: Q = (s, d) =>
    exactPairFrame(s, d)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b")

  /** Containment threshold: the smaller document's shingle set must be
    * >= 90% inside the larger one's (Broder's containment measure —
    * "On the resemblance and containment of documents", 1997). */
  val ContainmentThreshold = 0.9

  /** Asymmetric CONTAINMENT dedup: C(A,B) = |A ∩ B| / min(|A|, |B|) over
    * the same exact pair frame as q_ngram_jaccard. Symmetric Jaccard
    * structurally MISSES subset duplicates — a short doc quoted whole
    * inside a much longer one has J = |A|/|B| ≈ 0 but containment ≈ 1 —
    * and those are real training-data duplicates (press-release reposts
    * with added commentary, quoted articles, boilerplate-wrapped
    * bodies). Emits every pair at containment >= [[ContainmentThreshold]]
    * with BOTH measures, so a pipeline can route pure-subset pairs
    * (high containment, low Jaccard) separately from near-identical
    * ones. The division is a single IEEE op on exact integer counts —
    * deterministic across engines, no rounding needed.
    *
    * Scale shape: identical to q_ngram_jaccard (one capped self-join on
    * 8-byte shingle hashes, split-intersection recovery) — the pair
    * frame is shared code, so the two certificates can never drift. The
    * df-cap recall contract carries over: a contained pair is certified
    * exactly iff it shares >= 1 uncapped shingle, and a subset doc made
    * ENTIRELY of boilerplate shingles is (correctly) not a dedup
    * candidate. */
  private val qContainment: Q = (s, d) =>
    containmentOf(s, Tables.documents(s, d))

  /** The containment certificate over an arbitrary documents frame —
    * shared by the registered query and the planted-subset spec. */
  private[graft] def containmentOf(s: SparkSession, docs: DataFrame): DataFrame =
    exactPairsOf(s, docs)
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("containment") >= ContainmentThreshold)
      .orderBy("doc_a", "doc_b")

  /** Bottom-k sample size for the containment candidate generator
    * (Broder's bottom sketch): the k smallest portable shingle hashes of
    * each doc probe the inverted index. A true C >= 0.9 pair is missed
    * only if ALL k sampled shingles of the SMALLER doc land in its
    * uncontained <= 10% — the sample is hash-uniform, so P(miss) <=
    * 0.1^k = 1e-8; a doc with fewer than k kept shingles probes them
    * all (exact). */
  val ContainmentSampleK = 8

  private val qContainmentBottomK: Q = (s, d) =>
    containmentBottomKOf(s, Tables.documents(s, d))

  /** The CORPUS-SCALE containment path: q_containment's exact frame
    * rides the full df-capped self-join (Σ df² pairing work — the
    * oracle-generator class, like q_ngram_jaccard), while this query
    * generates candidates from a [[ContainmentSampleK]]-shingle
    * bottom-hash sample per doc, then exact-verifies ONLY candidates.
    * MinHash bands cannot serve here: band collision probability is
    * J^rows, and a subset pair's Jaccard is ~|A|/|B| ≈ 0 — the pairs
    * this operator exists to find are exactly the ones Jaccard-tuned
    * banding never surfaces.
    *
    * Scale shape: probe-side rows are k per doc, so the index join
    * shuffles k·n 8-byte keys; the index side is truncated to each
    * shingle's [[LshBucketCap]] smallest doc_ids (a FLAT bound — the
    * relative df cap grows with the corpus and bounds nothing on a
    * saturating vocabulary, which the scaling instrument measured at
    * exponent ~2 before this truncation), so candidates are
    * <= k·docs·cap by construction — measured in SCALING.md
    * (`containment_bottomk_candidates` / `_diverse`).
    * Verification collects per-doc hash arrays for CANDIDATE DOCS ONLY
    * (semi-join; arrays bounded by DocTokenCap) and runs codegen'd
    * array_intersect — O(candidates), never O(corpus²).
    *
    * Determinism/portability: the bottom-k ORDER must replay in DuckDB,
    * so sampling rides the portable md5-int60 hash (the probePres
    * family), ordered (pre, h) engine-side vs (pre, shingle) oracle-side
    * — divergence needs an md5-int60 collision between two shingles of
    * one doc, below the already-accepted xxhash64 intersection trade. */
  /** The candidate pair frame of the bottom-k path alone — the scaling
    * instrument (`containment_bottomk_candidates`) measures the
    * registered query's own candidate generator through this.
    *
    * Two flood bounds compose here, and they are NOT redundant:
    *   - the relative df cap (max(1000, 0.5%·docs), shared with the
    *     exact frame) excludes boilerplate shingles from the index — but
    *     it GROWS with the corpus, so on a vocabulary that saturates
    *     (every posting ∝ corpus) it bounds nothing: the scaling
    *     instrument measured the sample-only path at exponent ~2 on the
    *     fixed-vocabulary synthetic decade;
    *   - the FLAT `postingCap` truncation (the band family's
    *     LshBucketCap pattern): each kept shingle exposes only its
    *     postingCap smallest doc_ids to probes, making candidates
    *     <= k·docs·cap BY CONSTRUCTION at any corpus. Inert below
    *     df = cap (at test SFs the relative cap already excludes
    *     df > 1000, so oracle outputs are unchanged — the kNN-cap
    *     convention). A pair pushed out by truncation still surfaces
    *     through the partner's own probe unless BOTH directions flood;
    *     a flooded near-identical cluster keeps star connectivity
    *     through its smallest-id representatives, the same recall trade
    *     the band caps document (spec-engaged with an explicit small
    *     cap). */
  private def bottomKCandFrom(sh: DataFrame, nDocs: Long,
      postingCap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = ngramDfCap(nDocs)
    // driver-bounded hot set, same argument as exactPairsOf
    val cappedHs = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).collect().map(_.getLong(0))
    val isCapped: Column =
      if (cappedHs.isEmpty) lit(false) else col("h").isInCollection(cappedHs)
    val kept = sh.filter(!isCapped)
    // The flat posting truncation can only BIND when a kept shingle's df
    // exceeds postingCap — and kept already excludes df > ngramDfCap(n).
    // While the relative cap is at or under the flat cap (every corpus
    // until ngramDfCap outgrows postingCap, n > cap/frac docs), the
    // window is a row-preserving no-op costing a full exchange-by-h +
    // sort of the kept shingle stream — so it is SKIPPED exactly when
    // provably inert (r17 optimization round, guide §2.4; the kNN-cap
    // "inert at test SFs" convention, now with the inertness used
    // instead of merely documented). Above that corpus size the
    // truncation engages unchanged.
    val posting =
      if (ngramDfCap(nDocs) <= postingCap) kept.select("doc_id", "h")
      else kept
        .withColumn("prk", row_number().over(
          Window.partitionBy("h").orderBy("doc_id")))
        .filter(col("prk") <= postingCap)
        .select("doc_id", "h")
    val probe = kept
      .withColumn("srk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("pre"), col("h"))))
      .filter(col("srk") <= ContainmentSampleK)
      .select(col("doc_id").as("doc_p"), col("h"))
    probe.join(posting, "h")
      .filter(col("doc_p") =!= col("doc_id"))
      .select(least(col("doc_p"), col("doc_id")).as("doc_a"),
        greatest(col("doc_p"), col("doc_id")).as("doc_b"))
      .distinct()
  }

  /** The sampled shingle frame (doc_id, h, pre) the bottom-k path runs
    * on: identity hash h (set arithmetic, 8-byte shuffles) + portable
    * sampling hash pre (the bottom-k order the oracle replays). */
  private def bottomKShingles(s: SparkSession, docs: DataFrame): DataFrame =
    shinglesOf(s, docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"),
        expr("CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)")
          .as("pre"))

  private[graft] def containmentBottomKCandidates(s: SparkSession,
      docs: DataFrame, postingCap: Long = LshBucketCap): DataFrame = {
    val sh = graft.Caching.persist(bottomKShingles(s, docs))
    bottomKCandFrom(sh, docs.count(), postingCap)
  }

  private[graft] def containmentBottomKOf(s: SparkSession,
      docs: DataFrame, postingCap: Long = LshBucketCap): DataFrame = {
    val sh = graft.Caching.persist(bottomKShingles(s, docs))
    // persisted (r17 optimization round, guide §5): the pair frame is
    // consumed TWICE — as the candidate-id set of the verify semi-join
    // and as the join spine — and each unpersisted reference re-ran the
    // whole probe-join + distinct. Two longs per candidate pair, tiny at
    // any corpus the k·docs·cap bound admits.
    val cand = graft.Caching.persist(
      bottomKCandFrom(sh, docs.count(), postingCap))
    // exact verify on candidates only: full per-doc hash arrays for the
    // candidate docs (semi-join keeps this O(candidates))
    val arrs = sh.groupBy("doc_id")
      .agg(collect_list(col("h")).as("ch"), count(lit(1)).as("n"))
      .join(cand.select(col("doc_a").as("doc_id"))
          .union(cand.select(col("doc_b"))).distinct(),
        Seq("doc_id"), "left_semi")
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("ch").as("ch_a"),
        col("n").as("n_a")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("ch").as("ch_b"),
        col("n").as("n_b")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("ch_a"), col("ch_b"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / least(col("n_a"), col("n_b"))).as("containment"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter")))
          .as("jaccard"))
      .filter(col("containment") >= ContainmentThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-(band, value) bucket width cap for the LSH self-joins. A bucket
    * of width w contributes C(w,2) pairs: one mega-cluster of
    * near-identical docs (SEO spam, templated pages) makes a single
    * bucket quadratic at corpus scale. Above the cap a bucket degrades to
    * STAR pairing (every member paired with the bucket's min doc_id only,
    * w-1 pairs), so total candidates are <= (cap/2+1)·|band rows| —
    * linear by construction. Flat constant (not relative): the bound it
    * buys is per-bucket, independent of corpus size. Inert at test SFs
    * (max natural bucket ~ cluster size ≈ 25), so oracle outputs are
    * unchanged; DedupSpec engages it with an explicit small cap. */
  val LshBucketCap = 1000L

  /** Candidate pairs from an exploded band table (doc_id, band, bv) with
    * the width cap applied per (band, bv) bucket.
    *
    * Buckets at or below `cap`: the classic LSH all-pairs self-join.
    * Buckets above `cap`: star pairing against the bucket's min doc_id.
    *
    * Recall under the cap — why star degradation is the right trade:
    *   - a hot bucket means near-IDENTICAL members (they agree on this
    *     band value alongside thousands of others); each member is still
    *     exact-verified against the bucket rep, so every true member
    *     stays paired and the downstream clustering (connected
    *     components) keeps the flood as ONE component via the star.
    *   - a true pair whose members merely pass through a hot bucket also
    *     collides in other, cold bands (MinHash: expected ~8 of 32
    *     bands at J=0.8, ~17 at J=0.9; SimHash: ~12 of 32) — losing the
    *     capped band is harmless.
    *   - listing ALL C(w,2) pairs of a mega-cluster is itself quadratic
    *     OUTPUT; no engine can emit n² rows at 100 TB. The star is the
    *     linear-size certificate of the same cluster.
    *
    * Physical shape: hot-bucket stats come from a groupBy — map-side
    * partial agg, and the output is SMALL by construction (at most
    * |band rows|/cap buckets can exceed the cap — the same bound that
    * makes the cap work). The anti-join (cold side) and the star join
    * (hot side) then key on (band, bv), the same key as the self-join,
    * so every stage shares one hash partitioning; no window sort over
    * the full band table (an earlier window formulation re-sorted the
    * 32n-row band table three times). On benign corpora the hot set is
    * EMPTY and the anti-join is a pass-through. */
  /** `bands` must carry (doc_id, band, bv) and may carry extra columns
    * (e.g. the signature); `pairGate` is evaluated INSIDE the self-join
    * against aliases x/y, so junk pairs die in the join stage rather
    * than flowing through the distinct exchange — at bucket width ~cap
    * the raw enumeration is (cap/2)·|band rows| and must be pruned
    * before it is shuffled again. */
  /** (cold, hot) split of a band table by per-(band, bv) bucket width:
    * `hot` holds one stats row (band, bv, rep = min doc_id) per bucket
    * wider than `cap`; `cold` is the anti-joined remainder. THE single
    * cap-detection definition — the self-join path (cappedBandPairs) and
    * the cross-corpus path (crossDedupCandidates) both split here, so a
    * change to the cap rule cannot reach one and miss the other. */
  private def splitByWidth(bands: DataFrame, cap: Long): (DataFrame, DataFrame) = {
    val hot = bands.groupBy("band", "bv")
      .agg(count(lit(1)).as("bw"), min("doc_id").as("rep"))
      .filter(col("bw") > cap)
      .select("band", "bv", "rep")
    val cold = bands.join(hot.select("band", "bv"), Seq("band", "bv"), "left_anti")
    (cold, hot)
  }

  private[graft] def cappedBandPairs(bands0: DataFrame, cap: Long,
      pairGate: Column = lit(true)): DataFrame = {
    // NOT persisted (r18 optimization round, reversing r17's §5 persist):
    // the band table does feed FIVE subtrees of this plan (hot-bucket
    // stats, anti-join, both cold self-join legs, hot-member join), but
    // every production caller hands it a posexplode over an ALREADY-
    // PERSISTED signature frame (nearDupPairs / qTextSimhash cache
    // (doc_id, hs, sig/msig) precisely so the signature pass runs once) —
    // so the re-executed work per subtree is one InMemoryTableScan + a
    // codegen'd explode, cheap at any corpus, while MATERIALIZING the
    // 32·n-row band cache was measurably not: the r17 persist sat on the
    // r17 driver's 2x q_pipeline_e2e regression at 32 cores, and the r18
    // A/B (bench methodology, 6-query family, local[32] sf0.1) read the
    // family at 24.4/20.8s with the persist vs 21.8/17.6s without —
    // cache-write overhead exceeding five explode re-runs in every
    // pairing. The CANDIDATE persist below (verifyPairs) stays: its
    // subtree is the self-join itself, which at 100 TB is the query's
    // dominant shuffle and must not run twice.
    val bands = bands0
    val (cold, hot) = splitByWidth(bands, cap)
    val coldPairs = cold.as("x").join(cold.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id") && pairGate)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // star pairs are an x (bucket rep) / y (member) join so the SAME
    // pairGate prunes them in-join: at natural-width ≈ cap a hot bucket
    // is mostly random colliders, exactly the rows the gate exists to
    // kill before the distinct exchange and the verify join
    val hotMembers = bands.join(hot, Seq("band", "bv"))
    val hotX = hotMembers.filter(col("doc_id") === col("rep")).drop("rep")
    val hotY = hotMembers.filter(col("doc_id") > col("rep")).drop("rep")
    val hotPairs = hotX.as("x").join(hotY.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          pairGate)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    coldPairs.union(hotPairs).distinct()
  }

  /** MinHash band table: 32 packed band values per doc computed by the
    * native MinHashSig expression in one tight codegen loop (no
    * intermediate arrays), then posexplode just the packed (band, value)
    * pairs — each value packs its band's 6 minima (the packing and
    * permutation arithmetic live in MinHashSig's scaladoc). `docs` may
    * carry a precomputed `msig` column (the query-level cache does, so
    * the 192-permutation pass runs once, not once per consuming
    * subtree). */
  /** `fam` (default: the publish family) selects the banding geometry —
    * a probe against a precision-ESCALATED artifact must derive its keys
    * at the artifact's recorded family or silently match nothing; the
    * cached `msig` column is family-2-derived, so any other family
    * ignores it and signs at (famRows, famBands) explicitly. */
  private def minhashBands(s: SparkSession, docs: DataFrame,
      fam: Int = graft.sources.DedupIndex.BandFamily): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val MH = graft.functions.MinHashSig
    val signed =
      if (fam == graft.sources.DedupIndex.BandFamily) {
        if (docs.columns.contains("msig")) docs
        else docs.withColumn("msig", expr("minhash_sig(hs)"))
      } else docs.withColumn("msig",
        expr(s"minhash_sig(hs, ${MH.famRows(fam)}, ${MH.famBands(fam)})"))
    signed
      .select(col("doc_id"), posexplode(col("msig")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bv")
  }

  /** Width-capped MinHash LSH candidates — exposed for the flood spec. */
  private[graft] def minhashCandidates(s: SparkSession, docs: DataFrame,
      cap: Long = LshBucketCap): DataFrame =
    cappedBandPairs(minhashBands(s, docs), cap)

  /** [[minhashCandidates]] at an explicit band-family rung — the
    * scaling instrument measures the ESCALATED geometry's candidate
    * growth with it (deeper rows suppress the J_bg^rows background
    * harder, so a rung's exponent must read at or under the default
    * family's). */
  private[graft] def minhashCandidatesAt(s: SparkSession, docs: DataFrame,
      fam: Int, cap: Long = LshBucketCap): DataFrame =
    cappedBandPairs(minhashBands(s, docs, fam), cap)

  /** MinHash + banded LSH (r=6 rows/band, b=32 bands), then exact
    * verification. The rows-per-band dial is what suppresses the
    * BACKGROUND: band-collision probability is J^r, and with fixed r the
    * background term bands·J_bg^r·C(n,2) is quadratic in corpus size —
    * r must grow ~log n (MinHashSig scaladoc has the law). r=2 measured
    * candidate exponent 1.84 on this corpus (J_bg≈0.03-0.05 pairs
    * leaking through at 32·J²); r=6 reads ~1.0 (SCALING.md), at the
    * price of P(miss | J>=0.8) ≈ 6e-5 — and J in (0.56, 0.8) pairs
    * still surface and are verification-rejected, so the observed pair
    * set only tightens. */
  /** Exact-verified near-dup pairs via the MinHash+LSH path — the shared
    * candidate generator for q_text_minhash, the clustering operator and
    * the e2e funnel. Memoized per (session, dir) via
    * [[graft.SharedPlans]]: those three consumers used to re-run the
    * whole shingle→sign→band→verify pipeline once each; deterministic
    * lineage (portable hashes, no rand()) makes handing them one frame
    * safe. */
  def nearDupPairs(s: SparkSession, d: String): DataFrame =
    graft.SharedPlans.shared(s, s"neardup_pairs|$d") {
      graft.functions.GraftFunctions.register(s)
      // ONE persisted frame (hash arrays + signature) feeds the band
      // explode (3 subtrees) and both verify joins
      val docs = graft.Caching.persist(
        docHashes(s, d).withColumn("msig", expr("minhash_sig(hs)")))
      verifyPairs(minhashCandidates(s, docs), docs)
    }

  private val qTextMinhash: Q = (s, d) =>
    nearDupPairs(s, d).orderBy("doc_a", "doc_b")

  /** Near-dup CLUSTERS: connected components over the verified pair graph,
    * labeling every member with the minimum doc_id of its component (the
    * canonical representative a dedup pipeline keeps). Iterative min-label
    * propagation, each round one shuffle join; converges in
    * O(component diameter) rounds — near-dup clusters are shallow (dups of
    * a common source), so the loop is short. The driver-side convergence
    * check reads ONE count per round. At billions of edges the same loop
    * shape holds (alternating small-star/large-star halves the rounds but
    * shares the join topology).
    */
  /** Shared CC label frame over the verified near-dup pair graph
    * ([[graft.SharedPlans]]): q_dedup_cluster, q_dedup_keep_best and
    * q_split_leakage all derive from these SAME deterministic labels —
    * one component computation per (session, dir) instead of three. */
  private def nearDupLabels(s: SparkSession, d: String): DataFrame =
    graft.SharedPlans.shared(s, s"neardup_labels|$d")(
      GraphOps.connectedComponents(s,
        nearDupPairs(s, d).select("doc_a", "doc_b")))

  private val qDedupCluster: Q = (s, d) =>
    nearDupLabels(s, d)
      .groupBy(col("label").as("rep_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("vertex_id") - col("label")).as("id_span"))
      .orderBy("rep_id")

  /** CROSS-MODAL duplicate clustering — the joint keep/drop decision a
    * curation pipeline actually makes: a document is a duplicate if its
    * TEXT near-dups another (verified Jaccard >= 0.8 over the MinHash
    * candidates) OR its EMBEDDING does (verified cosine >= 0.45 over the
    * hyperplane-LSH candidates — the SemDeDup-style semantic twin), and
    * both edge sets feed ONE connected-components labeling, so a
    * paraphrase chain (A ~text B ~embedding C) collapses into one cluster
    * that neither single-modality clustering sees. Ids identify across
    * the modality tables (doc_id = vec_id — the corpus contract). Plan:
    * the two pair miners are the SAME subplans their standalone queries
    * run (the shingle table and the verified text pair set come from the
    * session-shared frames), one distinct-union of two small pair sets,
    * and the size-gated CC — no new corpus-scale stage anywhere. The
    * oracle replays both legs exactly (shared CTE fragments — the text
    * leg and the embedding leg are the same SQL the standalone oracles
    * run) and the transitive closure over their union. */
  private val qCrossModalCluster: Q = (s, d) => {
    import graft.operators.{VectorOps => V}
    val n = Tables.embeddings(s, d).count()
    val width = V.lshWidthFor(n)
    val text = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val emb = V.embedNeardupLsh(s, d, width, V.LshProbes,
        V.knnCapFor(n, width), 0.45)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val labels = GraphOps.connectedComponents(s,
      text.unionByName(emb).distinct())
    labels.groupBy(col("label").as("rep_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("vertex_id") - col("label")).as("id_span"))
      .orderBy("rep_id")
  }

  /** Train/val/test bucket count and boundaries for [[qSplitLeakage]]:
    * bucket = phash(rep) mod 10, 0-7 train / 8 val / 9 test. */
  val SplitBuckets = 10L

  /** LEAKAGE-SAFE train/val/test split — the dedup-aware assignment an
    * eval-clean training pipeline needs: a document's split is decided by
    * the portable hash of its near-dup CLUSTER representative (docs in no
    * cluster represent themselves), so two near-duplicate documents can
    * NEVER straddle splits. Splitting per-doc by hash(doc_id) — the naive
    * recipe — leaks: a test document's near-copy lands in train with
    * probability (1 - 1/10) per duplicate, and the eval measures
    * memorization. Plan: the verified pair graph + connected components
    * (the exact subplan q_dedup_cluster shares), a LEFT join from the
    * corpus (labels are O(docs-in-pairs), never O(corpus)), then a pure
    * projection — the split decision itself is hash arithmetic, zero
    * extra exchanges, reproducible on any cluster size (no rand()). */
  private val qSplitLeakage: Q = (s, d) => {
    val labels = nearDupLabels(s, d)
    Tables.documents(s, d).select(col("doc_id"))
      .join(labels, col("doc_id") === col("vertex_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("rep_id"))
      .withColumn("bucket", pmod(Tables.phash(col("rep_id")), lit(SplitBuckets)))
      .select(col("doc_id"), col("rep_id"),
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Hamming gate over the 512-bit signature, applied INSIDE the
    * candidate self-join (before the distinct exchange). Measured
    * separation on the corpus: true (J>=0.8) pairs' hamming <= 80/512,
    * random pairs >= 206/512 — 144 sits mid-gap with ~80% margin over
    * the true max. Random band collisions (2^-16/band, but a bucket of
    * natural width k enumerates ~k²/2 raw pairs) die in the join stage
    * on 64-byte signatures, never reaching the distinct shuffle or the
    * array-intersect verify join. */
  val SimhashHammingGate = 144

  /** SimHash band table: 32 16-bit band values sliced from the 512-bit
    * seeded signature (native SimHashSig, one pass over `hs`), with the
    * signature carried alongside for the in-join hamming gate. Band b is
    * bits [16b, 16b+16) — word b/4, slice b%4. Null signatures (empty
    * docs) are dropped BEFORE banding: the explode is over a literal
    * sequence, so a null sig would otherwise emit 32 (band, null) rows
    * that the width cap would group into one fake mega-bucket. */
  private def simhashBands(s: SparkSession, sig: DataFrame,
      nWords: Int): DataFrame = {
    // geometry derived from the signature width dial: 4 16-bit bands per
    // 64-bit word, so a widened signature bands its added bits — no
    // second literal to keep in lockstep
    val bandsPerWord = 4
    val nBands = nWords * bandsPerWord
    sig
      .select(col("doc_id"), col("sig"),
        explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        expr(s"shiftrightunsigned(sig[band div $bandsPerWord], " +
          s"(band % $bandsPerWord) * 16) & 65535").as("bv"))
  }

  /** Width-capped SimHash LSH candidates (hamming-gated) — exposed for
    * the flood spec. `docs` may carry a precomputed `sig` column (the
    * query-level cache does, so the signature is built once per run);
    * `nWords` is the banding/gating geometry and MUST match that
    * signature's width. The geometry stays an unrolled compile-time
    * constant (the hamming sum is 2·nWords codegen'd bit_counts inside
    * the join — a size(sig)-driven higher-order aggregate would fall out
    * of whole-stage codegen in the hottest loop), so a mismatched
    * precomputed signature is made to fail LOUDLY instead of silently
    * banding only the first nWords words: an assert_true guard on
    * size(sig) rides the band explode. */
  private[graft] def simhashCandidates(s: SparkSession, docs: DataFrame,
      cap: Long = LshBucketCap,
      nWords: Int = graft.functions.SimHashSig.DefaultWords): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sig = (if (docs.columns.contains("sig")) docs
      else docs.withColumn("sig", expr("simhash_sig(hs)")))
      .select(col("doc_id"), col("sig"))
      .filter(col("sig").isNotNull)
      // assert_true returns NULL (passing the filter) on every conforming
      // row and throws on the first mismatched one
      .filter(isnull(expr(s"assert_true(size(sig) = $nWords, " +
        s"'simhash signature width <> $nWords words: pass nWords to " +
        "simhashCandidates to match the precomputed sig')")))
    val hamming = (0 until nWords)
      .map(i => expr(s"bit_count(x.sig[$i] ^ y.sig[$i])"))
      .reduce(_ + _)
    cappedBandPairs(simhashBands(s, sig, nWords), cap,
      pairGate = hamming <= SimhashHammingGate)
  }

  /** Seeded 512-bit SimHash, 32×16-bit band blocking + hamming gate, then
    * exact verification (recall math in the object scaladoc). */
  private val qTextSimhash: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    // ONE persisted frame (hash arrays + signature) feeds the band
    // explode, both hamming-gate joins and both verify joins
    val docs = graft.Caching.persist(
      docHashes(s, d).withColumn("sig", expr("simhash_sig(hs)")))
    verifyPairs(simhashCandidates(s, docs), docs).orderBy("doc_a", "doc_b")
  }

  /** Cross-corpus near-dup: for each INCOMING doc, the best (highest
    * Jaccard, then smallest id) corpus match with J >= 0.8, if any — the
    * batch twin of NearDupStream.nearDupAgainstCorpus, and the shape of
    * "dedup this crawl against the existing corpus" at ingestion time.
    *
    * Topology for |corpus| >> |incoming| (the production regime): both
    * sides band via the same native MinHash signature; the CORPUS band
    * side is width-capped per (band, value) — a flooded bucket keeps only
    * its min-doc_id representative, so candidates are <= 32·|incoming
    * bands|·cap, linear in the batch whatever the corpus's bucket
    * distribution (a hot bucket means near-identical corpus members: ANY
    * representative answers "is this a duplicate", which is the output
    * contract). The candidate join shuffles 16-byte band keys, never
    * text; verification joins co-partition by doc id. In production the
    * corpus band table and hash arrays are the published index
    * (NearDupStream's static side) — here they are built in-query so the
    * operator is self-contained. */
  /** Candidate (in_id, corp_id) pairs of the cross-corpus band join with
    * the corpus-side width cap — exposed for the scaling instrument. The
    * two doc frames must already carry (doc_id, hs[, msig]). */
  private[graft] def crossDedupCandidates(s: SparkSession, inDocs: DataFrame,
      corpDocs: DataFrame, cap: Long = LshBucketCap): DataFrame = {
    val inBands = minhashBands(s, inDocs).withColumnRenamed("doc_id", "in_id")
    // shared cap detection (splitByWidth); the cross-path degradation is
    // rep-only (a flooded bucket answers through its min-id member alone)
    // where the self-join degrades to star pairing — same bound, shapes
    // differ because only one side carries candidates here
    val (cold, hot) = splitByWidth(minhashBands(s, corpDocs), cap)
    val capped = cold.select("band", "bv", "doc_id")
      .union(hot.select(col("band"), col("bv"), col("rep").as("doc_id")))
    inBands.join(capped, Seq("band", "bv"))
      .select(col("in_id"), col("doc_id").as("corp_id")).distinct()
  }

  def crossDedupBest(s: SparkSession, incoming: DataFrame, corpus: DataFrame,
      cap: Long = LshBucketCap, refine: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val inDocs = graft.Caching.persist(
      docHashesOf(s, incoming).withColumn("msig", expr("minhash_sig(hs)")))
    val corpDocs = graft.Caching.persist(
      docHashesOf(s, corpus).withColumn("msig", expr("minhash_sig(hs)")))
    crossDedupBestFromHashes(s, inDocs, corpDocs, cap, refine)
  }

  /** Same operator over PRE-BUILT doc-hash frames (doc_id, hs, n [,msig])
    * — the entry for callers that already hold the hash arrays: the
    * registered query splits ONE shingle pass over the whole table by
    * parity instead of shingling each half separately, and a production
    * ingest would pass the published index (sources.DedupIndex) as the
    * corpus side.
    *
    * Cap-engagement contract: the output carries a `cap_engaged` flag —
    * true for probes that touched a flooded corpus bucket, i.e. whose
    * candidate set the width cap truncated to the bucket representative.
    * With `refine = true` (default) a second pass re-admits the flooded
    * buckets' FULL membership for exactly those probes before exact
    * verification, so the reported match is the globally-best one — the
    * result is identical to the uncapped computation by construction
    * (rep ⊆ members; the flag then only signals elevated cost). Refine
    * cost is |flagged probes| × flood width, paid only when a flood
    * exists AND probes hit it; pass `refine = false` to keep the strict
    * linear candidate bound and instead route flagged docs (e.g. to the
    * published cluster index) downstream. */
  def crossDedupBestFromHashes(s: SparkSession, inDocs: DataFrame,
      corpDocs: DataFrame, cap: Long = LshBucketCap,
      refine: Boolean = true): DataFrame =
    crossDedupBestFromBands(s,
      minhashBands(s, inDocs).withColumnRenamed("doc_id", "in_id"),
      minhashBands(s, corpDocs), inDocs, corpDocs, cap, refine)

  /** Same operator with the CORPUS BANDS supplied by the caller — the
    * entry for a published [[graft.sources.DedupIndex]], whose band
    * table is precomputed at publish time (re-banding the corpus per
    * probe batch would defeat the index). `corpBands`: (doc_id, band,
    * bv); `inBands`: (in_id, band, bv). */
  private[graft] def crossDedupBestFromBands(s: SparkSession,
      inBands0: DataFrame, corpBands: DataFrame, inDocs: DataFrame,
      corpDocs: DataFrame, cap: Long, refine: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    // NOT persisted (r18, the cappedBandPairs rationale): the probe band
    // frame feeds three subtrees (base candidates, the flagged set, the
    // refine join), but every caller derives it as a posexplode over an
    // already-persisted hash/signature frame (or passes a published
    // index's stored bands) — re-running the explode per subtree is
    // cheaper than materializing a band cache, at this SF measurably and
    // at scale structurally (the signature pass behind it runs once
    // either way). The CANDIDATE persist below stays — its subtree is
    // the band join + distinct, the query's dominant shuffle.
    val inBands = inBands0
    val (cold, hot) = splitByWidth(corpBands, cap)
    val capped = cold.select("band", "bv", "doc_id")
      .union(hot.select(col("band"), col("bv"), col("rep").as("doc_id")))
    val baseCands = inBands.join(capped, Seq("band", "bv"))
      .select(col("in_id"), col("doc_id").as("corp_id"))
    val flagged = inBands.join(hot.select("band", "bv"), Seq("band", "bv"))
      .select("in_id").distinct()
      .withColumn("cap_engaged", lit(true))
    // persisted like verifyPairs' candidate frame: the second verify
    // attach's broadcast build otherwise re-executes the whole candidate
    // union + distinct beneath the first
    val cands = graft.Caching.persist(
      (if (refine)
        baseCands.union(
          inBands.join(corpBands.join(hot.select("band", "bv"),
              Seq("band", "bv")), Seq("band", "bv"))
            .select(col("in_id"), col("doc_id").as("corp_id")))
      else baseCands).distinct())
    val verified = cands
      .join(inDocs.select(col("doc_id").as("in_id"), col("hs").as("hs_a"),
        col("n").as("na")), "in_id")
      .join(corpDocs.select(col("doc_id").as("corp_id"), col("hs").as("hs_b"),
        col("n").as("nb")), "corp_id")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .select(col("in_id"), col("corp_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    val best = Window.partitionBy("in_id")
      .orderBy(col("jaccard").desc, col("corp_id"))
    verified
      .withColumn("rk", row_number().over(best)).filter(col("rk") === 1)
      .join(flagged, Seq("in_id"), "left")
      .select(col("in_id").as("doc_id"), col("corp_id").as("match_id"),
        col("jaccard"),
        coalesce(col("cap_engaged"), lit(false)).as("cap_engaged"))
      .orderBy("doc_id")
  }

  /** Registered form: odd doc_ids are the "incoming batch", even the
    * "existing corpus" — a deterministic split that crosses the planted
    * duplicate pairs. The hash arrays are built in ONE shingle pass over
    * the whole table and split by parity afterwards (shingling is the
    * dominant cost; running it per half would scan the corpus twice). */
  private val qCrossDedup: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val all = graft.Caching.persist(
      docHashes(s, d).withColumn("msig", expr("minhash_sig(hs)")))
    // the oracle is the exact-shingle ground truth, which has no band
    // table to compute cap engagement from — the registered projection
    // keeps the three verifiable columns; with refine on (the default)
    // the match itself equals the uncapped ground truth at any scale, and
    // the cap_engaged routing flag stays on the library surface
    // (CrossDedupSpec pins it on a flood fixture)
    crossDedupBestFromHashes(s,
      all.filter(col("doc_id") % 2 === 1),
      all.filter(col("doc_id") % 2 === 0))
      .select("doc_id", "match_id", "jaccard")
  }

  /** Probe batches at or below this doc count derive the published band
    * index's partition-value set for a pruned scan
    * ([[graft.sources.DedupIndex.prunedBands]] — a distinct-collect
    * bounded by the layout modulus); above it the probe reads the full
    * band table, which is also when it would touch every partition
    * anyway. The VectorIndex gate convention. */
  private[graft] val IndexProbePruneRowLimit = 500L * 1000

  /** Probe batches of at most this many docs are answered on the driver
    * ([[crossDedupOnDriver]]): a few bounded reads of the published
    * artifact instead of a distributed band join, whose two dozen jobs
    * of fixed cost, not data, set a small probe's latency. DRIVER
    * BUDGET at the gate: the batch's hash sets (≤ 16 × DocTokenCap
    * longs, 2.5 MB), its band keys (≤ 16 × famBands), the band rows of
    * those keys (≤ keys × (LshBucketCap + 1); a wider bucket sends the
    * probe to the distributed plan) and the candidates' hash sets. */
  private val DriverProbeDocs = 16

  /** Cross-dedup against a PUBLISHED [[graft.sources.DedupIndex]]: the
    * corpus bands and hash sets both come from the loaded artifact (no
    * corpus re-shingle, no re-banding — the production ingest economics
    * the index exists for). `inDocs` is the incoming batch's doc-hash
    * frame. Output (doc_id, match_id, jaccard, cap_engaged), ordered by
    * doc_id.
    *
    * SMALL BATCH (at most 16 docs and at most `pruneRowLimit`): one
    * `limit(17)` collect of the batch, which is also the size gate, then
    * [[crossDedupOnDriver]] — the batch signs and bands on the driver,
    * one key-filtered band read and one candidate doc read
    * ([[graft.sources.DedupIndex.lookupBands]]/[[graft.sources.DedupIndex
    * .lookupDocs]]), verification on the driver. It returns a local
    * frame and persists nothing, so there is no cache to release. Its
    * band read carries the keys' static `dpart` PartitionFilter (pinned
    * in PlanShapeSpec "dedup index probe prunes band partitions"). A
    * bucket wider than LshBucketCap among the batch's keys (the driver
    * would not hold it whole) falls back to the distributed plan.
    *
    * LARGER BATCHES run the distributed band join. A batch at or below
    * `pruneRowLimit` docs reads only the band partitions its keys touch;
    * pruning is exact because a (band, minhash) bucket lives wholly
    * inside one partition, so the width-cap statistics over the pruned
    * scan are unchanged. `pruneRowLimit = 0` forces the full band scan.
    * A caller that already knows the batch bound (a per-trigger
    * streaming probe) passes `knownBatchRows`: a bound above the
    * small-batch gate skips the batch collect, and the distributed
    * plan's gate count is skipped too — the VectorIndex convention.
    * Without it a larger batch pays the gate collect (one pass over the
    * batch frame) before that plan. That plan persists its band and
    * candidate frames; runners release them via clearCache. */
  def crossDedupBestFromIndex(s: SparkSession, indexDir: String,
      inDocs: DataFrame, cap: Long = LshBucketCap,
      refine: Boolean = true,
      pruneRowLimit: Long = IndexProbePruneRowLimit,
      knownBatchRows: Option[Long] = None): DataFrame = {
    val DI = graft.sources.DedupIndex
    // ONE meta read serves the family, the usability check and the
    // pruning modulus below
    val m = DI.loadMeta(s, indexDir)
    DI.requireUsableBandFamily(indexDir, m)
    val gate = math.min(DriverProbeDocs.toLong, pruneRowLimit)
    val batchDf = inDocs.select("doc_id", "hs", "n")
    val batch = Option.when(gate > 0 && !knownBatchRows.exists(_ > gate)) {
      // coalesce(1): one task reads the batch partitions in turn until
      // the limit, so the gate is one result job at any parallelism
      batchDf.coalesce(1).limit(gate.toInt + 1).collect()
    }.filter(_.length <= gate)
    batch.flatMap(b =>
        crossDedupOnDriver(s, indexDir, m, b, batchDf.schema, cap, refine))
      .getOrElse(crossDedupDistributed(s, indexDir, m, inDocs, cap, refine,
        pruneRowLimit, knownBatchRows.orElse(batch.map(_.length.toLong))))
  }

  /** The small-batch answer of [[crossDedupBestFromIndex]], computed on
    * the driver from a collected batch of (doc_id, hs, n) rows; None
    * when a bucket the batch hits is wider than LshBucketCap. The batch
    * signs at the artifact's band family with the same `minhash_sig`
    * expression the distributed plan evaluates, folded over a local
    * relation. Under the row bound the driver holds every bucket the
    * batch hits whole, so the width split, `cap_engaged` and `refine`
    * follow [[crossDedupBestFromBands]] exactly: a bucket wider than
    * `cap` contributes its min doc_id (and, with `refine`, all its
    * members) and flags the probe doc. Verification and the best match
    * (jaccard desc, match_id asc) are the distributed plan's arithmetic. */
  private def crossDedupOnDriver(s: SparkSession, indexDir: String,
      m: graft.sources.DedupIndex.Meta,
      batch: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, cap: Long,
      refine: Boolean): Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val DI = graft.sources.DedupIndex
    val MH = graft.functions.MinHashSig
    graft.functions.GraftFunctions.register(s)
    val sigs = s.createDataFrame(batch.toList.asJava, schema)
      .select(col("doc_id"),
        expr(s"minhash_sig(hs, ${MH.famRows(m.bandfam)}, ${MH.famBands(m.bandfam)})"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).fold(Seq.empty[(Int, Long)])(
          _.zipWithIndex.map { case (v, b) => (b, v) }))
    val keys = sigs.flatMap(_._2).toSet
    val buckets =
      (if (keys.isEmpty) Array.empty[(Int, Long, Long)]
       else DI.lookupBands(s, indexDir, m, keys, LshBucketCap))
        .groupBy(r => (r._1, r._2)).map { case (k, rs) => k -> rs.map(_._3) }
    if (buckets.values.exists(_.length > LshBucketCap)) return None
    val cands = sigs.map { case (id, ks) =>
      val hit = ks.flatMap(buckets.get)
      val hot = hit.filter(_.length > cap)
      val ids = hit.filter(_.length <= cap).flatten ++ hot.map(_.min) ++
        (if (refine) hot.flatten else Nil)
      (id, ids.toSet, hot.nonEmpty)
    }
    val candIds = cands.flatMap(_._2).toSet
    val corp = (if (candIds.isEmpty) Array.empty[(Long, Array[Long], Long)]
      else DI.lookupDocs(s, indexDir, m, candIds))
      .map { case (id, hs, n) => id -> (hs.toSet, n) }.toMap
    val inHs = batch.map(r => r.getLong(0) ->
      (r.getSeq[Long](1).toSet, r.getAs[Number](2).longValue)).toMap
    val rows = cands.toSeq.flatMap { case (id, ids, flagged) =>
      val (ha, na) = inHs(id)
      ids.toSeq.flatMap(c => corp.get(c).map { case (hb, nb) =>
        // size(array_intersect) counts distinct common hashes; the
        // division is the distributed plan's double / long
        val inter = ha.count(hb).toLong
        c -> inter.toDouble / (na + nb - inter)
      }).filter(_._2 >= 0.8)
        .minByOption { case (c, j) => (-j, c) }
        .map { case (c, j) => Row(id, c, j, flagged) }
    }.sortBy(_.getLong(0))
    Some(s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType, schema("doc_id").nullable),
      StructField("match_id", LongType),
      StructField("jaccard", DoubleType),
      StructField("cap_engaged", BooleanType, nullable = false)))))
  }

  /** The distributed plan of [[crossDedupBestFromIndex]] (batches above
    * the small-batch gate, and a small batch whose buckets overflow the
    * driver's row bound). */
  private def crossDedupDistributed(s: SparkSession, indexDir: String,
      m: graft.sources.DedupIndex.Meta, inDocs: DataFrame, cap: Long,
      refine: Boolean, pruneRowLimit: Long,
      knownBatchRows: Option[Long]): DataFrame = {
    val DI = graft.sources.DedupIndex
    val corpDocs = DI.loadDocs(s, indexDir)
    // the batch signs at the ARTIFACT's recorded band family — against a
    // precision-escalated index, family-2 keys would silently miss every
    // cross near-dup (the exact failure requireUsableBandFamily guards)
    val fam = m.bandfam
    // persisted: the band frame feeds up to four subtrees (the prune
    // derivation, candidates, the flagged probe set, the refine join) and
    // the incoming doc-hash frame usually carries no cached msig, so an
    // unpersisted frame would re-run the 192-permutation signature pass
    // per subtree (the qCrossDedup persist convention; runners release
    // via clearCache)
    val inBands = graft.Caching.persist(
      minhashBands(s, inDocs, fam).withColumnRenamed("doc_id", "in_id"))
    val corpBands = (if (knownBatchRows.getOrElse(inDocs.count()) <= pruneRowLimit)
        DI.prunedBands(s, indexDir, m, inBands)
      else DI.bandsOf(s, indexDir, m))
      .select(col("doc_id"), col("band"), col("minhash").as("bv"))
    crossDedupBestFromBands(s, inBands, corpBands, inDocs, corpDocs, cap,
      refine)
  }

  /** ARTIFACT-BACKED cross-dedup: publish the even half as a real
    * [[graft.sources.DedupIndex]] (once per session), then run the odd
    * half against the LOADED artifact — q_cross_dedup's rows exactly
    * (shared oracle), the text twin of q_embed_cross_dedup_idx. */
  /** The session-shared even-half index publish — probed by
    * q_cross_dedup_idx and read by the q_dedup_index_stats health
    * surface (publish once, consume many: the production economics). */
  private def evenIndexDir(s: SparkSession, d: String): String =
    graft.SharedPlans.once(s, s"dedup_index_even|$d") {
      val p = s"${graft.sources.StorageOps.artifactBase}/dedup_index/${d.replaceAll("[^A-Za-z0-9._-]", "_")}_even"
      graft.sources.DedupIndex.publishFrom(s,
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0), p)
      p
    }

  private val qCrossDedupIdx: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    crossDedupBestFromIndex(s, evenIndexDir(s, d),
      docHashes(s, d).filter(col("doc_id") % 2 === 1))
      .select("doc_id", "match_id", "jaccard")
  }

  /** Text-index HEALTH surface, inside the correctness gate — the
    * [[graft.sources.DedupIndex]] twin of q_index_stats: recorded corpus
    * count and layout modulus, per-dataset row counts, shingle-set size
    * aggregates, truncation count, and the
    * [[graft.sources.DedupIndex.needsRebuild]] drift flag, all read off
    * the PUBLISHED artifact (three 1-row aggregates under broadcast at
    * any corpus size). The oracle recomputes every column from the raw
    * documents by replaying the shingle pipeline and the layout
    * schedule. Per-(band, minhash) occupancy is deliberately NOT here:
    * band values are xxhash64-derived with no portable SQL twin — those
    * invariants are spec-pinned engine-side instead (DedupIndexSpec).
    * PRECISION, the banded index's quality failure mode, IS here (r16):
    * the artifact's sampled PORTABLE probe bands make banded-candidate
    * precision oracle-checkable — see the inline note below and
    * [[graft.operators.DedupOps.probeBandsFromPres]]. */
  private val qDedupIndexStats: Q = (s, d) =>
    indexStatsFrame(s, evenIndexDir(s, d), withFam = false)

  /** The stats body shared by q_dedup_index_stats (publish-default
    * artifact) and q_dedup_index_escalated_stats (family-3 artifact,
    * `withFam` adds the recorded band family to the report). */
  private def indexStatsFrame(s: SparkSession, dir: String,
      withFam: Boolean): DataFrame = {
    import s.implicits._
    val DI = graft.sources.DedupIndex
    // ONE meta read for all four fields, the rebuild flag, the band
    // read and the precision probe — each extra read+collect is a tiny
    // Spark job of pure fixed overhead per health read
    val m = DI.loadMeta(s, dir)
    val meta = Seq((m.ndocs, m.parts, m.needsRebuild, m.bandfam))
      .toDF("ndocs", "parts", "needs_rebuild", "bandfam")
    val docAgg = DI.loadDocs(s, dir).agg(
      count(lit(1)).as("doc_rows"),
      sum("n").as("sum_shingles"),
      max("n").as("max_shingles"),
      sum(when(col("truncated"), 1L).otherwise(0L)).as("n_truncated"))
    val bandAgg = DI.bandsOf(s, dir, m).agg(count(lit(1)).as("band_rows"))
    // PRECISION DRIFT (r15 verdict #5 — the quality failure mode of a
    // banded index is precision collapse as buckets fill, which none of
    // the row counts above can see): candidate pairs of SAMPLED docs
    // sharing a stored portable band value, exact-Jaccard verified
    // against the doc store — verified/candidates is the artifact's
    // banded-candidate precision, inside the DuckDB gate because the
    // probe's band values are portable by construction
    // (DedupIndex.loadProbe scaladoc). The pair join is probe x probe:
    // both sides of a portable candidate must carry portable keys, and
    // the sampled self-join is the same collision statistic the full
    // banding draws from.
    // The probe read is the shared engine-side instrument
    // ([[graft.sources.DedupIndex.probePrecision]] — the same statistic
    // the maintain precision gate acts on), computed EAGERLY so its
    // persisted candidate frame releases before this query's plan ever
    // executes (r16 ADVICE: the lazy formulation pinned an RDD per
    // health-query invocation for the session lifetime). A probe-less
    // artifact (mergePublishStats can legitimately produce one:
    // probemod 0 after a pre-r17 merge, or a legacy publish) degrades
    // to NULL probe columns instead of throwing (r16 ADVICE).
    //
    // ORACLE VALIDITY, stated: the DuckDB twin re-derives the probe
    // sample from the live corpus at probeModFor(ndocs), while the
    // engine reads the FROZEN probemod — the two agree exactly when the
    // artifact is a fresh publish of that corpus (this query's
    // evenIndexDir is, every session); against a long-maintained
    // artifact whose corpus count drifted past a modulus step the
    // oracle would sample differently, and only the engine-side reading
    // is authoritative.
    val ps: Option[graft.sources.ProbeStats] =
      if (DI.hasProbeAt(s, dir, m.probemod)) Some(DI.probePrecisionAt(s, dir, m))
      else None
    val (pdC, pcC, pvC, ppC) = ps match {
      case Some(p) =>
        (lit(p.probeDocs), lit(p.candidates), lit(p.verified),
          // NULL (not an ANSI divide error) when the sampled probe found
          // no candidates — the recall audit's failure-order convention
          when(lit(p.candidates) > 0,
            round(lit(p.verified).cast("double") / lit(p.candidates), 4)))
      case None =>
        (lit(null).cast("long"), lit(null).cast("long"),
          lit(null).cast("long"), lit(null).cast("double"))
    }
    val famCols = if (withFam) Seq(col("bandfam")) else Nil
    meta.crossJoin(broadcast(docAgg)).crossJoin(broadcast(bandAgg))
      .select(Seq(col("ndocs"), col("parts"), col("needs_rebuild")) ++
        famCols ++ Seq(
        col("doc_rows"), col("sum_shingles"), col("max_shingles"),
        col("n_truncated"), col("band_rows"),
        pdC.as("probe_docs"), pcC.as("probe_candidates"),
        pvC.as("probe_verified"), ppC.as("probe_precision")): _*)
  }

  /** The ESCALATED text index inside the correctness gate (r17): the
    * even-half corpus published as a versioned root and walked one
    * precision-escalation rung up ([[graft.sources.DedupIndex
    * .escalateBandFamily]] — the actuator an armed precision floor
    * fires), then health-read exactly like q_dedup_index_stats. The
    * oracle replays the FAMILY-3 geometry end-to-end — famRows(3)=9
    * rows/band over famBands(3)=68 bands, the 612 interpolated
    * permutation constants, the probe derivation from portable base
    * hashes at that geometry, and the exact-Jaccard verification — so
    * the escalation machinery itself (band rebuild, probe survival,
    * family recording, precision at the deeper rung) sits inside the
    * DuckDB gate rather than only in specs. Published once per
    * session; versions at the fixed root prune to 2 like every
    * maintain cycle. */
  private def escalatedIndexRoot(s: SparkSession, d: String): String =
    graft.SharedPlans.once(s, s"dedup_index_esc|$d") {
      val root =
        s"${graft.sources.StorageOps.artifactBase}/dedup_index/${d.replaceAll("[^A-Za-z0-9._-]", "_")}_esc"
      graft.sources.DedupIndex.publishVersionedFrom(s,
        Tables.documents(s, d).filter(col("doc_id") % 2 === 0), root)
      graft.sources.DedupIndex.escalateBandFamily(s, root)
      graft.sources.StorageOps.pruneVersions(s, root, 2)
      root
    }

  private val qDedupIndexEscStats: Q = (s, d) =>
    indexStatsFrame(s,
      graft.sources.StorageOps.currentDir(s, escalatedIndexRoot(s, d)),
      withFam = true)

  /** The dedup ACTION a curation pipeline actually executes: for every
    * doc in a near-dup cluster, decide keep (the cluster's best member)
    * or drop. "Best" = longest (n_chars), smaller doc_id on ties — the
    * keep-longest rule corpus dedup commonly applies, and both criteria
    * are deterministic columns so the decision is reproducible across
    * engines and retries. Docs outside any cluster never appear (they are
    * trivially kept; emitting per-cluster rows keeps the output
    * O(duplicates), not O(corpus)). Plan: the verified pair graph +
    * connected components (same subplan as q_dedup_cluster), one
    * broadcast-sized join to doc metadata, and two windows over the SAME
    * (label) partitioning — one sort, no extra exchange. */
  private val qDedupKeepBest: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val labels = nearDupLabels(s, d)
    val byCluster = Window.partitionBy("label")
    val best = Window.partitionBy("label")
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels
      .join(Tables.documents(s, d).select("doc_id", "n_chars"),
        labels("vertex_id") === col("doc_id"))
      .select(col("doc_id"), col("label").as("rep_id"),
        count(lit(1)).over(byCluster).as("cluster_size"),
        (row_number().over(best) === 1).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Repeated-span window length (tokens). 20 tokens ≈ the 50-token
    * spans substring-dedup work uses, scaled to this corpus's ~100-token
    * documents; one constant feeds the Spark side AND the oracle SQL. */
  val SpanLen = 20

  /** Exact repeated-SPAN rate — the substring-level dedup signal that
    * complements document-level near-dup: for each document, the share
    * of its distinct SpanLen-token windows that appear verbatim in at
    * least one OTHER document (memorization-prone boilerplate a doc-level
    * Jaccard at 0.8 never sees). Physical shape: one row per distinct
    * window hash per doc (8-byte xxhash64 of the window text, never the
    * text itself), one groupBy(wh) for document frequency — count(*)
    * IS the doc count because windows are per-doc distinct — and a
    * co-partitioned join back. Work is Θ(total tokens), the same row
    * count a suffix-array build would scan; the token-prefix cap bounds
    * the per-doc contribution. */
  private val qSpanDupRate: Q = (s, d) => {
    // persisted: the tokenize → window → xxhash64 projection is the
    // heaviest per-token work in the query and feeds BOTH the df
    // aggregation and the join-back — without the persist it runs twice
    // over the whole corpus (the repartition exchange below it is not a
    // materialization point for the projection above)
    val wins = graft.Caching.persist(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), TextRules.tokens(col("text")).as("all_toks"))
      .select(col("doc_id"), slice(col("all_toks"), 1, DocTokenCap).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $SpanLen
           |  THEN array_distinct(transform(sequence(0, size(toks)-$SpanLen),
           |         i -> xxhash64(concat_ws(' ', slice(toks, i+1, $SpanLen)))))
           |  ELSE array() END""".stripMargin)).as("wh")))
    val docFreq = wins.groupBy("wh").agg(count(lit(1)).as("wdf"))
    wins.join(docFreq, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("wdf") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double") / col("n_spans"), 4).as("dup_rate"))
      .orderBy("doc_id")
  }

  /** Exact-substring dedup ACTION — the remedy for what q_span_dup_rate
    * measures (the "dedup repeated substrings" pass of training-data
    * curation): every SpanLen-token window that appears verbatim in at
    * least 2 DISTINCT documents is cut from every document containing
    * it, and the query emits, per affected doc, the cut accounting plus
    * an md5 of the trimmed text so the action is verifiable end-to-end.
    * Output is O(affected docs), not O(corpus) — untouched docs are
    * trivially kept and never emitted (same contract as
    * q_dedup_keep_best).
    *
    * Physical shape — deliberately explode/anti-join, NOT a per-doc
    * lambda: dup window positions explode to covered token indexes
    * (SpanLen rows per dup window, distinct folds overlaps), the run
    * count is one lag window over (doc_id, j), and the trimmed text is
    * a left-anti join of the posexploded tokens against the covered
    * set. Every stage is Θ(total tokens) and fully distributed; there
    * is no O(tokens × dup-windows) per-document loop, so a pathological
    * jumbo doc costs its token count, nothing more. Windows are matched
    * by xxhash64 of the window text (8-byte keys shuffle, never text) —
    * the same unverified-hash trade q_span_dup_rate makes. */
  private val qSpanTrim: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toksDf = graft.Caching.persist(Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), TextRules.tokens(col("text")).as("all_toks"))
      .select(col("doc_id"), slice(col("all_toks"), 1, DocTokenCap).as("toks")))
    // (doc_id, i, wh): 1-based window start + xxhash64 of the window text;
    // positions kept (NOT array_distinct) — a window repeated within one
    // doc occupies two start positions and both get cut
    val pos = toksDf.filter(size(col("toks")) >= SpanLen)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks) - ${SpanLen - 1}),
           |          i -> xxhash64(concat_ws(' ', slice(toks, i, $SpanLen))))""".stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("wh"))
    // duplicated = present in >= 2 distinct docs (cross-doc, matching
    // q_span_dup_rate's df semantics)
    val dupWh = pos.select("doc_id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("wdf"))
      .filter(col("wdf") >= 2).select("wh")
    val dupPos = pos.join(dupWh, "wh").select("doc_id", "i")
    // covered token indexes: SpanLen rows per dup window, distinct folds
    // overlapping windows into a set
    val cov = dupPos
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + lit(SpanLen - 1))).as("j"))
      .distinct()
    val byDoc = Window.partitionBy("doc_id").orderBy("j")
    val stats = cov
      .withColumn("pj", lag("j", 1).over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("cut_toks"),
        sum(when(col("pj").isNull || col("j") - col("pj") > 1, 1L).otherwise(0L)).as("n_runs"))
    // trimmed text: only for affected docs (semi join), tokens minus the
    // covered set, reassembled in position order
    val tokIdx = toksDf.join(stats.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).as("j"), col("col").as("tok"))
    val kept = tokIdx.join(cov, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(expr("md5(concat_ws(' ', transform(sort_array(collect_list(struct(j, tok))), x -> x.tok)))")
        .as("trimmed_md5"))
    stats
      .join(toksDf.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks")), "doc_id")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"), col("cut_toks"), col("n_runs"),
        coalesce(col("trimmed_md5"), md5(lit(""))).as("trimmed_md5"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_containment" -> qContainment,
    "q_containment_bottomk" -> qContainmentBottomK,
    "q_text_minhash" -> qTextMinhash,
    "q_text_simhash" -> qTextSimhash,
    "q_dedup_cluster" -> qDedupCluster,
    "q_split_leakage" -> qSplitLeakage,
    "q_dedup_keep_best" -> qDedupKeepBest,
    "q_cross_dedup" -> qCrossDedup,
    "q_cross_dedup_idx" -> qCrossDedupIdx,
    "q_cross_modal_cluster" -> qCrossModalCluster,
    "q_dedup_index_stats" -> qDedupIndexStats,
    "q_dedup_index_escalated_stats" -> qDedupIndexEscStats,
    "q_span_dup_rate" -> qSpanDupRate,
    "q_span_trim" -> qSpanTrim,
  )

  /** Cross-modal cluster replay: the shared text-pair fragment, the
    * shared embedding-pair fragment ([[VectorOps.embedPairCtes]] — the
    * SAME SQL the q_embed_neardup_lsh oracle runs), the union edge set
    * in both directions, and the shared CC tail. CTE names are disjoint
    * by construction (the text leg's `pairs`/`good` vs the embedding
    * leg's `ecand`/`egood`; the CC tail's join alias avoids `e`). */
  private val crossModalClusterSql =
    s"""WITH RECURSIVE $textPairsBody,
       |${VectorOps.embedPairCtes},
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM good
       |  UNION SELECT doc_b, doc_a FROM good
       |  UNION SELECT vec_a, vec_b FROM egood
       |  UNION SELECT vec_b, vec_a FROM egood),
       |$ccTail
       |SELECT label AS rep_id,
       |       CAST(count(*) AS BIGINT) AS cluster_size,
       |       CAST(sum(doc_id - label) AS BIGINT) AS id_span
       |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_dedup_index_stats replay: the shingle pipeline (tokenize →
    * DocTokenCap prefix → distinct word-3-grams) over the even-half
    * corpus, aggregated to the same one-row health report; `parts` is
    * the StorageOps.layoutParts twin, needs_rebuild identically false for an
    * index published at its own corpus count, band_rows = famBands(fam)
    * bands per indexed doc. Parameterized by the BAND FAMILY (r17): the
    * escalated-artifact twin replays family 3's (9 rows × 68 bands)
    * geometry through the same SQL with its 612 interpolated
    * permutation constants — one builder, so the two oracles cannot
    * fork on the shingle pipeline or the verification. */
  private def dedupIndexStatsSqlAt(fam: Int): String = {
    val MH = graft.functions.MinHashSig
    val (rows, bands) = (MH.famRows(fam), MH.famBands(fam))
    val nperm = rows * bands
    val famCol = if (fam == graft.sources.DedupIndex.BandFamily) ""
      else s"\n       |       CAST($fam AS INT) AS bandfam,"
    s"""WITH t AS (
       |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
       |                              x -> x <> '')) AS toks
       |  FROM documents WHERE doc_id % 2 = 0),
       |g AS MATERIALIZED (
       |  SELECT doc_id, len(toks) > $DocTokenCap AS truncated,
       |         len(list_distinct(list_transform(
       |           range(0, least(len(toks), $DocTokenCap) - 2),
       |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
       |           AS n
       |  FROM t WHERE len(toks) >= 3),
       |pm AS (SELECT GREATEST(1, count(*) // 500) AS pm FROM g),
       |sdoc AS (SELECT doc_id FROM g
       |         WHERE ${Tables.phashSql("doc_id")} % (SELECT pm FROM pm)
       |               = 0),
       |vsh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, shingle
       |  FROM (
       |    SELECT tt.doc_id,
       |           tt.tk[i] || ' ' || tt.tk[i+1] || ' ' || tt.tk[i+2]
       |             AS shingle
       |    FROM (SELECT t.doc_id, toks[:$DocTokenCap] AS tk
       |          FROM t JOIN sdoc USING (doc_id)) tt,
       |         LATERAL (SELECT unnest(range(1, len(tt.tk) - 1)) AS i) gg)),
       |ssh AS MATERIALIZED (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(shingle), 1, 15))::BIGINT
       |           % 1000000007 AS pre
       |  FROM vsh),
       |perm AS (SELECT * FROM (VALUES
       |${(0 until nperm).map(j => s"(${j}, ${MH.permA(j)}, ${MH.permC(j)})").mkString(",\n")})
       |  AS pc(j, a, c)),
       |pmin AS (
       |  SELECT doc_id, j, min((a * pre + c) % 1000000007) AS mv
       |  FROM ssh, perm GROUP BY doc_id, j),
       |pband AS MATERIALIZED (
       |  SELECT doc_id, j // $rows AS band,
       |         string_agg(CAST(mv AS VARCHAR), ':' ORDER BY j) AS pbv
       |  FROM pmin GROUP BY doc_id, j // $rows),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pband a JOIN pband b
       |    ON a.band = b.band AND a.pbv = b.pbv AND a.doc_id < b.doc_id),
       |psz AS (SELECT doc_id, count(*) AS n FROM vsh GROUP BY 1),
       |iv AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN vsh x ON x.doc_id = c.doc_a
       |  JOIN vsh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |pver AS (
       |  SELECT CAST(count(*) AS BIGINT) AS v
       |  FROM iv
       |  JOIN psz sa ON iv.doc_a = sa.doc_id
       |  JOIN psz sb ON iv.doc_b = sb.doc_id
       |  WHERE CAST(iv.inter AS DOUBLE) / (sa.n + sb.n - iv.inter) >= 0.8)
       |SELECT CAST(count(*) AS BIGINT) AS ndocs,
       |       CAST(GREATEST(64, LEAST(65536, count(*) // 250000 + 1))
       |         AS INT) AS parts,
       |       FALSE AS needs_rebuild,$famCol
       |       CAST(count(*) AS BIGINT) AS doc_rows,
       |       CAST(sum(n) AS BIGINT) AS sum_shingles,
       |       CAST(max(n) AS BIGINT) AS max_shingles,
       |       CAST(sum(CASE WHEN truncated THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_truncated,
       |       CAST(count(*) * $bands AS BIGINT) AS band_rows,
       |       CAST((SELECT count(DISTINCT doc_id) FROM pband) AS BIGINT)
       |         AS probe_docs,
       |       CAST((SELECT count(*) FROM cand) AS BIGINT)
       |         AS probe_candidates,
       |       (SELECT v FROM pver) AS probe_verified,
       |       CASE WHEN (SELECT count(*) FROM cand) > 0
       |            THEN round(CAST((SELECT v FROM pver) AS DOUBLE)
       |                       / (SELECT count(*) FROM cand), 4)
       |       END AS probe_precision
       |FROM g""".stripMargin
  }

  private val dedupIndexStatsSql =
    dedupIndexStatsSqlAt(graft.sources.DedupIndex.BandFamily)

  /** Exact ground-truth pair SQL — all three sketches must converge to it
    * (their candidate recall at J>=0.8 is ~1 by construction). The token
    * prefix slice mirrors DocTokenCap. */
  private val exactPairsSql =
    s"""WITH toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared recursive-CTE prefix: exact pair graph → transitive closure →
    * min-reachable component label per clustered doc. Feeds both the
    * cluster rollup (q_dedup_cluster) and the keep-best selection
    * (q_dedup_keep_best). */
  /** The exact text-pair ground truth as a composable CTE fragment
    * ending in `good(doc_a, doc_b)` — shared by the three CC-based
    * oracles and the cross-modal cluster oracle's text leg. */
  private def textPairsBody =
    s"""toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |good AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)"""
      .stripMargin

  /** Transitive closure + min-reachable label over an `edges(u, v)` CTE
    * the caller supplies — the shared CC tail. */
  private def ccTail =
    """reach(u, r) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e2.u, reach.r FROM edges e2 JOIN reach ON reach.u = e2.v),
      |labels AS (SELECT u AS doc_id, min(r) AS label FROM reach GROUP BY 1)"""
      .stripMargin

  private val clusterLabelsCte =
    s"""WITH RECURSIVE $textPairsBody,
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM good
      |  UNION ALL SELECT doc_b, doc_a FROM good),
      |$ccTail""".stripMargin

  /** Connected components over the exact pair graph via a recursive CTE
    * (transitive closure, then min-reachable label per vertex). */
  private val clusterSql =
    s"""$clusterLabelsCte
      |SELECT label AS rep_id,
      |       CAST(count(*) AS BIGINT) AS cluster_size,
      |       CAST(sum(doc_id - label) AS BIGINT) AS id_span
      |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin

  /** Leakage-safe split mirror: same labels; split decided by
    * phash(cluster representative) mod SplitBuckets, docs in no cluster
    * representing themselves via the LEFT join coalesce. */
  private val splitLeakageSql =
    s"""$clusterLabelsCte,
      |reps AS (
      |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS rep_id
      |  FROM documents d LEFT JOIN labels l USING (doc_id))
      |SELECT doc_id, rep_id,
      |       CASE WHEN b <= 7 THEN 'train'
      |            WHEN b = 8 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM (SELECT doc_id, rep_id,
      |             ${Tables.phashSql("rep_id")} % $SplitBuckets AS b
      |      FROM reps)
      |ORDER BY doc_id""".stripMargin

  /** Keep-best mirror: same labels, longest doc (n_chars, then smaller
    * doc_id) wins its cluster. */
  private val keepBestSql =
    s"""$clusterLabelsCte
      |SELECT l.doc_id, l.label AS rep_id,
      |       CAST(count(*) OVER (PARTITION BY l.label) AS BIGINT)
      |         AS cluster_size,
      |       CAST(CASE WHEN row_number() OVER (
      |              PARTITION BY l.label
      |              ORDER BY d.n_chars DESC, l.doc_id) = 1
      |            THEN 1 ELSE 0 END AS INT) AS keep
      |FROM labels l JOIN documents d ON l.doc_id = d.doc_id
      |ORDER BY l.doc_id""".stripMargin

  /** The df-capped ground-truth pair CTEs — mirror [[exactPairFrame]]
    * exactly: pairing is restricted to shingles with 2 <= df <=
    * max(floor, frac·nDocs); intersections are computed over the FULL
    * shingle sets of candidate pairs. Ends in `pairs(doc_a, doc_b,
    * inter)` + `sizes(doc_id, n)` — shared by the q_ngram_jaccard and
    * q_containment oracles so the two certificates cannot drift. */
  private val exactPairCtes =
    s"""WITH toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g),
      |ndocs AS (SELECT count(*) AS nd FROM documents),
      |keep AS (
      |  SELECT shingle FROM sh, ndocs
      |  GROUP BY shingle, nd
      |  HAVING count(*) >= 2 AND count(*) <=
      |         greatest($NgramDfCapFloor, CAST(ceil(nd * $NgramDfCapFrac) AS BIGINT))),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  JOIN keep k ON a.shingle = k.shingle),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS inter
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2)""".stripMargin

  private val cappedPairsSql =
    s"""$exactPairCtes
      |SELECT doc_a, doc_b,
      |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q_containment oracle: same pair CTEs, containment + Jaccard emitted
    * together, thresholded on containment. */
  private val containmentSql =
    s"""$exactPairCtes
      |SELECT doc_a, doc_b,
      |       CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment,
      |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= $ContainmentThreshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q_containment_bottomk oracle: same shingling/df-cap, then the
    * bottom-[[ContainmentSampleK]] probe per doc on the portable
    * md5-int60 order, index join for candidates, exact verify on the
    * candidate pairs' FULL shingle sets (by string — the engine's
    * xxhash64 arrays are the documented hash trade). */
  private val containmentBottomKSql =
    s"""WITH toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g),
      |ndocs AS (SELECT count(*) AS nd FROM documents),
      |keepsh AS MATERIALIZED (
      |  SELECT shingle FROM sh, ndocs
      |  GROUP BY shingle, nd
      |  HAVING count(*) <=
      |         greatest($NgramDfCapFloor, CAST(ceil(nd * $NgramDfCapFrac) AS BIGINT))),
      |kept AS MATERIALIZED (
      |  SELECT s.doc_id, s.shingle,
      |         ('0x' || substr(md5(s.shingle), 1, 15))::BIGINT AS pre
      |  FROM sh s JOIN keepsh k ON s.shingle = k.shingle),
      |probe AS MATERIALIZED (
      |  SELECT doc_id, shingle FROM (
      |    SELECT doc_id, shingle,
      |           row_number() OVER (PARTITION BY doc_id
      |             ORDER BY pre, shingle) AS srk
      |    FROM kept)
      |  WHERE srk <= $ContainmentSampleK),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT least(p.doc_id, s.doc_id) AS doc_a,
      |                  greatest(p.doc_id, s.doc_id) AS doc_b
      |  FROM probe p JOIN kept s
      |    ON p.shingle = s.shingle AND p.doc_id <> s.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |iv AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS inter
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.doc_a
      |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment,
      |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM iv
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= $ContainmentThreshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-dedup oracle: exact Jaccard between the odd (incoming) and
    * even (corpus) halves, best match per incoming doc. */
  private val crossDedupSql =
    s"""WITH toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) g),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS in_id, b.doc_id AS corp_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT in_id, corp_id,
      |         CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |  FROM pairs
      |  JOIN sizes sa ON in_id = sa.doc_id
      |  JOIN sizes sb ON corp_id = sb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
      |SELECT in_id AS doc_id, corp_id AS match_id, jaccard
      |FROM j
      |QUALIFY row_number() OVER (PARTITION BY in_id
      |                           ORDER BY jaccard DESC, corp_id) = 1
      |ORDER BY doc_id""".stripMargin

  /** Span-dup oracle: same windows by STRING (no cross-engine hashing —
    * DuckDB groups the window text itself; xxhash64 only exists on the
    * Spark side as a shuffle-size optimization). */
  private val spanDupSql =
    s"""WITH toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |w AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+${SpanLen - 1}], ' ') AS win
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - ${SpanLen - 2})) AS i) g
      |  WHERE len(t) >= $SpanLen),
      |wdf AS (SELECT win, count(*) AS wdf FROM w GROUP BY 1)
      |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |       CAST(sum(CASE WHEN wdf.wdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS dup_spans,
      |       round(CAST(sum(CASE WHEN wdf.wdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 4) AS dup_rate
      |FROM w JOIN wdf USING (win)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_span_trim oracle: same window/coverage/trim pipeline on the
    * window TEXT (the Spark side matches 8-byte xxhash64 keys — equal
    * modulo hash collisions, which the gate would surface as a hash
    * mismatch). Indexes are 1-based on both sides; `md5(coalesce(...,''))`
    * covers the fully-cut doc whose kept set is empty. */
  private val spanTrimSql =
    s"""WITH toks AS (
      |  SELECT doc_id, (list_filter(string_split_regex(lower(text), '\\W+'),
      |                             x -> x <> ''))[:$DocTokenCap] AS t
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i, array_to_string(t[i:i+${SpanLen - 1}], ' ') AS win
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - ${SpanLen - 2})) AS i) g
      |  WHERE len(t) >= $SpanLen),
      |wdup AS (SELECT win FROM pos GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
      |dpos AS (SELECT doc_id, i FROM pos JOIN wdup USING (win)),
      |cov AS (SELECT DISTINCT doc_id, j
      |        FROM dpos, LATERAL (SELECT unnest(range(i, i + $SpanLen)) AS j) g),
      |stats AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS cut_toks,
      |         CAST(sum(CASE WHEN pj IS NULL OR j - pj > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_runs
      |  FROM (SELECT doc_id, j, lag(j) OVER (PARTITION BY doc_id ORDER BY j) AS pj
      |        FROM cov) q
      |  GROUP BY 1),
      |kept AS (
      |  SELECT ti.doc_id, string_agg(ti.tok, ' ' ORDER BY ti.j) AS trimmed
      |  FROM (SELECT t2.doc_id, t2.t[j] AS tok, j
      |        FROM toks t2, LATERAL (SELECT unnest(range(1, len(t2.t) + 1)) AS j) g) ti
      |  JOIN stats st ON st.doc_id = ti.doc_id
      |  LEFT JOIN cov ON cov.doc_id = ti.doc_id AND cov.j = ti.j
      |  WHERE cov.j IS NULL
      |  GROUP BY 1)
      |SELECT s.doc_id, CAST(len(t.t) AS BIGINT) AS n_toks, s.cut_toks, s.n_runs,
      |       md5(coalesce(k.trimmed, '')) AS trimmed_md5
      |FROM stats s
      |JOIN toks t ON t.doc_id = s.doc_id
      |LEFT JOIN kept k ON k.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_ngram_jaccard" -> cappedPairsSql,
    "q_containment" -> containmentSql,
    "q_containment_bottomk" -> containmentBottomKSql,
    "q_text_minhash" -> exactPairsSql,
    "q_text_simhash" -> exactPairsSql,
    "q_dedup_cluster" -> clusterSql,
    "q_split_leakage" -> splitLeakageSql,
    "q_dedup_keep_best" -> keepBestSql,
    "q_cross_dedup" -> crossDedupSql,
    // the artifact-backed twin shares the inline oracle verbatim: the
    // published index round-trips the hash sets and band keys losslessly
    "q_cross_dedup_idx" -> crossDedupSql,
    "q_cross_modal_cluster" -> crossModalClusterSql,
    "q_dedup_index_stats" -> dedupIndexStatsSql,
    "q_dedup_index_escalated_stats" -> dedupIndexStatsSqlAt(3),
    "q_span_dup_rate" -> spanDupSql,
    "q_span_trim" -> spanTrimSql,
  )
}
