package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{DedupIndex, FingerprintIndex, PrecisionProbe, StorageOps}

/** The ARMED precision floors (r16 verdict #2): a planted flood of
  * below-threshold near-pairs collapses a banded index's candidate
  * precision; `maintain` with a [[PrecisionProbe]] must trip the floor,
  * escalate the band family ONCE, re-read the probe in-cycle, and
  * either recover or surface per caller policy — the
  * VectorIndex.RecallProbe contract applied to both banded families.
  *
  * Flood constructions are family-SPECIFIC by design, so escalation
  * genuinely restores precision rather than masking it:
  *   - text: docs sharing a common token block at Jaccard ~0.3 — above
  *     family 2's collision background (J* = 0.56 S-curve leaks ~2% of
  *     pairs per 32 bands at J=0.3) but far below family 3's (9 rows:
  *     J^9 makes the same pairs ~20x rarer);
  *   - image: signatures sharing one CONTIGUOUS 16-bit chunk (the
  *     constant-region/letterbox failure mode) — every pair collides in
  *     family 1's chunk band, while a scatter family spreads the 16
  *     agreeing bits ~4 per band and the flood disperses.
  */
class PrecisionGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ---- text (DedupIndex / MinHash) fixtures --------------------------

  /** `n` independent flood CLUSTERS of two docs each: cluster c's pair
    * shares a c-specific `common`-token block plus per-doc unique
    * tails, sized for pairwise shingle-Jaccard ≈
    * common/(2·total−common). Cluster-specific blocks keep collision
    * events INDEPENDENT across pairs — one corpus-wide block would
    * share its minima across every pair and make the candidate count
    * bursty (all pairs fire on a band or none do), exactly the
    * correlated-minima failure mode the r16 permutation fix retired. */
  private def floodClusters(n: Int, common: Int, unique: Int,
      idBase: Long): Seq[(Long, String)] =
    (0 until n).flatMap { c =>
      val block = (0 until common).map(i => s"c${c}m$i").mkString(" ")
      Seq(0, 1).map { d =>
        (idBase + 2 * c + d, block + " " +
          (0 until unique).map(i => s"u${c}x${d}q$i").mkString(" "))
      }
    }

  /** `pairs` true near-dup pairs (~J 0.94: 100 tokens, last 3 edited). */
  private def truePairs(pairs: Int, idBase: Long): Seq[(Long, String)] =
    (0 until pairs).flatMap { p =>
      val toks = (0 until 100).map(i => s"t${p}x$i")
      Seq((idBase + 2 * p, toks.mkString(" ")),
        (idBase + 2 * p + 1,
          (toks.dropRight(3) ++ Seq("ea", "eb", "ec")).mkString(" ")))
    }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("text precision floor: flood trips, family escalation restores, " +
      "probe re-read in-cycle") {
    val base = java.nio.file.Files.createTempDirectory("graft-prec-text")
    val root = s"$base/root"
    // 490 independent J≈0.35 pairs (52-token blocks, 46-token tails):
    // family 2 leaks ~6.5% of them as band candidates (expected ~32
    // against 8 true pairs — precision ~0.2), family 3 leaks ~0.6%
    // (expected ~3 — precision ~0.7). 996 docs keeps probemod at 1 so
    // the probe IS the corpus and both cluster members stay sampled.
    val corpus = docsDf(truePairs(8, 0L) ++ floodClusters(490, 52, 46, 1000L))
    DedupIndex.publishVersionedFrom(spark, corpus, root)

    val before = DedupIndex.probePrecision(spark,
      StorageOps.currentDir(spark, root))
    info(s"family-2 probe: $before")
    assert(before.candidates > 0, "flood produced no banded candidates")
    assert(before.below(0.5),
      s"fixture must trip the 0.5 floor, measured $before")

    val batch = docsDf(Seq((5000L, (0 until 90).map(i => s"nb$i")
      .mkString(" "))))
    DedupIndex.maintain(spark, root, batch,
      precisionProbe = Some(PrecisionProbe(0.5)))

    val live = StorageOps.currentDir(spark, root)
    assert(DedupIndex.loadMeta(spark, live).bandfam == 3,
      "tripped floor did not escalate the band family")
    val after = DedupIndex.probePrecision(spark, live)
    info(s"family-3 probe: $after")
    assert(!after.below(0.5),
      s"escalated family did not restore the floor: $after")
    // recall is pinned by the ladder: the escalated artifact still
    // finds a true near-dup through the production probe path (keys
    // derived at the ARTIFACT's family — family-2 keys would miss)
    val probeDoc = docsDf(Seq((9000L,
      ((0 until 97).map(i => s"t0x$i") ++ Seq("zz", "zy", "zx"))
        .mkString(" "))))
    val hits = graft.operators.DedupOps.crossDedupBestFromIndex(spark,
      live, graft.operators.DedupOps.docHashesOf(spark, probeDoc))
      .select("doc_id", "match_id", "jaccard").collect()
    assert(hits.nonEmpty && hits.head.getLong(1) == 0L,
      s"escalated index missed the planted near-dup: ${hits.toSeq}")
    spark.catalog.clearCache()
  }

  test("text precision floor: a flood escalation cannot fix surfaces " +
      "per failUnrecovered policy") {
    val base = java.nio.file.Files.createTempDirectory("graft-prec-text2")
    val root = s"$base/root"
    // 100 independent J≈0.60 pairs (74-token blocks): these collide
    // freely at BOTH family 2 (~78% of pairs) and family 3 (~50%) —
    // the floor is unreachable by one rung, which must be loud, not a
    // silent retrain-forever
    val corpus = docsDf(truePairs(3, 0L) ++ floodClusters(100, 74, 24, 1000L))
    DedupIndex.publishVersionedFrom(spark, corpus, root)
    val batch = docsDf(Seq((5000L, (0 until 90).map(i => s"nb$i")
      .mkString(" "))))
    val ex = intercept[IllegalStateException] {
      DedupIndex.maintain(spark, root, batch,
        precisionProbe = Some(PrecisionProbe(0.995,
          failUnrecovered = true)))
    }
    assert(ex.getMessage.contains("not restored"), ex.getMessage)
    // the escalation itself still published (family 3, pointer flipped)
    assert(DedupIndex.loadMeta(spark,
      StorageOps.currentDir(spark, root)).bandfam == 3)
    spark.catalog.clearCache()
  }

  test("text ladder: escalation walks to MaxFamily then fails loudly") {
    val base = java.nio.file.Files.createTempDirectory("graft-prec-ladder")
    val root = s"$base/root"
    DedupIndex.publishVersionedFrom(spark,
      docsDf(truePairs(2, 0L)), root)
    for (expect <- 3 to graft.functions.MinHashSig.MaxFamily) {
      assert(DedupIndex.escalateBandFamily(spark, root) == expect)
      val live = StorageOps.currentDir(spark, root)
      assert(DedupIndex.loadMeta(spark, live).bandfam == expect)
      // geometry actually deepened: famBands(f) band rows per doc
      assert(DedupIndex.loadBands(spark, live).count() ==
        DedupIndex.loadMeta(spark, live).ndocs *
          graft.functions.MinHashSig.famBands(expect))
    }
    val ex = intercept[IllegalArgumentException] {
      DedupIndex.escalateBandFamily(spark, root)
    }
    assert(ex.getMessage.contains("ladder exhausted"), ex.getMessage)
    spark.catalog.clearCache()
  }

  // ---- image (FingerprintIndex / dHash) fixtures ---------------------

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Flood signatures: identical LOW chunk (contiguous bits 0..15 — the
    * constant-region failure mode), independent high 48 bits. */
  private def floodSigs(n: Int): Seq[Long] =
    (0 until n).map(i => (mix(i.toLong) << 16) | 0xABCDL)

  test("image precision floor: contiguous-chunk flood trips, scatter " +
      "family disperses it, hamming<=3 recall survives") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-prec-img")
    val dir = s"$base/fp"
    // 4 true near-dup pairs: 2 bits flipped in different chunks
    val trues = (0 until 4).flatMap { p =>
      val sig = mix(1000L + p)
      Seq(sig, sig ^ (1L << 20) ^ (1L << 40))
    }
    val all = (floodSigs(30) ++ trues).distinct
    val sigs = all.zipWithIndex
      .map { case (h, i) => (h, 1L, i.toLong) }.toDF("dhash", "n", "rep")
    FingerprintIndex.publishBandedSigs(spark, sigs, dir)

    val before = FingerprintIndex.probePrecision(spark, dir)
    info(s"family-1 probe: $before")
    assert(before.candidates > 0 && before.below(0.5),
      s"fixture must trip the 0.5 floor, measured $before")

    val arrivals = Seq((900L, mix(77L)), (901L, mix(78L)))
      .toDF("doc_id", "dhash")
    FingerprintIndex.maintain(spark, dir, arrivals, banded = true,
      precisionProbe = Some(PrecisionProbe(0.5)))

    assert(FingerprintIndex.loadMeta(spark, dir).bandfam == 2,
      "tripped floor did not escalate the band family")
    val after = FingerprintIndex.probePrecision(spark, dir)
    info(s"family-2 probe: $after")
    assert(!after.below(0.5),
      s"scatter family did not restore the floor: $after")

    // recall at the escalated family: a probe one bit off a stored
    // signature still finds it through the pruned band scan, with keys
    // derived at the ARTIFACT's recorded family
    val fam = FingerprintIndex.loadMeta(spark, dir).bandfam
    val probeSig = trues.head ^ 1L
    val keys = Seq(probeSig).toDF("dh")
      .select(explode(expr(
        graft.sources.FingerprintIndex.bandsExpr("dh", fam))).as("b"))
      .select(col("b.band").as("band"), col("b.bv").as("bv"))
    val matches = FingerprintIndex.prunedBands(spark,
        FingerprintIndex.open(spark, dir), keys)
      .join(keys, Seq("band", "bv"))
      .filter(expr(s"bit_count(dhash ^ ${probeSig}L) <= 3"))
      .select("dhash").distinct().collect().map(_.getLong(0)).toSet
    assert(matches.contains(trues.head),
      s"escalated index missed the hamming-1 neighbor: $matches")
    spark.catalog.clearCache()
  }

  test("image precision floor: groups (exact) shape refuses an armed " +
      "probe; unreachable floor surfaces per failUnrecovered") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-prec-img2")
    val gdir = s"$base/groups"; val bdir = s"$base/banded"
    FingerprintIndex.publishGroups(spark,
      Seq((1L, 1L, 1L), (2L, 1L, 2L)).toDF("fp", "n", "rep"), gdir)
    intercept[IllegalArgumentException] {
      FingerprintIndex.maintain(spark, gdir,
        Seq((9L, 3L)).toDF("doc_id", "fp"),
        precisionProbe = Some(PrecisionProbe(0.5)))
    }
    // floor above 1.0 can never be met while true pairs keep the
    // candidate set non-empty: escalate once, re-probe, throw
    val trues = (0 until 4).flatMap { p =>
      val sig = mix(2000L + p); Seq(sig, sig ^ (1L << 5))
    }
    FingerprintIndex.publishBandedSigs(spark,
      (floodSigs(20) ++ trues).distinct.zipWithIndex
        .map { case (h, i) => (h, 1L, i.toLong) }.toDF("dhash", "n", "rep"),
      bdir)
    val ex = intercept[IllegalStateException] {
      FingerprintIndex.maintain(spark, bdir,
        Seq((900L, mix(88L))).toDF("doc_id", "dhash"), banded = true,
        precisionProbe = Some(PrecisionProbe(1.01,
          failUnrecovered = true)))
    }
    assert(ex.getMessage.contains("not restored"), ex.getMessage)
    assert(FingerprintIndex.loadMeta(spark, bdir).bandfam == 2)
    spark.catalog.clearCache()
  }

  test("lsh bucket precision probe: exact against the stored buckets, " +
      "and frozen-width drift collapses it (r16 verdict #6)") {
    import graft.sources.VectorIndex
    val all = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("graft-prec-lsh")
    val drifted = s"$base/drift"; val rebuilt = s"$base/rebuilt"
    // publish tiny (width scheduled for 100 vectors), then merge the
    // other 400 at FROZEN geometry — the production drift that widens
    // every bucket while recall stays fine: the precision probe is the
    // instrument that sees it
    VectorIndex.publishFrom(spark, all.filter(col("vec_id") < 100), drifted)
    VectorIndex.mergePublish(spark, drifted,
      all.filter(col("vec_id") >= 100))
    assert(VectorIndex.needsRebuild(VectorIndex.loadMeta(spark, drifted)))
    val pDrift = VectorIndex.lshProbePrecision(spark, drifted)
    VectorIndex.publishFrom(spark, all, rebuilt)
    val pFresh = VectorIndex.lshProbePrecision(spark, rebuilt)
    info(s"drifted: $pDrift  rebuilt: $pFresh")
    assert(pDrift.candidates > 2 * pFresh.candidates,
      s"frozen-width drift did not inflate bucket candidates: " +
        s"$pDrift vs $pFresh")
    assert(pFresh.precision.get > pDrift.precision.get,
      "drift did not read as a precision drop")
    // the instrument is EXACT: its counts equal a direct recomputation
    // over the artifact's stored bucket table
    graft.functions.GraftFunctions.register(spark)
    val b = VectorIndex.loadBuckets(spark, drifted)
    val direct = b.alias("a").join(b.alias("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(expr("cosine_sim(a.embedding, b.embedding)").as("sim"))
      .agg(count(lit(1)),
        sum(when(col("sim") >= VectorIndex.LshProbeCos, 1L).otherwise(0L)))
      .collect()(0)
    assert((direct.getLong(0), direct.getLong(1)) ==
      (pDrift.candidates, pDrift.verified),
      "probe counts differ from the direct bucket recomputation")
    spark.catalog.clearCache()
  }

  test("streaming probe signs at the escalated family, resolved per " +
      "trigger through the version pointer") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-prec-stream")
    val root = s"$base/root"
    DedupIndex.publishVersionedFrom(spark, docsDf(truePairs(4, 0L)), root)
    DedupIndex.escalateBandFamily(spark, root)
    assert(DedupIndex.loadMeta(spark,
      StorageOps.currentDir(spark, root)).bandfam == 3)
    // a microbatch carrying a near-dup of corpus doc 0 (J ≈ 0.94): the
    // foreachBatch probe must derive its band keys at FAMILY 3 — keys
    // at the publish default would silently match nothing
    val micro = Seq((9000L,
        ((0 until 97).map(i => s"t0x$i") ++ Seq("za", "zb", "zc"))
          .mkString(" "), 1L))
      .toDF("docId", "text", "tsUs")
    val pairs = graft.streaming.NearDupStream
      .probeIndexBatch(spark, micro, root)(_.collect())
    assert(pairs.nonEmpty &&
      pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 9000L),
      s"escalated-family stream probe missed the planted pair: " +
        s"${pairs.toSeq}")
    spark.catalog.clearCache()
  }

  // ---- vector occupancy gate (width escalation) ----------------------

  /** Deterministic unit vector confined to the first `rank` of 32 dims —
    * the DENSITY fixture: a low-effective-rank corpus realizes few
    * hyperplane sign regions, so buckets saturate at an unchanged count
    * (the drift the count schedule cannot see). */
  private def lowRankVec(id: Long, rank: Int): Array[Float] = {
    val r = new java.util.SplittableRandom(mix(id))
    def gauss(): Double = {
      val u1 = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2.0 * math.log(u1)) *
        math.cos(2.0 * math.Pi * r.nextDouble())
    }
    val v = Array.fill(32)(0.0)
    for (i <- 0 until rank) v(i) = gauss()
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def lowRankCorpus(n: Int, rank: Int) = {
    import spark.implicits._
    (0L until n.toLong).map(id => (id, lowRankVec(id, rank)))
      .toDF("vec_id", "embedding")
  }

  test("vector occupancy gate: density saturation trips at unchanged " +
      "count, one width rung disperses, the rung survives later cycles") {
    import graft.sources.{VectorIndex, OccupancyProbe}
    val dir = s"${java.nio.file.Files
      .createTempDirectory("graft-occ")}/idx"
    val all = lowRankCorpus(500, rank = 4)
    VectorIndex.publishFrom(spark, all.filter(col("vec_id") < 496), dir)
    val m0 = VectorIndex.loadMeta(spark, dir)
    assert(!VectorIndex.needsRebuild(m0), "count schedule must be clean")
    val occ0 = VectorIndex.bucketOccupancy(spark, dir)
    info(s"scheduled width ${m0.width}: $occ0")
    assert(occ0.meanOccupancy >
      4.0 * graft.operators.VectorOps.LshTargetBucket,
      s"fixture must saturate the scheduled buckets, read $occ0")

    val (m1, _) = VectorIndex.maintain(spark, dir,
      all.filter(col("vec_id") >= 496),
      occupancyProbe = Some(OccupancyProbe(4.0)))
    assert(m1.width == m0.width + 1 && m1.wboost == 1,
      s"tripped gate did not escalate one rung: $m1")
    val occ1 = VectorIndex.bucketOccupancy(spark, dir)
    info(s"escalated width ${m1.width}: $occ1")
    assert(occ1.meanOccupancy <=
      4.0 * graft.operators.VectorOps.LshTargetBucket,
      s"escalation did not disperse the buckets: $occ1")

    // the rung is durable: a later un-probed maintain neither rebuilds
    // nor demotes, and the boosted geometry still answers searches
    val (m2, rebuilt2) = VectorIndex.maintain(spark, dir,
      lowRankCorpus(504, rank = 4).filter(col("vec_id") >= 500))
    assert(!rebuilt2 && m2.width == m1.width && m2.wboost == 1,
      s"later maintain demoted the rung: $m2 (rebuilt=$rebuilt2)")
    assert(VectorIndex.searchLsh(spark, dir,
      all.filter(col("vec_id") < 3), k = 3).count() > 0)
    spark.catalog.clearCache()
  }

  test("vector occupancy gate: a rank-2 corpus cannot disperse — " +
      "surfaces per failUnrecovered") {
    import graft.sources.{VectorIndex, OccupancyProbe}
    val dir = s"${java.nio.file.Files
      .createTempDirectory("graft-occ2")}/idx"
    val all = lowRankCorpus(500, rank = 2)
    VectorIndex.publishFrom(spark, all.filter(col("vec_id") < 496), dir)
    val ex = intercept[IllegalStateException] {
      VectorIndex.maintain(spark, dir, all.filter(col("vec_id") >= 496),
        occupancyProbe = Some(OccupancyProbe(3.0,
          failUnrecovered = true)))
    }
    assert(ex.getMessage.contains("occupancy"), ex.getMessage)
    // the escalation itself still published (one rung up, recorded)
    assert(VectorIndex.loadMeta(spark, dir).wboost == 1)
    spark.catalog.clearCache()
  }

  test("scatter bandsExpr: family partitions are disjoint 16-bit covers " +
      "and family 1's generic form equals the fast path") {
    import spark.implicits._
    val sigs = (0 until 50).map(i => mix(i.toLong)).toDF("dhash")
    for (fam <- 1 to FingerprintIndex.MaxFamily) {
      val bands = sigs.select(col("dhash"), explode(expr(
          graft.sources.FingerprintIndex.bandsExpr("dhash", fam))).as("b"))
        .select(col("dhash"), col("b.band").as("band"), col("b.bv").as("bv"))
        .collect()
      // 4 bands per signature, every bv inside 16 bits
      assert(bands.length == 50 * 4)
      assert(bands.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 65536))
      // bijectivity: two signatures agreeing on ALL 4 bands are equal
      val byKey = bands.groupBy(r => (r.getLong(0)))
        .map { case (h, rs) => h -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
      assert(byKey.values.toSeq.distinct.size == byKey.size,
        s"family $fam lost bits: distinct sigs share all 4 band values")
    }
    spark.catalog.clearCache()
  }
}
