package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Write/read throughput stress harness — the engine's counterpart of the
  * reference's stress mains (ShuffleWriteStressTest.scala:85-105 prints
  * `speed MB/s` for threads × blockSize × totalSize; FsReadStressTest
  * likewise). Here the unit of work is the real sink/scan path: generate
  * rows → shuffled partitioned parquet write → full scan + aggregate.
  *
  * Usage: runMain graft.Stress [rows] [partitions] [outDir]
  * Prints one JSON line: {"write_mb_s":…, "read_mb_s":…, "rows":…, "bytes":…}
  *
  * Second mode — the scaling-curve instrument:
  *   runMain graft.Stress scaling [outFile]
  * measures, for each candidate-generating operator of the dedup/ANN
  * family, the WORK it enumerates (candidate pairs) at every available
  * scale factor, fits the growth exponent against corpus size, and
  * writes the table to SCALING.md. Candidate counts, not wall time:
  * at the test SFs runtime is fixed-overhead-dominated (a quadratic
  * enumeration hides inside ~1s of stage latency), while the candidate
  * count is exactly the quantity whose exponent must stay ~1 for the
  * plan to survive 100 TB. A deliberately-included contrast row measures
  * the retired nibble-band SimHash blocking (4-bit band values), whose
  * exponent ~2 is the defect this instrument exists to catch.
  */
object Stress {

  /** `scaleOf`: the probe's own driver-table row count — the x-axis its
    * exponent is fit against. Defaults to the documents corpus; a probe
    * whose enumeration is driven by a different table (the lineitem-
    * derived co-occurrence graph) must fit against THAT table, or the
    * flat sf0.001→sf0.01 documents axis (500→500) degrades the fit into
    * noise. */
  private case class Probe(name: String, note: String,
      work: (SparkSession, String) => Long,
      scaleOf: Option[(SparkSession, String) => Long] = None)

  /** Distinct df-capped shingle self-join candidates (q_ngram_jaccard's
    * enumeration, anti-join formulation). */
  private def ngramCandidates(s: SparkSession, d: String): Long = {
    import graft.operators.DedupOps
    val sh = DedupOps.shingles(s, d)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val cap = DedupOps.ngramDfCap(Tables.documents(s, d).count())
    val hot = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("h")
    val kept = sh.join(hot, Seq("h"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
  }

  /** RAW pair enumeration of the retired r5 SimHash blocking: 16 nibble
    * bands of a 64-bit SimHash — 256 total band values. Kept as the
    * contrast row: its exponent reads ~2 where the shipped designs read
    * ~1. Counted pre-hamming-filter because the enumeration itself is
    * the cost that kills the plan at scale. */
  private def nibbleCandidates(s: SparkSession, docs: org.apache.spark.sql.DataFrame): Long = {
    graft.functions.GraftFunctions.register(s)
    val sig = docs.select(col("doc_id"), expr("simhash64(hs)").as("sh64"))
      .filter(col("sh64").isNotNull)
    val bands = sig
      .select(col("doc_id"), col("sh64"), explode(expr("sequence(0, 15)")).as("k"))
      .withColumn("nib", expr("shiftrightunsigned(sh64, k * 4)") % 16)
    bands.as("x").join(bands.as("y"),
        col("x.k") === col("y.k") && col("x.nib") === col("y.nib") &&
          col("x.doc_id") < col("y.doc_id"))
      .count()
  }

  /** ANN LSH bucket-join candidates (corpus rows meeting the 10 probed
    * queries, pre-top-k) at the schedule-derived production width. */
  private def annLshCandidates(s: SparkSession, d: String): Long = {
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(s)
    val n = Tables.embeddings(s, d).count()
    val (width, probes) = (VectorOps.lshWidthFor(n), VectorOps.LshProbes)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        element_at(expr(s"hyperplane_sig(embedding, $width, 0)"), 1).as("bucket"))
    val q = Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        explode(expr(s"hyperplane_sig(embedding, $width, $probes)")).as("qbucket"))
    e.join(q, col("bucket") === col("qbucket") &&
      col("vec_id") =!= col("query_id")).count()
  }

  /** kNN-join candidates at the PRODUCTION width for each SF: width is
    * the corpus-growth dial (log2(n/targetBucket)), now the same
    * [[graft.operators.VectorOps.lshWidthFor]] schedule the registered
    * queries run — the exponent reads the EFFECTIVE growth under the
    * shipped schedule rather than the fixed-width quadratic. */
  private def knnJoinCandidates(s: SparkSession, d: String): Long = {
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(s)
    val n = Tables.embeddings(s, d).count()
    val width = VectorOps.lshWidthFor(n)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        element_at(expr(s"hyperplane_sig(embedding, $width, 0)"), 1).as("bucket"))
    val q = Tables.embeddings(s, d)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .select(col("query_id"),
        explode(expr(s"hyperplane_sig(qe, $width, ${VectorOps.LshProbes})"))
          .as("qbucket"))
    e.join(q, col("bucket") === col("qbucket") &&
      col("vec_id") =!= col("query_id")).count()
  }

  /** SF-growing linkage vocabulary: one id-seeded base-36 name (~13
    * chars) per part row — distinct-name diversity ∝ rows, the
    * precondition the TPC-H p_name vocabulary lacks (it saturates at 32
    * distinct names below sf0.001) — plus a planted 1-deletion twin for
    * every 10th key (drop the 3rd char), so the true near-miss pair
    * population grows ∝ n/10 while uniform 36^13-space deletion-key
    * collisions stay negligible. Same diversity-fixture design as the
    * image noise rows (noiseImageSigs). */
  private def linkageNameFixture(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val nameOf = lower(conv(abs(xxhash64(col("p_partkey"), lit(41)))
      .cast("string"), 10, 36))
    val base = Tables.part(s, d).select(nameOf.as("name"))
    val twins = Tables.part(s, d).filter(col("p_partkey") % 10 === 0)
      .select(nameOf.as("nm"))
      .select(concat(substring(col("nm"), 1, 2),
        expr("substring(nm, 4)")).as("name"))
    base.unionByName(twins)
      .groupBy("name").agg(count(lit(1)).as("n_ids"))
  }

  /** SF-growing containment fixture: every corpus doc becomes a base doc
    * with a 40-token id-seeded vocabulary (base-36 of xxhash64 — token
    * streams disjoint across docs by construction), and every 10th base
    * doc gains a planted SUBSET doc carrying its first 12 tokens — true
    * containment pairs grow ∝ n/10 while cross-doc shingle collisions
    * are ~0. The diversity-∝-corpus precondition the standard fixtures
    * lack (their fixed vocabulary saturates, inflating the containment
    * row the same way p_name deflates the fuzzy row). Ids stay disjoint
    * via the 2·bid / 2·bid+1 split. */
  private def containmentDocsFixture(s: SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tok = "lower(conv(CAST(abs(xxhash64(bid, j)) AS STRING), 10, 36))"
    val ids = Tables.documents(s, d).select(col("doc_id").as("bid"))
    val base = ids.select((col("bid") * 2).as("doc_id"),
      expr(s"concat_ws(' ', transform(sequence(0, 39), j -> $tok))").as("text"))
    val subs = ids.filter(col("bid") % 10 === 0)
      .select((col("bid") * 2 + 1).as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(0, 11), j -> $tok))").as("text"))
    base.unionByName(subs)
  }

  private def scalingMain(args: Array[String]): Unit = {
    import graft.operators.DedupOps
    val outFile = if (args.length > 1) args(1) else "SCALING.md"
    // extra scale points beyond the driver's three decades — in practice
    // the graft.tools.ScaleGen synthetic decade (distribution-matched,
    // never replicated; see its scaladoc), appended after the fixtures
    // so the fit gains an upper decade where the exponents matter
    val extra = args.drop(2).toSeq
    // unlike the built-in fixture list (legitimately optional), an
    // EXPLICITLY requested scale point must exist — silently dropping a
    // mistyped path would regenerate the table without the decade the
    // caller asked for, with no sign anything was lost
    extra.foreach(p => require(new java.io.File(p).isDirectory,
      s"extra scale dir does not exist: $p"))
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").filter(p => new java.io.File(p).isDirectory) ++
      extra
    // an exponent needs at least two scale points; with one the slope
    // divides by zero and every row would read NaN — which the verdict
    // rule's `> 1.3` silently never flags. Fail loudly instead.
    require(sfs.size >= 2,
      s"scaling needs >= 2 sf directories under /root/testdata, found $sfs")
    val spark = Session.local(8, "ERROR")

    val probes = Seq(
      Probe("ngram_capped_pairs",
        "distinct df-capped shingle self-join candidates (q_ngram_jaccard) — the EXACT ground-truth baseline: inverted-index pairing costs Σ df² and is superlinear BY DESIGN below the df cap; the sketch rows are the corpus-scale path",
        ngramCandidates),
      Probe("minhash_candidates",
        "width-capped MinHash band candidates (q_text_minhash, q_dedup_cluster)",
        (s, d) => DedupOps.minhashCandidates(s, DedupOps.docHashes(s, d)).count()),
      Probe("minhash_candidates_fam3",
        "width-capped MinHash band candidates at the ESCALATED family-3 geometry (9 rows/band x 68 bands — the precision ladder's first rung, DedupIndex.escalateBandFamily): J_bg^9 suppresses the background harder than the default family's J_bg^6, so this exponent must read at or under the family-2 row's — the measured form of the ladder's precision claim",
        (s, d) => DedupOps.minhashCandidatesAt(s,
          DedupOps.docHashes(s, d), 3).count()),
      Probe("containment_bottomk_candidates",
        "bottom-8 probe-vs-index candidates of the containment scale path (q_containment_bottomk) on the STANDARD corpus fixtures — reads superlinear HERE because the synthetic decade's vocabulary is fixed, so every posting grows ∝ corpus and the relative df cap (0.5%·docs) grows right along with it: a fixture-saturation artifact, the inverse of the fuzzy row's p_name degeneracy, kept as the saturated-regime reading; the flat LshBucketCap posting truncation bounds candidates <= 8·docs·1000 by construction once postings exceed it (inert below 1000 — these decades), and the diverse row below is the honest growth law",
        (s, d) => DedupOps.containmentBottomKCandidates(s,
          Tables.documents(s, d)).count()),
      Probe("containment_bottomk_diverse",
        "bottom-8 candidates over the id-seeded vocabulary fixture with planted subset docs (~n/10, 12-of-40-token prefixes): true containment pairs track the corpus while cross-doc shingle collisions are ~0 — the diversity-precondition reading of the containment growth, same fixture design as the image noise and linkage rows",
        (s, d) => DedupOps.containmentBottomKCandidates(s,
          containmentDocsFixture(s, d)).count()),
      Probe("simhash_candidates",
        "width-capped + hamming-gated 16-bit-band SimHash candidates (q_text_simhash)",
        (s, d) => DedupOps.simhashCandidates(s, DedupOps.docHashes(s, d)).count()),
      Probe("simhash_nibble_RETIRED",
        "CONTRAST ROW: r5 nibble-band blocking, raw enumeration — the ~2 exponent this instrument exists to catch",
        (s, d) => nibbleCandidates(s, DedupOps.docHashes(s, d))),
      Probe("cross_dedup_candidates",
        "incoming-vs-corpus band-join candidates, corpus side width-capped (q_cross_dedup) — must stay linear in the incoming batch",
        (s, d) => {
          val all = Tables.documents(s, d)
          DedupOps.crossDedupCandidates(s,
            DedupOps.docHashesOf(s, all.filter(col("doc_id") % 2 === 1)),
            DedupOps.docHashesOf(s, all.filter(col("doc_id") % 2 === 0))).count()
        }),
      Probe("ann_lsh_candidates",
        "hyperplane-bucket join candidates for 10 queries at the schedule-derived width, pre-top-k (q_ann_lsh)",
        annLshCandidates),
      Probe("knn_join_candidates",
        "all-pairs kNN bucket-join candidates, corpus side width-capped, pre-top-k (q_knn_join) — measured AT the production schedule (VectorOps.lshWidthFor, the registered query's own code path since r7); quadratic only at an artificially frozen width",
        knnJoinCandidates),
      Probe("ivf_probe_candidates",
        "probed-cell occupancy for 10 queries at nprobe=2 under the sqrt cell schedule (q_ann_ivf / q_ann_ivf_idx / the ADC twin q_ann_ivfpq_idx, whose cell-aligned codes enumerate the identical set) — expected ~0.5: occupancy ~ sqrt(50n), the sub-linear probe reading that separates an IVF search from a corpus scan; fit against EMBEDDINGS rows (its driver table)",
        graft.operators.VectorOps.ivfProbeCandidates,
        scaleOf = Some((s, d) => Tables.embeddings(s, d).count())),
      Probe("semantic_dedup_candidates",
        "within-cell pair candidates at the LINEAR cell schedule (q_semantic_dedup) — cells ~ n/50 keeps occupancy constant, so cell-scoped pairing stays ~linear; the IVF sqrt schedule would read ~1.5 here",
        graft.operators.VectorOps.semanticDedupCandidates),
      Probe("image_neardup_candidates",
        "banded hamming<=3 dHash signature pairs (q_image_neardup) over the FORMULA fixture — kept for continuity, but its signature space saturates (diversity stops growing with docs), so its exponent flatters the path; the two noise-fixture rows below are the honest instrument",
        (s, d) => {
          import graft.operators.MultiModalOps
          MultiModalOps.imageSigPairs(MultiModalOps.imageSigs(s, d)).count()
        }),
      Probe("image_sig_diversity",
        "DISTINCT dHash signatures on the id-seeded NOISE fixture (real PNG encode→decode→dhash) — must read ~1: it is the diversity-∝-corpus PRECONDITION the formula fixture lacks, making the pair row below measure what it claims",
        (s, d) => graft.operators.MultiModalOps.noiseImageSigs(s, d).count()),
      Probe("image_neardup_diverse",
        "banded hamming<=3 pairs over the noise fixture's DISTINCT signatures with planted twins (~n/10, hamming <= 2): post-gate candidates track the planted near-dup population ∝ corpus while uniform band collisions die at the in-join bit_count gate — the saturation-free reading of the image near-dup growth",
        (s, d) => {
          import graft.operators.MultiModalOps
          MultiModalOps.imageSigPairs(MultiModalOps.noiseImageSigs(s, d)).count()
        }),
      Probe("fuzzy_join_candidates",
        "deletion-neighborhood blocking candidates, per-key width-capped (q_fuzzy_join / q_entity_resolution), over an SF-GROWING id-seeded name vocabulary with planted 1-deletion twins (~n/10) — the TPC-H p_name vocabulary saturates below sf0.001 (32/32/32, exponent 0.00, a degenerate reading); id-seeded base-36 names keep distinct-name diversity ∝ rows so candidates track the planted near-miss population while uniform deletion-key collisions stay negligible; fit against PART rows (its driver table)",
        (s, d) => graft.operators.LinkOps.fuzzyCandidates(
          linkageNameFixture(s, d)).count(),
        scaleOf = Some((s, d) => Tables.part(s, d).count())),
      Probe("hybrid_lex_postings_pq",
        "PER-QUERY BM25 posting-join candidates of the hybrid retrieval lexical leg (q_hybrid_rrf) at the production schedule — per-query cost must track the corpus ~linearly on this dense-vocabulary fixture (each term's posting list ∝ corpus share; a real corpus's sparse vocabulary reads sublinear), while TOTAL work is bounded by HybridQueryBudget x this row: the fixed-fraction schedule alone would read ~2, which is exactly why the budget cap exists (RetrievalOps.HybridQueryBudget scaladoc)",
        (s, d) => {
          import graft.operators.RetrievalOps
          RetrievalOps.hybridLexPostingCount(s, d) /
            math.max(RetrievalOps.hybridQueryCount(s, d), 1L)
        }),
      Probe("triangle_wedge_candidates",
        "degree-oriented wedge space (Σ C(out_deg,2)) of the part co-occurrence graph — the enumeration BOUND of the triangle family, upper-bounding the shipped edge-iterator's Σ(d⁺a+d⁺b) intersect work (q_triangle_count); fit against LINEITEM rows (its driver table) — per-part degree plateaus once each part's order set saturates, so the space tracks vertices ~linearly, and the orientation bound caps the ceiling at O(edges^1.5) however hubby the catalog gets",
        graft.operators.GraphAnalyticsOps.wedgeCandidates,
        scaleOf = Some((s, d) => Tables.lineitem(s, d).count())),
    )

    val nDocs = sfs.map(d => Tables.documents(spark, d).count())
    val rows = probes.map { p =>
      val counts = sfs.map { d =>
        val c = p.work(spark, d)
        spark.catalog.clearCache()
        c
      }
      // least-squares slope of ln(count) vs ln(scale) across all SFs —
      // scale = the probe's own driver table (documents by default)
      val scale = p.scaleOf.map(f => sfs.map(d => f(spark, d)))
        .getOrElse(nDocs)
      val xs = scale.map(n => math.log(n.toDouble))
      val ys = counts.map(c => math.log(math.max(c, 1).toDouble))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      (p, counts, slope)
    }

    val sb = new StringBuilder
    sb ++= "## Measured candidate-growth exponents\n\n"
    sb ++= "Generated by `sbt 'runMain graft.Stress scaling'`. For each\n"
    sb ++= "candidate-generating operator, the table shows the WORK it\n"
    sb ++= "enumerates at each scale factor and the least-squares exponent of\n"
    sb ++= "count vs corpus size (docs). Candidate counts, not wall time:\n"
    sb ++= "at these SFs runtime is stage-overhead-dominated, while the\n"
    sb ++= "candidate exponent is what decides survival at 100 TB. An\n"
    sb ++= "exponent ~1 means enumeration grows linearly with the corpus;\n"
    sb ++= "~2 means an all-pairs blowup. The RETIRED row keeps the r5\n"
    sb ++= "nibble-band SimHash design as the instrument's positive control.\n"
    if (extra.nonEmpty)
      sb ++= ("Columns beyond sf0.1 are graft.tools.ScaleGen SYNTHETIC\n" +
        "decades — distribution-matched to the source fixture, control-\n" +
        "validated at factor 1 (see the r16 note above the table).\n")
    sb ++= "\n"
    sb ++= ("| probe | " + sfs.map(_.split('/').last).mkString(" | ") +
      " | exponent | note |\n")
    sb ++= ("|---|" + sfs.map(_ => "---|").mkString + "---|---|\n")
    sb ++= (s"| corpus docs | " + nDocs.mkString(" | ") + " | 1.00 | — |\n")
    rows.foreach { case (p, counts, slope) =>
      sb ++= f"| ${p.name} | ${counts.mkString(" | ")} | $slope%.2f | ${p.note} |\n"
    }
    sb ++= "\nVerdict rule: a shipped SKETCH probe reading an exponent above\n"
    sb ++= "~1.3 is a scale defect (band entropy and the width caps exist to\n"
    sb ++= "keep these linear); the RETIRED contrast row is expected ~2, and\n"
    sb ++= "the exact ngram baseline is allowed to read high — it is the\n"
    sb ++= "oracle generator, not the corpus-scale path, and its df cap\n"
    sb ++= "bounds per-shingle (not total) work.\n\n"
    sb ++= "History: this instrument flagged two designs — r5's nibble-band\n"
    sb ++= "SimHash (exponent 2.0, kept below as the contrast row) and r5's\n"
    sb ++= "r=2 MinHash banding (exponent 1.84 from background J≈0.03-0.05\n"
    sb ++= "pairs leaking through 32·J² band collisions; fixed by r=6, the\n"
    sb ++= "log-n rows-per-band law in MinHashSig's scaladoc).\n"
    // splice into the marked section of the curated doc (the rest of
    // SCALING.md is hand-written design posture — never regenerate it)
    val path = java.nio.file.Paths.get(outFile)
    val (begin, end) = ("<!-- scaling:measured:begin -->",
      "<!-- scaling:measured:end -->")
    val existing = if (java.nio.file.Files.exists(path))
      new String(java.nio.file.Files.readAllBytes(path), "UTF-8") else ""
    val block = s"$begin\n${sb.toString}$end\n"
    val merged =
      if (existing.contains(begin) && existing.contains(end)) {
        // keep everything after the end marker verbatim (however the
        // curated doc is formatted), trimming only one leading newline
        val after = existing.substring(existing.indexOf(end) + end.length)
        existing.substring(0, existing.indexOf(begin)) + block +
          after.stripPrefix("\n")
      }
      else if (existing.nonEmpty) existing.stripTrailing() + "\n\n" + block
      else block
    java.nio.file.Files.write(path, merged.getBytes("UTF-8"))
    println(s"wrote $outFile")
    rows.foreach { case (p, counts, slope) =>
      println(f"${p.name}%-24s exp=$slope%.2f counts=${counts.mkString(",")}")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("scaling")) { scalingMain(args); return }
    val rows = if (args.length > 0) args(0).toLong else 2000000L
    val parts = if (args.length > 1) args(1).toInt else 32
    val out = if (args.length > 2) args(2)
      else Files.createTempDirectory("graft-stress").toString + "/data"
    val spark = Session.local(4)

    // synthetic records ≈ the reference's random blocks: key + 100B payload
    val df = spark.range(rows).select(
      col("id"),
      pmod(Tables.phash(col("id")), lit(parts)).as("bucket"),
      sha2(col("id").cast("string"), 256).as("payload"))

    val t0 = System.nanoTime()
    df.repartition(parts, col("bucket"))
      .write.mode("overwrite").parquet(out)
    val writeSec = (System.nanoTime() - t0) / 1e9

    val bytes = {
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(out)).getLength
    }

    val t1 = System.nanoTime()
    val n = spark.read.parquet(out)
      .agg(count(lit(1)), max(length(col("payload")))).head().getLong(0)
    val readSec = (System.nanoTime() - t1) / 1e9
    require(n == rows, s"read back $n of $rows rows")

    val mb = bytes / 1e6
    println(f"""{"write_mb_s":${mb / writeSec}%.1f,"read_mb_s":${mb / readSec}%.1f,"rows":$rows,"bytes":$bytes}""")
    spark.stop()
  }
}
