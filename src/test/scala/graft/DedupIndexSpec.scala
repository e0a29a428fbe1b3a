package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{DedupIndex, StorageOps}

/** Incremental index maintenance must be indistinguishable from a full
  * rebuild: mergePublish(old index, batch) == publishFrom(latest-wins
  * union) on both artifacts — so consumers can alternate full rebuilds
  * and incremental merges freely. */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).sorted.toList, r.getLong(2), r.getBoolean(3))).toSet
  private def bandRows(df: DataFrame) =
    df.select("band", "minhash", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("mergePublish equals a full rebuild of the latest-wins union") {
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val oldCorpus = full.filter(col("doc_id") % 3 =!= 0)
    // the batch: the missing third, plus EDITED resubmissions of ids the
    // old index already holds (latest-wins must replace their rows)
    val batch = full.filter(col("doc_id") % 3 === 0)
      .unionByName(full.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 7 === 1)
        .select(col("doc_id"), concat(col("text"), lit(" edited")).as("text")))
    val resubmitted = batch.join(oldCorpus, "doc_id").count()
    assert(resubmitted > 0, "no id overlap - latest-wins path not exercised")

    val base = java.nio.file.Files.createTempDirectory("graft-idx-merge")
    val dirA = s"$base/a"; val dirB = s"$base/b"; val dirC = s"$base/c"
    DedupIndex.publishFrom(spark, oldCorpus, dirA)
    val (nDocs, nBands) = DedupIndex.mergePublish(spark, dirA, batch, dirB)
    assert(DedupIndex.isPublished(spark, dirB))
    assert(nBands == nDocs * graft.functions.MinHashSig.DefaultBands)

    // reference: a from-scratch publish of the same latest-wins corpus
    val combined = oldCorpus.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch)
    DedupIndex.publishFrom(spark, combined, dirC)

    assert(docRows(DedupIndex.loadDocs(spark, dirB)) ==
      docRows(DedupIndex.loadDocs(spark, dirC)), "docs artifacts differ")
    assert(bandRows(DedupIndex.loadBands(spark, dirB)) ==
      bandRows(DedupIndex.loadBands(spark, dirC)), "bands artifacts differ")
    // the precision probe rides the same contract: merged probe rows
    // (stored minus replaced plus batch-sampled, incl. the EDITED docs'
    // re-derived bands) equal the from-scratch publish's, at the same
    // frozen sample modulus
    def probeRows(dir: String) = DedupIndex.loadProbe(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(DedupIndex.loadMeta(spark, dirB).probemod ==
      DedupIndex.loadMeta(spark, dirA).probemod, "merge moved the frozen mod")
    assert(probeRows(dirB) == probeRows(dirC), "probe artifacts differ")
  }

  test("band-family guard: a pre-r16 artifact refuses probes loudly and " +
      "a merge upgrades its bands from the stored hash sets") {
    import spark.implicits._
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-idx-fam")
    val dir = s"$base/old"; val dirB = s"$base/up"; val dirC = s"$base/ref"
    DedupIndex.publishFrom(spark, full.filter(col("doc_id") % 3 =!= 0), dir)
    // simulate a pre-family artifact: rewrite meta WITHOUT bandfam —
    // the stored band values then read as the retired linear family's
    val DedupIndex.Meta(nd, pt, pm, _) = DedupIndex.loadMeta(spark, dir)
    Seq((nd, pt, pm)).toDF("ndocs", "parts", "probemod")
      .write.mode("overwrite").parquet(s"$dir/meta")
    assert(DedupIndex.loadMeta(spark, dir).bandfam == 1)
    // probing old-family band values with new-family keys would
    // silently miss every match — it must refuse instead
    val ex = intercept[IllegalArgumentException] {
      DedupIndex.loadBands(spark, dir).count()
    }
    assert(ex.getMessage.contains("band family"), ex.getMessage)
    intercept[IllegalArgumentException] {
      DedupIndex.prunedBands(spark, dir, DedupIndex.loadMeta(spark, dir),
        spark.range(1).selectExpr("id AS band", "id AS bv"))
    }
    // the merge upgrades: bands rebuild from the family-independent
    // stored hash sets and equal a from-scratch publish of the union
    val batch = full.filter(col("doc_id") % 3 === 0)
    val (_, st) = DedupIndex.mergePublishStats(spark, dir, batch, dirB)
    assert(st.bandsFullRewrite, "family upgrade did not rewrite bands")
    assert(DedupIndex.loadMeta(spark, dirB).bandfam == DedupIndex.BandFamily)
    DedupIndex.publishFrom(spark, full, dirC)
    assert(bandRows(DedupIndex.loadBands(spark, dirB)) ==
      bandRows(DedupIndex.loadBands(spark, dirC)),
      "upgraded bands differ from the from-scratch publish")
    // the probe's stored layer is FAMILY-FREE base hashes (r17), so the
    // upgrading merge MAINTAINS it — the merged probe equals the fresh
    // publish's at the preserved sample modulus
    assert(DedupIndex.hasProbe(spark, dirB))
    assert(DedupIndex.loadMeta(spark, dirB).probemod ==
      DedupIndex.loadMeta(spark, dirC).probemod)
    def probeRows(dir2: String) = DedupIndex.loadProbe(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(probeRows(dirB) == probeRows(dirC),
      "upgraded probe differs from the from-scratch publish")
    spark.catalog.clearCache()
  }

  test("precision probe: portable bands verify against the doc store " +
      "above the fixture floor (r15 verdict #5)") {
    val base = java.nio.file.Files.createTempDirectory("graft-idx-prec")
    val dir = s"$base/p"
    DedupIndex.publishFrom(spark,
      Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id"), col("text")), dir)
    assert(DedupIndex.hasProbe(spark, dir))
    assert(DedupIndex.loadMeta(spark, dir).probemod == 1,
      "500-doc fixture must sample every doc (mod 1)")
    val probe = DedupIndex.loadProbe(spark, dir)
    // 32 band rows per sampled doc that shingled
    assert(probe.groupBy("doc_id").count()
      .filter(col("count") =!= 32).count() == 0)
    val cand = probe.alias("a").join(probe.alias("b"),
        col("a.band") === col("b.band") && col("a.pbv") === col("b.pbv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nCand = cand.count()
    val nVer = graft.operators.DedupOps
      .verifyPairs(cand, DedupIndex.loadDocs(spark, dir)).count()
    info(s"text probe precision = $nVer/$nCand")
    assert(nCand > 0, "fixture produced no banded candidates to verify")
    // the fixture's planted near-dups dominate its band collisions: a
    // silent precision collapse (flooded buckets admitting unrelated
    // docs) would read well below this floor
    assert(nVer.toDouble / nCand >= 0.5,
      s"probe precision ${nVer.toDouble / nCand} below the fixture floor")
  }

  test("stored probe bands equal the on-read derivation at the recorded " +
      "family, through publish and escalation (r18)") {
    val base = java.nio.file.Files.createTempDirectory("graft-idx-pb")
    val root = s"$base/r"
    DedupIndex.publishVersionedFrom(spark,
      Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id"), col("text")), root)
    def stored(dir: String) = spark.read.parquet(s"$dir/probe_bands")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("pbv"))).toSet
    def derived(dir: String) = graft.operators.DedupOps.probeBandsFromPres(
        spark, spark.read.parquet(s"$dir/probe").select("doc_id", "pre"),
        DedupIndex.loadMeta(spark, dir).bandfam)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val v1 = StorageOps.currentDir(spark, root)
    assert(stored(v1) == derived(v1),
      "publish-time stored probe bands != the on-read derivation")
    DedupIndex.escalateBandFamily(spark, root)
    val v2 = StorageOps.currentDir(spark, root)
    assert(DedupIndex.loadMeta(spark, v2).bandfam == DedupIndex.BandFamily + 1)
    assert(stored(v2) == derived(v2),
      "escalated stored probe bands != the deeper-family derivation")
    assert(stored(v2) != stored(v1),
      "escalation must re-derive the probe bands at the deeper family")
    spark.catalog.clearCache()
  }

  test("artifact-backed cross-dedup equals the inline q_cross_dedup plan") {
    val d = TestSpark.sf0001
    val inline = SparkEntry.queries("q_cross_dedup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    val viaIdx = SparkEntry.queries("q_cross_dedup_idx")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inline.nonEmpty && viaIdx == inline)
    spark.catalog.clearCache()
  }

  test("published bands keep the hive-partitioned one-file-per-partition layout") {
    // publish AND merge must both land bands hive-partitioned by dpart,
    // one data file per partition directory, values inside the recorded
    // layout modulus — the invariant the pruned probe relies on
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-idx-layout")
    val dirA = s"$base/a"; val dirB = s"$base/b"
    DedupIndex.publishFrom(spark, full.filter(col("doc_id") % 2 === 0), dirA)
    DedupIndex.mergePublish(spark, dirA,
      full.filter(col("doc_id") % 2 === 1), dirB)
    for (dir <- Seq(dirA, dirB)) {
      val parts = DedupIndex.loadMeta(spark, dir).parts
      val root = new java.io.File(s"$dir/bands")
      val partDirs = root.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("dpart="))
      assert(partDirs.nonEmpty, s"$dir/bands has no dpart hive directories")
      partDirs.foreach { pd =>
        val files = pd.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"$dir/bands/${pd.getName} holds ${files.length} data files, want 1")
        val value = pd.getName.stripPrefix("dpart=").toLong
        assert(value >= 0 && value < parts,
          s"$dir/bands/${pd.getName} outside the layout modulus $parts")
      }
      assert(!root.listFiles().exists(f =>
          f.isFile && f.getName.endsWith(".parquet")),
        s"$dir/bands has data files outside partition directories")
    }
    spark.catalog.clearCache()
  }

  test("limit 0 forces the full band scan, result-identical to the pruned probe") {
    // pruneRowLimit = 0 closes the prune gate: the probe must read the
    // whole band table and still produce exactly the pruned path's rows
    val d = TestSpark.sf0001
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-prune").toString
    val all = operators.DedupOps.docHashes(spark, d)
    DedupIndex.publishFrom(spark,
      Tables.documents(spark, d).filter(col("doc_id") % 2 === 0), dir)
    val batch = all.filter(col("doc_id") % 2 === 1)
    def rows(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = rows(operators.DedupOps.crossDedupBestFromIndex(
      spark, dir, batch).select("doc_id", "match_id", "jaccard"))
    val full = rows(operators.DedupOps.crossDedupBestFromIndex(
      spark, dir, batch, pruneRowLimit = 0L)
      .select("doc_id", "match_id", "jaccard"))
    assert(pruned.nonEmpty && full == pruned)
    spark.catalog.clearCache()
  }

  test("an empty probe batch returns empty (the zero-literal isin edge)") {
    // the pruned path derives an EMPTY partition set from an empty batch
    // and must degrade to an empty (not failing) scan
    val d = TestSpark.sf0001
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-empty").toString
    DedupIndex.publishFrom(spark,
      Tables.documents(spark, d).select(col("doc_id"), col("text")).limit(50), dir)
    val none = operators.DedupOps.crossDedupBestFromIndex(spark, dir,
      operators.DedupOps.docHashes(spark, d).filter(col("doc_id") < 0))
    assert(none.count() == 0)
    spark.catalog.clearCache()
  }

  test("merge rewrites only dirty partitions; the clean majority is " +
      "hard-copied byte-identical") {
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-idx-inc")
    val dirA = s"$base/a"; val dirB = s"$base/b"; val dirC = s"$base/c"
    val oldCorpus = full.filter(col("doc_id") =!= 7)
    // a 2-doc batch: one brand-new id, one EDITED resubmission — ~96
    // band keys (64 new + 32 replaced-old) against the 64-partition
    // floor, 2 doc partitions; everything else must be copied
    val batch = full.filter(col("doc_id") === 7)
      .unionByName(full.filter(col("doc_id") === 11)
        .select(col("doc_id"), concat(col("text"), lit(" edited")).as("text")))
    DedupIndex.publishFrom(spark, oldCorpus, dirA)
    val ((nd, nb), st) = DedupIndex.mergePublishStats(spark, dirA, batch, dirB)
    assert(!st.docsFullRewrite && !st.bandsFullRewrite, st.toString)
    assert(st.dirtyDocParts <= 2 && st.copiedDocParts > 0, st.toString)
    assert(st.dirtyBandParts < st.parts && st.copiedBandParts > 0,
      st.toString)
    assert(st.dirtyBandParts + st.copiedBandParts <= st.parts)
    // copied partition directories keep the live index's file names and
    // bytes (a hard copy, no decode); dirty ones get fresh writer files
    for ((ds, copiedWant) <- Seq("docs" -> st.copiedDocParts,
        "bands" -> st.copiedBandParts)) {
      var copied = 0
      for (pd <- new java.io.File(s"$dirB/$ds").listFiles()
          .filter(d => d.isDirectory && d.getName.startsWith("dpart="))) {
        val f2 = pd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val f1 = new java.io.File(s"$dirA/$ds/${pd.getName}/${f2.getName}")
        if (f1.isFile) {
          copied += 1
          assert(java.util.Arrays.equals(
            java.nio.file.Files.readAllBytes(f1.toPath),
            java.nio.file.Files.readAllBytes(f2.toPath)),
            s"copied $ds/${pd.getName} not byte-identical")
        }
      }
      assert(copied == copiedWant,
        s"$ds: $copied dirs share live file names, stats say $copiedWant")
    }
    // and the partition-level merge still equals a full rebuild
    val combined = oldCorpus
      .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch)
    DedupIndex.publishFrom(spark, combined, dirC)
    assert(docRows(DedupIndex.loadDocs(spark, dirB)) ==
      docRows(DedupIndex.loadDocs(spark, dirC)))
    assert(bandRows(DedupIndex.loadBands(spark, dirB)) ==
      bandRows(DedupIndex.loadBands(spark, dirC)))
    assert((nd, nb) == (combined.count(),
      combined.count() * graft.functions.MinHashSig.DefaultBands))
    spark.catalog.clearCache()
  }

  test("legacy artifact (no meta, flat datasets): probes degrade to the " +
      "full scan, a merge upgrades the layout") {
    val d = TestSpark.sf0001
    val full = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val corpus = full.filter(col("doc_id") % 2 === 0)
    val base = java.nio.file.Files.createTempDirectory("graft-idx-legacy")
    val dir = s"$base/legacy"; val modern = s"$base/modern"
    val upgraded = s"$base/up"; val modernMerged = s"$base/mm"
    DedupIndex.publishFrom(spark, corpus, modern)
    // hand-build the pre-layout artifact: same datasets, unpartitioned,
    // no meta at all
    DedupIndex.loadDocs(spark, modern).write.parquet(s"$dir/docs")
    DedupIndex.loadBands(spark, modern).write.parquet(s"$dir/bands")
    assert(DedupIndex.isPublished(spark, dir))
    assert(DedupIndex.loadMeta(spark, dir).parts == 0)
    // the no-meta acceptance is LEGACY-ONLY: a PARTITIONED layout
    // missing meta is a torn merge (crash between the dataset writes
    // and the meta-last commit), and must read as unpublished
    val torn = s"$base/torn"
    for (ds <- Seq("docs", "bands"))
      spark.read.parquet(s"$modern/$ds")
        .write.partitionBy("dpart").parquet(s"$torn/$ds")
    assert(!DedupIndex.isPublished(spark, torn),
      "a partitioned artifact without meta passed the publish gate")
    // the artifact-backed probe answers identically through the
    // full-scan fallback — OBSOLETE since the r16 band-family guard: a
    // meta-less artifact's permutation family is UNKNOWN (it reads as
    // the retired one), so probing it must refuse loudly instead of
    // silently joining incomparable band keys; the merge below is the
    // sanctioned path back to a probeable artifact
    val probe = operators.DedupOps.docHashes(spark, d)
      .filter(col("doc_id") % 2 === 1)
    def rows(df: DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exLegacy = intercept[IllegalArgumentException] {
      operators.DedupOps.crossDedupBestFromIndex(spark, dir, probe).count()
    }
    assert(exLegacy.getMessage.contains("band family"),
      exLegacy.getMessage)
    // a merge takes the full-rewrite path and upgrades the layout
    val batch = full.filter(col("doc_id") % 2 === 1)
    val (_, st) = DedupIndex.mergePublishStats(spark, dir, batch, upgraded)
    assert(st.docsFullRewrite && st.bandsFullRewrite, st.toString)
    assert(DedupIndex.loadMeta(spark, upgraded).parts == st.parts && st.parts > 0)
    DedupIndex.mergePublish(spark, modern, batch, modernMerged)
    assert(docRows(DedupIndex.loadDocs(spark, upgraded)) ==
      docRows(DedupIndex.loadDocs(spark, modernMerged)))
    assert(bandRows(DedupIndex.loadBands(spark, upgraded)) ==
      bandRows(DedupIndex.loadBands(spark, modernMerged)))
    // and the upgraded artifact is probeable again, answering like its
    // always-modern twin
    assert(rows(operators.DedupOps
        .crossDedupBestFromIndex(spark, upgraded, probe)
        .select("doc_id", "match_id", "jaccard")) ==
      rows(operators.DedupOps
        .crossDedupBestFromIndex(spark, modernMerged, probe)
        .select("doc_id", "match_id", "jaccard")))
    spark.catalog.clearCache()
  }

  test("versioned root: maintain merges, flips the pointer, prunes old versions") {
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft-idx-maint")
    val root = s"$base/root"; val ref = s"$base/ref"
    DedupIndex.publishVersionedFrom(spark, full.filter(col("doc_id") % 3 === 0), root)
    assert(DedupIndex.isPublishedVersioned(spark, root))
    val v1 = StorageOps.currentDir(spark, root)
    // an index published at its own corpus count carries no drift
    assert(!DedupIndex.needsRebuild(spark, v1))

    val (_, st2) = DedupIndex.maintain(spark, root,
      full.filter(col("doc_id") % 3 === 1))
    val v2 = StorageOps.currentDir(spark, root)
    assert(v2 != v1, "maintain did not flip the pointer")
    assert(!st2.docsFullRewrite && !st2.bandsFullRewrite,
      s"fixture-scale maintain took the O(index) path: $st2")

    val ((nd3, nb3), _) = DedupIndex.maintain(spark, root,
      full.filter(col("doc_id") % 3 === 2))
    val v3 = StorageOps.currentDir(spark, root)
    // keep = 2: the active version plus one predecessor survive the prune
    val vdirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => s"$root/${f.getName}").toSet
    assert(vdirs == Set(v2, v3), s"prune kept $vdirs, want {$v2, $v3}")

    // two maintain cycles == a from-scratch publish of the whole corpus
    DedupIndex.publishFrom(spark, full, ref)
    assert(docRows(DedupIndex.loadDocs(spark, v3)) ==
      docRows(DedupIndex.loadDocs(spark, ref)))
    assert(bandRows(DedupIndex.loadBands(spark, v3)) ==
      bandRows(DedupIndex.loadBands(spark, ref)))
    assert((nd3, nb3) == (full.count(),
      full.count() * graft.functions.MinHashSig.DefaultBands))
    // legacy artifacts always report drift (the rewrite is their upgrade)
    val legacy = s"$base/legacy"
    DedupIndex.loadDocs(spark, ref).write.parquet(s"$legacy/docs")
    DedupIndex.loadBands(spark, ref).write.parquet(s"$legacy/bands")
    assert(DedupIndex.needsRebuild(spark, legacy))
    spark.catalog.clearCache()
  }

  test("health stats: the non-portable band-occupancy invariants hold") {
    // q_dedup_index_stats' oracle replays every PORTABLE column from raw
    // docs; the xxhash64-derived per-(band, minhash) occupancy has no SQL
    // twin, so its invariants pin here: 32 band rows per indexed doc,
    // bucket widths within [1, ndocs], and the planted duplicate pairs
    // colliding in at least one bucket of width >= 2
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-health").toString
    DedupIndex.publishFrom(spark,
      Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id"), col("text")), dir)
    val ndocs = DedupIndex.loadMeta(spark, dir).ndocs
    assert(ndocs == DedupIndex.loadDocs(spark, dir).count())
    val widths = DedupIndex.loadBands(spark, dir)
      .groupBy("band", "minhash").count()
    val (wMax, rows) = {
      val r = widths.agg(max("count"), sum("count")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(rows == ndocs * graft.functions.MinHashSig.DefaultBands)
    assert(wMax >= 2 && wMax <= ndocs,
      s"max bucket width $wMax outside [2, $ndocs]")
    spark.catalog.clearCache()
  }

  test("maintain's compaction hook restores one file per partition, rows intact") {
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val root = s"${java.nio.file.Files.createTempDirectory("graft-idx-compact")}/root"
    DedupIndex.publishVersionedFrom(spark, full, root)
    val live = StorageOps.currentDir(spark, root)
    val rows0 = docRows(DedupIndex.loadDocs(spark, live))
    // fragment one docs partition the way a foreign writer would: split
    // its single file into two
    val pd = new java.io.File(s"$live/docs").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("dpart="))
      .maxBy(d => d.listFiles().map(_.length()).sum)
    val frag = spark.read.parquet(pd.toString).repartition(2)
    val tmp = s"${pd}__frag"
    frag.write.parquet(tmp)
    org.apache.hadoop.fs.FileUtil.fullyDelete(pd)
    new java.io.File(tmp).renameTo(pd)
    assert(pd.listFiles().count(f => f.getName.endsWith(".parquet")) == 2)

    assert(DedupIndex.compactIfFragmented(spark, root),
      "hook did not detect the fragmented partition")
    val compacted = StorageOps.currentDir(spark, root)
    assert(compacted != live)
    for (ds <- Seq("docs", "bands");
        d <- new java.io.File(s"$compacted/$ds").listFiles()
          if d.isDirectory && d.getName.startsWith("dpart="))
      assert(d.listFiles().count(f => f.getName.endsWith(".parquet")) <= 1,
        s"$ds/${d.getName} still fragmented after compaction")
    assert(docRows(DedupIndex.loadDocs(spark, compacted)) == rows0,
      "compaction changed the doc rows")
    // and a healthy version is a no-op
    assert(!DedupIndex.compactIfFragmented(spark, root))
    spark.catalog.clearCache()
  }

  test("mergePublish refuses to write into the live index") {
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-self").toString
    DedupIndex.publishFrom(spark, full.limit(50), dir)
    intercept[IllegalArgumentException] {
      DedupIndex.mergePublish(spark, dir, full.limit(10), dir)
    }
  }
}
