package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VectorOps
import graft.sources.{StorageOps, VectorIndex}

/** The published vector index must be (a) gate-consistent — the pointer
  * flips only over fully committed datasets; (b) probe-faithful — the
  * artifact-backed probe/search reproduce the inline plans' rows exactly;
  * (c) merge-sound — mergePublish equals a rebuild at the frozen
  * geometry + centroids (the DedupIndexSpec contract, adapted: a FREE
  * rebuild retrains centroids, so the equivalence target is the frozen
  * one, which is exactly what IVF ingest promises). */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def allEmb =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))

  private def bucketRows(df: DataFrame) =
    df.select("bucket", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  private def cellRows(df: DataFrame) =
    df.select("cell", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet

  test("publish -> gate -> load roundtrip with coherent meta") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx").toString
    assert(!VectorIndex.isPublished(spark, dir))
    val m = VectorIndex.publishFrom(spark, allEmb, dir)
    assert(VectorIndex.isPublished(spark, dir))
    assert(VectorIndex.loadMeta(spark, dir) == m)
    val n = allEmb.count()
    assert(m.n == n && m.width == VectorOps.lshWidthFor(n) &&
      m.cells == VectorOps.ivfCellsFor(n))
    // cells carry every corpus vector exactly once; buckets at most once
    // (the width cap may drop flooded members, inert at this SF)
    assert(VectorIndex.loadCells(spark, dir).count() == n)
    assert(VectorIndex.loadBuckets(spark, dir).select("vec_id")
      .distinct().count() == n)
    assert(VectorIndex.loadCentroids(spark, dir).count() <= m.cells)
    spark.catalog.clearCache()
  }

  test("artifact probe equals the inline cross-dedup plan") {
    val q = SparkEntry.queries("q_embed_cross_dedup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qi = SparkEntry.queries("q_embed_cross_dedup_idx")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q.nonEmpty && qi == q)
    spark.catalog.clearCache()
  }

  test("artifact IVF search equals the inline q_ann_ivf plan") {
    val q = SparkEntry.queries("q_ann_ivf")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    spark.catalog.clearCache() // sharedAnn memo must not leak into _idx
    val qi = SparkEntry.queries("q_ann_ivf_idx")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(q.nonEmpty && qi == q)
    spark.catalog.clearCache()
  }

  test("artifact LSH search equals the inline q_ann_lsh plan") {
    val q = SparkEntry.queries("q_ann_lsh")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    spark.catalog.clearCache()
    val qi = SparkEntry.queries("q_ann_lsh_idx")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(q.nonEmpty && qi == q)
    spark.catalog.clearCache()
  }

  test("mergePublish equals a rebuild at the frozen geometry and centroids") {
    val full = allEmb
    val oldCorpus = full.filter(col("vec_id") % 3 =!= 0)
    // the batch: the missing third, plus RESUBMITTED ids with perturbed
    // embeddings (latest-wins must replace their bucket and cell rows)
    val resub = full.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 1)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(-x AS FLOAT))").as("embedding"))
    val batch = full.filter(col("vec_id") % 3 === 0).unionByName(resub)
    assert(resub.count() > 0, "no resubmitted ids - latest-wins not exercised")

    val base = java.nio.file.Files.createTempDirectory("graft-vecidx-merge")
    val dirA = s"$base/a"; val dirC = s"$base/c"
    val m0 = VectorIndex.publishFrom(spark, oldCorpus, dirA)
    val cent = VectorIndex.loadCentroids(spark, dirA)
    val m1 = VectorIndex.mergePublish(spark, dirA, batch)
    assert(VectorIndex.isPublished(spark, dirA))
    // geometry frozen; n re-counted over the merged corpus
    assert((m1.width, m1.probes, m1.cap, m1.cells) ==
      ((m0.width, m0.probes, m0.cap, m0.cells)))
    assert(m1.n == full.count())

    // reference: rebuild the latest-wins union at the SAME geometry and
    // centroids (publishWith — what the freeze contract promises)
    val combined = oldCorpus.join(batch.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(batch)
    VectorIndex.publishWith(spark, combined, dirC, m1, cent)
    assert(bucketRows(VectorIndex.loadBuckets(spark, dirA)) ==
      bucketRows(VectorIndex.loadBuckets(spark, dirC)), "bucket tables differ")
    assert(cellRows(VectorIndex.loadCells(spark, dirA)) ==
      cellRows(VectorIndex.loadCells(spark, dirC)), "cell lists differ")

    // the merge flipped to a NEW immutable version; the old one is
    // intact and still readable (mid-probe readers keep a whole index)
    assert(StorageOps.currentVersion(spark, dirA).contains("v2"))
    assert(spark.read.parquet(s"$dirA/v1/cells").count() == oldCorpus.count())
    // prune removes only non-active versions
    assert(StorageOps.pruneVersions(spark, dirA, keep = 1) == Seq("v1"))
    assert(VectorIndex.isPublished(spark, dirA))
    spark.catalog.clearCache()
  }

  test("mergePublish re-ranks the frozen width cap over the merged buckets") {
    // publish with an artificially tiny cap, then merge a batch into the
    // same buckets: the merged table must hold <= cap members per bucket
    // selected by the SAME (phash, id) rule a full rebuild applies
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-cap").toString
    val base = allEmb.filter(col("vec_id") % 2 === 0)
    val m0full = VectorIndex.publishFrom(spark, base, dir)
    val tiny = m0full.copy(cap = 2L)
    val cent = VectorIndex.loadCentroids(spark, dir)
    VectorIndex.publishWith(spark, base, dir, tiny, cent)
    val m1 = VectorIndex.mergePublish(spark, dir,
      allEmb.filter(col("vec_id") % 2 === 1))
    assert(m1.cap == 2L)
    val widths = VectorIndex.loadBuckets(spark, dir)
      .groupBy("bucket").count().agg(max("count")).collect()(0).getLong(0)
    assert(widths <= 2L, s"a merged bucket holds $widths > cap members")
    // equal to a frozen-geometry rebuild of the union (same rank rule)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-vecidx-cap2").toString
    VectorIndex.publishWith(spark, allEmb, dir2, m1, cent)
    assert(bucketRows(VectorIndex.loadBuckets(spark, dir)) ==
      bucketRows(VectorIndex.loadBuckets(spark, dir2)))

    // the DRAIN case: resubmit every 4th vector with a negated embedding
    // (most change buckets, draining flooded ones). A member the engaged
    // cap dropped earlier must be RE-ADMITTED exactly as a rebuild would
    // — the failure mode of merging the stored (already-truncated)
    // bucket rows instead of re-deriving from the uncapped cell store
    val moved = allEmb.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(-x AS FLOAT))").as("embedding"))
    val m2 = VectorIndex.mergePublish(spark, dir, moved)
    val drained = allEmb.filter(col("vec_id") % 4 =!= 0).unionByName(moved)
    val dir3 = java.nio.file.Files.createTempDirectory("graft-vecidx-cap3").toString
    VectorIndex.publishWith(spark, drained, dir3, m2, cent)
    assert(bucketRows(VectorIndex.loadBuckets(spark, dir)) ==
      bucketRows(VectorIndex.loadBuckets(spark, dir3)),
      "merge after a bucket drain diverged from the frozen-geometry rebuild")
    spark.catalog.clearCache()
  }

  test("limit 0 forces the shuffle path, result-identical to the gated path") {
    // broadcastRowLimit = 0 closes the query-batch hint gate: the batch
    // joins must reach the planner un-hinted — and with auto-broadcast
    // off that is REAL (no size-based rescue at this tiny SF) — and the
    // un-pruned full-index scan must produce exactly the gated rows.
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-gate").toString
    VectorIndex.publishFrom(spark, allEmb, dir, pq = true)
    val qs = allEmb.filter(col("vec_id") < 10)
    val odd = allEmb.filter(col("vec_id") % 2 === 1)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshHint = rows(VectorIndex.searchLsh(spark, dir, qs, k = 5))
    val ivfHint = rows(VectorIndex.searchIvf(spark, dir, qs, k = 5, nprobe = 2))
    val pqHint = rows(VectorIndex.searchIvfPq(spark, dir, qs, k = 5, nprobe = 2))
    val refHint = rows(VectorIndex.searchIvfPqRefine(spark, dir, qs, k = 5,
      nprobe = 2))
    val probeHint = pairs(VectorIndex.probeBestMatch(spark, dir, odd, 0.45))
    val matchHint = pairs(VectorIndex.matchesAbove(spark, dir, odd, 0.45)
      .select("in_id", "corpus_id"))
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val lshShuf = VectorIndex.searchLsh(spark, dir, qs, k = 5,
        broadcastRowLimit = 0L)
      val p = lshShuf.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"batch still broadcast under limit 0:\n$p")
      assert(lshHint.nonEmpty && rows(lshShuf) == lshHint)
      assert(ivfHint.nonEmpty && rows(VectorIndex.searchIvf(spark, dir, qs,
        k = 5, nprobe = 2, broadcastRowLimit = 0L)) == ivfHint)
      assert(pqHint.nonEmpty && rows(VectorIndex.searchIvfPq(spark, dir, qs,
        k = 5, nprobe = 2, broadcastRowLimit = 0L)) == pqHint)
      assert(refHint.nonEmpty && rows(VectorIndex.searchIvfPqRefine(spark,
        dir, qs, k = 5, nprobe = 2, broadcastRowLimit = 0L)) == refHint)
      assert(probeHint.nonEmpty && pairs(VectorIndex.probeBestMatch(spark,
        dir, odd, 0.45, broadcastRowLimit = 0L)) == probeHint)
      assert(matchHint.nonEmpty && pairs(VectorIndex.matchesAbove(spark,
        dir, odd, 0.45, broadcastRowLimit = 0L)
        .select("in_id", "corpus_id")) == matchHint)
      // matchesAbove is probeBestMatch without the rank-1 fold: folding
      // its rows to (max sim, min id) per incoming must reproduce the
      // best-match pairs exactly
      val folded = VectorIndex.matchesAbove(spark, dir, odd, 0.45)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (in, rs) => (in, rs.minBy(t => (-t._3, t._2))._2) }
        .toSet
      assert(folded == probeHint, "matchesAbove fold diverged from probeBestMatch")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    spark.catalog.clearCache()
  }

  test("published versions keep the hive-partitioned one-file-per-partition layout") {
    // a publish AND a merge must both land buckets/cells hive-partitioned
    // by the key-derived column, one data file per partition directory,
    // values inside the version's recorded layout modulus — the invariant
    // the pruned probe path relies on; a refactor that flattens the
    // layout (or strands loose files beside it) must fail here
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-layout").toString
    VectorIndex.publishFrom(spark, allEmb.filter(col("vec_id") % 2 === 0), dir)
    VectorIndex.mergePublish(spark, dir, allEmb.filter(col("vec_id") % 2 === 1))
    for (v <- Seq("v1", "v2"); ds <- Seq("buckets", "cells")) {
      val pcol = if (ds == "buckets") "bpart=" else "cpart="
      val parts = spark.read.parquet(s"$dir/$v/meta")
        .collect()(0).getAs[Int]("parts")
      val root = new java.io.File(s"$dir/$v/$ds")
      val partDirs = root.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith(pcol))
      assert(partDirs.nonEmpty, s"$v/$ds has no $pcol hive directories")
      partDirs.foreach { pd =>
        val files = pd.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"$v/$ds/${pd.getName} holds ${files.length} data files, want 1")
        val value = pd.getName.stripPrefix(pcol).toLong
        assert(value >= 0 && value < parts,
          s"$v/$ds/${pd.getName} outside the layout modulus $parts")
      }
      assert(!root.listFiles().exists(f =>
          f.isFile && f.getName.endsWith(".parquet")),
        s"$v/$ds has data files outside partition directories")
    }
    spark.catalog.clearCache()
  }

  test("knownBatchRows skips the gate count with identical results on " +
      "both sides of the gate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-known").toString
    VectorIndex.publishFrom(spark, allEmb, dir)
    val qs = allEmb.filter(col("vec_id") < 10)
    val odd = allEmb.filter(col("vec_id") % 2 === 1)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = rows(VectorIndex.searchLsh(spark, dir, qs, k = 5))
    // a declared bound below the gate: same gated rows, no count job
    assert(rows(VectorIndex.searchLsh(spark, dir, qs, k = 5,
      knownBatchRows = Some(10L))) == lsh)
    // a declared bound ABOVE the gate routes to the shuffle path — and
    // must still produce the same rows
    assert(rows(VectorIndex.searchLsh(spark, dir, qs, k = 5,
      knownBatchRows = Some(VectorIndex.QueryBatchBroadcastRowLimit + 1))) ==
      lsh)
    assert(rows(VectorIndex.searchIvf(spark, dir, qs, k = 5, nprobe = 2,
        knownBatchRows = Some(10L))) ==
      rows(VectorIndex.searchIvf(spark, dir, qs, k = 5, nprobe = 2)))
    assert(pairs(VectorIndex.probeBestMatch(spark, dir, odd, 0.45,
        knownBatchRows = Some(1000L))) ==
      pairs(VectorIndex.probeBestMatch(spark, dir, odd, 0.45)))
    spark.catalog.clearCache()
  }

  test("empty query batches return empty from every search API") {
    // the pruned path derives an EMPTY partition set from an empty batch
    // and must degrade to an empty (not failing) scan — the zero-literal
    // isin edge the gate introduced
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-empty").toString
    VectorIndex.publishFrom(spark, allEmb.filter(col("vec_id") < 50), dir,
      pq = true)
    val none = allEmb.filter(col("vec_id") < 0)
    assert(VectorIndex.searchLsh(spark, dir, none, k = 3).count() == 0)
    assert(VectorIndex.searchIvf(spark, dir, none, k = 3, nprobe = 1).count() == 0)
    assert(VectorIndex.searchIvfPq(spark, dir, none, k = 3, nprobe = 1).count() == 0)
    assert(VectorIndex.probeBestMatch(spark, dir, none, 0.45).count() == 0)
    spark.catalog.clearCache()
  }

  test("merge rewrites only dirty partitions; the clean majority is " +
      "hard-copied byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-inc").toString
    VectorIndex.publishFrom(spark, allEmb.filter(col("vec_id") % 2 === 0), dir)
    val batch = allEmb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 10)
    val (m1, st) = VectorIndex.mergePublishStats(spark, dir, batch)
    assert(!st.fullRewrite && !st.drainRecompute, st.toString)
    assert(st.parts == m1.parts)
    // a 5-vector batch touches at most 5 bucket and 5 cell partitions;
    // the other ~59 of the 64-partition floor are copied, not written
    assert(st.dirtyBucketParts < st.parts && st.copiedBucketParts > 0,
      st.toString)
    assert(st.dirtyCellParts < st.parts && st.copiedCellParts > 0,
      st.toString)
    assert(st.dirtyBucketParts + st.copiedBucketParts <= st.parts)
    // copied partition directories keep v1's file names and bytes (a
    // hard copy, no decode/rewrite); dirty ones get fresh writer files
    for ((ds, copiedWant) <- Seq("buckets" -> st.copiedBucketParts,
        "cells" -> st.copiedCellParts)) {
      var copied = 0
      for (pd <- new java.io.File(s"$dir/v2/$ds").listFiles()
          .filter(d => d.isDirectory && d.getName.contains("part="))) {
        val f2 = pd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val f1 = new java.io.File(s"$dir/v1/$ds/${pd.getName}/${f2.getName}")
        if (f1.isFile) {
          copied += 1
          assert(java.util.Arrays.equals(
            java.nio.file.Files.readAllBytes(f1.toPath),
            java.nio.file.Files.readAllBytes(f2.toPath)),
            s"copied $ds/${pd.getName} not byte-identical")
        }
      }
      assert(copied == copiedWant,
        s"$ds: $copied dirs share v1 file names, stats say $copiedWant")
    }
    // and the partition-level merge still equals the frozen rebuild
    val dirR = java.nio.file.Files.createTempDirectory("graft-vecidx-incR").toString
    val combined = allEmb.filter(col("vec_id") % 2 === 0).unionByName(batch)
    VectorIndex.publishWith(spark, combined, dirR,
      m1, VectorIndex.loadCentroids(spark, dir))
    assert(bucketRows(VectorIndex.loadBuckets(spark, dir)) ==
      bucketRows(VectorIndex.loadBuckets(spark, dirR)))
    assert(cellRows(VectorIndex.loadCells(spark, dir)) ==
      cellRows(VectorIndex.loadCells(spark, dirR)))
    spark.catalog.clearCache()
  }

  test("a replaced id in an at-cap bucket triggers the drain recompute — " +
      "still writing only dirty partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-drain").toString
    val m0 = VectorIndex.publishFrom(spark, allEmb, dir)
    val cent = VectorIndex.loadCentroids(spark, dir)
    VectorIndex.publishWith(spark, allEmb, dir, m0.copy(cap = 2L), cent)
    // resubmit one vector with a negated embedding: its old bucket is at
    // the engaged cap, so its removal may promote a cap-dropped member —
    // the one case the capped store cannot answer from pruned rows
    val moved = allEmb.filter(col("vec_id") === 8)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(-x AS FLOAT))").as("embedding"))
    val (m2, st) = VectorIndex.mergePublishStats(spark, dir, moved)
    assert(st.drainRecompute && !st.fullRewrite, st.toString)
    assert(st.dirtyBucketParts < st.parts && st.copiedBucketParts > 0,
      st.toString)
    val dirR = java.nio.file.Files.createTempDirectory("graft-vecidx-drainR").toString
    val drained = allEmb.filter(col("vec_id") =!= 8).unionByName(moved)
    VectorIndex.publishWith(spark, drained, dirR, m2, cent)
    assert(bucketRows(VectorIndex.loadBuckets(spark, dir)) ==
      bucketRows(VectorIndex.loadBuckets(spark, dirR)),
      "drain recompute diverged from the frozen-geometry rebuild")
    spark.catalog.clearCache()
  }

  test("legacy artifact (meta without parts, flat datasets): probes " +
      "degrade to the full scan, a merge upgrades the layout") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-vecidx-legacy")
    val dir = s"$base/legacy"; val modern = s"$base/modern"
    val corpus = allEmb.filter(col("vec_id") % 2 === 0)
    VectorIndex.publishFrom(spark, corpus, modern)
    val mm = VectorIndex.loadMeta(spark, modern)
    // hand-build the pre-r11 layout: same datasets, unpartitioned, meta
    // without the `parts` field
    Seq((mm.n, mm.width, mm.probes, mm.cap, mm.cells))
      .toDF("n", "width", "probes", "cap", "cells")
      .write.parquet(s"$dir/v1/meta")
    VectorIndex.loadBuckets(spark, modern).write.parquet(s"$dir/v1/buckets")
    VectorIndex.loadCentroids(spark, modern)
      .write.parquet(s"$dir/v1/centroids")
    VectorIndex.loadCells(spark, modern).write.parquet(s"$dir/v1/cells")
    StorageOps.flipPointer(spark, dir, "v1")
    assert(VectorIndex.isPublished(spark, dir))
    val lm = VectorIndex.loadMeta(spark, dir)
    assert(lm.parts == 0 && lm.copy(parts = mm.parts) == mm)
    // every search API answers identically to the modern artifact
    val qs = allEmb.filter(col("vec_id") < 10)
    val odd = allEmb.filter(col("vec_id") % 2 === 1)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(VectorIndex.searchLsh(spark, dir, qs, k = 5)) ==
      rows(VectorIndex.searchLsh(spark, modern, qs, k = 5)))
    assert(rows(VectorIndex.searchIvf(spark, dir, qs, k = 5, nprobe = 2)) ==
      rows(VectorIndex.searchIvf(spark, modern, qs, k = 5, nprobe = 2)))
    assert(pairs(VectorIndex.probeBestMatch(spark, dir, odd, 0.45)) ==
      pairs(VectorIndex.probeBestMatch(spark, modern, odd, 0.45)))
    // a merge takes the full-rewrite path and upgrades to the current
    // partitioned layout
    val (m2, st) = VectorIndex.mergePublishStats(spark, dir, odd)
    assert(st.fullRewrite && m2.parts > 0)
    assert(VectorIndex.loadMeta(spark, dir).parts == m2.parts)
    VectorIndex.mergePublish(spark, modern, odd)
    assert(bucketRows(VectorIndex.loadBuckets(spark, dir)) ==
      bucketRows(VectorIndex.loadBuckets(spark, modern)))
    assert(cellRows(VectorIndex.loadCells(spark, dir)) ==
      cellRows(VectorIndex.loadCells(spark, modern)))
    spark.catalog.clearCache()
  }

  private def codeRows(df: DataFrame) =
    df.select("vec_id", "code").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toList)).toSet

  test("pq publish carries the codebook pair; probe-all ADC equals the " +
      "global ADC search; a non-pq index refuses") {
    val base = java.nio.file.Files.createTempDirectory("graft-vecidx-pq")
    val dir = s"$base/pq"; val plain = s"$base/plain"
    val m = VectorIndex.publishFrom(spark, allEmb, dir, pq = true)
    assert(VectorIndex.hasPq(spark, dir))
    // one code row per corpus vector, cell-aligned with the inverted
    // lists (same assignment), codes within the codebook range
    val n = allEmb.count()
    assert(VectorIndex.loadCodes(spark, dir).count() == n)
    assert(VectorIndex.loadCodes(spark, dir).alias("k")
      .join(VectorIndex.loadCells(spark, dir).alias("c"), Seq("vec_id"))
      .filter(col("k.cell") =!= col("c.cell")).count() == 0,
      "codes not cell-aligned with the inverted lists")
    // the recorded budget matches the schedules at the publish count,
    // and every code sits inside it
    val (nm, nk) = VectorIndex.pqBudget(m)
    assert(nm == VectorOps.pqSubspacesFor(64) &&
      nk == VectorOps.pqCodebookFor(n), s"recorded budget ($nm, $nk)")
    assert(VectorIndex.loadCodes(spark, dir)
      .filter(expr(s"exists(code, c -> c < 0 OR c >= $nk)") ||
        size(col("code")) =!= nm).count() == 0)
    // the stored codes ARE the argmin encode against the stored books
    // (the q_embed_pq arithmetic — PqSpec pins training determinism)
    val books = VectorIndex.loadPqBooks(spark, dir)
    val subDim = books.select(size(col("pc"))).limit(1).collect()(0).getInt(0)
    assert(codeRows(VectorIndex.loadCodes(spark, dir)) ==
      codeRows(VectorOps.pqEncode(allEmb, books, subDim, nm)))
    // probing EVERY cell makes IVF-ADC the global ADC ranking — exactly
    // the registered q_embed_pq_search rows (same books by determinism)
    val qs = allEmb.filter(col("vec_id") < 10)
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val probeAll = rows(VectorIndex.searchIvfPq(spark, dir, qs, k = 5,
      nprobe = m.cells))
    spark.catalog.clearCache() // the sharedPq memo must rebuild cleanly
    SharedPlans.clearFrames(spark)
    val global = rows(SparkEntry.queries("q_embed_pq_search")(spark, d))
    assert(probeAll.nonEmpty && probeAll == global)
    // nprobe below the cell count prunes candidates but stays a subset
    // ranking: every (query, neighbor) it returns scored by the same ADC
    val narrow = VectorIndex.searchIvfPq(spark, dir, qs, k = 5, nprobe = 2)
    assert(narrow.count() > 0)
    // a publish without pq refuses ADC search instead of degrading
    VectorIndex.publishFrom(spark, allEmb, plain)
    assert(!VectorIndex.hasPq(spark, plain))
    intercept[IllegalArgumentException] {
      VectorIndex.searchIvfPq(spark, plain, qs, k = 5, nprobe = 2)
    }
    spark.catalog.clearCache()
  }

  test("mergePublish carries the pq pair: frozen-book encode, codes equal " +
      "the frozen rebuild, layout preserved") {
    val base = java.nio.file.Files.createTempDirectory("graft-vecidx-pqm")
    val dir = s"$base/a"; val dirR = s"$base/r"
    val even = allEmb.filter(col("vec_id") % 2 === 0)
    val odd = allEmb.filter(col("vec_id") % 2 === 1)
    VectorIndex.publishFrom(spark, even, dir, pq = true)
    val books = VectorIndex.loadPqBooks(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    val (m1, st) = VectorIndex.mergePublishStats(spark, dir, odd)
    assert(!st.fullRewrite, st.toString)
    assert(VectorIndex.hasPq(spark, dir), "merge dropped the pq pair")
    // books frozen byte-for-byte across the merge
    assert(VectorIndex.loadPqBooks(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      .toSet == books.toSet)
    // merged codes equal the frozen-geometry frozen-book rebuild
    VectorIndex.publishWith(spark, even.unionByName(odd), dirR, m1,
      VectorIndex.loadCentroids(spark, dir),
      Some(VectorIndex.loadPqBooks(spark, dir)))
    assert(codeRows(VectorIndex.loadCodes(spark, dir)) ==
      codeRows(VectorIndex.loadCodes(spark, dirR)),
      "merged codes diverged from the frozen rebuild")
    // an EMPTY ingest batch merges as a no-op on a pq index (the
    // subDim derivation must come from the books, not the batch)
    val before = codeRows(VectorIndex.loadCodes(spark, dir))
    VectorIndex.mergePublish(spark, dir, allEmb.filter(col("vec_id") < 0))
    assert(codeRows(VectorIndex.loadCodes(spark, dir)) == before,
      "empty-batch merge changed the code rows")
    assert(VectorIndex.hasPq(spark, dir))
    // codes keep the hive layout inside the recorded modulus
    val root = new java.io.File(s"$dir/v2/codes")
    val partDirs = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("cpart="))
    assert(partDirs.nonEmpty)
    partDirs.foreach { pd =>
      val v = pd.getName.stripPrefix("cpart=").toLong
      assert(v >= 0 && v < m1.parts)
    }
    spark.catalog.clearCache()
  }

  test("residual pq: mode recorded in meta, load-bearing codes, merge " +
      "equals the frozen residual rebuild, rebuild preserves the mode") {
    val base = java.nio.file.Files.createTempDirectory("graft-vecidx-res")
    val dir = s"$base/a"; val dirR = s"$base/r"; val raw = s"$base/raw"
    val even = allEmb.filter(col("vec_id") % 2 === 0)
    val odd = allEmb.filter(col("vec_id") % 2 === 1)
    VectorIndex.publishFrom(spark, even, dir, pq = true, pqResidual = true)
    VectorIndex.publishFrom(spark, even, raw, pq = true)
    // the mode is recorded, and a raw (or legacy) artifact reads false
    assert(VectorIndex.loadMeta(spark, dir).pqres, "residual flag not recorded")
    assert(!VectorIndex.loadMeta(spark, raw).pqres, "raw artifact read residual")
    // the mode is load-bearing: residual codes differ from raw codes
    // over the same corpus, books and geometry schedules
    assert(codeRows(VectorIndex.loadCodes(spark, dir)) !=
      codeRows(VectorIndex.loadCodes(spark, raw)),
      "residual encode produced the raw codes — the mode did nothing")
    // partition-level merge: books and centroids frozen, merged codes
    // equal a from-scratch frozen-book RESIDUAL encode of the union
    val books0 = VectorIndex.loadPqBooks(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    val (m1, st) = VectorIndex.mergePublishStats(spark, dir, odd)
    assert(!st.fullRewrite, st.toString)
    assert(VectorIndex.loadMeta(spark, dir).pqres, "merge dropped the mode")
    assert(VectorIndex.loadPqBooks(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      .toSet == books0.toSet, "merge retrained the frozen residual books")
    // m1 carries pqres = true (the mode rides the Meta, not a caller
    // flag), so the frozen rebuild encodes residuals
    assert(m1.pqres, "merge returned a Meta without the residual mode")
    VectorIndex.publishWith(spark, even.unionByName(odd), dirR, m1,
      VectorIndex.loadCentroids(spark, dir),
      Some(VectorIndex.loadPqBooks(spark, dir)))
    assert(codeRows(VectorIndex.loadCodes(spark, dir)) ==
      codeRows(VectorIndex.loadCodes(spark, dirR)),
      "merged residual codes diverged from the frozen rebuild")
    // both ADC searches run the residual branch end-to-end
    val q = allEmb.filter(col("vec_id") < 5)
    assert(VectorIndex.searchIvfPq(spark, dir, q, k = 3, nprobe = 2)
      .count() > 0)
    assert(VectorIndex.searchIvfPqRefine(spark, dir, q, k = 3, nprobe = 2,
      refineK = 30).count() > 0)
    // the recall audit reads the residual artifact transparently, and a
    // forced retrain (recall floor 1.01) PRESERVES the mode — the
    // rebuild re-derives everything from the artifact, not caller flags
    val audit = VectorIndex.recallAudit(spark, dir, q, k = 5, nprobe = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    info(s"residual artifact recall@5: $audit")
    assert(audit.keySet == Set("ivf", "lsh", "ivfadc", "refine"))
    val (_, rebuilt) = VectorIndex.maintain(spark, dir,
      allEmb.filter(col("vec_id") < 0),
      recallProbe = Some(VectorIndex.RecallProbe(q, floor = 1.01)))
    assert(rebuilt, "the unreachable floor did not force the retrain")
    assert(VectorIndex.loadMeta(spark, dir).pqres &&
      VectorIndex.hasPq(spark, dir),
      "the recall-gated rebuild dropped the residual mode")
    spark.catalog.clearCache()
  }

  test("armed batch frame survives a same-plan re-arm (replayed batch keeps its pin)") {
    // the r13 ADVICE hazard: the slot swap used to persist the NEW frame
    // and then unpersist the OLD one — when a stream replays an identical
    // batch the two frames share one canonicalized cache entry, so the
    // late unpersist evicted the entry the just-armed frame relies on.
    // Pinned through a canonicalized-twin lookup: df.storageLevel resolves
    // the cache by plan equivalence, so a twin of the probe's derived
    // frame observes the slot entry from outside.
    import org.apache.spark.storage.StorageLevel
    graft.functions.GraftFunctions.register(spark)
    spark.catalog.clearCache()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-rearm").toString
    VectorIndex.publishFrom(spark, allEmb, dir)
    val m = VectorIndex.loadMeta(spark, dir)
    // rebuilt per call — the replayed-microbatch shape (same plan, fresh
    // DataFrame object and expression ids)
    def batch = allEmb.filter(col("vec_id") < 20)
    def derivedTwin = batch
      .select(col("vec_id").as("in_id"), col("embedding").as("ie"))
      .select(col("in_id"), col("ie"),
        expr(s"explode(hyperplane_sig(ie, ${m.width}, ${m.probes}))")
          .as("qbucket"))
    def probe(): Unit = VectorIndex.matchesAbove(spark, dir, batch, 0.30,
      knownBatchRows = Some(1)).write.format("noop").mode("overwrite").save()
    probe()
    assert(derivedTwin.storageLevel != StorageLevel.NONE,
      "gated probe did not arm its batch frame")
    val slots = VectorIndex.armedSlotCount(spark)
    probe()
    assert(derivedTwin.storageLevel != StorageLevel.NONE,
      "same-plan re-arm evicted the shared cache entry (unpersist-after-persist ordering)")
    assert(VectorIndex.armedSlotCount(spark) == slots,
      "re-arm grew the slot registry")
    spark.catalog.clearCache()
  }

  test("maintain runs the ingest loop: merge, schedule-driven rebuild, prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-maint").toString
    val tiny = allEmb.filter(col("vec_id") < 40)
    val m0 = VectorIndex.publishFrom(spark, tiny, dir, pq = true)
    // a batch that stays inside the frozen schedules: merge only
    val (m1, r1) = VectorIndex.maintain(spark, dir,
      allEmb.filter(col("vec_id") >= 40 && col("vec_id") < 45))
    assert(!r1, "rebuild ran inside the frozen schedule")
    assert(m1.width == m0.width && m1.cells == m0.cells && m1.n == 45)
    assert(VectorIndex.hasPq(spark, dir), "merge dropped the pq pair")
    // a batch that outgrows them: merge THEN rebuild at the new count
    val (m2, r2) = VectorIndex.maintain(spark, dir,
      allEmb.filter(col("vec_id") >= 45))
    val n = allEmb.count()
    assert(r2, "outgrown schedule did not trigger the rebuild")
    assert(m2.n == n && m2.width == VectorOps.lshWidthFor(n) &&
      m2.cells == VectorOps.ivfCellsFor(n) && !VectorIndex.needsRebuild(m2))
    assert(VectorIndex.hasPq(spark, dir), "rebuild dropped the pq pair")
    // the rebuilt corpus is complete (cells/codes are one row per vector)
    assert(VectorIndex.loadCells(spark, dir).count() == n)
    assert(VectorIndex.loadCodes(spark, dir).count() == n)
    // prune kept at most `keep` version dirs and the index stays live
    val vdirs = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.matches("v\\d+"))
    assert(vdirs <= 2, s"$vdirs version dirs survive keep = 2")
    assert(VectorIndex.isPublished(spark, dir))
    assert(VectorIndex.searchIvfPq(spark, dir,
      allEmb.filter(col("vec_id") < 3), k = 3, nprobe = 2).count() > 0)
    spark.catalog.clearCache()
  }

  test("maintain's recall probe gates the rebuild on audited quality, " +
      "not just the count schedule") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-recallgate").toString
    val tiny = allEmb.filter(col("vec_id") < 40)
    val m0 = VectorIndex.publishFrom(spark, tiny, dir, pq = true)
    val probeQ = allEmb.filter(col("vec_id") < 5)
    def gate(floor: Double) = VectorIndex.RecallProbe(probeQ, floor)
    // an in-schedule merge with a satisfiable floor: NO rebuild — the
    // audit ran and passed (recall@5 of any variant is > 0 here)
    val (m1, r1) = VectorIndex.maintain(spark, dir,
      allEmb.filter(col("vec_id") >= 40 && col("vec_id") < 43),
      recallProbe = Some(gate(0.0)))
    assert(!r1, "a passing recall audit triggered a rebuild")
    assert(m1.width == m0.width && m1.cells == m0.cells && m1.n == 43)
    // an in-schedule merge with an unreachable floor: the quality gate
    // trips the SAME retrain path the schedule gate uses — geometry is
    // re-derived at the true merged count, quantizers retrain, pq stays
    val (m2, r2) = VectorIndex.maintain(spark, dir,
      allEmb.filter(col("vec_id") >= 43 && col("vec_id") < 46),
      recallProbe = Some(gate(1.01)))
    assert(r2, "a failing recall audit did not trigger the rebuild")
    assert(m2.n == 46 && !VectorIndex.needsRebuild(m2))
    assert(VectorIndex.hasPq(spark, dir), "recall-gated rebuild dropped pq")
    assert(VectorIndex.loadCells(spark, dir).count() == 46)
    // an EMPTY probe query set fails loudly instead of silently passing
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.maintain(spark, dir,
        allEmb.filter(col("vec_id") >= 46 && col("vec_id") < 47),
        recallProbe = Some(VectorIndex.RecallProbe(
          allEmb.filter(col("vec_id") < 0), 0.5)))
    }
    assert(ex.getMessage.contains("probe query set"), ex.getMessage)
    spark.catalog.clearCache()
  }

  test("maintain's compaction hook restores one file per partition, rows intact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-compact").toString
    VectorIndex.publishFrom(spark, allEmb, dir)
    val v = StorageOps.currentVersion(spark, dir).get
    def bucketSet = VectorIndex.loadBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows0 = bucketSet
    // fragment one bucket partition the way a foreign writer would
    val pd = new java.io.File(s"$dir/$v/buckets").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bpart="))
      .maxBy(d => d.listFiles().map(_.length()).sum)
    val frag = spark.read.parquet(pd.toString).repartition(2)
    val tmp = s"${pd}__frag"
    frag.write.parquet(tmp)
    org.apache.hadoop.fs.FileUtil.fullyDelete(pd)
    new java.io.File(tmp).renameTo(pd)
    assert(pd.listFiles().count(f => f.getName.endsWith(".parquet")) == 2)
    // a maintain cycle (empty batch: pure hygiene pass) detects the
    // fragmentation — the clean-partition hard-copy preserves it into the
    // merged version — and publishes the compacted version
    VectorIndex.maintain(spark, dir,
      allEmb.filter(col("vec_id") < 0), keep = 1)
    val v2 = StorageOps.currentVersion(spark, dir).get
    assert(v2 != v)
    for (ds <- Seq("buckets", "cells");
        d <- new java.io.File(s"$dir/$v2/$ds").listFiles()
          if d.isDirectory && d.getName.contains("="))
      assert(d.listFiles().count(f => f.getName.endsWith(".parquet")) <= 1,
        s"$ds/${d.getName} still fragmented after the maintain cycle")
    assert(bucketSet == rows0, "compaction changed the bucket rows")
    // a healthy version is a no-op
    assert(!VectorIndex.compactIfFragmented(spark, dir))
    spark.catalog.clearCache()
  }

  test("q_index_stats reports coherent lifecycle numbers off the artifact") {
    val r = SparkEntry.queries("q_index_stats")(spark, d).collect()
    assert(r.length == 1)
    val row = r(0)
    val n = allEmb.count()
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Int]("width") == VectorOps.lshWidthFor(n))
    assert(row.getAs[Int]("cells_sched") == VectorOps.ivfCellsFor(n))
    // uncapped per-vector datasets carry the corpus exactly; the bucket
    // cap is inert at fixture SFs so buckets do too
    assert(row.getAs[Long]("cell_rows") == n)
    assert(row.getAs[Long]("code_rows") == n)
    assert(row.getAs[Long]("bucket_rows") == n)
    assert(row.getAs[Long]("live_cells") <= row.getAs[Int]("cells_sched"))
    // the worst cell holds at least the mean occupancy
    assert(row.getAs[Long]("max_cell_occ") >=
      (n + row.getAs[Long]("live_cells") - 1) / row.getAs[Long]("live_cells"))
    // published at its own corpus count: schedules agree, no drift
    assert(!row.getAs[Boolean]("needs_rebuild"))
    assert(row.getAs[Boolean]("has_pq"))
    spark.catalog.clearCache()
  }

  test("needsRebuild flags schedule drift after merges outgrow the geometry") {
    // frozen at a 40-vector schedule, merged to the full corpus: the
    // width/cell schedules would now pick differently -> rebuild due
    val dir = java.nio.file.Files.createTempDirectory("graft-vecidx-drift").toString
    val tiny = allEmb.filter(col("vec_id") < 40)
    val m0 = VectorIndex.publishFrom(spark, tiny, dir)
    assert(!VectorIndex.needsRebuild(m0))
    val m1 = VectorIndex.mergePublish(spark, dir, allEmb.filter(col("vec_id") >= 40))
    assert(m1.width == m0.width && VectorIndex.needsRebuild(m1))
    spark.catalog.clearCache()
  }
}
