package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{DedupIndex, FingerprintIndex, StorageOps, VectorIndex}

/** Torn-version CRASH RECOVERY for all three index families (r15
  * verdict #3; DedupIndexSpec separately pins the torn-READ gate — a
  * partitioned dir without meta reads as unpublished): a publish or
  * merge that dies between its dataset writes and the meta/pointer
  * commit leaves a PARTIAL version directory — the recovery path a
  * production ingest eventually takes. The contract, per family:
  *
  *   - INVISIBLE: the pointer never moved, so readers keep the previous
  *     version — same rows, [[FingerprintIndex.isPublished]]/
  *     [[VectorIndex.isPublished]] still true;
  *   - SKIPPED: the next maintain numbers PAST the torn directory
  *     ([[StorageOps.nextVersion]] is max-over-dirs + 1, committed or
  *     not) instead of colliding with it on `errorifexists`;
  *   - PRUNED: once newer versions push the torn dir beyond `keep`,
  *     [[StorageOps.pruneVersions]]' shape deletes it like any stale
  *     version — the garbage does not live forever.
  */
class TornVersionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def versionDirs(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).toSet

  /** The shared INVISIBLE/SKIPPED/PRUNED assertion sequence; the family
    * tests supply the torn-write and the two maintain cycles. */
  private def assertTornRecovery(dir: String,
      published: () => Boolean, rows: () => Long,
      writeTorn: () => Unit, maintain1: () => Unit,
      maintain2: () => Unit): Unit = {
    val rowsV1 = rows()
    writeTorn()
    assert(versionDirs(dir).contains("v2"), "fixture: torn v2 not written")
    // INVISIBLE: the pointer never flipped, readers keep v1 verbatim
    assert(StorageOps.currentVersion(spark, dir).contains("v1"),
      "a torn version moved the pointer")
    assert(published(), "a torn version un-published the index")
    assert(rows() == rowsV1, "a torn version changed what readers see")
    // SKIPPED: the next maintain numbers past the torn dir and flips
    maintain1()
    val active1 = StorageOps.currentVersion(spark, dir)
      .getOrElse(fail("no active version after maintain past a torn dir"))
    assert(active1.stripPrefix("v").toInt >= 3,
      s"maintain re-used the torn version number: $active1")
    assert(published(), "maintain past a torn version left no readable index")
    // PRUNED: a later maintain pushes the torn dir beyond keep = 2
    maintain2()
    assert(!versionDirs(dir).contains("v2"),
      s"torn v2 survived the prune: ${versionDirs(dir)}")
    assert(versionDirs(dir).size <= 2,
      s"${versionDirs(dir).size} version dirs survive keep = 2")
    assert(published(), "the recovered index is not readable")
  }

  test("fingerprint index: torn version is invisible, skipped, pruned; " +
      "recovered content equals a from-scratch publish") {
    val arrivals = operators.AudioOps.wavPayloads0(spark, d)
      .select("doc_id", "fp")
    def groupsOf(a: DataFrame) = a.groupBy("fp")
      .agg(count(lit(1)).as("n"), min("doc_id").as("rep"))
    def groupRows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = java.nio.file.Files.createTempDirectory("graft-torn-fp")
    val dir = s"$base/idx"; val ref = s"$base/ref"
    FingerprintIndex.publishGroups(spark,
      groupsOf(arrivals.filter(col("doc_id") % 3 === 0)), dir)
    assertTornRecovery(dir,
      published = () => FingerprintIndex.isPublished(spark, dir),
      rows = () => FingerprintIndex.loadGroups(spark, dir).count(),
      // the crash window: the groups dataset landed, meta did not
      writeTorn = () => spark.read.parquet(s"$dir/v1/groups")
        .write.parquet(s"$dir/v2/groups"),
      maintain1 = () => FingerprintIndex.maintain(spark, dir,
        arrivals.filter(col("doc_id") % 3 === 1)),
      maintain2 = () => FingerprintIndex.maintain(spark, dir,
        arrivals.filter(col("doc_id") % 3 === 2)))
    // the recovery path must not have cost correctness: the surviving
    // table equals a from-scratch publish of everything merged
    FingerprintIndex.publishGroups(spark, groupsOf(arrivals), ref)
    assert(groupRows(FingerprintIndex.loadGroups(spark, dir)) ==
      groupRows(FingerprintIndex.loadGroups(spark, ref)),
      "recovered merge result diverged from a from-scratch publish")
    spark.catalog.clearCache()
  }

  test("text dedup index: torn version is invisible, skipped, pruned; " +
      "recovered index holds the full merged corpus") {
    val full = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val root = s"${java.nio.file.Files
      .createTempDirectory("graft-torn-text")}/root"
    DedupIndex.publishVersionedFrom(spark,
      full.filter(col("doc_id") % 3 === 0), root)
    assertTornRecovery(root,
      published = () => DedupIndex.isPublishedVersioned(spark, root),
      rows = () => DedupIndex
        .loadDocs(spark, StorageOps.currentDir(spark, root)).count(),
      // the crash window: the docs dataset landed, bands/meta did not
      writeTorn = () => spark.read.parquet(s"$root/v1/docs")
        .write.parquet(s"$root/v2/docs"),
      maintain1 = () => DedupIndex.maintain(spark, root,
        full.filter(col("doc_id") % 3 === 1)),
      maintain2 = () => DedupIndex.maintain(spark, root,
        full.filter(col("doc_id") % 3 === 2)))
    assert(DedupIndex
      .loadDocs(spark, StorageOps.currentDir(spark, root)).count() ==
      full.count(),
      "recovered index lost corpus members across the torn-version cycle")
    spark.catalog.clearCache()
  }

  test("a torn ESCALATION is invisible — the live band family is " +
      "unchanged — and a retry walks the rung cleanly (r17)") {
    // the precision-floor actuator publishes through the same
    // pointer-flip machinery as every maintain, so a crash between its
    // dataset writes and the meta/pointer commit must leave consumers
    // on the OLD family (keys still match) and the retry must number
    // past the torn dir
    val full = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .limit(120)
    val root = s"${java.nio.file.Files
      .createTempDirectory("graft-torn-esc")}/root"
    DedupIndex.publishVersionedFrom(spark, full, root)
    // crash window: the escalated bands landed, meta did not
    spark.read.parquet(s"$root/v1/docs").write.parquet(s"$root/v2/docs")
    spark.read.parquet(s"$root/v1/bands").write.parquet(s"$root/v2/bands")
    assert(StorageOps.currentVersion(spark, root).contains("v1"))
    assert(DedupIndex.loadMeta(spark,
      StorageOps.currentDir(spark, root)).bandfam == DedupIndex.BandFamily,
      "a torn escalation changed the family consumers derive keys at")
    // retry: numbers past the torn dir, publishes family 3 atomically
    assert(DedupIndex.escalateBandFamily(spark, root) == 3)
    val live = StorageOps.currentDir(spark, root)
    assert(live.split('/').last.stripPrefix("v").toInt >= 3,
      s"escalation re-used the torn version number: $live")
    assert(DedupIndex.loadMeta(spark, live).bandfam == 3)
    assert(DedupIndex.loadBands(spark, live).count() ==
      DedupIndex.loadMeta(spark, live).ndocs *
        graft.functions.MinHashSig.famBands(3))
    spark.catalog.clearCache()
  }

  test("retention deletes a crashed pointer flip's temp file, never " +
      "_current") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-torn-ptr").toString
    for (_ <- 1 to 3) StorageOps.publishVersioned(spark.range(3).toDF(), dir)
    // the crash window of a POSIX flip: the staged pointer was written,
    // the rename never ran
    val staged = new org.apache.hadoop.fs.Path(dir, "._current_tmp_v4")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(staged, true)
    out.write("v4".getBytes("UTF-8"))
    out.close()
    assert(StorageOps.pruneVersions(spark, dir, keep = 2) == Seq("v1"))
    assert(!fs.exists(staged), "the dangling pointer temp file survived")
    assert(StorageOps.currentVersion(spark, dir).contains("v3"),
      "retention touched the live pointer")
    assert(versionDirs(dir) == Set("v2", "v3"))
    assert(StorageOps.loadPublished(spark, dir).count() == 3)
  }

  test("vector index: torn version is invisible, skipped, pruned; " +
      "recovered index holds the full merged corpus") {
    val all = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-torn-vec").toString
    VectorIndex.publishFrom(spark, all.filter(col("vec_id") % 3 === 0), dir)
    assertTornRecovery(dir,
      published = () => VectorIndex.isPublished(spark, dir),
      rows = () => VectorIndex.loadCells(spark, dir).count(),
      // the crash window: meta and buckets committed (writeVersion's
      // first two datasets), cells/centroids did not, pointer unmoved
      writeTorn = () => {
        spark.read.parquet(s"$dir/v1/meta").write.parquet(s"$dir/v2/meta")
        spark.read.parquet(s"$dir/v1/buckets")
          .write.parquet(s"$dir/v2/buckets")
      },
      // a schedule-driven rebuild inside maintain just adds a version —
      // the recovery invariants hold either way
      maintain1 = () => VectorIndex.maintain(spark, dir,
        all.filter(col("vec_id") % 3 === 1)),
      maintain2 = () => VectorIndex.maintain(spark, dir,
        all.filter(col("vec_id") % 3 === 2)))
    assert(VectorIndex.loadCells(spark, dir).count() == all.count(),
      "recovered index lost corpus members across the torn-version cycle")
    spark.catalog.clearCache()
  }
}
