package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, RetrievalOps}
import graft.sources.{DedupIndex, FingerprintIndex, LexIndex, StorageOps,
  VectorIndex}

/** The shared versioned-artifact lifecycle ([[StorageOps]]) as the four
  * published indexes see it: one meta reader that names a torn meta
  * instead of failing on a bare index error, and a compaction that
  * moves an artifact of any recorded band family verbatim. */
class ArtifactLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-artifact-$tag").toString

  private def docs: DataFrame =
    Tables.documents(spark, d).select(col("doc_id"), col("text"))

  /** Replace the one-row meta dataset under `vdir` with a zero-row one of
    * the same schema — what a torn or foreign write leaves behind. */
  private def emptyMeta(vdir: String): Unit = {
    val p = s"$vdir/meta"
    val schema = spark.read.parquet(p).schema
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .write.mode("overwrite").parquet(p)
    assert(spark.read.parquet(p).count() == 0, "fixture: meta not emptied")
  }

  /** Per index: publish under `base`, returning the directory whose
    * `meta` the reads go through and the public read that must fail. */
  private val cases: Seq[(String, String => (String, () => Any))] = Seq(
    "dedup" -> { base =>
      DedupIndex.publishFrom(spark, docs.limit(60), base)
      (base, () => DedupOps.crossDedupBestFromIndex(spark, base,
        DedupOps.docHashes(spark, d).limit(5)).count())
    },
    "fingerprint" -> { base =>
      FingerprintIndex.publishGroups(spark, spark.range(100)
        .select(col("id").as("fp"), lit(1L).as("n"), col("id").as("rep")),
        base)
      (StorageOps.currentDir(spark, base), () => FingerprintIndex
        .prunedGroups(spark, base, spark.range(3).toDF("fp")).count())
    },
    "vector" -> { base =>
      VectorIndex.publishFrom(spark,
        Tables.embeddings(spark, d).select("vec_id", "embedding").limit(200),
        base)
      (StorageOps.currentDir(spark, base), () => VectorIndex.searchIvf(spark,
        base, Tables.embeddings(spark, d).limit(3), k = 5, nprobe = 2).count())
    },
    "lex" -> { base =>
      LexIndex.publishFrom(spark, docs.limit(60), base)
      (base, () => LexIndex.searchBm25(spark, base, RetrievalOps.BmQueries,
        5).count())
    })

  for ((name, publish) <- cases)
    test(s"$name index: an empty meta fails with an error naming its path") {
      val (vdir, read) = publish(s"${fresh(s"meta-$name")}/idx")
      emptyMeta(vdir)
      val metaPath = new org.apache.hadoop.fs.Path(vdir, "meta").toString
      val ex = intercept[Exception](read())
      assert(Option(ex.getMessage).exists(_.contains(metaPath)),
        s"$name: ${ex.getClass.getName}: ${ex.getMessage}")
      spark.catalog.clearCache()
    }

  test("compaction moves a family-1 artifact verbatim: probe copied, no " +
      "probe bands derived") {
    val root = s"${fresh("fam1")}/root"
    DedupIndex.publishVersionedFrom(spark, docs.limit(120), root)
    val live = StorageOps.currentDir(spark, root)
    val m = DedupIndex.loadMeta(spark, live)
    assert(m.probemod > 0 && DedupIndex.hasProbe(spark, live),
      "fixture: the artifact must carry a probe")
    // re-record the version under the retired linear family 1: the rows
    // stay, the meta says no family this build derives
    StorageOps.writeMeta(spark, live, m.copy(bandfam = 1))
    // fragment one docs partition the way a foreign writer would
    val pd = new java.io.File(s"$live/docs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("dpart="))
      .maxBy(f => f.listFiles().map(_.length()).sum)
    val tmp = s"${pd}__frag"
    spark.read.parquet(pd.toString).repartition(2).write.parquet(tmp)
    org.apache.hadoop.fs.FileUtil.fullyDelete(pd)
    new java.io.File(tmp).renameTo(pd)

    assert(DedupIndex.compactIfFragmented(spark, root),
      "hook did not detect the fragmented partition")
    val compacted = StorageOps.currentDir(spark, root)
    assert(compacted != live)
    assert(DedupIndex.loadMeta(spark, compacted) == m.copy(bandfam = 1),
      "compaction must re-record the artifact's own meta")
    def rows(dir: String, ds: String) =
      spark.read.parquet(s"$dir/$ds").collect().map(_.toString).toSet
    assert(rows(compacted, "probe") == rows(live, "probe"),
      "the probe must copy verbatim")
    assert(!StorageOps.isCommitted(spark, s"$compacted/probe_bands"),
      "no probe bands can be derived under family 1")
    assert(DedupIndex.loadDocs(spark, compacted).count() ==
      DedupIndex.loadDocs(spark, live).count())
    spark.catalog.clearCache()
  }
}
