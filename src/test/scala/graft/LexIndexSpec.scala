package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.RetrievalOps
import graft.sources.{LexIndex, StorageOps}

/** The published lexical posting-list artifact ([[graft.sources.LexIndex]]):
  *   - probe parity: searchBm25 against a fresh full-corpus publish is
  *     row-identical to the inline q_bm25_topk (shared contribution
  *     expression + ranking, meta-exact avgdl);
  *   - partition pruning: the probe's posting scan carries a tpart
  *     partition filter — query-term partitions only, never the full
  *     artifact;
  *   - layout invariants: stored df equals the postings' per-term row
  *     count, stored sumdl/ndocs reproduce the corpus token totals.
  */
class LexIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"lexidx_$tag").toString + "/idx"

  test("artifact probe is row-identical to the inline q_bm25_topk") {
    val dir = freshDir("parity")
    LexIndex.publish(spark, sf, dir)
    val inline = RetrievalOps.queries("q_bm25_topk")(spark, sf).collect().toSeq
    val probe = LexIndex.searchBm25(spark, dir,
      RetrievalOps.BmQueries, RetrievalOps.Bm25TopK).collect().toSeq
    assert(probe.nonEmpty)
    assert(probe == inline)
  }

  test("probe reads only the query terms' partitions") {
    val dir = freshDir("prune")
    LexIndex.publish(spark, sf, dir)
    val probe = LexIndex.searchBm25(spark, dir,
      RetrievalOps.BmQueries, RetrievalOps.Bm25TopK)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("tpart"),
      "posting scan must carry a tpart partition filter:\n" + plan.take(2000))
    // the 12 query terms touch at most 12 of the 64 layout partitions —
    // the probe IO bound the partition filter above enforces
    val parts = LexIndex.loadMeta(spark, dir).parts
    val touched = Tables.documents(spark, sf).sparkSession
      .createDataset(RetrievalOps.BmQueries.flatMap(_._2.split(" ")))(
        org.apache.spark.sql.Encoders.STRING)
      .select(pmod(xxhash64(col("value")), lit(parts.toLong)).as("tp"))
      .distinct().count()
    assert(parts == 64 && touched <= 12,
      s"parts=$parts touched=$touched")
  }

  test("meta commits last: a torn publish is invisible and a republish recovers") {
    val dir = freshDir("torn")
    LexIndex.publish(spark, sf, dir)
    assert(LexIndex.isPublished(spark, dir))
    // simulate a crash between the dataset writes and the meta commit:
    // datasets present, meta gone — the layout must read as unpublished
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaPath, true)
    assert(!LexIndex.isPublished(spark, dir),
      "datasets without meta must read as unpublished")
    // the recovery is a plain republish (mode=overwrite on every dataset)
    LexIndex.publish(spark, sf, dir)
    assert(LexIndex.isPublished(spark, dir))
    val probe = LexIndex.searchBm25(spark, dir,
      RetrievalOps.BmQueries, RetrievalOps.Bm25TopK).collect().toSeq
    val inline = RetrievalOps.queries("q_bm25_topk")(spark, sf).collect().toSeq
    assert(probe == inline, "recovered artifact must probe identically")
  }

  test("versioned republish: a crashed flip leaves readers on the previous artifact") {
    import org.apache.spark.sql.functions.col
    val root = freshDir("ver")
    val corpus = Tables.documents(spark, sf)
    val v1 = LexIndex.publishVersioned(spark, corpus, root)
    assert(StorageOps.currentDir(spark, root) == v1)
    val before = LexIndex.searchBm25(spark, StorageOps.currentDir(spark, root),
      RetrievalOps.BmQueries, RetrievalOps.Bm25TopK).collect().toSeq
    // simulate a republish that crashed AFTER writing its version dir
    // but BEFORE the pointer flip: readers must stay on v1 in full
    LexIndex.publishFrom(spark, corpus.filter(col("doc_id") < 10), s"$root/v2")
    assert(StorageOps.currentDir(spark, root) == v1,
      "a dangling version dir must not move the pointer")
    val still = LexIndex.searchBm25(spark, StorageOps.currentDir(spark, root),
      RetrievalOps.BmQueries, RetrievalOps.Bm25TopK).collect().toSeq
    assert(still == before)
    // a completed publishVersioned (lands as v3) flips atomically
    val v3 = LexIndex.publishVersioned(spark,
      corpus.filter(col("doc_id") < 10), root)
    assert(v3.endsWith("/v3") && StorageOps.currentDir(spark, root) == v3)
  }

  test("stored df and meta totals equal corpus recomputation") {
    val dir = freshDir("invariants")
    LexIndex.publish(spark, sf, dir)
    val post = LexIndex.loadPostingsRaw(spark, dir)
    val fromPostings = post.groupBy("term")
      .agg(count(lit(1)).as("df2"))
    val stored = LexIndex.loadTermsRaw(spark, dir).select("term", "df")
    val mismatch = stored.join(fromPostings, Seq("term"), "full_outer")
      .filter(col("df").isNull || col("df2").isNull ||
        col("df") =!= col("df2"))
    assert(mismatch.count() == 0, "terms.df must equal postings per-term rows")

    val toks = Tables.documents(spark, sf)
      .select(operators.TextRules.tokens(col("text")).as("t"))
      .agg(count(lit(1)).as("n"), sum(size(col("t"))).as("s")).collect()(0)
    assert(LexIndex.loadMeta(spark, dir).ndocs == toks.getLong(0))
    val meta = spark.read.parquet(s"$dir/meta").collect()(0)
    assert(meta.getAs[Long]("sumdl") == toks.getLong(1))
    // dl is denormalized into every posting row: it must equal the docs
    // dataset's length for every doc
    assert(post.select("doc_id", "dl").distinct()
      .join(LexIndex.loadDocs(spark, dir)
        .withColumnRenamed("dl", "dl_doc"), Seq("doc_id"))
      .filter(col("dl") =!= col("dl_doc")).count() == 0)
  }
}
