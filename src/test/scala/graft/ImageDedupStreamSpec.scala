package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.MultiModalOps
import graft.streaming.ImageDedupStream

/** Top-level so Spark can build its encoder without an outer scope. */
case class ImgEv(doc_id: Long, payload: Array[Byte], ts: java.sql.Timestamp)

/** Streaming image dedup must agree with the brute-force hamming match
  * set when the whole corpus streams against its own signature index —
  * the online/batch parity contract the text and embedding twins carry. */
class ImageDedupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def formulaDhash(id: Long): Long = {
    val w = MultiModalOps.imgWidth(id)
    val h = MultiModalOps.imgHeight(id)
    var hash = 0L
    for (j <- 0 until 8; i <- 0 until 8) {
      val y = j * h / 8
      if (MultiModalOps.imgPixel(id, (i + 1) * w / 9, y) >
          MultiModalOps.imgPixel(id, i * w / 9, y))
        hash |= 1L << (j * 8 + i)
    }
    hash
  }

  test("whole corpus streamed against its own index equals brute-force matches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val d = TestSpark.sf0001
    val docIds = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val sigOf = docIds.map(id => id -> formulaDhash(id)).toMap
    val sigTable = sigOf.values.groupBy(identity)
      .map { case (dh, g) => dh -> g.size.toLong }
    val repOf = sigOf.toSeq.groupBy(_._2)
      .map { case (dh, ms) => dh -> ms.map(_._1).min }
    // expected: every (doc, corpus signature) within hamming <= 3 —
    // including the doc's own signature at hamming 0
    val expected = (for {
      id <- docIds.toSeq
      cand <- sigTable.keys
      hm = java.lang.Long.bitCount(sigOf(id) ^ cand)
      if hm <= 3
    } yield (id, sigOf(id), cand, hm.toLong, sigTable(cand), repOf(cand))).toSet
    assert(expected.exists(_._4 > 0), "fixture holds no near matches - vacuous")

    // the production path: every trigger probes the PUBLISHED banded
    // index through the partition-pruned band scan
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fpidx-img").toString
    graft.sources.FingerprintIndex.publishBandedSigs(spark,
      MultiModalOps.imageSigs(spark, d), dir)
    assert(graft.sources.FingerprintIndex.isPublished(spark, dir))
    val evs = docIds.map(id => ImgEv(id, MultiModalOps.encodePng(id),
      new java.sql.Timestamp(1700000000000L + id)))
    val buf = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long, Long, Long)]()
    val source = MemoryStream[ImgEv]
    val q = source.toDF().writeStream
      .foreachBatch(ImageDedupStream.foreachBatchProbe(spark, dir) { out =>
        buf.synchronized {
          buf ++= out.collect().map(r => (r.getAs[Long]("in_id"),
            r.getAs[Long]("in_dhash"), r.getAs[Long]("corpus_dhash"),
            r.getAs[Long]("hamming"), r.getAs[Long]("corpus_n"),
            r.getAs[Long]("corpus_rep")))
        }
      })
      .start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        source.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(buf.length == buf.distinct.length,
      "a (doc, signature) match surfaced twice despite the band fold")
    assert(buf.toSet == expected,
      s"missing: ${expected.diff(buf.toSet).take(3)}; " +
        s"extra: ${buf.toSet.diff(expected).take(3)}")
    spark.catalog.clearCache()
  }

  test("probe broadcast gate: limit 0 forces the shuffle path, result-identical") {
    // the banded probe above the broadcast gate (forced with limit 0)
    // takes the shuffle join over the FULL banded scan and must produce
    // the identical match set — the backlog-catch-up trigger safety
    import spark.implicits._
    val d = TestSpark.sf0001
    val docIds = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fpidx-gate").toString
    graft.sources.FingerprintIndex.publishBandedSigs(spark,
      MultiModalOps.imageSigs(spark, d), dir)
    val microbatch = docIds.map(id => ImgEv(id, MultiModalOps.encodePng(id),
      new java.sql.Timestamp(1700000000000L + id))).toSeq.toDF()
    def matchesWith(limit: Long): Set[(Long, Long, Long)] =
      ImageDedupStream.probeIndexBatch(spark, microbatch, dir,
        broadcastRowLimit = limit) { out =>
        out.collect().map(r => (r.getAs[Long]("in_id"),
          r.getAs[Long]("corpus_dhash"), r.getAs[Long]("hamming"))).toSet
      }
    val gated = matchesWith(graft.sources.VectorIndex.QueryBatchBroadcastRowLimit)
    val shuffled = matchesWith(0L)
    assert(gated.nonEmpty && shuffled == gated,
      s"shuffle-path matches differ: ${(gated -- shuffled).take(3)} / ${(shuffled -- gated).take(3)}")
    spark.catalog.clearCache()
  }
}
