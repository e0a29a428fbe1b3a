package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.VideoOps
import graft.streaming.VideoDedupStream

/** Top-level so Spark can build its encoder without an outer scope. */
case class VideoEv(doc_id: Long, payload: Array[Byte], ts: java.sql.Timestamp)

/** Streaming video dedup must agree with the batch fingerprint grouping
  * when the whole corpus streams against its own index — the online/batch
  * parity contract the text, embedding, image and audio twins carry. */
class VideoDedupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("whole corpus streamed against its own index equals batch groups") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val d = TestSpark.sf0001
    val docIds = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    // expected via the demux path itself (byte-exact, spec'd in
    // VideoOpsSpec): every arrival matches exactly its fingerprint group
    val fpOf = docIds.map { id =>
      id -> VideoOps.fingerprint(
        VideoOps.demux(VideoOps.encodeFpMp4(VideoOps.fpCid(id))))._1
    }.toMap
    val nOf = fpOf.values.groupBy(identity).map { case (fp, g) => fp -> g.size.toLong }
    val repOf = fpOf.toSeq.groupBy(_._2).map { case (fp, ms) => fp -> ms.map(_._1).min }
    val expected = docIds.map(id =>
      (id, fpOf(id), nOf(fpOf(id)), repOf(fpOf(id)))).toSet
    assert(expected.exists(_._3 > 1), "fixture holds no dup groups - vacuous")

    // the production path: every trigger probes the PUBLISHED group
    // index through the partition-pruned group scan
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fpidx-video").toString
    graft.sources.FingerprintIndex.publishGroups(spark,
      VideoOps.fingerprintIndex(spark, d), dir)
    assert(graft.sources.FingerprintIndex.isPublished(spark, dir))
    val evs = docIds.map(id => VideoEv(id,
      VideoOps.encodeFpMp4(VideoOps.fpCid(id)),
      new java.sql.Timestamp(1700000000000L + id)))
    val buf = scala.collection.mutable.ListBuffer[(Long, Long, Long, Long)]()
    val source = MemoryStream[VideoEv]
    val q = source.toDF().writeStream
      .foreachBatch(VideoDedupStream.foreachBatchProbe(spark, dir) { out =>
        buf.synchronized {
          buf ++= out.collect().map(r => (r.getAs[Long]("in_id"),
            r.getAs[Long]("fp"), r.getAs[Long]("corpus_n"),
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
      "an arrival matched its group twice despite exact-equality join")
    assert(buf.toSet == expected,
      s"missing: ${expected.diff(buf.toSet).take(3)}; " +
        s"extra: ${buf.toSet.diff(expected).take(3)}")
    spark.catalog.clearCache()
  }

  test("probe broadcast gate: limit 0 forces the shuffle path, result-identical") {
    // the shared group probe on the video decoder: above the broadcast
    // gate (forced with limit 0) it takes the shuffle join over the FULL
    // group table and must produce the identical match set, under the
    // video schema's n_samples column
    import spark.implicits._
    val d = TestSpark.sf0001
    val docIds = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-fpidx-video-gate").toString
    graft.sources.FingerprintIndex.publishGroups(spark,
      VideoOps.fingerprintIndex(spark, d), dir)
    val microbatch = docIds.map(id => VideoEv(id,
      VideoOps.encodeFpMp4(VideoOps.fpCid(id)),
      new java.sql.Timestamp(1700000000000L + id))).toSeq.toDF()
    def matchesWith(limit: Long): Set[(Long, Long, Long, Long, Long)] =
      VideoDedupStream.probeIndexBatch(spark, microbatch, dir,
        broadcastRowLimit = limit) { out =>
        out.collect().map(r => (r.getAs[Long]("in_id"), r.getAs[Long]("fp"),
          r.getAs[Long]("n_samples"), r.getAs[Long]("corpus_n"),
          r.getAs[Long]("corpus_rep"))).toSet
      }
    val gated = matchesWith(graft.sources.VectorIndex.QueryBatchBroadcastRowLimit)
    val shuffled = matchesWith(0L)
    assert(gated.size == docIds.length && shuffled == gated,
      s"shuffle-path matches differ: ${(gated -- shuffled).take(3)} / ${(shuffled -- gated).take(3)}")
    spark.catalog.clearCache()
  }
}
