package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.NearDupStream
import graft.streaming.CurationStream.TimedDoc
import graft.operators.DedupOps

/** Streaming near-dup must make the same decisions as the batch MinHash
  * path: streamed against the full-corpus band index, the verified pair
  * set equals DedupOps.nearDupPairs exactly — same candidates (band
  * collision is the same predicate), same exact-Jaccard verification,
  * duplicates (multi-band collisions, both-members-arrive) collapsed by
  * the watermark dedup. */
class NearDupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("stream-static near-dup matches batch nearDupPairs on sf0.001") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val corpus = DedupOps.docHashes(spark, TestSpark.sf0001).persist()
    try {
      val batchPairs = DedupOps.nearDupPairs(spark, TestSpark.sf0001)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.nonEmpty, "fixture must contain near-dup pairs")

      val docs = Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id").as("docId"), col("lang"), col("text"),
          (col("doc_id") * 1000000L).as("tsUs"))
        .as[TimedDoc].collect()

      val source = MemoryStream[TimedDoc]
      val q = NearDupStream
        .nearDupAgainstCorpus(spark, source.toDS(), corpus)
        .writeStream.format("memory").queryName("neardup")
        .outputMode("append").start()
      try {
        // arrival order != doc_id order, split across micro-batches, so
        // cross-batch discovery and both-members-arrive dedup are exercised
        docs.sortBy(d => d.docId * 2654435761L % 1000000007L)
          .grouped(docs.length / 3 + 1).foreach { batch =>
            source.addData(batch.toIndexedSeq: _*)
            q.processAllAvailable()
          }
        val streamed = spark.sql("SELECT doc_a, doc_b FROM neardup")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamed == batchPairs,
          s"stream-only: ${(streamed -- batchPairs).take(5)}; batch-only: ${(batchPairs -- streamed).take(5)}")
      } finally q.stop()
    } finally corpus.unpersist()
  }

  test("stream-stream self-join pairs same-window near-dups (batch parity)") {
    // no corpus index at all: every pair member arrives IN-STREAM, split
    // across micro-batches in hashed order, so same-batch pairing,
    // cross-batch pairing (via join state) and multi-band dedup are all
    // exercised; the verified pair set must equal the batch MinHash path.
    // Timestamps are offset off the epoch: a row whose event time equals
    // the stream's INITIAL watermark (epoch 0) is dropped as late by the
    // join — real arrival times never sit at epoch 0, synthetic ones must
    // not either (operator scaladoc documents the contract)
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val batchPairs = DedupOps.nearDupPairs(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "fixture must contain near-dup pairs")

    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id").as("docId"), col("lang"), col("text"),
        (col("doc_id") * 1000000L + 86400000000L).as("tsUs"))
      .as[TimedDoc].collect()

    val source = MemoryStream[TimedDoc]
    val q = NearDupStream.nearDupWithinStream(spark, source.toDS())
      .writeStream.format("memory").queryName("neardup_ss")
      .outputMode("append").start()
    try {
      docs.sortBy(d => d.docId * 2654435761L % 1000000007L)
        .grouped(docs.length / 3 + 1).foreach { batch =>
          source.addData(batch.toIndexedSeq: _*)
          q.processAllAvailable()
        }
      val streamed = spark.sql("SELECT doc_a, doc_b FROM neardup_ss")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batchPairs,
        s"stream-only: ${(streamed -- batchPairs).take(5)}; " +
          s"batch-only: ${(batchPairs -- streamed).take(5)}")
    } finally q.stop()
  }

  test("foreachBatch pruned probe equals the batch pair set over the published index") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // the corpus-scale production path: each trigger probes the published
    // DedupIndex through the PRUNED band + doc scans (plan pinned in
    // PlanShapeSpec); streaming the whole corpus against its own index in
    // several microbatches must recover exactly the batch MinHash pair set
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dedupidx-feb").toString
    assert(!graft.sources.DedupIndex.isPublished(spark, dir))
    val (nDocs, nBands) =
      graft.sources.DedupIndex.publish(spark, TestSpark.sf0001, dir)
    assert(graft.sources.DedupIndex.isPublished(spark, dir))
    assert(nBands == nDocs * graft.functions.MinHashSig.DefaultBands)
    val batchPairs = DedupOps.nearDupPairs(spark, TestSpark.sf0001)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "fixture must contain near-dup pairs")

    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id").as("docId"), col("lang"), col("text"),
        (col("doc_id") * 1000000L).as("tsUs"))
      .as[TimedDoc].collect()
    val buf = scala.collection.mutable.Set[(Long, Long)]()
    val source = MemoryStream[TimedDoc]
    val q = source.toDS().toDF().writeStream
      .foreachBatch(graft.streaming.NearDupStream.foreachBatchProbe(spark, dir) {
        out => buf.synchronized {
          buf ++= out.collect()
            .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
        }
      })
      .start()
    try {
      docs.sortBy(d => d.docId * 2654435761L % 1000000007L)
        .grouped(docs.length / 3 + 1).foreach { b =>
          source.addData(b.toIndexedSeq: _*)
          q.processAllAvailable()
        }
    } finally q.stop()
    assert(buf.toSet == batchPairs,
      s"probe-only: ${(buf.toSet -- batchPairs).take(5)}; batch-only: ${(batchPairs -- buf.toSet).take(5)}")
    spark.catalog.clearCache()
  }

  test("probe broadcast gate: limit 0 forces the shuffle path, result-identical") {
    // the VectorIndexSpec convention applied to the text probe: a batch
    // above the broadcast gate (forced with limit 0) must take the
    // shuffle joins over the FULL index scans and still produce the
    // identical verified pair set — the backlog-catch-up trigger safety
    // the r13 ADVICE asked for
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dedupidx-gate").toString
    graft.sources.DedupIndex.publish(spark, TestSpark.sf0001, dir)
    val microbatch = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id").as("docId"), col("text"),
        (col("doc_id") * 1000000L).as("tsUs"))
    def pairsWith(limit: Long): Set[(Long, Long)] =
      graft.streaming.NearDupStream.probeIndexBatch(spark, microbatch, dir,
        broadcastRowLimit = limit) { out =>
        out.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      }
    val gated = pairsWith(graft.sources.VectorIndex.QueryBatchBroadcastRowLimit)
    val shuffled = pairsWith(0L)
    assert(gated.nonEmpty && shuffled == gated,
      s"shuffle-path pairs differ: ${(gated -- shuffled).take(3)} / ${(shuffled -- gated).take(3)}")
    spark.catalog.clearCache()
  }

  test("versioned-root probe picks up a maintain republish on the NEXT trigger") {
    // the freshness upgrade per-trigger pointer resolution buys: the
    // fixture's planted pair 5 ~ 450 (J=0.98) is split — v1 holds the
    // even corpus WITHOUT 450, a maintain merges 450 in BETWEEN triggers,
    // and the un-restarted stream's next trigger finds the pair
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val full = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("text"))
    val root = s"${java.nio.file.Files.createTempDirectory("graft-dedupidx-vroot")}/root"
    graft.sources.DedupIndex.publishVersionedFrom(spark,
      full.filter(col("doc_id") % 2 === 0 && col("doc_id") =!= 450), root)

    val probeDoc = Tables.documents(spark, TestSpark.sf0001)
      .filter(col("doc_id") === 5)
      .select(col("doc_id").as("docId"), col("lang"), col("text"),
        (col("doc_id") * 1000000L).as("tsUs"))
      .as[TimedDoc].collect()
    val buf = scala.collection.mutable.Set[(Long, Long)]()
    val source = MemoryStream[TimedDoc]
    val q = source.toDS().toDF().writeStream
      .foreachBatch(graft.streaming.NearDupStream.foreachBatchProbe(spark, root) {
        out => buf.synchronized {
          buf ++= out.collect()
            .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
        }
      })
      .start()
    try {
      source.addData(probeDoc.toIndexedSeq: _*)
      q.processAllAvailable()
      assert(!buf.contains((5L, 450L)),
        "trigger 1 matched a doc the v1 corpus does not hold")
      graft.sources.DedupIndex.maintain(spark, root,
        full.filter(col("doc_id") === 450))
      source.addData(probeDoc.toIndexedSeq: _*)
      q.processAllAvailable()
      assert(buf.contains((5L, 450L)),
        "trigger 2 did not see the maintained-in corpus member")
    } finally q.stop()
    spark.catalog.clearCache()
  }

  test("stream-stream slot cap bounds an in-window flood of near-identical docs") {
    // 400 near-identical docs arrive in one window: uncapped, every
    // (band, bv) bucket holds all 400 and the join enumerates
    // 32·C(400,2) ≈ 2.5M raw pairs (the batch defect this round's width
    // cap fixed, streaming edition). With bucketSlots = 4 each bucket
    // admits at most 4 members per horizon, so raw enumeration is
    // <= 32·C(4,2) = 192 — pinned by asserting the emitted pair set
    // stays within the <= 128 docs that can hold any slot at all.
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val base = (0 until 45).map(i => s"flood${i * 3 % 31} tk$i").mkString(" ")
    val docs = (0 until 400).map { i =>
      TimedDoc(i.toLong, "en", s"$base uniq${i}a uniq${i}b",
        86400000000L + i * 1000000L)
    }
    val source = MemoryStream[TimedDoc]
    val q = NearDupStream.nearDupWithinStream(spark, source.toDS(),
        bucketSlots = 4)
      .writeStream.format("memory").queryName("neardup_flood")
      .outputMode("append").start()
    try {
      docs.grouped(150).foreach { b =>
        source.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      val pairs = spark.sql("SELECT doc_a, doc_b FROM neardup_flood")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.nonEmpty, "retained slot-holders must still pair")
      val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // at most bucketSlots × bands distinct docs can hold a slot; the
      // flood's C(400,2) ≈ 80k pair space must NOT appear
      assert(members.length <= 4 * 32,
        s"cap leaked: ${members.length} docs paired")
      assert(pairs.length <= members.length * (members.length - 1) / 2)
    } finally q.stop()
  }

  test("index refresh cycle reaches batch parity with no double emission") {
    // The production cycle the operator documents: the static band index
    // is republished on each corpus rebuild, and the stream restarts
    // against the new publish. Simulated here as two publishes: index v1 =
    // first half of the corpus (phase-1 arrivals = that same half), then a
    // rebuild to the full corpus for phase-2 arrivals (second half).
    // Expected: phase 1 emits exactly the batch pairs inside the old
    // corpus (the freshness contract — nothing involving unseen docs),
    // the refresh closes every remaining pair (cross-half members are in
    // index v2 when their partner arrives; second-half-internal pairs
    // catch on the later member's arrival), and no pair re-emits across
    // the rebuild because each doc arrives once.
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val all = DedupOps.docHashes(spark, TestSpark.sf0001).persist()
    try {
      val docs = Tables.documents(spark, TestSpark.sf0001)
        .select(col("doc_id").as("docId"), col("lang"), col("text"),
          (col("doc_id") * 1000000L).as("tsUs"))
        .as[TimedDoc].collect()
      val split = docs.map(_.docId).max / 2
      val batchPairs = DedupOps.nearDupPairs(spark, TestSpark.sf0001)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val oldPairs = batchPairs.filter(p => p._1 < split && p._2 < split)
      // the refresh must have something to close or the test proves nothing
      assert(oldPairs.nonEmpty && oldPairs != batchPairs,
        "fixture must have pairs inside AND beyond the old corpus")

      def phase(corpus: org.apache.spark.sql.DataFrame, name: String,
          arrivals: Seq[TimedDoc]): Set[(Long, Long)] = {
        val source = MemoryStream[TimedDoc]
        val q = NearDupStream.nearDupAgainstCorpus(spark, source.toDS(), corpus)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          arrivals.sortBy(d => d.docId * 2654435761L % 1000000007L)
            .grouped(arrivals.length / 2 + 1).foreach { b =>
              source.addData(b.toIndexedSeq: _*)
              q.processAllAvailable()
            }
          spark.sql(s"SELECT doc_a, doc_b FROM $name")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        } finally q.stop()
      }

      val r1 = phase(all.filter(col("doc_id") < split), "neardup_v1",
        docs.filter(_.docId < split).toSeq)
      val r2 = phase(all, "neardup_v2", docs.filter(_.docId >= split).toSeq)

      assert(r1 == oldPairs,
        s"phase 1 must see exactly the old corpus's pairs; " +
          s"extra: ${(r1 -- oldPairs).take(5)}, missing: ${(oldPairs -- r1).take(5)}")
      assert((r1 ++ r2) == batchPairs,
        s"refresh did not close the gap; missing: ${(batchPairs -- r1 -- r2).take(5)}, " +
          s"extra: ${((r1 ++ r2) -- batchPairs).take(5)}")
      assert(r1.intersect(r2).isEmpty,
        s"pair re-emitted across the rebuild: ${r1.intersect(r2).take(5)}")
    } finally all.unpersist()
  }
}
