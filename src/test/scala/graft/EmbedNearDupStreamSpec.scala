package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.VectorOps
import graft.streaming.EmbedNearDupStream

/** Top-level so Spark can build its encoder without an outer scope. */
case class EmbedEv(vec_id: Long, embedding: Array[Float], ts: java.sql.Timestamp)

/** Streaming embedding near-dup must agree with the batch bucketed miner
  * when the whole corpus streams against its own index — the same
  * online/batch parity contract the text twin carries. */
class EmbedNearDupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed against the full-corpus index, pairs equal the batch miner") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val d = TestSpark.sf0001
    val corpusEmb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val n = corpusEmb.count()
    val width = VectorOps.lshWidthFor(n)
    val cap = VectorOps.knnCapFor(n, width)

    val batch = VectorOps.embedNeardupLsh(spark, d, width,
        VectorOps.LshProbes, cap, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain bucketed near-dup pairs")

    val evs = corpusEmb.collect().map { r =>
      EmbedEv(r.getLong(0), r.getSeq[Float](1).toArray,
        new java.sql.Timestamp(1700000000000L + r.getLong(0)))
    }
    val source = MemoryStream[EmbedEv]
    val q = EmbedNearDupStream.nearDupAgainstCorpus(spark, source.toDF(),
        corpusEmb, width, VectorOps.LshProbes, cap, threshold = 0.45)
      .writeStream.format("memory").queryName("embed_neardup")
      .outputMode("append").start()
    try {
      evs.grouped(evs.length / 3 + 1).foreach { b =>
        source.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.sql("SELECT in_id, corpus_id FROM embed_neardup")
        .collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)))).toSet
      assert(streamed == batch,
        s"missing: ${batch.diff(streamed)}; extra: ${streamed.diff(batch)}")
      // and no pair surfaced twice per direction (one bucket per corpus
      // vector + distinct probe buckets -> at most one meeting)
      val directed = spark.sql("SELECT in_id, corpus_id FROM embed_neardup")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(directed.length == directed.distinct.length,
        "a pair met through more than one bucket")
    } finally q.stop()
  }

  test("streamed incoming fold to best match equals the batch cross-corpus dedup") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // ONE cross-corpus semantics, two execution modes: odd vectors
    // streamed against the even-corpus index, folded to (max sim, min id)
    // per arrival, must equal q_embed_cross_dedup's batch answer
    val d = TestSpark.sf0001
    val all = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = all.count()
    val width = VectorOps.lshWidthFor(n)
    val cap = VectorOps.knnCapFor(n, width)
    val batch = VectorOps.embedCrossDedup(spark, d, width,
        VectorOps.LshProbes, cap, threshold = 0.45)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty, "fixture must contain cross-corpus matches")

    val corpusEmb = all.filter(col("vec_id") % 2 === 0)
    val incoming = all.filter(col("vec_id") % 2 === 1).collect().map { r =>
      EmbedEv(r.getLong(0), r.getSeq[Float](1).toArray,
        new java.sql.Timestamp(1700000000000L + r.getLong(0)))
    }
    val source = MemoryStream[EmbedEv]
    val q = EmbedNearDupStream.nearDupAgainstCorpus(spark, source.toDF(),
        corpusEmb, width, VectorOps.LshProbes, cap, threshold = 0.45)
      .writeStream.format("memory").queryName("embed_cross")
      .outputMode("append").start()
    try {
      source.addData(incoming.toIndexedSeq: _*)
      q.processAllAvailable()
      val folded = spark.sql("SELECT in_id, corpus_id, sim FROM embed_cross")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
        .map { case (in, rs) => in -> rs.minBy(t => (-t._3, t._2))._2 }
      assert(folded == batch,
        s"stream fold diverged: missing=${batch.toSet.diff(folded.toSet).take(5)} " +
          s"extra=${folded.toSet.diff(batch.toSet).take(5)}")
    } finally q.stop()
  }

  test("foreachBatch probe over a PUBLISHED VectorIndex equals the corpus-backed path, cache slots bounded") {
    import spark.implicits._
    implicit val sql = spark.sqlContext

    // the production ingest shape: width/probes/cap and the bucket table
    // all come from the loaded artifact, and every trigger routes through
    // the gated partition-pruned batch search. Result parity with the
    // in-query corpus join at the artifact's frozen geometry, fed in
    // several microbatches to exercise repeated triggers; the armed
    // batch-frame registry must stay bounded (one slot), not grow one
    // pinned frame per trigger (the r12 advice leak).
    val d = TestSpark.sf0001
    val all = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val corpusEmb = all.filter(col("vec_id") % 2 === 0)
    val n = all.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-feb").toString
    val m = graft.sources.VectorIndex.publishFrom(spark, corpusEmb, dir,
      scheduleN = Some(n))

    val incoming = all.filter(col("vec_id") % 2 === 1).collect().map { r =>
      EmbedEv(r.getLong(0), r.getSeq[Float](1).toArray,
        new java.sql.Timestamp(1700000000000L + r.getLong(0)))
    }
    val corpusSource = MemoryStream[EmbedEv]
    val corpusQ = EmbedNearDupStream.nearDupAgainstCorpus(spark,
        corpusSource.toDF(), corpusEmb, m.width, m.probes, m.cap,
        threshold = 0.45)
      .writeStream.format("memory").queryName("feb_corpus")
      .outputMode("append").start()
    val viaCorpus = try {
      corpusSource.addData(incoming.toIndexedSeq: _*)
      corpusQ.processAllAvailable()
      spark.sql("SELECT in_id, corpus_id, sim FROM feb_corpus")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    } finally corpusQ.stop()

    val buf = scala.collection.mutable.ListBuffer[(Long, Long, Double)]()
    val slotCounts = scala.collection.mutable.ListBuffer[Int]()
    val source = MemoryStream[EmbedEv]
    val q = source.toDF().writeStream
      .foreachBatch(EmbedNearDupStream.foreachBatchProbe(spark, dir, 0.45) {
        out => buf.synchronized {
          buf ++= out.collect()
            .map(r => (r.getAs[Long]("in_id"), r.getAs[Long]("corpus_id"),
              r.getAs[Double]("sim")))
        }
      })
      .start()
    try {
      incoming.grouped(incoming.length / 3 + 1).foreach { b =>
        source.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        slotCounts += graft.sources.VectorIndex.armedSlotCount(spark)
      }
    } finally q.stop()
    assert(buf.nonEmpty && buf.toSet == viaCorpus,
      s"missing=${viaCorpus.diff(buf.toSet).take(5)} extra=${buf.toSet.diff(viaCorpus).take(5)}")
    // each arrival lands in one trigger and meets a corpus vector in at
    // most one bucket
    assert(buf.length == buf.distinct.length, "a match surfaced twice")
    // the armed batch-frame registry must not grow with trigger count:
    // every trigger reuses the ONE keyed slot (other suites may have
    // armed other dirs' slots in this shared session — growth, not the
    // absolute count, is the leak observable)
    assert(slotCounts.distinct.size == 1,
      s"armed slots grew across triggers: $slotCounts")
    spark.catalog.clearCache()
  }

  test("foreachBatch probe picks up a mergePublish on the NEXT trigger (no restart)") {
    // the probe resolves the _current pointer per trigger (VectorIndex
    // loaders bind the version per call), so a merge landing BETWEEN
    // microbatches is visible to the very next one
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val d = TestSpark.sf0001
    val all = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = all.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-livefresh").toString
    graft.sources.VectorIndex.publishFrom(spark,
      all.filter(col("vec_id") % 4 === 0), dir, scheduleN = Some(n))

    val odd = all.filter(col("vec_id") % 2 === 1).collect().map { r =>
      EmbedEv(r.getLong(0), r.getSeq[Float](1).toArray,
        new java.sql.Timestamp(1700000000000L + r.getLong(0)))
    }
    val buf = scala.collection.mutable.Set[(Long, Long)]()
    val source = MemoryStream[EmbedEv]
    val q = source.toDF().writeStream
      .foreachBatch(EmbedNearDupStream.foreachBatchProbe(spark, dir, 0.30) {
        out => buf.synchronized {
          buf ++= out.collect()
            .map(r => (r.getAs[Long]("in_id"), r.getAs[Long]("corpus_id")))
        }
      })
      .start()
    try {
      source.addData(odd.toIndexedSeq: _*)
      q.processAllAvailable()
      assert(!buf.exists(_._2 % 4 == 2),
        "trigger 1 matched a corpus member the v1 publish does not hold")
      val before = buf.toSet
      graft.sources.VectorIndex.mergePublish(spark, dir,
        all.filter(col("vec_id") % 4 === 2))
      source.addData(odd.toIndexedSeq: _*)
      q.processAllAvailable()
      assert(before.subsetOf(buf.toSet), "v1 matches lost across the merge")
      assert(buf.exists(_._2 % 4 == 2),
        "trigger 2 did not see the merged-in corpus members")
    } finally q.stop()
    spark.catalog.clearCache()
  }

  test("index refresh cycle: a mergePublish reaches the stream on restart") {
    // The production cycle the artifact documents (the NearDupStream text
    // twin's contract, on the vector side): corpus v1 is published, the
    // stream probes it; an incremental mergePublish lands v2 beside it
    // and flips the pointer; the replayed probe sees v2 — including
    // matches against merged-in corpus members phase 1 could not see —
    // with geometry frozen so both phases equal the corpus-backed path
    // at the same schedule.
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val d = TestSpark.sf0001
    val all = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = all.count()
    val corpus1 = all.filter(col("vec_id") % 4 === 0)
    val batch2 = all.filter(col("vec_id") % 4 === 2)
    val evenAll = all.filter(col("vec_id") % 2 === 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-refresh").toString
    val m = graft.sources.VectorIndex.publishFrom(spark, corpus1, dir,
      scheduleN = Some(n))

    val odd = all.filter(col("vec_id") % 2 === 1).collect().map { r =>
      EmbedEv(r.getLong(0), r.getSeq[Float](1).toArray,
        new java.sql.Timestamp(1700000000000L + r.getLong(0)))
    }.toSeq
    val oddDf = odd.toDF()
    def viaProbe: Set[(Long, Long)] =
      EmbedNearDupStream.probeIndexBatch(spark, oddDf, dir, 0.30) { out =>
        out.collect().map(r => (r.getAs[Long]("in_id"),
          r.getAs[Long]("corpus_id"))).toSet
      }
    def corpusRef(corpus: org.apache.spark.sql.DataFrame,
        name: String): Set[(Long, Long)] = {
      val source = MemoryStream[EmbedEv]
      val q = EmbedNearDupStream.nearDupAgainstCorpus(spark, source.toDF(),
          corpus, m.width, m.probes, m.cap, threshold = 0.30)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        source.addData(odd.toIndexedSeq: _*)
        q.processAllAvailable()
        spark.sql(s"SELECT in_id, corpus_id FROM $name")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }

    // phase 1: the full incoming replay against the v1 publish
    val p1 = viaProbe
    assert(p1 == corpusRef(corpus1, "vecidx_refresh_p1c"),
      "phase 1 must probe exactly the v1 corpus")

    // rebuild-and-replay: merge lands v2, the next probe replays
    graft.sources.VectorIndex.mergePublish(spark, dir, batch2)
    val p2 = viaProbe
    assert(p2 == corpusRef(evenAll, "vecidx_refresh_p2c"),
      "the replay must probe the merged v2 corpus")
    // the refresh must be OBSERVABLE: frozen geometry keeps every v1
    // match (p2 superset) and some match hits a merged-in member
    assert(p1.subsetOf(p2), s"v1 matches lost across the merge: ${(p1 -- p2).take(5)}")
    assert(p2.exists(_._2 % 4 == 2),
      "fixture has no bucketed match against a merged-in corpus member")
    spark.catalog.clearCache()
  }
}
