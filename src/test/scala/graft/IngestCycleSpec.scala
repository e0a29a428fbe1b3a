package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.CurationStream.TimedDoc
import graft.operators.DedupOps

/** The COMPOSED production ingest cycle, for all three published index
  * families in one spec — the loop an operator actually runs, end to
  * end: publish v1 → the foreachBatch probe stream is RUNNING → maintain
  * (partition-level merge + compaction hook + version prune) lands
  * MID-STREAM → the un-restarted stream's next trigger probes the new
  * version. The per-family pieces exist in the family specs
  * (FingerprintIndexSpec mid-stream refresh, VectorIndexSpec maintain,
  * NearDupStreamSpec versioned-root pickup); this spec exercises the
  * combined cycle per family and asserts, across the version swap:
  *
  *   - RESULT CONTINUITY: every match the v1 probe emitted re-emits
  *     against the maintained version (a merge must never lose corpus);
  *   - FRESHNESS: a match only the maintained-in members can produce
  *     appears on the next trigger, no restart;
  *   - VERSION HYGIENE: at most `keep` = 2 version dirs survive;
  *   - CACHE FLATNESS: the probes are loan-patterned, so the trigger
  *     count adds no pinned RDDs (getPersistentRDDs is flat across
  *     triggers and across the swap), and the vector path's armed
  *     batch-frame slot registry does not grow (armedSlotCount).
  */
class IngestCycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def pinnedRdds: Int = spark.sparkContext.getPersistentRDDs.size
  private def versionDirs(root: String): Int =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.matches("v\\d+"))

  test("text index: publish, probe, maintain mid-stream, probe the new version") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    spark.catalog.clearCache()
    val full = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    // planted pair 5 ~ 450 is the FRESHNESS signal (450 withheld from
    // v1); a CONTINUITY pair is any verified batch pair not touching it
    val batchPairs = DedupOps.nearDupPairs(spark, d)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (ca, cb) = batchPairs
      .find(p => p._1 != 5 && p._2 != 5 && p._1 != 450 && p._2 != 450)
      .getOrElse(fail("fixture holds no continuity pair"))
    val root = s"${java.nio.file.Files.createTempDirectory("graft-cycle-text")}/root"
    graft.sources.DedupIndex.publishVersionedFrom(spark,
      full.filter(col("doc_id") =!= 450), root)

    val probes = Tables.documents(spark, d)
      .filter(col("doc_id").isin(5L, ca))
      .select(col("doc_id").as("docId"), col("lang"), col("text"),
        (col("doc_id") * 1000000L).as("tsUs"))
      .as[TimedDoc].collect()
    val trig = scala.collection.mutable.ListBuffer[Set[(Long, Long)]]()
    val pins = scala.collection.mutable.ListBuffer[Int]()
    val source = MemoryStream[TimedDoc]
    val q = source.toDS().toDF().writeStream
      .foreachBatch(graft.streaming.NearDupStream.foreachBatchProbe(spark, root) {
        out => trig.synchronized {
          trig += out.collect()
            .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
        }
      })
      .start()
    try {
      source.addData(probes.toIndexedSeq: _*)
      q.processAllAvailable()
      pins += pinnedRdds
      assert(trig.head.contains((math.min(ca, cb), math.max(ca, cb))),
        s"v1 continuity pair ($ca, $cb) not matched at trigger 1")
      assert(!trig.head.contains((5L, 450L)),
        "trigger 1 matched a doc the v1 corpus does not hold")
      // the full maintain cycle lands between triggers: merge +
      // compaction hook + prune, pointer flip — no stream restart.
      // The PRECISION GATE is ARMED (r17) at a floor the healthy
      // corpus clears: the production ingest shape runs the probe
      // every cycle, and an un-tripped floor must add no version, no
      // escalation, and no pinned state to the running stream.
      graft.sources.DedupIndex.maintain(spark, root,
        full.filter(col("doc_id") === 450),
        precisionProbe = Some(graft.sources.PrecisionProbe(0.3)))
      assert(graft.sources.DedupIndex.loadMeta(spark,
        graft.sources.StorageOps.currentDir(spark, root)).bandfam ==
        graft.sources.DedupIndex.BandFamily,
        "an un-tripped precision floor escalated the band family")
      source.addData(probes.toIndexedSeq: _*)
      q.processAllAvailable()
      pins += pinnedRdds
      assert(trig.last.contains((5L, 450L)),
        "trigger 2 did not see the maintained-in corpus member")
      assert(trig.head.subsetOf(trig.last),
        s"v1 matches lost across the maintain swap: ${trig.head -- trig.last}")
    } finally q.stop()
    assert(versionDirs(root) <= 2, s"${versionDirs(root)} versions survive keep = 2")
    assert(pins.distinct.size == 1, s"pinned RDDs grew across the swap: $pins")
    spark.catalog.clearCache()
  }

  test("vector index: publish, probe, maintain mid-stream, probe the new version") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    spark.catalog.clearCache()
    val all = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    val n = all.count()
    // the FRESHNESS member is derived, not guessed: publish the full
    // corpus once, batch-probe the odd vectors, and withhold ONE even
    // corpus member some probe verifiably matches — so trigger 2's new
    // match is guaranteed by construction, and removing a single vector
    // keeps the geometry schedule bit-identical (precondition pinned:
    // this cycle tests the merge-only path; the schedule-driven rebuild
    // has its own spec in VectorIndexSpec)
    assert(operators.VectorOps.lshWidthFor(n - 1) ==
        operators.VectorOps.lshWidthFor(n) &&
      operators.VectorOps.ivfCellsFor(n - 1) ==
        operators.VectorOps.ivfCellsFor(n),
      s"fixture count $n sits exactly on a schedule boundary — pick a different withheld member")
    val fullDir = java.nio.file.Files
      .createTempDirectory("graft-cycle-vec-full").toString
    graft.sources.VectorIndex.publishFrom(spark, all, fullDir)
    val oddQ = all.filter(col("vec_id") % 2 === 1)
    val fullPairs = graft.sources.VectorIndex.matchesAbove(spark, fullDir,
        oddQ, 0.30)
      .collect().map(r => (r.getAs[Long]("in_id"), r.getAs[Long]("corpus_id")))
    val fresh = fullPairs.collect { case (_, c) if c % 2 == 0 => c }
      .minOption.getOrElse(fail("no odd probe matches an even corpus member"))

    val dir = java.nio.file.Files
      .createTempDirectory("graft-cycle-vec").toString
    // gtProbe at publish (r16): the armed maintain below and both
    // recallOf() readings run off the STORED ground truth — the cycle's
    // audit pays |probe| × batch at merge, never a corpus scan
    val auditQ = all.filter(col("vec_id") < 10)
    graft.sources.VectorIndex.publishFrom(spark,
      all.filter(col("vec_id") =!= fresh), dir, gtProbe = Some(auditQ))

    // recall floor across the maintain swap (r15 verdict #1): the
    // artifact's delivered recall@5 — ground-truthed against the corpus
    // the artifact itself holds — measured on the live v1, and again on
    // the maintained version below. shareTag = None: no persisted
    // frames, so the cache-flatness assertions see only the stream's
    assert(graft.sources.VectorIndex.storedGtUsable(spark, dir,
      auditQ.select(col("vec_id").as("query_id"), col("embedding")), 5),
      "the armed cycle's audit is not reading the stored ground truth")
    def recallOf(): Map[String, Double] =
      graft.sources.VectorIndex.recallAudit(spark, dir, auditQ,
        k = 5, nprobe = 2)
        .collect()
        .map(r => r.getAs[String]("variant") -> r.getAs[Double]("recall_at_5"))
        .toMap
    val recallV1 = recallOf()

    val odd = oddQ.collect().map { r =>
      EmbedEv(r.getLong(0), r.getSeq[Float](1).toArray,
        new java.sql.Timestamp(1700000000000L + r.getLong(0)))
    }
    val trig = scala.collection.mutable.ListBuffer[Set[(Long, Long)]]()
    val pins = scala.collection.mutable.ListBuffer[Int]()
    val slots = scala.collection.mutable.ListBuffer[Int]()
    val source = MemoryStream[EmbedEv]
    val q = source.toDF().writeStream
      .foreachBatch(graft.streaming.EmbedNearDupStream
        .foreachBatchProbe(spark, dir, 0.30) { out =>
          trig.synchronized {
            trig += out.collect()
              .map(r => (r.getAs[Long]("in_id"), r.getAs[Long]("corpus_id")))
              .toSet
          }
        })
      .start()
    try {
      source.addData(odd.toIndexedSeq: _*)
      q.processAllAvailable()
      pins += pinnedRdds
      slots += graft.sources.VectorIndex.armedSlotCount(spark)
      assert(trig.head.nonEmpty, "trigger 1 found no v1 matches at 0.30")
      assert(!trig.head.exists(_._2 == fresh),
        "trigger 1 matched the corpus member the v1 publish does not hold")
      // the production maintain, with the r15 recall gate ARMED: the
      // audit runs against the freshly-merged artifact mid-cycle, and a
      // healthy merge must not false-trip the retrain (the floor sits
      // well under the fixture's measured 0.18-0.68 recalls)
      val (_, rebuilt) = graft.sources.VectorIndex.maintain(spark, dir,
        all.filter(col("vec_id") === fresh),
        recallProbe = Some(graft.sources.VectorIndex.RecallProbe(
          auditQ, floor = 0.05)))
      assert(!rebuilt,
        "single-member maintain tripped a rebuild (schedule or recall gate)")
      source.addData(odd.toIndexedSeq: _*)
      q.processAllAvailable()
      pins += pinnedRdds
      slots += graft.sources.VectorIndex.armedSlotCount(spark)
      assert(trig.last.exists(_._2 == fresh),
        "trigger 2 did not see the maintained-in corpus member")
      assert(trig.head.subsetOf(trig.last),
        s"v1 matches lost across the maintain swap: ${trig.head -- trig.last}")
    } finally q.stop()
    // the maintained artifact must still DELIVER: recall@5 over the
    // post-swap version, per variant, floored both absolutely and
    // against the pre-maintain reading — the production "did last
    // night's maintain hurt recall" check the count-schedule
    // needsRebuild flag cannot make. One merged-in member can shift the
    // ground-truth top-5 sets by a hit or two (25 brute rows here), so
    // the relative floor allows 0.08 = 2 flipped hits.
    val recallV2 = recallOf()
    info(s"recall v1=$recallV1 v2=$recallV2")
    assert(recallV2.keySet == recallV1.keySet, s"$recallV1 vs $recallV2")
    for ((variant, r1) <- recallV1) {
      val r2 = recallV2(variant)
      assert(r2 >= r1 - 0.08,
        s"maintain degraded $variant recall: $r1 -> $r2")
    }
    assert(recallV2("ivf") >= 0.5,
      s"ivf recall@5 below the fixture floor: ${recallV2("ivf")}")
    assert(versionDirs(dir) <= 2, s"${versionDirs(dir)} versions survive keep = 2")
    assert(slots.distinct.size == 1, s"armed slots grew across the swap: $slots")
    assert(pins.distinct.size == 1, s"pinned RDDs grew across the swap: $pins")
    spark.catalog.clearCache()
  }

  test("fingerprint index: publish, probe, maintain mid-stream, probe the new version") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    spark.catalog.clearCache()
    val all = operators.AudioOps.wavPayloads0(spark, d).select("doc_id", "fp")
    val rows = all.collect().map(r => (r.getLong(0), r.getLong(1)))
    // freshness: a dup group ALL of whose members are withheld from v1;
    // continuity: any other corpus member matches its own stored group
    val dupFp = rows.groupBy(_._2).filter(_._2.length >= 2)
      .keys.minOption.getOrElse(fail("fixture holds no dup group"))
    val members = rows.filter(_._2 == dupFp).map(_._1).sorted
    val contId = rows.map(_._1).filterNot(members.contains).min
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cycle-fp").toString
    graft.sources.FingerprintIndex.publishGroups(spark,
      all.filter(!col("doc_id").isin(members.map(Long.box).toSeq: _*))
        .groupBy("fp").agg(count(lit(1)).as("n"), min("doc_id").as("rep")),
      dir)

    def ev(id: Long) = AudioEv(id,
      operators.AudioOps.encodeWav(
        operators.AudioOps.fpClipSamples(operators.AudioOps.fpCid(id))),
      new java.sql.Timestamp(1700000000000L + id))
    val probes = Seq(ev(members.head), ev(contId))
    val trig = scala.collection.mutable.ListBuffer[Set[(Long, Long)]]()
    val pins = scala.collection.mutable.ListBuffer[Int]()
    val source = MemoryStream[AudioEv]
    val q = source.toDF().writeStream
      .foreachBatch(graft.streaming.AudioDedupStream
        .foreachBatchProbe(spark, dir) { out =>
          trig.synchronized {
            trig += out.collect()
              .map(r => (r.getAs[Long]("in_id"), r.getAs[Long]("fp"))).toSet
          }
        })
      .start()
    try {
      source.addData(probes: _*)
      q.processAllAvailable()
      pins += pinnedRdds
      assert(trig.head.exists(_._1 == contId),
        "v1 continuity probe not matched at trigger 1")
      assert(!trig.head.exists(_._1 == members.head),
        "trigger 1 matched a group the v1 corpus does not hold")
      // full maintain cycle, with the foreachBatch replay guard armed
      graft.sources.FingerprintIndex.maintain(spark, dir,
        all.filter(col("doc_id").isin(members.tail.map(Long.box).toSeq: _*)),
        batchId = Some(7L))
      source.addData(probes: _*)
      q.processAllAvailable()
      pins += pinnedRdds
      assert(trig.last.contains((members.head, dupFp)),
        "trigger 2 did not see the maintained-in group")
      assert(trig.head.subsetOf(trig.last),
        s"v1 matches lost across the maintain swap: ${trig.head -- trig.last}")
    } finally q.stop()
    assert(versionDirs(dir) <= 2, s"${versionDirs(dir)} versions survive keep = 2")
    assert(pins.distinct.size == 1, s"pinned RDDs grew across the swap: $pins")
    spark.catalog.clearCache()
  }
}
