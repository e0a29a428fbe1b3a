package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CoreOps

/** Plan-shape assertions (SURVEY.md §4): we rely on Catalyst for the
  * optimizations the reference hand-rolls, so we pin the expected physical
  * shapes — partial+final aggregation, broadcast vs shuffle join, filter
  * pushdown and column pruning reaching the parquet scan. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("groupBy plans partial + final hash aggregation") {
    val p = plan(CoreOps.queries("q_groupby_partial_final")(spark, sf))
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"), s"no partial aggregate in:\n$p")
  }

  test("broadcast join is actually broadcast") {
    val p = plan(CoreOps.queries("q_join_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("filter pushdown and column pruning reach the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("whole-stage codegen covers the agg pipeline") {
    val df = CoreOps.queries("q_groupby_highcard")(spark, sf)
    df.collect() // finalize the adaptive plan; codegen spans appear post-exec
    val p = plan(df)
    // whole-stage-codegen spans render as "*(n) " prefixes in plan strings
    assert(p.contains("*(1) HashAggregate") || p.contains("WholeStageCodegen"),
      s"no codegen span:\n$p")
  }

  test("semi/anti joins choose hash-based strategies (no cartesian)") {
    val p = plan(CoreOps.queries("q_join_semi_anti")(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("multi-join: dims broadcast, date filter pushed to the orders scan") {
    val p = plan(CoreOps.queries("q_multi_join")(spark, sf))
    // all four dimension sides build broadcast hash tables at this SF
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, s"joins in:\n$p")
    assert(!p.contains("CartesianProduct"))
    // Catalyst must simplify cast(o_orderdate as date) >= d into a scan-
    // pushable predicate — the join tree then starts from the filtered side
    assert(p.contains("GreaterThanOrEqual(o_orderdate,1995-01-01"),
      s"date filter not pushed:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Catalyst's InjectRuntimeFilter is the engine's answer to the
    // "pre-filter the big side before the shuffle" pattern: a bloom filter
    // built from the dim side's selective filter is pushed onto the fact
    // side, so non-matching fact rows drop BEFORE the join exchange. The
    // size thresholds exist for 100 TB reality (don't bother below 10 GB);
    // here they are lowered only to make the tiny fixture eligible —
    // asserting the rule fires end-to-end on this engine's plans.
    val s = spark
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val out = Tables.lineitem(s, sf)
        .join(Tables.part(s, sf).filter(col("p_brand") === "Brand#13"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("cnt"))
      val opt = out.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no runtime bloom filter injected:\n$opt")
      assert(out.collect().length == 1)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("AQE coalesces small post-shuffle partitions into a range read") {
    // the reference's partition-range read (Ors2ShuffleManager.scala:213-262
    // — one reducer fetches a contiguous range of map-output partitions) is
    // its AQE surface; on this engine the same behavior is Catalyst's
    // runtime partition coalescing. Pin that a small-output shuffle is
    // actually read as coalesced ranges, not 1 reducer per static partition
    // (and, unlike the reference's local-read limitation at :77-80, with no
    // locality constraint on who may read them).
    val df = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
    df.collect() // finalize the adaptive plan: coalescing happens at runtime
    val p = plan(df)
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"expected a coalesced AQEShuffleRead on a small shuffle:\n$p")
  }

  test("seq_pack plans one stream exchange + running-sum window, no joins") {
    val p = plan(graft.operators.PipelineOps.queries("q_seq_pack")(spark, sf))
    assert("Window".r.findAllIn(p).size == 1, s"window passes in:\n$p")
    // exactly two exchanges: the (lang, shard) stream partition and the
    // output sort's range partitioning — anything more means the running
    // sum stopped being partition-local
    assert("Exchange".r.findAllIn(p).size == 2, s"exchanges in:\n$p")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
  }

  test("data_mix samples and explodes map-side: no join, single agg exchange") {
    val p = plan(graft.operators.CurationOps.queries("q_data_mix")(spark, sf))
    assert(!p.contains("Join"), s"mixing must not join:\n$p")
    assert(p.contains("Generate"), s"copy explosion missing:\n$p")
    // partial + final aggregate around one exchange; plus the output sort
    assert(p.contains("partial_"), s"no map-side partial agg:\n$p")
    assert("Exchange".r.findAllIn(p).size == 2, s"exchanges in:\n$p")
  }

  test("interval join keys on (user_id, time bucket), not user_id alone") {
    // the bucket in the join key is what bounds a hot user's fan-out by
    // local density; without it the range predicate is a post-filter
    // over an all-errors x all-purchases per-user blowup
    val df = graft.operators.PipelineOps.queries("q_interval_join")(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    // any hash-keyed strategy qualifies (AQE broadcasts at small SFs);
    // what is pinned is the KEY — bucket alongside user_id
    val joinLine = p.linesIterator.find(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joinLine.exists(l => l.contains("bucket") && l.contains("user_id")),
      s"bucket missing from the join key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("simhash gate runs inside the band self-join, cap path joins hash-keyed") {
    // the 512-bit hamming gate must evaluate in the join stage (junk
    // pairs die before the distinct exchange), and the width-cap
    // machinery must stay hash-keyed: a cartesian/nested-loop here means
    // the band key stopped carrying entropy
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.operators.DedupOps.docHashes(spark, sf)
      .withColumn("sig", expr("simhash_sig(hs)"))
    val df = graft.operators.DedupOps.simhashCandidates(spark, docs)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    val joinLine = p.linesIterator.find(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("bit_count"))
    assert(joinLine.nonEmpty, s"hamming gate not inside the join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"non-hash join in the capped band plan:\n$p")
    // hot-bucket stats are a partial agg, and the cold side anti-joins them
    assert(p.contains("partial_"), s"hot-bucket agg not map-side partial:\n$p")
    assert(p.contains("LeftAnti"), s"cold path lost its anti-join:\n$p")
  }

  test("chunking is shuffle-free up to its output ordering") {
    val df = operators.TextOps.queries("q_chunk")(spark, sf)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // exactly one exchange: the range partitioning of the final orderBy
    // (part of the output contract); the chunk computation itself is a
    // pure projection + explode on the scan
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toSeq
    assert(exchanges.length == 1 && exchanges.head.contains("rangepartitioning"),
      s"chunking should shuffle only for the final sort:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
      s"chunking must not join or aggregate:\n$p")
  }

  test("heavy-hitters exact pass filters candidates BEFORE aggregating") {
    // the second pass must scan-filter on the MG candidate set and only
    // then aggregate — aggregating the full term domain first would be
    // exactly the full-cardinality shuffle the sketch exists to avoid
    val df = operators.TextOps.queries("q_heavy_hitters")(spark, sf)
    df.collect()
    val p = plan(df)
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0, s"no aggregation in exact pass:\n$p")
    val below = p.substring(aggIdx)
    assert(below.contains("INSET") || below.contains(" IN ("),
      s"candidate filter not below the aggregation:\n$p")
  }

  test("ledger queries compute the seq_id window exactly once (explode dups)") {
    // LedgerSpec releases its blocks(sf0.001) cache in afterAll; without
    // that, a cache hit would swap an InMemoryRelation into this plan and
    // its stored plan string would double the Window count
    val p = plan(graft.operators.LedgerOps.queries("q_dedup_exact")(spark, sf))
    // the r2 union form planned TWO identical Window subtrees + two scans
    assert("Window".r.findAllIn(p).size == 1, s"window subtrees in:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"scans in:\n$p")
  }

  test("salted dedup plans two hash aggregations and no window funnel") {
    // the point of the operator: both stages are partial-aggregable hash
    // aggregates — a Window here would re-introduce the hot-key funnel
    val df = operators.SkewOps.queries("q_dedup_salted")(spark, sf)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Window"), s"window funnel in salted dedup:\n$p")
    assert("partial_min".r.findAllIn(p).nonEmpty,
      s"stage aggregates not partial-aggregated:\n$p")
  }

  // an executed AQE plan string appends the "Initial Plan" section, which
  // would double every operator count — measure the final plan only
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    plan(df).split("== Initial Plan ==")(0)

  test("flow control plans one tenant exchange + local sort, no window") {
    // state-machine shape: ONE hash exchange on tenant, partition-local
    // sort, mapPartitions — a Window or a second exchange would mean the
    // ledger stopped being a single-pass operator (the output orderBy's
    // range exchange is the only other allowed exchange)
    val df = operators.HealthOps.queries("q_flow_control")(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("Window"), s"window in flow control:\n$p")
    assert("hashpartitioning\\(tenant".r.findAllIn(p).size >= 1,
      s"no tenant hash exchange:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"more than tenant+output exchanges:\n$p")
  }

  test("parquet aggregate pushdown serves MIN/MAX/COUNT from footer stats") {
    // the 100 TB lever for whole-table profiling aggregates: with DSv2
    // aggregate pushdown on, MIN/MAX/COUNT over an unfiltered parquet
    // scan read row-group FOOTER STATISTICS, not data pages — the scan
    // node advertises PushedAggregation and the result is unchanged
    val prev = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = spark.conf.getOption("spark.sql.sources.useV1SourceList")
    try {
      // pushdown lives on the DSv2 scan; parquet sits on the V1 list by
      // default, so route it through V2 for this query
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"),
          count(lit(1)).as("cnt"))
      val row = df.collect()(0)
      val p = plan(df)
      assert(p.contains("PushedAggregation"),
        s"aggregate not pushed to the scan:\n$p")
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      val direct = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(min(col("l_quantity")), max(col("l_quantity")), count(lit(1)))
        .collect()(0)
      assert(row.getDouble(0) == direct.getDouble(0) &&
        row.getDouble(1) == direct.getDouble(1) &&
        row.getLong(2) == direct.getLong(2),
        "footer-served aggregate differs from the data-page computation")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
      prevV1 match {
        case Some(v) => spark.conf.set("spark.sql.sources.useV1SourceList", v)
        case None => spark.conf.unset("spark.sql.sources.useV1SourceList")
      }
    }
  }

  test("vector index probe prunes partitions on a small batch") {
    // the published buckets/cells land hive-partitioned by a key-derived
    // column; a below-gate batch derives its partition-value set (a
    // bounded collect) and plants a static isin the scan turns into
    // PartitionFilters — the 100 TB read cut for artifact-backed probes.
    // A corpus-scale batch skips the filter (see VectorIndex header).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planshape-vecidx").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    graft.sources.VectorIndex.publishFrom(spark, emb, dir)
    val batch = emb.filter(col("vec_id") < 3)
    val pLsh = plan(graft.sources.VectorIndex.searchLsh(spark, dir, batch, k = 3))
    assert("""PartitionFilters: \[[^\]]*bpart#""".r.findFirstIn(pLsh).isDefined,
      s"no bpart partition filter on the bucket scan:\n$pLsh")
    val pIvf = plan(graft.sources.VectorIndex.searchIvf(
      spark, dir, batch, k = 3, nprobe = 1))
    assert("""PartitionFilters: \[[^\]]*cpart#""".r.findFirstIn(pIvf).isDefined,
      s"no cpart partition filter on the inverted-list scan:\n$pIvf")
    spark.catalog.clearCache()
  }

  test("IVF-ADC probe prunes code partitions and never scans embeddings") {
    // the PQ search must inherit the cells' partition pruning on the
    // cell-aligned codes dataset AND keep its cost contract: the corpus
    // side of the ADC join reads the codes files only — no `embedding`
    // column (and no buckets/cells payload) anywhere in its scans
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planshape-pqidx").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    graft.sources.VectorIndex.publishFrom(spark, emb, dir, pq = true)
    val batch = emb.filter(col("vec_id") < 3)
    val p = plan(graft.sources.VectorIndex.searchIvfPq(
      spark, dir, batch, k = 3, nprobe = 1))
    assert("""PartitionFilters: \[[^\]]*cpart#""".r.findFirstIn(p).isDefined,
      s"no cpart partition filter on the code scan:\n$p")
    val idxScans = p.linesIterator
      .filter(l => l.contains("Location") && l.contains(dir)).toSeq
    assert(idxScans.exists(_.contains("/codes")),
      s"ADC search does not scan the codes dataset:\n$p")
    assert(!idxScans.exists(l => l.contains("/cells") || l.contains("/buckets")),
      s"ADC search reads an embedding-payload dataset:\n$p")
    // the two-stage refine keeps the cost contract: candidate generation
    // on the pruned codes scan, the float re-rank on the pruned cells
    // scan — BOTH index scans carry the static cpart filter, and the
    // bucket payload is never touched
    val pr = plan(graft.sources.VectorIndex.searchIvfPqRefine(
      spark, dir, batch, k = 3, nprobe = 1, refineK = 10))
    val prScans = pr.linesIterator
      .filter(l => l.contains("Location") && l.contains(dir)).toSeq
    assert(prScans.exists(_.contains("/codes")) &&
      prScans.exists(_.contains("/cells")),
      s"refine search missing a stage scan:\n$pr")
    assert(!prScans.exists(_.contains("/buckets")),
      s"refine search reads the bucket dataset:\n$pr")
    assert("""PartitionFilters: \[[^\]]*cpart#""".r
        .findAllIn(pr).size >= 2,
      s"refine stages not both partition-pruned:\n$pr")
    spark.catalog.clearCache()
  }

  test("streaming index probes prune partitions per microbatch") {
    // the foreachBatch production path (EmbedNearDupStream/NearDupStream
    // .probeIndexBatch) must route each trigger through the gated batch
    // searches: the per-trigger plan shows the static key-derived
    // PartitionFilters instead of a full artifact scan — the r12 verdict's
    // one live 100 TB weak spot, closed
    val vdir = java.nio.file.Files
      .createTempDirectory("graft-planshape-vecstream").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    graft.sources.VectorIndex.publishFrom(spark, emb, vdir)
    val micro = emb.filter(col("vec_id") < 3)
      .withColumn("ts", lit(new java.sql.Timestamp(1700000000000L)))
    graft.streaming.EmbedNearDupStream
      .probeIndexBatch(spark, micro, vdir, 0.3) { out =>
        val p = plan(out)
        assert("""PartitionFilters: \[[^\]]*bpart#""".r.findFirstIn(p).isDefined,
          s"per-trigger vector probe does not prune bucket partitions:\n$p")
      }
    val ddir = java.nio.file.Files
      .createTempDirectory("graft-planshape-dedupstream").toString
    graft.sources.DedupIndex.publishFrom(spark,
      Tables.documents(spark, sf).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 0), ddir)
    // ONE odd doc with a planted even near-dup (5 ~ 450 at J=0.98 in the
    // fixture): the candidate set is NON-empty (an empty candidate set
    // constant-folds the verify subtree away — nothing to pin) and the
    // microbatch's 32 band keys touch a strict partition subset (a
    // corpus-scale batch touches all partitions, where the no-op filter
    // is the correct plan)
    val microDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") === 5)
      .select(col("doc_id").as("docId"), col("text"),
        (col("doc_id") * 1000000L).as("tsUs"))
    graft.streaming.NearDupStream
      .probeIndexBatch(spark, microDocs, ddir) { out =>
        val p = plan(out)
        // BOTH index scans prune: the band scan (candidates) and the doc
        // store (exact-Jaccard verify rows)
        val prunedScans =
          """PartitionFilters: \[[^\]]*dpart#""".r.findAllIn(p).size
        assert(prunedScans >= 2,
          s"per-trigger text probe prunes $prunedScans/2 index scans:\n$p")
        assert(out.limit(1).count() > 0, "probe found no verified match")
      }
    spark.catalog.clearCache()
  }

  test("fingerprint index probes prune partitions per microbatch") {
    import spark.implicits._
    // audio (exact-fp groups, fpart layout): one arrival's fingerprint
    // derives one partition out of the 64-floor layout
    val adir = java.nio.file.Files
      .createTempDirectory("graft-planshape-fpidx-a").toString
    graft.sources.FingerprintIndex.publishGroups(spark,
      operators.AudioOps.fingerprintIndex(spark, sf), adir)
    val amb = Seq((new java.sql.Timestamp(1700000000000L), 1L,
        operators.AudioOps.encodeWav(
          operators.AudioOps.fpClipSamples(operators.AudioOps.fpCid(1L)))))
      .toDF("ts", "doc_id", "payload")
    graft.streaming.AudioDedupStream.probeIndexBatch(spark, amb, adir) { out =>
      val p = plan(out)
      assert("""PartitionFilters: \[[^\]]*fpart#""".r.findFirstIn(p).isDefined,
        s"no fpart partition filter on the group scan:\n$p")
      assert(out.limit(1).count() > 0, "arrival missed its own group")
    }
    // image (banded sigs, ipart layout): one arrival's 4 band keys
    val idir = java.nio.file.Files
      .createTempDirectory("graft-planshape-fpidx-i").toString
    graft.sources.FingerprintIndex.publishBandedSigs(spark,
      operators.MultiModalOps.imageSigs(spark, sf), idir)
    val imb = Seq((new java.sql.Timestamp(1700000000000L), 1L,
        operators.MultiModalOps.encodePng(1L)))
      .toDF("ts", "doc_id", "payload")
    graft.streaming.ImageDedupStream.probeIndexBatch(spark, imb, idir) { out =>
      val p = plan(out)
      assert("""PartitionFilters: \[[^\]]*ipart#""".r.findFirstIn(p).isDefined,
        s"no ipart partition filter on the banded scan:\n$p")
      assert(out.limit(1).count() > 0, "arrival missed its own signature")
    }
    spark.catalog.clearCache()
  }

  test("dedup index probe prunes band partitions on a small batch") {
    // the published band table is hive-partitioned by the key-derived
    // dpart column; a below-gate probe batch derives its partition set
    // and the band scan shows a static dpart PartitionFilter — the same
    // read cut PlanShapeSpec pins for the vector index. A small batch is
    // answered on the driver, so the band read runs inside the call and
    // the returned frame's plan no longer holds it: the plans the call
    // executes are captured instead, and the property is asserted on
    // the scans of `<dir>/bands`.
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planshape-dedupidx").toString
    graft.sources.DedupIndex.publishFrom(spark,
      Tables.documents(spark, sf).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 0), dir)
    val batch = operators.DedupOps.docHashes(spark, sf)
      .filter(col("doc_id") === 1)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      operators.DedupOps.crossDedupBestFromIndex(spark, dir, batch).collect()
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    val bandScans = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(scans)
      .filter(_.relation.location.rootPaths.forall(_.toString.contains(s"$dir/bands")))
    assert(bandScans.nonEmpty, s"no scan of $dir/bands among the executed plans")
    bandScans.foreach { f =>
      assert(f.partitionFilters.exists(_.exists {
          case i: In => i.value.references.exists(_.name == "dpart") &&
            i.list.forall(_.foldable)
          case i: InSet => i.child.references.exists(_.name == "dpart")
          case _ => false
        }),
        s"no static dpart partition filter on the band scan:\n$f")
    }
    spark.catalog.clearCache()
  }

  test("multimodal pipeline reuses the session-shared fingerprint frames") {
    // the end-to-end funnel must consume the SharedPlans-memoized codec
    // frames (png image-hash, wav fp, mp4 fp families), not re-run the
    // decode per stage: every fingerprint input in the plan is an
    // InMemoryTableScan of a persisted frame — image hashes + image sigs
    // + audio fp (x2: rows + group table) + video fp (x2) >= 4 scans
    val df = operators.MultiModalOps
      .queries("q_multimodal_pipeline")(spark, sf)
    val p = plan(df)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
      s"pipeline not reading the shared fingerprint frames:\n$p")
    spark.catalog.clearCache()
  }

  test("multimodal decode stages are shuffle-free up to output ordering") {
    // generator + codec are both partition-local; above the shared
    // payload frame (InMemoryRelation — its build carries the documented
    // single-split ingest spread, a round-robin exchange of 8-byte ids)
    // the only exchange the decode pipeline may carry is the final
    // orderBy's range partitioning
    val df = operators.MultiModalOps.queries("q_multimodal_resize")(spark, sf)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("Window"), s"window in multimodal:\n$p")
    val decodePipeline = p.split("InMemoryRelation")(0)
    assert("Exchange".r.findAllIn(decodePipeline).size <= 1,
      s"shuffle inside the decode pipeline:\n$p")
    assert(decodePipeline.count(_ == '\n') > 3,
      s"payload frame not cached - decode pipeline split found nothing:\n$p")
  }
}
