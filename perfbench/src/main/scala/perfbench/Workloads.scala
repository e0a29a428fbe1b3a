package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.GraftFunctions
import graft.operators.{DedupOps, GraphOps}
import graft.sources.{DedupIndex, PipeFiles, VectorIndex}

/** Registered queries over one input directory, planned through
  * `SparkEntry.queries` and collected to the driver, so the whole
  * physical plan executes; the answers kept are dumped for the checker
  * beside their DuckDB oracle SQL. */
final class Answers(s: SparkSession, in: String, tracer: Tracer) {
  private val kept = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Row], StructType)]

  def run(q: String, keep: Boolean): Unit = {
    val df = tracer.span(s"SparkEntry.queries($q)")(SparkEntry.queries(q)(s, in))
    val rows = tracer.span("collect")(df.collect())
    if (keep) kept(q) = (rows.toSeq, df.schema)
  }

  def rows(q: String): Seq[Row] = kept(q)._1

  /** Every kept answer as parquet under `out/q/<name>`, the oracle SQL
    * in `out/oracle_sql.json`. */
  def dump(out: String): Unit = {
    kept.foreach { case (q, (rows, schema)) =>
      Util.saveRows(s, rows, schema, s"$out/q/$q") }
    val sql = kept.keys.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.write(Util.json(sql)) finally w.close()
  }
}

/** Shared plumbing of the workloads: the session, the registered-query
  * pass ops and their answers. */
abstract class Base(c: Ctx) extends Workload {
  protected val s: SparkSession = c.spark
  protected val in: String = c.in
  protected var pass = 0
  protected val answers = new Answers(s, in, c.tracer)

  protected def span[T](name: String)(body: => T): T = c.tracer.span(name)(body)

  /** A pass op running a registered query; the first pass's answer is
    * checked. */
  protected def queryOp(q: String, layer: String): Op =
    Op(q, "read", layer, () => answers.run(q, pass == 0))

  protected def opMetrics(opMedian: Map[String, Double], prefix: String,
      names: Seq[String]): Map[String, Double] =
    names.map(n => s"$prefix.${n}_s" -> opMedian(n)).toMap
}

object Extras {
  /** Runs `body` once under the listener tag `extras/<name>`, inside a
    * span `<layer>:<name>`; returns its result and wall time, s. */
  def timed[T](c: Ctx, name: String, layer: String)(body: => T): (T, Double) = {
    val sc = c.spark.sparkContext
    sc.setLocalProperty(Counters.Key, s"extras/$name")
    val t = System.nanoTime()
    try (c.tracer.span(s"$layer:$name")(body), (System.nanoTime() - t) / 1e9)
    finally sc.setLocalProperty(Counters.Key, "extras")
  }
}

/** Native-expression cost per row: each expression to the noop sink over a
  * cached synthetic input, minus a scan-only baseline over the same
  * input; median of three after one warm-up. The vector kernels cost
  * about a hundredth of the hash kernels per row, so they get more rows
  * to stand out of the baseline's noise. */
object Kernels {
  val HashRows = 50000
  val VecRows = 200000

  def measure(s: SparkSession): Map[String, Double] = {
    GraftFunctions.register(s)
    val hs = s.range(HashRows).select(
      expr("transform(sequence(0, 63), i -> xxhash64(id, i))").as("hs")).persist()
    val vec = s.range(VecRows).select(
      expr("transform(sequence(0, 63), i -> CAST(sin(id * 64 + i) AS FLOAT))").as("a"),
      expr("transform(sequence(0, 63), i -> CAST(cos(id * 64 + i) AS FLOAT))").as("b"))
      .persist()
    try {
      val rows = Map(hs -> hs.count(), vec -> vec.count())
      def ns(df: DataFrame, e: String, base: String): Double = {
        def t(x: String): Long = {
          val st = System.nanoTime(); Util.noop(df.select(expr(x))); System.nanoTime() - st
        }
        t(base); t(e)
        Util.median((0 until 3).map(_ => (t(e) - t(base)).toDouble)) / rows(df)
      }
      Map(
        "functions.minhash_sig_ns_per_row" -> ns(hs, "minhash_sig(hs)", "size(hs)"),
        "functions.simhash_sig_ns_per_row" -> ns(hs, "simhash_sig(hs)", "size(hs)"),
        "functions.hyperplane_sig_ns_per_row" ->
          ns(vec, "hyperplane_sig(a, 12, 2)", "size(a)"),
        "functions.cosine_similarity_ns_per_pair" ->
          ns(vec, "cosine_sim(a, b)", "size(a) + size(b)"))
    } finally { hs.unpersist(); vec.unpersist() }
  }
}

/** Shuttle's own contract: pipe-tree writes of two seeded block streams
  * (small records, KB-sized records), their scans back, the four pipe
  * queries, the exchange-bound relational queries and the graph queries
  * over the generated TPC-H-ish tables. Traced runs add the retrieval
  * layers ([[Retrieval]]). */
final class ShuffleLedger(c: Ctx) extends Base(c) {
  private val Src = "graft.sources.PipeDataSource"
  private def root(p: Int) = s"${c.work}/pipe/pass$p"
  private val probes: Seq[(Int, Int)] = c.param("probes").split(";").toSeq
    .map(_.split(":")).map(x => (x(0).toInt, x(1).toInt))
  private val corrupt: (Int, Int) = {
    val x = c.param("small_corrupt").split(",")
    (x(0).toInt, x(1).toInt)
  }
  private val results = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private val probeRows = ArrayBuffer.empty[Row]
  private var stored = 0L
  private var filesWritten = 0L

  private def blocks(tag: String) = s.read.parquet(s"$in/blocks_$tag.parquet")

  // q_pipe_* publish their own fixture tree once per session
  def setup(): Unit =
    span("SparkEntry.queries(q_pipe_scan)")(
      Util.noop(SparkEntry.queries("q_pipe_scan")(s, in)))

  /** Writer waves per stream: each wave is one `PipeFiles.write` of a
    * disjoint set of map ids, appending its own files to the tree (the
    * per-worker file layout of the reference), so a pass times several
    * writes of each stream. A map's attempts and resends stay in one
    * wave, so every (partition, map) ledger lives in exactly one file. */
  private val Waves = Map("small" -> 4, "large" -> 2)

  private def write(tag: String): Op = Op(s"pipe_write_$tag", "write",
    "sources.PipeFiles", () => {
      val n = Waves(tag)
      (0 until n).foreach(w => span("sources.PipeFiles.write")(PipeFiles.write(
        blocks(tag).filter(col("map_id") % n === w), s"${root(pass)}/$tag",
        overwrite = w == 0)))
    })

  /** The planted fault: one ledger of the small tree off by one, which
    * the lineage scan must flag. */
  private val faultOp = Op("pipe_corrupt", "fault", "sources.PipeFiles", () => {
    val (p, m) = corrupt
    val n = PipeFiles.corruptLedger(s.sparkContext.hadoopConfiguration,
      s"${root(pass)}/small", p, m, 1L)
    require(n > 0, s"no ledger of ($p, $m) in the small tree")
  })

  private def keep(name: String, rows: Array[Row]): Unit =
    if (pass == 0) results(name) = rows.toSeq

  private val scanLineage = Op("pipe_scan_lineage", "read",
    "sources.PipeDataSource", () => keep("scan_lineage",
      span("sources.PipeDataSource.scan") {
        val data = col("seq_id") =!= PipeFiles.ChecksumSeqId
        s.read.format(Src).load(s"${root(pass)}/small")
          .groupBy("partition_id", "map_id")
          .agg(sum(when(data, 1L).otherwise(0L)).as("n_blocks"),
            sum(when(data, col("length"))).as("n_bytes"),
            sum(when(!data, 1L).otherwise(0L)).as("n_ledgers"),
            sum(when(!data, col("checksum"))).as("stored"),
            max(when(data, col("attempt_id"))).as("max_attempt"))
          .collect()
      }))

  private def scanPayload(tag: String) = Op(s"pipe_scan_payload_$tag", "read",
    "sources.PipeDataSource", () => keep(s"scan_payload_$tag",
      span("sources.PipeDataSource.scan") {
        s.read.format(Src).load(s"${root(pass)}/$tag")
          .filter(col("seq_id") =!= PipeFiles.ChecksumSeqId)
          .groupBy("partition_id", "map_id")
          .agg(count(lit(1)).as("n_blocks"),
            sum(crc32(col("payload"))).as("crc_sum"),
            sum(length(col("payload")).cast("long")).as("n_bytes"))
          .collect()
      }))

  private val PipeQ = Seq("q_pipe_scan", "q_pipe_latest",
    "q_pipe_checksum_verify", "q_pipe_decode")
  // q_part_rank first: q_triangle_count reuses its co-occurrence edges
  private val GraphQ = Seq("q_part_rank", "q_triangle_count")
  private val CoreQ = Seq("q_groupby_partial_final", "q_groupby_highcard",
    "q_join_equi", "q_multi_join", "q_sort_global", "q_distinct",
    "q_window_funcs")

  val ops: Seq[Op] = Seq(write("small"), write("large"), faultOp,
    scanLineage, scanPayload("small"), scanPayload("large")) ++
    PipeQ.map(queryOp(_, "operators.PipeOps")) ++
    CoreQ.map(queryOp(_, "operators.CoreOps")) ++
    GraphQ.map(queryOp(_, "operators.GraphAnalyticsOps"))

  private var retrieval: Option[Retrieval] = None

  def tracedExtras(): Map[String, Double] = {
    val r = new Retrieval(c)
    retrieval = Some(r)
    r.run()
  }

  def afterPass(p: Int): Unit = {
    if (p == 0) {
      stored = Util.duBytes(root(0))
      filesWritten = Util.files(root(0))
        .count(_.getName.endsWith(PipeFiles.FinalSuffix)).toLong
    } else Util.rmrf(root(p))
    pass = p + 1
  }

  /** A reducer-side fetch of one (partition, map) slice from the small
    * tree the first pass wrote. */
  def probe(i: Int): Unit = {
    val (p, m) = probes(i % probes.size)
    val n = span("sources.PipeDataSource.scan") {
      s.read.format(Src).load(s"${root(0)}/small")
        .filter(col("partition_id") === p && col("map_id") === m &&
          col("seq_id") =!= PipeFiles.ChecksumSeqId)
        .count()
    }
    if (i < probes.size) probeRows += Row(p, m, n)
  }

  def storedBytes: Long = stored

  def verify(out: String): Unit = {
    retrieval.foreach(_.verify(s"$out/ann"))
    val group = Seq(StructField("partition_id", IntegerType),
      StructField("map_id", IntegerType))
    Util.saveRows(s, results("scan_lineage"), StructType(group ++ Seq(
      StructField("n_blocks", LongType), StructField("n_bytes", LongType),
      StructField("n_ledgers", LongType), StructField("stored", LongType),
      StructField("max_attempt", LongType))), s"$out/scan_lineage")
    Seq("small", "large").foreach(tag =>
      Util.saveRows(s, results(s"scan_payload_$tag"), StructType(group ++ Seq(
        StructField("n_blocks", LongType), StructField("crc_sum", LongType),
        StructField("n_bytes", LongType))), s"$out/scan_payload_$tag"))
    val fin = Seq("small", "large").flatMap(tag =>
      Util.files(s"${root(0)}/$tag")
        .filter(_.getName.endsWith(PipeFiles.FinalSuffix))
        .map(f => Row(tag, f.length())))
    Util.saveRows(s, fin, StructType(Seq(StructField("tree", StringType),
      StructField("bytes", LongType))), s"$out/final_files")
    Util.saveRows(s, probeRows.toSeq, StructType(group :+
      StructField("n_blocks", LongType)), s"$out/probes")
    answers.dump(out)
  }

  def layerMetrics(med: Map[String, Double], opJobs: String => Double,
      tagJobs: String => Double): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    def bytes(tag: String) = c.param(s"${tag}_payload_bytes").toDouble / mb
    Map(
      "pipe.write_s" -> (med("pipe_write_small") + med("pipe_write_large")),
      "pipe.write_mb_per_s_small" -> bytes("small") / med("pipe_write_small"),
      "pipe.write_mb_per_s_large" -> bytes("large") / med("pipe_write_large"),
      "pipe.files_written" -> filesWritten.toDouble,
      "pipe.bytes_on_disk" -> stored.toDouble,
      "pipe.scan_lineage_s" -> med("pipe_scan_lineage"),
      "pipe.scan_payload_mb_per_s_small" ->
        bytes("small") / med("pipe_scan_payload_small"),
      "pipe.scan_payload_mb_per_s_large" ->
        bytes("large") / med("pipe_scan_payload_large"),
      "graph.q_part_rank_jobs" -> opJobs("q_part_rank"),
      "vector_index.publish_jobs" -> tagJobs(s"extras/${Retrieval.Publish}")) ++
      opMetrics(med, "pipe_ops", PipeQ) ++ opMetrics(med, "core", CoreQ) ++
      opMetrics(med, "graph", GraphQ)
  }
}

/** LLM text dedup: the three batch dedup queries over the corpus, a
  * merge-publish of an incoming batch into the index published at
  * set-up (each pass into a fresh directory beside the same base), and
  * the closed-loop cross-dedup probe against that base index. */
final class DedupIndexWorkload(c: Ctx) extends Base(c) {
  private val base = s"${c.work}/dedup_index/base"
  private def merged(p: Int) = s"${c.work}/dedup_index/merged$p"
  private val nBatches = c.param("probe_batches").toInt
  private val probeRows = ArrayBuffer.empty[Row]
  private var mergeRows = (0L, 0L)
  private var publishS = 0.0

  private def docs(name: String) =
    s.read.parquet(s"$in/$name.parquet").select("doc_id", "text")

  def setup(): Unit = {
    GraftFunctions.register(s)
    val t = System.nanoTime()
    span("sources.DedupIndex.publishFrom")(
      DedupIndex.publishFrom(s, docs("documents"), base))
    publishS = (System.nanoTime() - t) / 1e9
  }

  private val DedupQ = Seq("q_text_minhash", "q_text_simhash", "q_dedup_cluster")

  val ops: Seq[Op] = Op("dedup_index_merge", "write", "sources.DedupIndex",
    () => {
      val r = span("sources.DedupIndex.mergePublish")(
        DedupIndex.mergePublish(s, base, docs("merge_batch"), merged(pass)))
      if (pass == 0) mergeRows = r
    }) +: DedupQ.map(queryOp(_, "operators.DedupOps"))

  def afterPass(p: Int): Unit = {
    if (p > 0) Util.rmrf(merged(p))
    pass = p + 1
  }

  def probe(i: Int): Unit = {
    val b = i % nBatches
    val batch = s.read.parquet(s"$in/probe_docs.parquet")
      .filter(col("batch") === b).select("doc_id", "text")
    val rows = span("operators.DedupOps.crossDedupBestFromIndex")(
      DedupOps.crossDedupBestFromIndex(s, base, DedupOps.docHashesOf(s, batch))
        .select("doc_id", "match_id", "jaccard").collect())
    // the operator's contract: the caller releases what it persisted
    s.catalog.clearCache()
    if (i < nBatches) rows.foreach(r => probeRows += Row(b, r.getLong(0),
      r.getLong(1), r.getDouble(2)))
  }

  def storedBytes: Long = Util.duBytes(base)

  def verify(out: String): Unit = {
    Util.saveRows(s, Seq(Row(DedupIndex.loadDocs(s, base).count(),
      DedupIndex.loadDocs(s, merged(0)).count(), mergeRows._1, mergeRows._2)),
      StructType(Seq(StructField("docs_before", LongType),
        StructField("docs_after", LongType),
        StructField("merge_doc_rows", LongType),
        StructField("merge_band_rows", LongType))), s"$out/merge")
    Util.saveRows(s, probeRows.toSeq, StructType(Seq(
      StructField("batch", IntegerType), StructField("doc_id", LongType),
      StructField("match_id", LongType), StructField("jaccard", DoubleType))),
      s"$out/probes")
    answers.dump(out)
  }

  private var ccS = 0.0
  private var verified = 0L
  /** `GraphOps.connectedComponents` over the first pass's
    * `q_text_minhash` pairs (`q_dedup_cluster` calls it internally, out
    * of reach of a span from here), and the kernels of the `functions`
    * layer the dedup queries call. */
  def tracedExtras(): Map[String, Double] = {
    val schema = StructType(Seq(StructField("doc_a", LongType),
      StructField("doc_b", LongType)))
    val rows = answers.rows("q_text_minhash").map(r =>
      Row(r.getAs[Number]("doc_a").longValue, r.getAs[Number]("doc_b").longValue))
    verified = rows.size.toLong
    import scala.jdk.CollectionConverters._
    val pairs = s.createDataFrame(rows.asJava, schema)
    ccS = Extras.timed(c, "connected_components", "operators.GraphOps")(
      Util.noop(GraphOps.connectedComponents(s, pairs)))._2
    s.catalog.clearCache()
    span("functions.kernels")(Kernels.measure(s))
  }

  def layerMetrics(med: Map[String, Double], opJobs: String => Double,
      tagJobs: String => Double): Map[String, Double] =
    Map("graph.cc_s" -> ccS,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup_index.publish_s" -> publishS,
      "dedup_index.merge_s" -> med("dedup_index_merge"),
      "dedup_index.bytes" -> storedBytes.toDouble) ++
      opMetrics(med, "dedup", DedupQ)
}


/** The retrieval layers (`sources.VectorIndex`, `operators.VectorOps`,
  * `sources.LexIndex`, `operators.RetrievalOps`), measured in traced
  * runs only: each call once, after the probe loop of a traced
  * `shuffle_ledger` run (the traced run with the most room under the
  * per-run time limit), over inputs of their own under `<input>/ann`
  * (clustered unit vectors, 64 queries whose true top-10 the generator
  * computed, a merge batch, probe batches with planted near-copies, and
  * the corpus text). They take about a minute, more than every untraced
  * run can carry within the evaluation's time budget (README,
  * "Workloads"). Their outputs are checked like a pass's. */
final class Retrieval(c: Ctx) {
  import Retrieval._
  private val s = c.spark
  private val in = s"${c.in}/ann"
  private val vidx = s"${c.work}/ann/vector_index"
  private val answers = new Answers(s, in, c.tracer)
  private val results = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private val probeRows = ArrayBuffer.empty[Row]
  private var counts = (0L, 0L)

  private def emb(name: String) =
    s.read.parquet(s"$in/$name.parquet").select("vec_id", "embedding")

  private def timed[T](name: String, layer: String)(body: => T): (T, Double) =
    Extras.timed(c, name, layer)(body)

  def run(): Map[String, Double] = {
    GraftFunctions.register(s)
    val nprobe = c.param("ann_nprobe").toInt
    val (published, publishS) = timed(Publish, "sources.VectorIndex")(
      VectorIndex.publishFrom(s, emb("embeddings"), vidx, pq = true))
    val bytes = Util.duBytes(vidx).toDouble
    // the probes see the published corpus, the searches the merged one
    val threshold = c.param("ann_probe_threshold").toDouble
    val probeS = (0 until c.param("ann_probes").toInt).map { b =>
      val batch = s.read.parquet(s"$in/probe_vecs.parquet")
        .filter(col("batch") === b).select("vec_id", "embedding")
      val (rows, t) = timed(s"probe$b", "sources.VectorIndex")(
        VectorIndex.probeBestMatch(s, vidx, batch, threshold).collect())
      s.catalog.clearCache()
      rows.foreach(r => probeRows += Row(b, r.getLong(0), r.getLong(1)))
      t
    }
    val (merged, mergeS) = timed("vector_index_merge", "sources.VectorIndex")(
      VectorIndex.mergePublish(s, vidx, emb("merge_batch")))
    counts = (published.n, merged.n)
    def search(name: String)(f: DataFrame => DataFrame): Double = {
      val (rows, t) = timed(name, "sources.VectorIndex")(
        f(emb("queries")).select("query_id", "neighbor_id", "rk").collect())
      results(name) = rows.toSeq
      t
    }
    val ivfS = search("search_ivf")(VectorIndex.searchIvf(s, vidx, _, 10, nprobe))
    val lshS = search("search_lsh")(VectorIndex.searchLsh(s, vidx, _, 10))
    val pqS = search("search_ivfpq")(VectorIndex.searchIvfPq(s, vidx, _, 10, nprobe))
    val recallS = timed("q_ann_recall", "operators.VectorOps")(
      answers.run("q_ann_recall", keep = true))._2
    val lexS = timed("lex_index_publish", "sources.LexIndex")(
      graft.sources.LexIndex.publishFrom(s,
        s.read.parquet(s"$in/documents.parquet"), s"${c.work}/ann/lex_index"))._2
    // the query's first call in a session also publishes its own lexical
    // index; the second call is the search alone
    timed("q_bm25_topk_idx_first", "operators.RetrievalOps")(
      answers.run("q_bm25_topk_idx", keep = true))
    val bm25S = timed("q_bm25_topk_idx", "operators.RetrievalOps")(
      answers.run("q_bm25_topk_idx", keep = false))._2
    val hybridS = timed("q_hybrid_rrf", "operators.RetrievalOps")(
      answers.run("q_hybrid_rrf", keep = true))._2
    Map(
      "vector_index.publish_s" -> publishS,
      "vector_index.merge_s" -> mergeS,
      "vector_index.search_ivf_s" -> ivfS,
      "vector_index.search_lsh_s" -> lshS,
      "vector_index.search_ivfpq_s" -> pqS,
      "vector_index.probe_ms" -> 1000 * Util.median(probeS),
      "vector_index.bytes" -> bytes,
      "vector_ops.q_ann_recall_s" -> recallS,
      "lex_index.publish_s" -> lexS,
      "lex_index.search_bm25_s" -> bm25S,
      "retrieval.q_hybrid_rrf_s" -> hybridS)
  }

  def verify(out: String): Unit = {
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("neighbor_id", LongType), StructField("rk", IntegerType)))
    results.foreach { case (n, rows) => Util.saveRows(s, rows, schema, s"$out/$n") }
    Util.saveRows(s, Seq(Row(counts._1, counts._2)),
      StructType(Seq(StructField("n_before", LongType),
        StructField("n_after", LongType))), s"$out/merge")
    Util.saveRows(s, probeRows.toSeq, StructType(Seq(
      StructField("batch", IntegerType), StructField("vec_id", LongType),
      StructField("match_id", LongType))), s"$out/probes")
    answers.dump(out)
  }
}

object Retrieval { val Publish = "vector_index_publish" }
