package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Published LEXICAL index artifact — the posting-list form of the BM25
  * retrieval family (operators/RetrievalOps.scala), persisted the way the
  * vector/dedup/fingerprint families persist their search structures
  * (reference analog: the partition-file layout + `_SUCCEED` publish
  * contract of PartitionShuffleFileManager.java — datasets land whole,
  * meta commits last, consumers read only committed layouts).
  *
  * Layout under `indexDir/`:
  *   - `postings` (term, doc_id, tf, dl) partitioned by
  *     `tpart = pmod(xxhash64(term), parts)` — dl is DENORMALIZED into
  *     the posting row (the classic inverted-file design): a probe then
  *     never joins the corpus-sized doc table, it reads query-term
  *     partitions only;
  *   - `terms` (term, df) partitioned by `tpart` — df per term, pruned
  *     by the same partition values as the postings it describes;
  *   - `docs` (doc_id, dl) partitioned by
  *     `dpart = pmod(xxhash64(doc_id), parts)` — bookkeeping/health side
  *     (not read by the probe): the dataset a future partition-level
  *     merge re-derives replaced doc lengths from, exactly like
  *     DedupIndex's doc store;
  *   - `meta` (ndocs, sumdl, parts) — committed LAST, so meta presence
  *     implies complete layouts. `sumdl` is the EXACT integer token
  *     total: avgdl = sumdl/ndocs reproduces the inline twin's
  *     `avg(dl)` bit-for-bit (sums of integer-valued doubles are exact),
  *     so artifact probes and inline scoring can never disagree on the
  *     length normalization.
  *
  * Scale shape: the probe reads ONLY the partitions holding the query's
  * terms ([[StorageOps.prunedByVals]], the shared static-pruning filter)
  * — per-query artifact IO is O(posting lists touched), never O(corpus);
  * the (n_docs, avgdl) scalars come from one meta row. Scoring reuses the
  * inline operator's contribution expression and ranking verbatim
  * (RetrievalOps.bm25Contrib / bm25TopkFrom — ONE definition), so the
  * probe is oracle-identical to the inline twin by construction.
  *
  * Lifecycle scope, stated: publish + crash-safe versioned republish
  * ([[publishVersioned]] — the shared [[StorageOps.publishNext]] cycle,
  * resolved by [[StorageOps.currentDir]]) + partition-pruned probe +
  * in-gate stats. The one deferred piece is the siblings'
  * PARTITION-LEVEL merge (incremental ingest): it applies to this
  * layout unchanged — postings partition by a pure term-hash function
  * like the dedup bands, df maintenance is an additive term-keyed
  * merge — and waits until the retrieval family needs it.
  */
object LexIndex {

  /** Postings rows per layout partition ([[StorageOps.layoutParts]]). */
  private[graft] val RowsPerPart = 250L * 1000

  /** The one-row meta: doc count, exact token total, layout modulus. */
  final case class Meta(ndocs: Long, sumdl: Long, parts: Int)

  def isPublished(s: SparkSession, indexDir: String): Boolean =
    StorageOps.committed(s, indexDir, "meta")

  /** Build and publish the index for the corpus at `corpusDir`. Returns
    * the meta totals (ndocs, sumdl).
    *
    * CRASH-SAFETY, stated: meta-commits-last makes the FIRST publish
    * torn-safe (no meta → unpublished), but an IN-PLACE republish
    * overwrites datasets while the previous meta still exists — a crash
    * mid-republish leaves a stale meta over partial datasets. A refresh
    * cycle must therefore publish through [[publishVersioned]] (fresh
    * version dir + atomic pointer flip, the sibling families' versioned
    * root) or to a fresh directory it swaps itself; plain [[publish]]
    * into a live path is for first publishes and throwaway session
    * artifacts only. */
  def publish(s: SparkSession, corpusDir: String,
      indexDir: String): (Long, Long) =
    publishFrom(s, graft.Tables.documents(s, corpusDir), indexDir)

  /** [[publish]] over an arbitrary documents-shaped frame (doc_id, text). */
  def publishFrom(s: SparkSession, corpus: DataFrame,
      indexDir: String): (Long, Long) = {
    val toks = corpus.select(col("doc_id"),
      graft.operators.TextRules.tokens(col("text")).as("toks"))
    // persisted: feeds dl, the postings and the doc-length totals
    val dl = graft.Caching.persist(
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl")))
    try {
      val totals = dl.agg(count(lit(1)).as("n"), sum("dl").as("s")).collect()(0)
      val (nDocs, sumDl) = (totals.getLong(0), totals.getLong(1))
      val parts = StorageOps.layoutParts(nDocs, RowsPerPart)
      val tf = toks
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      tf.join(dl, "doc_id")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .withColumn("tpart", StorageOps.partOf(parts, col("term")))
        .repartition(parts, col("tpart"))
        .write.partitionBy("tpart")
        .mode("overwrite").parquet(s"$indexDir/postings")
      // df re-aggregates from the WRITTEN postings, not the live tf
      // subplan: the stored pair can then never disagree
      s.read.parquet(s"$indexDir/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("tpart", StorageOps.partOf(parts, col("term")))
        .repartition(parts, col("tpart"))
        .write.partitionBy("tpart")
        .mode("overwrite").parquet(s"$indexDir/terms")
      dl.withColumn("dpart", StorageOps.partOf(parts, col("doc_id")))
        .repartition(parts, col("dpart"))
        .write.partitionBy("dpart")
        .mode("overwrite").parquet(s"$indexDir/docs")
      StorageOps.writeMeta(s, indexDir, Meta(nDocs, sumDl, parts))
      (nDocs, sumDl)
    } finally dl.unpersist()
  }

  /** Crash-safe refresh publish: [[publishFrom]] into the next version
    * of `root` ([[StorageOps.publishNext]]) — a crashed republish leaves a
    * dangling version dir and every reader on the previous complete
    * artifact. Returns the published version dir; resolve the live one
    * with [[StorageOps.currentDir]]. */
  def publishVersioned(s: SparkSession, corpus: DataFrame,
      root: String): String =
    StorageOps.publishNext(s, root) { dir => publishFrom(s, corpus, dir); dir }

  def loadMeta(s: SparkSession, indexDir: String): Meta = {
    val m = StorageOps.readMeta(s, indexDir)
    Meta(m[Long]("ndocs"), m[Long]("sumdl"), m[Int]("parts"))
  }

  private[graft] def loadPostingsRaw(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/postings")

  private[graft] def loadTermsRaw(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/terms")

  def loadDocs(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/docs").select("doc_id", "dl")

  /** BM25 top-k against the published artifact for a driver-known query
    * set. Query text normalizes through [[graft.operators.RetrievalOps
    * .queryTokens]] — the driver-side mirror of the tokenizer the index
    * was built with (lowercase \W+ split, empties dropped, DUPLICATES
    * dropped: a repeated query term must not double-count its
    * contribution) — so an uppercase or punctuated query matches the
    * stored lowercase terms instead of silently scoring zero. Result is
    * column-for-column identical to the inline q_bm25_topk scoring of
    * the same corpus: one contribution expression, one ranking, one
    * exact avgdl. */
  def searchBm25(s: SparkSession, indexDir: String,
      queries: Seq[(Int, String)], topK: Int): DataFrame = {
    import s.implicits._
    val qt = queries.flatMap { case (id, text) =>
      graft.operators.RetrievalOps.queryTokens(text).map(id -> _)
    }
    searchBm25Terms(s, indexDir, qt.toDF("query_id", "term"),
      qt.map(_._2).distinct, topK)
  }

  /** The probe core over an arbitrary (query_id, term) frame whose
    * DISTINCT term strings are driver-known (`terms` — the probe
    * contract: query sets are literal or budget-bounded, so this is a
    * query-term-bounded list, never corpus data; it drives the
    * partition pruning). The query_id column's TYPE flows through to
    * the output untouched, so a stream keying queries by a long
    * corpus id needs no driver-side id conversion
    * ([[graft.streaming.RetrievalStream]]). Callers must pass terms
    * already normalized to the index's token domain. */
  def searchBm25Terms(s: SparkSession, indexDir: String, qterms: DataFrame,
      terms: Seq[String], topK: Int): DataFrame = {
    import s.implicits._
    val Meta(nDocs, sumDl, parts) = loadMeta(s, indexDir)
    // one tiny local job: the terms' partition values (term-bounded)
    val tparts = terms.toDF("term")
      .select(StorageOps.partOf(parts, col("term")).as("tpart"))
      .distinct().collect().map(_.getLong(0))
    val post = StorageOps.prunedByVals(
        loadPostingsRaw(s, indexDir), "tpart", tparts, parts)
      .select(col("term"), col("doc_id"),
        col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"))
    val dfT = StorageOps.prunedByVals(
        loadTermsRaw(s, indexDir), "tpart", tparts, parts)
      .select(col("term"), col("df").cast("double").as("df"))
    val scored = post.join(broadcast(qterms), Seq("term"))
      .join(dfT, "term")
      .withColumn("n_docs", lit(nDocs.toDouble))
      .withColumn("avgdl", lit(sumDl.toDouble / nDocs))
      .withColumn("contrib", graft.operators.RetrievalOps.bm25Contrib)
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
    graft.operators.RetrievalOps.bm25TopkFrom(scored, topK)
  }
}
