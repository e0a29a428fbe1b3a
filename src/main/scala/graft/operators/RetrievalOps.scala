package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Retrieval operator family: BM25 lexical ranking over the documents
  * corpus and reciprocal-rank-fusion (RRF) hybrid retrieval — BM25 fused
  * with embedding-cosine ANN — the two retrieval primitives a
  * training-data / RAG pipeline runs against a curated corpus. Extends
  * the reference's similarity-matching surface (SimilarityUtils.java:21-41
  * is prefix-similarity dispatch; BM25/RRF are the ranked generalization a
  * data engine needs) with the corpus statistics machinery already proven
  * by q_tfidf_topk / q_lm_score.
  *
  * Scale notes (100 TB design):
  *  - BM25 scoring is a POSTING-LIST join, not a corpus scan per query:
  *    the (doc, term, tf) aggregate IS the inverted index, the query-term
  *    frame broadcasts, and only documents containing a query term ever
  *    enter the score aggregation. On a real corpus (sparse vocabulary)
  *    each term's posting list is a small fraction of the corpus; this
  *    synthetic fixture's ~30-word vocabulary is the DENSE worst case, so
  *    local timings here overstate production cost per query.
  *  - df/dl/avgdl are one exchange each over the tf aggregate; avgdl is
  *    a broadcast 1-row aggregate (the q_lm_score convention). dl sums
  *    integer-valued doubles, so avgdl is an exact integer ratio —
  *    identical across engines regardless of partial-agg order.
  *  - The hybrid query set is a modulus schedule (`doc_id % HybridQueryMod
  *    = HybridQueryRes`): the mod is the query-budget dial, exactly like
  *    the recall audit's sampled probe — scoring cost is |postings of
  *    query terms| x |queries|, and the schedule bounds |queries| at any
  *    corpus size. The vector leg here is the oracle-able brute scorer
  *    (q_ann_brute's broadcast Q x N topology); a deployment at corpus
  *    scale swaps in the published IVF/PQ artifact
  *    ([[graft.sources.VectorIndex.searchIvf]]) — RRF only consumes leg
  *    RANKS, so the fusion is search-strategy agnostic by construction.
  *
  * Determinism contract (the q_tfidf_topk / q_lm_score convention): each
  * posting's BM25 contribution is a pure scalar expression over exact
  * integer inputs, the per-(query, doc) sum is rounded to 4 decimals, and
  * every ranking orders by the ROUNDED score with a doc_id tiebreak; the
  * RRF fusion consumes only integer leg ranks, so fused scores are sums
  * of at most two engine-identical doubles (one addition — order-free).
  */
object RetrievalOps {
  private type Q = (SparkSession, String) => DataFrame

  /** BM25 shape parameters are k1 = 1.2, b = 0.75 (Robertson et al.,
    * TREC-3 defaults), written DIRECTLY as numeric literals in the
    * scoring expressions (1.2, 0.75, 0.25 = 1-b, 2.2 = k1+1) so the
    * Spark and DuckDB twins stay TEXTUALLY identical — deliberately not
    * interpolated from named constants, because a constant COMPUTED in
    * one engine but written as a literal in the other can differ in its
    * last bit (double(1.2)+1.0 != double("2.2")), which the hash gate
    * would read as a wrong score. Change the parameters by editing both
    * literal sets together ([[bm25Contrib]] / [[bm25ContribSql]]). */

  /** Driver-side mirror of [[TextRules.tokens]] for QUERY text
    * (lowercase \W+ split, empties dropped) plus DISTINCT — a repeated
    * query term must not double-count its BM25 contribution. Shared by
    * the inline query builder and the artifact probe, so query-vs-index
    * token domains can never diverge. */
  private[graft] def queryTokens(text: String): Seq[String] =
    text.toLowerCase.split("\\W+").filter(_.nonEmpty).distinct.toSeq

  /** Fixed lexical query set for q_bm25_topk — literal multi-word queries
    * over the corpus vocabulary, mirrored verbatim in the oracle's VALUES
    * list. */
  val BmQueries: Seq[(Int, String)] = Seq(
    1 -> "fast table scan",
    2 -> "window merge batch",
    3 -> "hash join spark",
    4 -> "stream data filter")

  val Bm25TopK = 10

  /** Hybrid query schedule + depths: every doc with
    * doc_id % HybridQueryMod == HybridQueryRes queries the corpus
    * "more-like-this" style (its own distinct tokens are the BM25 query;
    * its embedding is the cosine query), each leg keeps LegTopK, and the
    * fused list keeps FusedTopK. RrfK = 60 is the standard RRF constant
    * (Cormack et al. 2009). */
  val HybridQueryMod = 50
  val HybridQueryRes = 7
  val LegTopK = 20
  val FusedTopK = 10
  val RrfK = 60

  /** Query-BUDGET bound on the hybrid schedule: the modulus picks WHICH
    * docs query, the id cap bounds HOW MANY — at most [[HybridQueryBudget]]
    * at any corpus size. Without it a fixed-fraction schedule grows the
    * query count with the corpus and the lexical posting join reads ~n²
    * (queries x postings) — the retrieval analog of the recall audit's
    * sampled probe set. Inert at the test SFs (sf0.1's 5000 docs yield
    * exactly the budgeted 100 queries), binding beyond; total work is
    * then budget x posting-list cost, linear in the corpus. */
  val HybridQueryBudget = 100

  /** The scheduled-and-budgeted hybrid query predicate, shared by both
    * legs (oracle mirror: `% $HybridQueryMod = $HybridQueryRes AND <
    * $HybridQueryIdCap`). */
  val HybridQueryIdCap: Long = HybridQueryMod.toLong * HybridQueryBudget
  private def hybridQueryPred(id: Column): Column =
    id % HybridQueryMod === HybridQueryRes && id < HybridQueryIdCap

  /** One matched posting's BM25 contribution. Expects columns tf, df,
    * dl, n_docs, avgdl — all exact-integer-valued doubles except avgdl
    * (an exact integer ratio), so the element value is engine-identical;
    * only the per-(query, doc) SUM over matched terms is order-dependent
    * at the last ulp, which the round-to-4 absorbs (q_lm_score
    * precedent). Literal shape mirrors the oracle text exactly — see the
    * [[Bm25K1]] scaladoc. */
  private[graft] def bm25Contrib: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) *
      (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))

  /** Corpus-side BM25 statistics: doc lengths, the (doc, term, tf)
    * posting aggregate (one partial-agg exchange), term df (reuses the
    * tf frame), and the broadcast 1-row (n_docs, avgdl) scalar.
    *
    * `dl` is MEMOIZED per (session, dir) ([[graft.SharedPlans.shared]]):
    * it is tiny ((doc_id, double) per document) but every un-shared
    * consumer subtree re-runs the whole scan + tokenize pass — the
    * inline scoring plan has three of those (dl join, the avgdl scalar,
    * tf), and caching dl cuts them to two per build. tf itself is NOT
    * cached: its two consumers (posting join, df) hang off one
    * exchange, which Spark's ReuseExchange dedups — the tokenize under
    * tf already runs once. */
  private def corpusStats(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), TextRules.tokens(col("text")).as("toks"))
    val dl = graft.SharedPlans.shared(s, s"bm25_dl|$d") {
      toks.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
    }
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    (dl, tf, df, stats)
  }

  /** BM25 scores for a (query_id, term) query frame: posting-list join
    * (tf x broadcast query terms), df/dl lookups, one (query, doc) sum.
    * `excludeSelf` drops the query document from its own result (the
    * more-like-this convention in q_hybrid_rrf).
    *
    * df is aggregated over the QUERY'S terms only (semijoin before the
    * groupBy — df of a term never depends on other terms), not the full
    * vocabulary: at a 100 TB corpus the vocabulary-wide term aggregate
    * is millions of groups shuffled to score a handful of query terms. */
  private def bm25Scored(s: SparkSession, d: String, qterms: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    val (dl, tf, _, stats) = corpusStats(s, d)
    // Restricted posting table, PERSISTED (r17 optimization round, guide
    // §2.3/§5): tf fed two subtrees (the df aggregate and the posting
    // join) whose exchanges do not canonically match, so the whole
    // tokenize → explode → tf pass ran TWICE per scoring plan.
    // Restricting to the query vocabulary first also keeps the cached
    // frame |postings of query terms| — the production-sparse shape —
    // instead of the full corpus posting table.
    val tfq = graft.Caching.persist(
      tf.join(broadcast(qterms.select("term").distinct()), Seq("term")))
    val dfq = tfq
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    // Per-(doc, term) BM25 contribution computed ONCE on the posting
    // rows: the contribution is query-INDEPENDENT (a function of tf, df,
    // dl and the corpus scalars), so evaluating it after the query
    // fan-out repeated the arithmetic per matching query — |queries| ×
    // for shared terms (the hybrid schedule's 100 more-like-this queries
    // made that ~100× on this fixture's dense vocabulary). The fan-out
    // join now carries a finished scalar; only the per-(query, doc) sum
    // remains downstream. Same expression, same inputs — each element
    // value is bit-identical, and the per-pair SUM order was already
    // engine-dependent at the last ulp (the round-to-4 contract).
    val contribs = tfq
      .join(dfq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", bm25Contrib)
      .select("term", "doc_id", "contrib")
    val posted = contribs.join(broadcast(qterms), Seq("term"))
    val cut = if (excludeSelf) posted.filter(col("doc_id") =!= col("query_id"))
      else posted
    cut.groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
  }

  /** The shared top-k ranking tail over a (query_id, doc_id, score)
    * frame — one definition for the inline query and the published-
    * artifact probe ([[graft.sources.LexIndex.searchBm25]]). */
  private[graft] def bm25TopkFrom(scored: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rk")
  }

  /** BM25 top-10 documents per fixed query — classic ranked lexical
    * retrieval over the corpus. */
  private val qBm25Topk: Q = (s, d) => {
    import s.implicits._
    val qterms = BmQueries
      .flatMap { case (id, text) => queryTokens(text).map(id -> _) }
      .toDF("query_id", "term")
    bm25TopkFrom(bm25Scored(s, d, qterms, excludeSelf = false), Bm25TopK)
  }

  /** The session's published lexical artifact over the FULL corpus — the
    * evenIndexDir convention of the sibling *_idx queries, except the
    * whole corpus publishes so the probe is row-identical to the inline
    * twin (and the oracle is shared verbatim). */
  private def lexIndexDir(s: SparkSession, d: String): String =
    graft.SharedPlans.once(s, s"lex_index|$d") {
      val p = s"${graft.sources.StorageOps.artifactBase}/lex_index/${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
      graft.sources.LexIndex.publish(s, d, p)
      p
    }

  /** q_bm25_topk against the PUBLISHED posting-list artifact
    * ([[graft.sources.LexIndex]]): partition-pruned posting reads, meta
    * scalars instead of corpus aggregates — the production probe path.
    * Oracle: shared verbatim with q_bm25_topk (the artifact is a fresh
    * full-corpus publish each session, so the two must hash-match). */
  private val qBm25TopkIdx: Q = (s, d) =>
    graft.sources.LexIndex.searchBm25(s, lexIndexDir(s, d),
      BmQueries, Bm25TopK)

  /** The lexical artifact's health surface inside the DuckDB gate (the
    * q_dedup_index_stats convention): layout meta + per-dataset row
    * counts + the cross-dataset CONSISTENCY invariant a torn or drifted
    * publish would break — sum(postings.tf) must equal meta's sumdl
    * (both are the corpus token total, stored independently), and
    * max(df) bounds the widest posting list (the probe's worst-case
    * read). The oracle recomputes every column from the raw corpus,
    * including the layout-parts schedule as integer arithmetic. */
  private val qLexIndexStats: Q = (s, d) => {
    import s.implicits._
    val L = graft.sources.LexIndex
    val dir = lexIndexDir(s, d)
    val m = L.loadMeta(s, dir)
    val meta = Seq((m.ndocs, m.parts, m.sumdl)).toDF("ndocs", "parts", "sumdl")
    val docAgg = L.loadDocs(s, dir).agg(
      count(lit(1)).as("doc_rows"), sum("dl").as("sum_dl"))
    val postAgg = L.loadPostingsRaw(s, dir).agg(
      count(lit(1)).as("posting_rows"), sum("tf").as("sum_tf"))
    val termAgg = L.loadTermsRaw(s, dir).agg(
      count(lit(1)).as("term_rows"), max("df").as("max_df"))
    meta.crossJoin(broadcast(docAgg)).crossJoin(broadcast(postAgg))
      .crossJoin(broadcast(termAgg))
      .select("ndocs", "parts", "sumdl", "doc_rows", "sum_dl",
        "posting_rows", "sum_tf", "term_rows", "max_df")
  }

  /** Hybrid retrieval: for each scheduled query document, fuse its BM25
    * more-like-this ranking (over `documents`) with its embedding-cosine
    * ranking (over `embeddings`, ids shared with `documents`) by
    * reciprocal rank fusion: rrf = sum over legs of 1/(60 + rank), top-10
    * fused. Carries each leg's rank (NULL when the doc appeared in only
    * one leg) so a consumer can see WHY a document fused high. */
  /** The hybrid lexical leg's (query_id, term) frame — the budgeted
    * query docs' distinct tokens. */
  private def hybridQterms(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(hybridQueryPred(col("doc_id")))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(TextRules.tokens(col("text")))).as("term"))

  /** The hybrid lexical leg's posting-join candidate count at the
    * production schedule — the enumeration the scale instrument
    * (graft.Stress scaling) fits an exponent against. */
  private[graft] def hybridLexPostingCount(s: SparkSession, d: String): Long = {
    val (_, tf, _, _) = corpusStats(s, d)
    tf.join(broadcast(hybridQterms(s, d)), Seq("term"))
      .filter(col("doc_id") =!= col("query_id")).count()
  }

  /** The budgeted hybrid query count (for per-query normalization in the
    * scale instrument). */
  private[graft] def hybridQueryCount(s: SparkSession, d: String): Long =
    Tables.documents(s, d).filter(hybridQueryPred(col("doc_id"))).count()

  private val qHybridRrf: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    // persisted (r17 optimization round): the query-term frame feeds two
    // broadcasts in the scoring plan (the distinct-vocabulary restrictor
    // and the query fan-out) and each unpersisted broadcast BUILD re-ran
    // the corpus tokenize behind it; the frame itself is budget-bounded
    // (≤ HybridQueryBudget docs' distinct tokens).
    val qterms = graft.Caching.persist(hybridQterms(s, d))
    val lexW = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    val lex = bm25Scored(s, d, qterms, excludeSelf = true)
      .withColumn("lex_rk", row_number().over(lexW))
      .filter(col("lex_rk") <= LegTopK)
      .select("query_id", "doc_id", "lex_rk")

    // vector leg: q_ann_brute's broadcast Q x N topology (raw-sim rank,
    // id tiebreak — the proven cross-engine cosine ordering); spread so
    // the single-split fixture parallelizes the N-side scoring
    val e = Tables.spread(s,
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    val q = e.filter(hybridQueryPred(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val vecW = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("doc_id"))
    val vec = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
      .withColumn("vec_rk", row_number().over(vecW))
      .filter(col("vec_rk") <= LegTopK)
      .select("query_id", "doc_id", "vec_rk")

    val fusedW = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(RrfK) + col("vec_rk")), lit(0.0)), 6))
      .withColumn("rk", row_number().over(fusedW))
      .filter(col("rk") <= FusedTopK)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf"),
        col("lex_rk"), col("vec_rk"))
      .orderBy("query_id", "rk")
  }

  val queries: Map[String, Q] = Map(
    "q_bm25_topk" -> qBm25Topk,
    "q_bm25_topk_idx" -> qBm25TopkIdx,
    "q_lex_index_stats" -> qLexIndexStats,
    "q_hybrid_rrf" -> qHybridRrf)

  /** Shared oracle CTE block: corpus BM25 statistics, textual twin of
    * [[corpusStats]] (tokenizer mirror per TextRules.tokens scaladoc). */
  private val bm25Ctes: String =
    """toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\W+'),
      |                     x -> x <> '') AS t
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
      |          FROM dl),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      |       GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
      |       GROUP BY 1)""".stripMargin

  /** The contribution expression, textual twin of [[bm25Contrib]]. */
  private val bm25ContribSql: String =
    """ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) *
      |           (tf.tf * 2.2) /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))""".stripMargin

  /** The q_bm25_topk oracle — shared verbatim by the artifact probe
    * (the session artifact is a fresh full-corpus publish). */
  private val bm25TopkOracle: String =
    (s"WITH $bm25Ctes,\n" +
      s"""q(query_id, term) AS (VALUES
         |  (1,'fast'),(1,'table'),(1,'scan'),
         |  (2,'window'),(2,'merge'),(2,'batch'),
         |  (3,'hash'),(3,'join'),(3,'spark'),
         |  (4,'stream'),(4,'data'),(4,'filter')),
         |scored AS (
         |  SELECT q.query_id, tf.doc_id,
         |         round(sum(
         |           $bm25ContribSql), 4) AS score
         |  FROM q JOIN tf USING (term) JOIN df USING (term)
         |       JOIN dl ON tf.doc_id = dl.doc_id, stats s
         |  GROUP BY 1, 2)
         |SELECT query_id,
         |       CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY score DESC, doc_id) AS INT) AS rk,
         |       doc_id, score
         |FROM scored QUALIFY rk <= $Bm25TopK
         |ORDER BY query_id, rk""".stripMargin)

  val oracles: Map[String, String] = Map(
    "q_bm25_topk" -> bm25TopkOracle,
    "q_bm25_topk_idx" -> bm25TopkOracle,
    // every column recomputed from the raw corpus; the parts schedule is
    // the same integer arithmetic as StorageOps.layoutParts (// floors,
    // both operands nonnegative — equal to Spark's Long division here)
    "q_lex_index_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'),
        |                             x -> x <> '') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        |n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ndocs,
        |         CAST(sum(len(t)) AS BIGINT) AS sumdl
        |  FROM toks)
        |SELECT n.ndocs,
        |       CAST(greatest(64, least(65536, n.ndocs // 250000 + 1)) AS INT)
        |         AS parts,
        |       n.sumdl,
        |       n.ndocs AS doc_rows,
        |       n.sumdl AS sum_dl,
        |       (SELECT CAST(count(*) AS BIGINT) FROM tf) AS posting_rows,
        |       (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS sum_tf,
        |       (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tf)
        |         AS term_rows,
        |       (SELECT CAST(max(df) AS BIGINT) FROM (
        |          SELECT term, count(*) AS df FROM tf GROUP BY 1)) AS max_df
        |FROM n""".stripMargin,
    "q_hybrid_rrf" ->
      (s"WITH $bm25Ctes,\n" +
        s"""qterms AS (
           |  SELECT DISTINCT doc_id AS query_id, term
           |  FROM (SELECT doc_id, unnest(t) AS term FROM toks
           |        WHERE doc_id % $HybridQueryMod = $HybridQueryRes
           |          AND doc_id < $HybridQueryIdCap)),
           |scored AS (
           |  SELECT qterms.query_id, tf.doc_id,
           |         round(sum(
           |           $bm25ContribSql), 4) AS score
           |  FROM qterms JOIN tf USING (term) JOIN df USING (term)
           |       JOIN dl ON tf.doc_id = dl.doc_id, stats s
           |  WHERE tf.doc_id <> qterms.query_id
           |  GROUP BY 1, 2),
           |lex AS (
           |  SELECT query_id, doc_id,
           |         CAST(row_number() OVER (PARTITION BY query_id
           |              ORDER BY score DESC, doc_id) AS INT) AS lex_rk
           |  FROM scored QUALIFY lex_rk <= $LegTopK),
           |vec AS (
           |  SELECT query_id, doc_id, CAST(rk AS INT) AS vec_rk FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY list_cosine_similarity(
           |                        CAST(q.embedding AS DOUBLE[]),
           |                        CAST(c.embedding AS DOUBLE[])) DESC,
           |                      c.vec_id) AS rk
           |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id % $HybridQueryMod = $HybridQueryRes
           |      AND q.vec_id < $HybridQueryIdCap)
           |  WHERE rk <= $LegTopK),
           |fused AS (
           |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
           |         COALESCE(l.doc_id, v.doc_id) AS doc_id,
           |         round(COALESCE(CAST(1 AS DOUBLE) / ($RrfK + l.lex_rk), 0) +
           |               COALESCE(CAST(1 AS DOUBLE) / ($RrfK + v.vec_rk), 0),
           |               6) AS rrf,
           |         l.lex_rk, v.vec_rk
           |  FROM lex l FULL OUTER JOIN vec v
           |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
           |SELECT query_id,
           |       CAST(row_number() OVER (PARTITION BY query_id
           |            ORDER BY rrf DESC, doc_id) AS INT) AS rk,
           |       doc_id, rrf, lex_rk, vec_rk
           |FROM fused QUALIFY rk <= $FusedTopK
           |ORDER BY query_id, rk""".stripMargin))
}
