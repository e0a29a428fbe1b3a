package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * primitive behind near-dup canonicalization (each member labeled with
  * its component's minimum vertex id).
  *
  * Hybrid strategy, the shape production CC implementations use:
  *  - ABOVE `localThreshold` edges: iterative distributed min-label
  *    propagation — each round one shuffle join keyed by vertex plus one
  *    cached convergence count; rounds = component diameter (alternating
  *    small-star/large-star would halve rounds with the same topology).
  *  - AT OR BELOW the threshold: collect the edge list and finish with a
  *    driver-side union-find. Once the edge set fits comfortably in
  *    driver memory, scheduling distributed rounds costs more than the
  *    entire computation; a 1M-edge union-find is milliseconds. This is
  *    the same "finish small frontiers locally" switch GraphFrames-style
  *    CC makes after its first rounds.
  *
  * Both paths produce identical labels (spec-pinned, including chain
  * graphs that force multiple propagation rounds). The distributed path
  * throws if it has not converged after `maxRounds` — an unconverged
  * result would silently split components.
  */
object GraphOps {

  /** edges: two LongType columns (src, dst), undirected (one direction is
    * enough). Returns (vertex_id, label) for every vertex present. On the
    * distributed path the returned frame is PERSISTED (it backs the
    * converged labels) and the caller owns the release — unpersist it (or
    * clearCache) once consumed. */
  def connectedComponents(
      s: SparkSession,
      edges: DataFrame,
      localThreshold: Long = 1000000L,
      maxRounds: Int = 20): DataFrame = {
    val Seq(srcC, dstC) = edges.columns.toSeq.take(2)
    val e = graft.Caching.persist(edges.select(col(srcC).as("src"), col(dstC).as("dst")))
    val n = e.count()

    if (n <= localThreshold) {
      // driver finish: union-find with ITERATIVE path compression — a
      // recursive find would overflow the stack on a path-shaped
      // component whose parent chain grows with the input (tens of
      // thousands of edges, far below the threshold)
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      e.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      import s.implicits._
      labels.toDF("vertex_id", "label")
    } else {
      val both = graft.Caching.persist(
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))))
      var cached = graft.Caching.persist(both.groupBy(col("src").as("vertex_id"))
        .agg(least(min(col("dst")), col("src")).as("label")))
      // the frame persisted this round but not yet promoted to `cached` —
      // tracked so a mid-round failure (e.g. the convergence count
      // throwing) cannot leak it past the finally block
      var inFlight: DataFrame = null
      var ok = false
      try {
        var labels = cached
        var converged = false
        var rounds = 0
        while (!converged && rounds < maxRounds) {
          val next = graft.Caching.persist(both
            .join(labels.withColumnRenamed("vertex_id", "dst")
              .withColumnRenamed("label", "nlabel"), "dst")
            .groupBy(col("src").as("vertex_id"))
            .agg(min(col("nlabel")).as("prop"))
            .join(labels, "vertex_id")
            .select(col("vertex_id"), least(col("label"), col("prop")).as("label"),
              col("label").as("old")))
          inFlight = next
          val changed = next.filter(col("label") =!= col("old")).count()
          cached.unpersist()
          cached = next
          inFlight = null
          labels = next.select("vertex_id", "label")
          converged = changed == 0
          rounds += 1
        }
        if (!converged) throw new IllegalStateException(
          s"connectedComponents: not converged after $rounds rounds")
        ok = true
        // The returned frame stays PERSISTED and the CALLER OWNS it:
        // every round is already materialized (the convergence count),
        // so consumption is a cache read. Severing lineage instead
        // (localCheckpoint) would lose recomputability on executor loss —
        // the wrong trade for a cluster library; unpersisting here would
        // re-run every propagation round on first consumption. The
        // engine's runners release it via clearCache per query.
        labels
      } finally {
        if (inFlight != null && (inFlight ne cached)) inFlight.unpersist()
        // the final round's frame backs the returned result — keep it on
        // success, release it on any failure path
        if (!ok) cached.unpersist()
        both.unpersist()
        e.unpersist()
      }
    }
  }

  /** Weighted PageRank over a directed edge list — fixed iteration count
    * (deterministic; convergence-based stopping would make the result
    * depend on float noise), damping `d`, dangling mass redistributed
    * uniformly each round (the standard stochastic-matrix completion, so
    * total rank stays 1 and the result is the true damped stationary
    * estimate, not a leaky variant).
    *
    * `edges`: three columns read positionally as (src, dst, weight>0).
    * Returns (v, r) for every vertex appearing as src or dst, PERSISTED —
    * caller owns the release (the [[connectedComponents]] contract).
    *
    * Scale shape (100 TB): each round is ONE shuffle join keyed by vertex
    * (rank × out-normalized weight, combined map-side by dst) plus a
    * broadcast 1-row dangling-mass aggregate — no driver round trip per
    * iteration beyond the materializing count, and state is only the
    * (vertex, rank) frame. Hot DST vertices (celebrity nodes) are
    * absorbed by the partial aggregation; a hot SRC vertex costs nothing
    * (its rank is one row joined against its out-edges). Rounds are
    * `iters`, not diameter-bounded — the caller picks the cost. */
  /** `danglingFromRanks` (r17 A/B dial): compute the per-round dangling
    * mass as the DIRECT sum of dangling vertices' ranks (an anti-join of
    * the checkpointed rank frame against the non-dangling src set)
    * instead of mass conservation over contrib (1 − Σm). The two are
    * mathematically equal; physically the conservation form's 1-row
    * aggregate is a broadcast subquery OVER THE CONTRIB SUBTREE, which
    * ReuseExchange does not collapse into the join's copy — so every
    * round executes the full |E|-row contribution shuffle TWICE. The
    * direct form reads the (checkpointed, |V|-row) rank frame twice
    * instead — a cache read — at the price of re-introducing the double
    * rank reference on UN-cut rounds (bounded by the checkpointEvery
    * clamp exactly like contrib's own double reference). Oracle parity:
    * the DuckDB replay must use the same formula — the two differ by
    * float-summation shape ([[graft.operators.GraphAnalyticsOps]]
    * pagerankOracle switches with this dial's default). */
  def pageRank(
      s: SparkSession,
      edges: DataFrame,
      iters: Int = 8,
      damping: Double = 0.85,
      checkpointEvery: Int = 1,
      danglingFromRanks: Boolean = PageRankDanglingFromRanks,
      broadcastMaxNodes: Long = PageRankBroadcastMaxNodes): DataFrame = {
    require(checkpointEvery >= 1 && checkpointEvery <= 4,
      "checkpointEvery must be in [1, 4]: each un-cut round embeds the " +
        "contrib subtree twice (nodes join + total-mass aggregate), so " +
        "plan size grows 2^checkpointEvery between cuts")
    val Seq(srcC, dstC, wC) = edges.columns.toSeq.take(3)
    // every frame pinned below is released in the finally, including
    // when the first action (vert.count(), where a null weight surfaces)
    // fails
    val pins = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = {
      val c = graft.Caching.persist(df); pins += c; c
    }
    try {
      // a null weight fails by name in the projection itself: the folded
      // aggregation below would otherwise read an all-null-weight vertex
      // as dangling (null wout) and silently redistribute its rank
      val e = pin(edges.select(
        col(srcC).as("src"), col(dstC).as("dst"),
        coalesce(col(wC).cast("double"), raise_error(concat(
          lit("pageRank: null edge weight on edge "), col(srcC).cast("string"),
          lit(" -> "), col(dstC).cast("string")))).as("w")))
      // ONE vertex-keyed aggregation yields the vertex set (keys), the
      // out-weight sums (non-null wout) AND the non-dangling src set — r17
      // built each with its own |E|-row exchange + cache (nodes distinct,
      // outW groupBy, srcs projection persist); folding them shares one
      // exchange (guide §2.4) and one cache. Numerically inert: wout sums
      // the same weight multiset (dst rows contribute null, which sum
      // ignores), and both PageRank fixtures' weights are integer counts,
      // so the double sum is exact under any partial-agg order.
      val vert = pin(
        e.select(col("src").as("v"), col("w"))
          .unionByName(e.select(col("dst").as("v"),
            lit(null).cast("double").as("w")))
          .groupBy("v").agg(sum("w").as("wout")))
      val n = vert.count().toDouble
      val nodes = vert.select(col("v"))
      val outW = vert.filter(col("wout").isNotNull)
        .select(col("v").as("src"), col("wout"))
      val p = pin(
        e.join(outW, "src").select(col("src"), col("dst"), (col("w") / col("wout")).as("p")))
      // LINEAGE SHAPE. A naive round references the previous rank frame
      // TWICE (dangling-mass scan + contributions), doubling the logical
      // plan per iteration — 2^iters growth that overwhelms plan-string
      // generation long before execution. Here the second reference is
      // eliminated instead: the update conserves total mass at exactly 1,
      // so the dangling mass is 1 − Σ contributions — a 1-row aggregate
      // over the contrib frame replaces the left_anti scan of ranks. The
      // RANK frame is now referenced once per round; contrib itself is
      // still read twice (join + total-mass), so un-cut growth is
      // 2^(skipped rounds) — the reason the dial below is clamped small —
      // but each checkpointed round's plan is a single bounded tree.
      //
      // CHECKPOINT DIAL, measured at sf0.1 (q_part_rank, 5 rounds over the
      // ~2M-row symmetrized co-occurrence graph, steady-state): every-round
      // eager localCheckpoint 8.0s; every-2nd-round with the double-
      // reference design 11.4s (the un-cut round's aggregates really run
      // twice — ReuseExchange does not collapse them across the broadcast
      // subquery boundary); every-2nd-round with THIS single-reference
      // design 12.1s (the totM broadcast subquery re-executes the fused
      // chain); persisting each contrib to dodge that re-execution 9.4s
      // (cache-write overhead exceeds the saved compute at this size);
      // driver-COLLECTED scalar mass + persisted contrib (no broadcast
      // machinery at all) 9.0-10.1s — the broadcast subquery is not the
      // bottleneck either. NON-EAGER localCheckpoint(false) (r11, the
      // last untried variant): steady-state 8.0-8.8s vs eager 7.9-9.9s
      // over two 4-rep A/B sets — a wash inside run noise, and the lazy
      // variant is a correctness hazard besides: lastCkpt.unpersist()
      // runs before a lazy checkpoint has materialized, so the new
      // round's first execution can find its parent's cached blocks
      // gone — and a local checkpoint is by definition NOT recomputable.
      // Eager stays. This closes the materialization A/B file: every
      // cheaper-looking design has now been measured and refuted. So
      // the default stays 1 — materialize every round — and the dial
      // exists for billion-edge graphs where a checkpoint write of the
      // rank frame costs more than recomputing one fused round.
      // the non-dangling src set, only needed by the direct dangling form —
      // a projection of the cached vert frame, no persist of its own
      val srcs = if (danglingFromRanks)
        vert.filter(col("wout").isNotNull).select(col("v"))
      else null
      // JOIN STRATEGY (r17 optimization round, guide §3.1/§2.4): the rank
      // frame is |V| rows but its lineage is a localCheckpoint scan
      // (ExistingRDD), whose size Catalyst cannot estimate — so the
      // per-round rank×edge join plans as a SHUFFLE join and every round
      // pays an |E|-row exchange of the (cached) probability table. When
      // |V| is small enough to broadcast — the vertex table of most
      // derived graphs; both registered PageRank queries' vertex sets are
      // vocabulary/catalog-sized — hinting the RANK side (and the |V|-row
      // contribution/src frames below) broadcast removes every per-round
      // exchange except the contribution partial-agg itself. Measured at
      // sf0.1 (4-rep ProfileQ steady-state): q_pagerank 4.09→2.80s from
      // this hint alone; q_part_rank 11.9→11.6s under the conservation
      // dangling form (its rounds re-scan contrib for the totM subquery)
      // and →8.0s once the dangling default flipped to the direct form
      // (see [[PageRankDanglingFromRanks]]). Above the gate the shuffle
      // plan stays (a billion-vertex rank frame must never hit the
      // driver). The gate rides the SAME n the dangling scalar already
      // counts, so no extra action; the dial is env-tunable for A/B like
      // the dangling form (SPARK_GRAFT_PR_BCAST_MAX, entries).
      val bcastRanks = n <= broadcastMaxNodes
      def maybeB(df: DataFrame): DataFrame = if (bcastRanks) broadcast(df) else df
      var ranks = nodes.select(col("v"), lit(1.0 / n).as("r"))
        .localCheckpoint(true)
      var lastCkpt = ranks
      for (k <- 1 to iters) {
        val contrib =
          p.join(maybeB(ranks.withColumnRenamed("v", "src")), "src")
            .groupBy(col("dst").as("v")).agg(sum(col("r") * col("p")).as("m"))
        val next = if (danglingFromRanks) {
          // direct form: dm = Σ_{dangling v} r_v off the checkpointed
          // rank frame — contrib executes ONCE per round
          val dangl = ranks.join(maybeB(srcs), Seq("v"), "left_anti")
            .agg(coalesce(sum("r"), lit(0.0)).as("dm"))
          nodes.join(maybeB(contrib), Seq("v"), "left")
            .crossJoin(broadcast(dangl))
            .select(col("v"),
              ((lit(1.0) - lit(damping)) / lit(n) + lit(damping) *
                (coalesce(col("m"), lit(0.0)) + col("dm") / lit(n))).as("r"))
        } else {
          // conservation form: dm = 1 − Σm (Σ_dst m = Σ_{non-dangling} r
          // and Σ r = 1 by the update's construction) — rank frame read
          // once, contrib read twice (join + this broadcast subquery)
          val totM = contrib.agg(coalesce(sum("m"), lit(0.0)).as("tm"))
          nodes.join(maybeB(contrib), Seq("v"), "left")
            .crossJoin(broadcast(totM))
            .select(col("v"),
              ((lit(1.0) - lit(damping)) / lit(n) + lit(damping) *
                (coalesce(col("m"), lit(0.0)) + (lit(1.0) - col("tm")) / lit(n))).as("r"))
        }
        if (k % checkpointEvery == 0 || k == iters) {
          ranks = next.localCheckpoint(true)
          lastCkpt.unpersist()
          lastCkpt = ranks
        } else {
          // lazy; rooted at lastCkpt. NOT free of growth: contrib is
          // referenced twice (join + totM), so the un-cut plan doubles
          // per skipped round — bounded at 2^checkpointEvery (<= 16 by
          // the clamp above), vs 2^iters without any cuts
          ranks = next
        }
      }
      ranks
    } finally pins.foreach(_.unpersist())
  }

  /** Library default for [[pageRank]]'s dangling-mass form — switchable
    * for A/B measurement via SPARK_GRAFT_PR_DANGLING=conserve|ranks
    * (ProfileQ runs); the committed default is the measured winner and
    * the PageRank oracles follow it (same formula, or the two engines'
    * doubles drift by the fp difference between (1 − Σm) and the direct
    * dangling-rank sum).
    *
    * MEASURED r17 (q_part_rank, sf0.1, 4 ProfileQ reps each, first rep
    * dropped as JIT warmup): conserve 10.0-10.6s vs ranks 10.3-12.8s —
    * under the era's all-shuffle round plan the hypothesized win
    * (contrib's broadcast-subquery copy re-executes the |E|-row
    * shuffle) did not materialize, and conserve stayed default.
    *
    * RE-MEASURED in the r17 OPTIMIZATION round after the broadcast-rank
    * round plan landed (see the join-strategy note in [[pageRank]]):
    * with ranks/contrib/srcs broadcast the per-round cost IS the
    * cached-p scan, so the conservation form's second contrib execution
    * (the totM broadcast subquery) doubles it — conserve 11.6-12.0s vs
    * ranks 8.0s steady-state on q_part_rank (4-rep ProfileQ), q_pagerank
    * a wash (2.80 vs 2.85s, vocabulary-sized graph). The DIRECT form is
    * now the committed default; the PageRank oracles follow this dial at
    * plan-build time, so both engines always run the same formula. */
  private[graft] def PageRankDanglingFromRanks: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_PR_DANGLING", "ranks") == "ranks"

  /** Vertex-count gate for [[pageRank]]'s per-round broadcast of the
    * rank/contribution frames (r17 optimization round). A rank row is
    * (long, double); at Spark's ~50 bytes/row in a built hash relation
    * the 4M default keeps the broadcast ~200 MB — inside the guide's
    * "a few hundred MB is usually fine" band and far under the 8 GB /
    * 512M-row hard cap — while covering every vocabulary- or
    * catalog-sized vertex set a derived graph realistically has. Above
    * the gate the rounds keep the shuffle-join plan (correct at any
    * |V|). Env-dialed for A/B, not scale tuning: the LOCAL default and
    * the production value are the same number because the gate is in
    * ENTRIES, not partitions (nothing here is tuned to local[32]).
    *
    * DRIVER-MEMORY FLOOR at the gate (r17 ADVICE): each round
    * broadcasts up to three |V|-row frames (ranks, contribs, srcs), and
    * dataset-broadcast cleanup is GC-driven (ContextCleaner), so a few
    * rounds' relations can coexist before a GC cycle releases them. At
    * the 4M-entry default that is ~200 MB per relation — budget ~2-3 GB
    * of driver heap headroom for a gate-sized multi-round run (the
    * bench's 8 GB default clears it; a 1-2 GB driver should lower the
    * gate or run the shuffle plan). */
  private[graft] def PageRankBroadcastMaxNodes: Long =
    sys.env.get("SPARK_GRAFT_PR_BCAST_MAX").map { v =>
      // fail with the dial's NAME: a bare NumberFormatException from an
      // env typo aborts plan build with nothing pointing at the cause
      require(v.matches("-?\\d+"),
        s"SPARK_GRAFT_PR_BCAST_MAX must be a long, got '$v'")
      v.toLong
    }.getOrElse(4L * 1000 * 1000)
}
