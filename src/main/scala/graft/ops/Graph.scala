package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Graph analytics beyond the dedup connected components
  * ([[Dedup.connectedComponents]]): weighted PageRank — the authority
  * score corpus curation runs over source/host link graphs (Common
  * Crawl-style URL ranking) and marketplaces run over order flow.
  *
  * Here the graph is the order-flow bipartite: customer ↔ supplier
  * edges weighted by lineitem count (via orders), walked in both
  * directions. The power iteration is UNROLLED to a fixed
  * [[PrIters]] rounds, which keeps the whole computation a chain of
  * join + aggregate — hash-verifiable against a DuckDB oracle whose
  * CTEs unroll the same three rounds with identical arithmetic (no
  * recursion, no convergence test whose iteration count could
  * diverge between engines).
  *
  * Scale shape: per round, ONE join of the rank vector (node-domain
  * sized) against the edge list and one aggregation back to nodes —
  * the edge list shuffles on its join key once per round and nothing
  * is ever windowed; out-weights are precomputed once. Output is the
  * full supplier rank table ordered by key — deliberately NOT a
  * float-ordered top-k, whose cutoff ties would let last-ulp
  * summation noise reorder rows between engines. */
object Graph {

  /** Fixed power-iteration rounds (unrolled in both engines). */
  val PrIters = 3
  /** Damping factor. */
  val PrDamping = 0.85

  /** Weighted PageRank over a directed edge list `(src, dst, w)`:
    * returns `(id, rank)` for every node. `nodes` must list every
    * node id exactly once. */
  /** Eager localCheckpoint at MEMORY_AND_DISK_SER for the iterative
    * loops' invariant frames. SERIALIZED storage, deliberately: the
    * blocks are UnsafeRows (already binary — packing them into one
    * buffer costs almost nothing and drops the per-object overhead
    * ~3-5×), and checkpoint blocks being READ by the same pipelined
    * stage that aggregates downstream are PINNED — they cannot evict
    * while execution asks for its first page, so their FOOTPRINT is
    * the working-set floor of the whole query. Measured via the
    * round-18 suite-wide spill sweep at sf0.1 (its rig was last
    * present at commit 36698d3): with
    * deserialized default storage q187 aborted loudly below a
    * 140–225 MB unified floor; serialized, the floor drops to
    * 60–75 MB — a 2–3× smaller minimum executor. (It still exceeds
    * the sweep's deliberately-brutal 45 MB budget, so q187 stays on
    * the sweep's loud-floor allowlist.) */
  private[ops] def ckpt(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Node-count ceiling below which the rank/contrib/out-weight frames
    * (all node-domain sized, ~16 B/row) are broadcast into their joins
    * instead of shuffle-joined. 2²¹ nodes ≈ a few tens of MB framed —
    * comfortably inside executor memory and far under Spark's 8 GB /
    * 512M-row broadcast cap (guide §3.1: "a few hundred MB is usually
    * fine"). A 100 TB host graph (≥10⁸ nodes) exceeds it and takes
    * the shuffle path unchanged. */
  val BroadcastNodeLimit: Long = 1L << 21

  /** Shared power-iteration driver: checkpoints the node set, measures
    * n, decides the node-side join strategy from it (r19, guide §3.1:
    * every per-round join pairs the EDGE-domain transition table
    * against a NODE-domain frame — rank, contrib, out-weights — whose
    * checkpoint/shuffle-derived size Catalyst cannot estimate, so it
    * statically plans SortMergeJoin; n is already measured for the
    * teleport term, making the broadcast decision data-adaptive, not
    * config), then hands the strategy to `mkTrans` so the CALLER can
    * build its normalized (src, dst, p) transition frame with the same
    * gating, and runs the unrolled rounds. `mkTrans` must return a
    * frame whose materialization cost is paid once (checkpoint-backed);
    * the loop consumes it once per round. */
  private def pageRankWith(nodes: DataFrame)
                          (mkTrans: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    // loop-invariant frames are EAGERLY checkpointed (the q69 CC-loop
    // discipline): without this the final plan re-derives the whole
    // edge build once per iteration per reference — q187 at sf0.1
    // measured 5.3 s warm without the checkpoints, 3.5 s with them
    val nodesC = ckpt(nodes)
    val n = nodesC.count()
    def nodeSide(df: DataFrame): DataFrame =
      if (n <= BroadcastNodeLimit) broadcast(df) else df
    val trans = mkTrans(nodeSide)
    var rank = nodesC.select(col("id"), lit(1.0 / n).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = trans.join(nodeSide(rank.withColumnRenamed("id", "src")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("p") * col("r")).as("inflow"))
      rank = nodesC.join(nodeSide(contrib.withColumnRenamed("dst", "id")), Seq("id"), "left_outer")
        .select(col("id"),
          (lit((1.0 - PrDamping) / n) +
            lit(PrDamping) * coalesce(col("inflow"), lit(0.0))).as("r"))
    }
    rank
  }

  def pageRank(nodes: DataFrame, edges: DataFrame): DataFrame =
    pageRankWith(nodes) { nodeSide =>
      val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      // edge transition probabilities, computed once (below the
      // broadcast gate the only exchange per round is the
      // partial-aggregated inflow shuffle; above it, the original
      // shuffle plan is unchanged)
      ckpt(edges.join(nodeSide(outW), Seq("src"))
        .select(col("src"), col("dst"), (col("w").cast("double") / col("wout")).as("p")))
    }

  /** q187: SUPPLIER AUTHORITY via PageRank on the order-flow
    * bipartite — customers and suppliers as nodes, lineitem counts as
    * edge weights, both directions walked. Emits every supplier's
    * rank (×10⁶, rounded) keyed and ordered by supplier id. */
  def q187PageRank(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val nodes = customer(s, d).select((-col("c_custkey") - 1).as("id"))
      .unionByName(supplier(s, d).select(col("s_suppkey").as("id")))
    pageRankWith(nodes) { nodeSide =>
      // r20 (guide §2.4): the old form materialized the (cust, supp, w)
      // flow digest AND a second directed (src, dst, p) transition
      // checkpoint at 2×|flow| rows, paying a groupBy(src) pass over
      // the doubled edge list to normalize. The bipartite structure
      // gives both normalizers directly on the UNDIRECTED digest —
      // wout of a customer node is its flow-row sum over suppliers and
      // vice versa, both node-domain digests that ride the same
      // broadcast gate as the rank vector — so ONE |flow|-row
      // checkpoint now carries (w, p_from_cust, p_from_supp) and the
      // two directed transition sets are map-side projections of it.
      // One edge-domain materialization instead of two; the loop's
      // pinned storage floor halves; integer (long) normalizer sums
      // are associative, so p values are bit-identical to the old
      // union-then-groupBy(src) form. The flow aggregation's exchange
      // is shared by all three consumers (the two digest aggs and the
      // normalizer join) via exchange reuse — one lineitem⋈orders
      // pass total, as before.
      val flow = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("w"))
      val cSum = flow.groupBy(col("o_custkey")).agg(sum(col("w")).as("wc"))
      val sSum = flow.groupBy(col("l_suppkey")).agg(sum(col("w")).as("ws"))
      val flowT = ckpt(flow
        .join(nodeSide(cSum), Seq("o_custkey"))
        .join(nodeSide(sSum), Seq("l_suppkey"))
        .select(col("o_custkey"), col("l_suppkey"),
          (col("w").cast("double") / col("wc")).as("p_from_cust"),
          (col("w").cast("double") / col("ws")).as("p_from_supp")))
      // disjoint node id spaces: customers negated (keys are ≥ 0)
      flowT.select((-col("o_custkey") - 1).as("src"),
          col("l_suppkey").as("dst"), col("p_from_cust").as("p"))
        .unionByName(flowT.select(col("l_suppkey").as("src"),
          (-col("o_custkey") - 1).as("dst"), col("p_from_supp").as("p")))
    }
      .filter(col("id") >= 0)
      .select(col("id").as("s_suppkey"),
        round(col("r") * 1e6, 4).as("rank_ppm"))
      .orderBy(col("s_suppkey"))
  }

  val q187Sql: String = {
    val d = PrDamping
    // the teleport NUMERATOR must be the Scala double: DuckDB computes
    // (1.0 - 0.85) in exact DECIMAL (0.15) while Spark folds the Scala
    // expression (0.15000000000000002) — a 1-ulp divergence amplified
    // through the damped rounds that could flip a rank_ppm rounding
    // boundary (round-14 review). Scala's toString is the shortest
    // round-trip representation, so CASTing it back to DOUBLE is exact.
    val teleport = s"CAST(${1.0 - PrDamping} AS DOUBLE)"
    // rounds are GENERATED from PrIters — the hand-unrolled form let
    // someone bump the Scala constant and silently desync the oracle
    def round(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""), r$i AS (
        | SELECT nodes.id,
        |   $teleport / n + $d * coalesce(sum(t.p * $prev.r), 0.0) AS r
        | FROM nodes CROSS JOIN nn
        | LEFT JOIN (SELECT * FROM trans) t ON t.dst = nodes.id
        | LEFT JOIN $prev ON $prev.id = t.src
        | GROUP BY nodes.id, nn.n""".stripMargin
    }
    s"""WITH flow AS (
      | SELECT o_custkey, l_suppkey, count(*) AS w
      | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | GROUP BY o_custkey, l_suppkey
      |), edges AS (
      | SELECT -o_custkey - 1 AS src, l_suppkey AS dst, w FROM flow
      | UNION ALL
      | SELECT l_suppkey AS src, -o_custkey - 1 AS dst, w FROM flow
      |), nodes AS (
      | SELECT -c_custkey - 1 AS id FROM customer
      | UNION ALL
      | SELECT s_suppkey AS id FROM supplier
      |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
      |), trans AS (
      | SELECT src, dst, CAST(w AS DOUBLE) / sum(w) OVER (PARTITION BY src) AS p
      | FROM edges
      |), r0 AS (SELECT id, 1.0 / n AS r FROM nodes CROSS JOIN nn""".stripMargin +
      "\n" + (1 to PrIters).map(round).mkString("\n") +
      s"""
      |)
      |SELECT id AS s_suppkey, round(r * 1e6, 4) AS rank_ppm
      |FROM r$PrIters WHERE id >= 0 ORDER BY s_suppkey""".stripMargin
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q187_pagerank", q187PageRank _, Some(q187Sql)),
  )
}
