package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the trade network (beyond-reference; companion to
  * the connected-components pass in [[Dedup.connectedComponents]]).
  *
  * Nodes are nations; a lineitem whose customer sits in nation u and whose
  * supplier sits in nation v contributes weight 1 to edge u→v. One
  * weighted-PageRank iteration runs over that edge list the way every
  * distributed PageRank does: out-degree normalize, scatter contributions
  * along edges, gather per destination.
  */
object Graph {
  import Tables._
  import Num.round6

  /** Contribution scale: per-edge rank flow is materialized as the exact
    * integer (w·SCALE) div outdeg — integer floor division, so the
    * cross-engine sum is order-free and bit-exact. */
  val PR_SCALE = 1000000000000L
  val PR_D = 0.85

  /** Customer-nation → supplier-nation weighted edge list. */
  private[engine] def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val l = lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = customer(spark, dir).select(col("c_custkey"),
      col("c_nationkey").as("src"))
    val s = supplier(spark, dir).select(col("s_suppkey"),
      col("s_nationkey").as("dst"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** One weighted-PageRank iteration from the uniform start over the
    * nation trade graph: rank(v) = (1-d)/N + d/N · Σ_u w(u,v)/outdeg(u).
    *
    * Exactness: each edge's flow is the integer (w·SCALE) div outdeg —
    * floor division on BIGINTs, identical in both engines — so the gather
    * is an integer sum (order-free) and only the final rescale touches
    * doubles (two IEEE ops, same order both sides).
    *
    * Scale shape: the fact joins reduce to a (src, dst) edge aggregate
    * map-side before any rank math; out-degree is a second small
    * aggregate broadcast back onto edges; scatter/gather shuffles edge
    * rows only. Iterating = looping this plan over a localCheckpointed
    * rank vector (the [[Dedup.connectedComponents]] loop discipline). */
  def pageRankStep(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeEdges(spark, dir)
    val outdeg = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val n = nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val nNations = count(lit(1)).cast("double")
    val gathered = edges
      .join(broadcast(outdeg), "src")
      .select(col("dst"), expr(s"(w * ${PR_SCALE}L) div outw").as("flow"))
      .groupBy(col("dst"))
      .agg(sum(col("flow")).as("inflow"), count(lit(1)).as("n_in_edges"))
    n.join(gathered, col("n_nationkey") === col("dst"), "left")
      .select(col("n_name"),
        coalesce(col("inflow"), lit(0L)).as("inflow"),
        coalesce(col("n_in_edges"), lit(0L)).as("n_in_edges"))
      .crossJoin(broadcast(nation(spark, dir).agg(nNations.as("nn"))))
      .select(col("n_name"), col("n_in_edges"),
        round6(lit(1.0 - PR_D) / col("nn") +
          lit(PR_D) / col("nn") *
            (col("inflow").cast("double") / lit(PR_SCALE.toDouble)))
          .as("rank"))
      .orderBy("n_name")
  }

  /** Power-iteration rounds for [[pageRankIterated]], and the damping
    * factor as an exact rational (85/100 ≡ [[PR_D]]) so every rank update
    * stays in BIGINT arithmetic — floor divisions are identical in both
    * engines, and integer sums are order-free, so the rank vector is
    * bit-exact after any number of rounds (a float recurrence would drift
    * by partition order on round 2). */
  val PR_ITERS = 5
  val PR_D_NUM = 85L
  val PR_D_DEN = 100L

  /** Multi-round weighted PageRank: r ← (1-d)/N + d·Wᵀ(r/outdeg), run
    * [[PR_ITERS]] times from the uniform start, entirely in scaled BIGINT
    * (rank mass [[PR_SCALE]] ≡ 1.0). Each floor division leaks < 1 unit of
    * 10¹² per edge per round — the spec pins the retained mass ≥
    * (1 − 10⁻⁶)·SCALE every round (no dangling handling needed: every
    * nation has out-edges at every SF, asserted by the loop's mass check).
    *
    * Scale shape: the edge×outdeg table is built once and
    * localCheckpointed — per round the only moving data is the rank
    * vector (|V| rows) joined onto it, a scatter of |E| flow rows, and a
    * gather groupBy to |V| — the standard Pregel-style iteration with
    * O(|E|) per-round traffic and flat lineage. Overflow bound: r·w <
    * 2⁶³ needs max edge weight < 9.2·10⁶ at SCALE 10¹²; at larger scale
    * drop SCALE a decade per weight decade. */
  private[graft] def pageRankRun(
      spark: SparkSession, dir: String, iters: Int): (DataFrame, Seq[Long]) = {
    val edges = tradeEdges(spark, dir)
    val outdeg = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val ew = edges.join(broadcast(outdeg), "src").localCheckpoint()
    val nodes = nation(spark, dir)
      .select(col("n_nationkey").as("node"), col("n_name")).localCheckpoint()
    val nNodes = nodes.count()
    val base = (PR_D_DEN - PR_D_NUM) * PR_SCALE / (PR_D_DEN * nNodes)
    var rank = nodes.select(col("node"), lit(PR_SCALE / nNodes).as("r"))
      .localCheckpoint()
    // mass-conservation checks ride the checkpoint jobs via observe():
    // CollectMetrics accumulates during the SAME pass that materializes
    // each round's rank vector — zero extra jobs (previously one
    // agg().head job per round). The blocking get() calls are DEFERRED
    // until after the loop: the values exist as soon as each job ends,
    // but the listener-bus delivery is async, and awaiting it inside the
    // loop would serialize rounds behind the event queue (measured 4×
    // on sf1, where each round's job is milliseconds).
    val observations = (1 to iters).map { i =>
      val obs = new org.apache.spark.sql.Observation(s"pr_mass_$i")
      val flows = ew.join(rank, col("src") === col("node"))
        .select(col("dst"), expr("(r * w) div outw").as("flow"))
      val gathered = flows.groupBy(col("dst")).agg(sum(col("flow")).as("inflow"))
      rank = nodes.select(col("node"))
        .join(gathered, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"(${PR_D_NUM}L * coalesce(inflow, 0L)) div ${PR_D_DEN}L"))
            .as("r"))
        .observe(obs, sum(col("r")).as("mass"))
        .localCheckpoint()
      obs
    }
    val mass = Seq.newBuilder[Long]
    observations.foreach(o => mass += o.get("mass").asInstanceOf[Long])
    val out = nodes.join(rank, "node")
      .select(col("n_name"), col("r").as("rank_scaled"),
        round6(col("r").cast("double") / lit(PR_SCALE.toDouble)).as("rank"))
      .orderBy("n_name")
    (out, mass.result())
  }

  /** [[PR_ITERS]]-round PageRank over the nation trade graph; the scaled
    * BIGINT rank column makes the whole trajectory hash-checkable. */
  def pageRankIterated(spark: SparkSession, dir: String): DataFrame =
    pageRankRun(spark, dir, PR_ITERS)._1

  /** Per-node neighbour budget of the kNN graph. */
  val KNN_K = 8
  /** Basket cap of the co-supply projection (suppliers per part). */
  val COSUPPLY_CAP = 12

  /** Supplier co-supply edges: (s1 < s2) weighted by the number of
    * distinct parts both supply. The bipartite projection goes through
    * per-part supplier SETS, not a self-join: a part's sorted supplier
    * array explodes into its C(k,2) ordered pairs map-side (a lambda over
    * the array), so the plan never materializes the join's k² rows twice
    * over nor sorts two full copies of the (part, supplier) relation —
    * at sf1 the self-join form pushed 180M rows through a sort-merge
    * join (~38 s); this shape shuffles 1× (part, supplier) rows and
    * explodes locally.
    *
    * Fan-out is C(k,2) per part, and the pair shuffle it feeds cannot
    * partial-aggregate (each pair appears < 1× per map partition), so k
    * is capped at [[COSUPPLY_CAP]] deterministically (lowest supplier
    * ids of the sorted set) — the basket-size cap every production
    * co-occurrence pipeline applies, mirrored exactly by the oracle. The
    * synthetic catalog runs ~30 suppliers/part; the cap cuts the pair
    * shuffle 6.7× while leaving a graph with the same node set. */
  private[graft] def coSupplyEdges(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .groupBy(col("l_partkey"))
      .agg(slice(sort_array(collect_set(col("l_suppkey"))), 1, COSUPPLY_CAP)
        .as("sups"))
      .select(explode(expr(
        """flatten(transform(sups, (x, i) ->
          |  transform(slice(sups, i + 2, size(sups)),
          |    y -> struct(x AS s1, y AS s2))))""".stripMargin)).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("w"))

  /** Union-kNN sparsification of the co-supply graph: each node keeps its
    * [[KNN_K]] strongest incident edges (weight desc, neighbour-id
    * tie-break), an edge survives if EITHER endpoint keeps it, and the
    * survivor set deduplicates back to undirected (s1 < s2) pairs.
    *
    * This is the construction similarity graphs use at billion scale
    * (kNN graphs over ANN neighbours), and it is what makes downstream
    * graph algorithms scale-PROOF rather than scale-lucky: the co-supply
    * projection of a dense catalog approaches |V|² edges, so any
    * global-fraction threshold (round-5's first cut used top-decile via
    * a single-partition row_number) still yields a dense graph AND a
    * single-reducer sort — at sf1 that was 40 s of wedge explosion. The
    * per-node window is a distributed partitioned top-k (WindowGroupLimit
    * prunes per group), |E| ≤ K·|V| by construction, and every
    * downstream wedge/vote is degree-bounded forever.
    *
    * `e` must be MATERIALIZED by the caller (localCheckpoint): the
    * incident view unions the edge aggregate with itself, and an
    * unmaterialized subtree would execute the expensive candidate
    * aggregate once per branch (the q38 double-assignment lesson — at
    * sf1 that doubled a ~20 s pass). */
  private[graft] def knnEdgesFrom(e: DataFrame): DataFrame = {
    val incident = e.select(col("s1").as("node"), col("s2").as("nb"), col("w"))
      .unionAll(e.select(col("s2").as("node"), col("s1").as("nb"), col("w")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("w").desc, col("nb"))
    incident.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KNN_K)
      .select(least(col("node"), col("nb")).as("s1"),
        greatest(col("node"), col("nb")).as("s2"), col("w"))
      .distinct()
  }

  /** Per-node degrees of an (s1, s2) undirected edge list. */
  private[graft] def degreesOf(ranked: DataFrame): DataFrame =
    ranked.select(col("s1").as("node"))
      .unionAll(ranked.select(col("s2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Orient each edge from lower to higher (deg, node). The orientation
    * only needs a TOTAL ORDER on (deg, node) — the (deg, node) struct IS
    * one (lexicographic least/greatest), so no global row_number rank is
    * ever materialized (round 5 ranked nodes through an unpartitioned
    * window: a single reducer sorting |V| rows, the q98 anti-pattern). */
  private[graft] def orientEdges(ranked: DataFrame, deg: DataFrame): DataFrame =
    ranked
      .join(broadcast(deg), col("s1") === col("node"))
      .withColumnRenamed("deg", "d1").drop("node")
      .join(broadcast(deg), col("s2") === col("node"))
      .withColumnRenamed("deg", "d2").drop("node")
      .select(
        least(struct(col("d1").as("d"), col("s1").as("n")),
          struct(col("d2").as("d"), col("s2").as("n"))).as("u"),
        greatest(struct(col("d1").as("d"), col("s1").as("n")),
          struct(col("d2").as("d"), col("s2").as("n"))).as("v"))

  /** Degree-ordered triangle counting over the union-kNN co-supply graph
    * — the shape that survives web-scale graphs:
    *
    *  1. Sparsify to the kNN graph ([[knnEdges]]): |E| ≤ K·|V| no matter
    *     how dense the raw projection gets.
    *  2. Orient each edge from lower to higher (degree, node) — every
    *     triangle {a,b,c} then materializes exactly once, and the
    *     out-adjacency of any node is O(√m), which bounds the wedge
    *     self-join that a naive undirected 3-way join would blow up.
    *  3. Wedges (a→b, a→c, b≺c) semi-join the oriented edge list.
    *
    * All counts are integers; output is one row the oracle hash-checks
    * (the DuckDB twin recomputes the same kNN cut and orientation). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    // the candidate aggregate feeds both the total count and the kNN cut —
    // materialize it once
    val e = coSupplyEdges(spark, dir).localCheckpoint()
    val nTotal = e.agg(count(lit(1)).as("n_edges_total"))
    val ranked = knnEdgesFrom(e)
      .select(col("s1"), col("s2")).localCheckpoint()
    val deg = degreesOf(ranked)
    val oriented = orientEdges(ranked, deg)
      .localCheckpoint() // read 3× (two wedge legs + the closing semi join)
    val wedges = oriented.select(col("u").as("a"), col("v").as("b"))
      .join(oriented.select(col("u").as("a"), col("v").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
    val tris = wedges.join(oriented,
      wedges("b") === oriented("u") && wedges("c") === oriented("v"),
      "left_semi")
    val kept = ranked.agg(count(lit(1)).as("n_edges_kept"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"))
    tris.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(kept))
      .crossJoin(broadcast(nTotal))
      .crossJoin(broadcast(nodes))
      .select(col("n_nodes"), col("n_edges_total"), col("n_edges_kept"),
        col("max_degree"), col("n_triangles"))
  }

  /** Edges reported by [[coSupplyTopEdges]]. */
  val COSUPPLY_TOP = 20

  /** The strongest co-supply edges, with the pair fan-out running through
    * the `explode_pairs` GENERATOR ([[graft.functions.ExplodePairsE]] via
    * the SQL registry) instead of [[coSupplyEdges]]' higher-order-function
    * lambdas — the UDTF-class extension exercised end-to-end under the
    * oracle gate. Same plan skeleton: one (part, supplier) shuffle, local
    * fan-out (GenerateExec), pair aggregate, TakeOrdered cut. */
  def coSupplyTopEdges(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .groupBy(col("l_partkey"))
      .agg(slice(sort_array(collect_set(col("l_suppkey"))), 1, COSUPPLY_CAP)
        .as("sups"))
      .selectExpr("explode_pairs(sups) AS (s1, s2)")
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("s1"), col("s2"))
      .limit(COSUPPLY_TOP)

  /** Synchronous label-propagation rounds. */
  val LP_ITERS = 3

  /** The union-kNN graph ([[knnEdgesFrom]]) as a bidirectional weighted
    * adjacency list — |rows| ≤ 2K·|V| by construction. Both the candidate
    * aggregate and the kNN cut are materialized exactly once. */
  private[graft] def keptAdjacency(spark: SparkSession, dir: String): DataFrame = {
    val kept = knnEdgesFrom(coSupplyEdges(spark, dir).localCheckpoint())
      .localCheckpoint()
    kept.select(col("s1").as("node"), col("s2").as("nb"), col("w"))
      .unionAll(kept.select(col("s2").as("node"), col("s1").as("nb"), col("w")))
  }

  /** Community detection by synchronous label propagation over the
    * union-kNN co-supply graph: every node starts as its own label; each
    * node adopts the label with the largest incident edge-weight sum
    * among its neighbours (deterministic tie-break: smallest label), and
    * isolated or tied-empty nodes keep their previous label. [[LP_ITERS]]
    * synchronous rounds — fully deterministic, unlike the asynchronous
    * variant whose result depends on visit order.
    *
    * Scale shape: per round one shuffle of |E| (adjacency ⋈ labels on the
    * neighbour key), a (node, label) partial aggregate, and a per-node
    * argmax via max_by — no window sort. Round 1 votes with the starting
    * labels, which are the neighbours' own ids, so it needs no join. The
    * rounds are a fixed unrolled plan over the checkpointed kNN cut that
    * [[keptAdjacency]] reads, so nothing is materialized between rounds.
    * Output = the label histogram plus per-node labels for the oracle
    * hash. */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val adj = keptAdjacency(spark, dir)
    // r16 (guide §2.4): votes ← labels directly — the old
    // labels LEFT JOIN votes + coalesce(winner, lab) was provably the
    // identity: the adjacency is BIDIRECTIONAL, so every labeled node
    // appears as `nb` in at least one adjacency row and receives ≥1
    // vote every round (the "isolated nodes keep their label" clause
    // guards a case this graph cannot produce — node sets here ARE the
    // adjacency's nodes). Oracle re-verified (the twin recomputes all
    // rounds).
    def round(votes: DataFrame): DataFrame = votes
      .groupBy(col("node"), col("lab"))
      .agg(sum(col("w")).as("s"))
      // argmax with total order: max weight, then SMALLEST label — the
      // struct max takes the largest tuple, so negate the label
      .groupBy(col("node"))
      .agg(expr("max_by(lab, struct(s, -lab))").as("lab"))
    val first = round(adj.select(col("node"), col("nb").as("lab"), col("w")))
    val labels = (2 to LP_ITERS).foldLeft(first)((labels, _) =>
      round(adj.join(labels.withColumnRenamed("node", "nb"), "nb")))
    labels.groupBy(col("lab")).agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy("lab")
  }

  /** q207 core order. */
  val KCORE_K = 3
  /** Peel-round cap — a HARD failure, not a truncation (the CC
    * discipline): a graph needing more rounds must fail loudly, because
    * a silently-truncated peel returns nodes that are NOT in the core. */
  val KCORE_MAX_ROUNDS = 16

  /** q207: k-core decomposition by iterative peeling over the union-kNN
    * co-supply graph — repeatedly delete nodes of degree < [[KCORE_K]]
    * until none remain; the surviving maximal subgraph (every node ≥ K
    * neighbours IN the subgraph) is unique regardless of deletion order,
    * which is what makes the twin exact: extra peel rounds on a stable
    * graph are no-ops, so the oracle unrolls a fixed round budget and
    * meets the loop's fixpoint.
    *
    * Scale shape: per round, one node-grain degree aggregate (map-side
    * combined) and two LEFT SEMI joins that shuffle only the SHRINKING
    * edge list — never the corpus, never a collected node set — with a
    * localCheckpoint per round so the plan stays flat (the CC/q104
    * pattern). |E| ≤ K_nn·|V| by the kNN cut, and peel depth on a
    * degree-bounded graph is small; the cap fails hard if not. */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    var edges = knnEdgesFrom(coSupplyEdges(spark, dir).localCheckpoint())
      .select(col("s1"), col("s2")).localCheckpoint()
    var round = 0
    var removed = 1L
    while (removed > 0) {
      val deg = degreesOf(edges).localCheckpoint()
      val keep = deg.filter(col("deg") >= KCORE_K).select(col("node"))
      // ONE action per peel round: count the below-threshold nodes in a
      // single aggregate over the checkpointed degrees instead of two
      // separate deg.count()/keep.count() jobs.
      removed = deg
        .agg(coalesce(sum(when(col("deg") < KCORE_K, 1L)), lit(0L)))
        .collect()(0).getLong(0)
      if (removed > 0) {
        require(round < KCORE_MAX_ROUNDS,
          s"k-core peeling exceeded $KCORE_MAX_ROUNDS rounds")
        edges = edges
          .join(keep.withColumnRenamed("node", "s1"), Seq("s1"), "left_semi")
          .join(keep.withColumnRenamed("node", "s2"), Seq("s2"), "left_semi")
          .localCheckpoint()
        round += 1
      }
    }
    degreesOf(edges)
      .select(col("node"), col("deg").cast("long").as("core_deg"))
      .orderBy("node")
  }
}
