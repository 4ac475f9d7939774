package graft.operators

import graft.core.Fixpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bulk-iterative graph analytics on DataFrames.
  *
  * PageRank here is the non-normalized integer variant: ranks live in
  * micro-units (1.0 → 1,000,000) and every step is integral —
  * `next = 150000 + (850 · Σ incoming (rank div outdeg)) div 1000`,
  * i.e. damping 0.85 in exact rational form. Floating-point PageRank
  * diverges across engines/partitionings because float addition is not
  * associative; integral arithmetic makes the result a pure function of
  * the graph, so an independent engine (the DuckDB oracle, q81) can
  * reproduce it bit-for-bit — the q55/q69 rational-score discipline
  * applied to graph iteration.
  *
  * Scale shape: edges are deduped and degree-annotated ONCE and cached;
  * each iteration is one equi-join (edges ⋈ ranks on src) plus one
  * aggregation (sum by dst) — the canonical distributed PageRank. Every
  * loop here runs on [[graft.core.Fixpoint]], which lineage-truncates the
  * state per round (or, for ≤ 8 rounds of a step that reads its state
  * once, evaluates the unrolled chain with one action).
  *
  * Nodes with no outgoing edge contribute nothing (standard simplified
  * dangling handling); nodes with no incoming edge keep the base mass
  * `150000 + 0`. Symmetrize edges upstream when the random surfer should
  * walk both ways (q81 does).
  */
object Graph {

  /** @param edges two columns `src`, `dst` (any duplicate edges are
    *              collapsed — multi-edges would double-count mass)
    * @return `node`, `rank_micro` for every node incident to an edge */
  def pageRank(edges: DataFrame, iters: Int, initMicro: Long = 1000000L): DataFrame =
    pageRankOn(edges.select(col("src"), col("dst")).distinct(), iters,
      initMicro, owned = true)

  /** [[pageRank]] over an edge table the CALLER has already deduped and
    * materialized — the entry point for pipelines running several graph
    * analytics over one shared edge table (build + `localCheckpoint` once,
    * pass everywhere; q81/q86 share the trade graph this way).
    *
    * Contract: `e` holds distinct `(src, dst)` rows and is already
    * materialized (checkpointed/cached) — this method scans it many times
    * and does NOT truncate its lineage. */
  def pageRankPrepared(e: DataFrame, iters: Int,
      initMicro: Long = 1000000L): DataFrame =
    pageRankOn(e, iters, initMicro, owned = false)

  private def pageRankOn(edges: DataFrame, iters: Int, initMicro: Long,
      owned: Boolean): DataFrame = {
    require(iters >= 1, s"pageRank needs >= 1 iteration, got $iters")
    // the one-arg wrappers own and materialize their deduped edges (deg,
    // annotated and nodes all branch from them; without truncation every
    // branch re-runs the upstream edge derivation — at sf0.1 a
    // lineitem-join scan per iteration); Fixpoint releases them on exit
    val e = if (owned) edges.localCheckpoint() else edges
    // loop-invariant tables, read every round: Spark materializes each at
    // its first use and every later round reads the cached blocks
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val annotated = e.join(deg, "src").cache()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().cache()
    Fixpoint("pageRank", iters, Fixpoint.ReturnState, readsStateOnce = true,
        inputs = Seq(annotated, nodes) ++ (if (owned) Seq(e) else Nil))(
        _ => nodes.withColumn("rank_micro", lit(initMicro))) { (rank, _) =>
      val contrib = annotated
        .join(rank, annotated("src") === rank("node"))
        .selectExpr("dst AS node", "rank_micro div outdeg AS c")
      val stepped = contrib
        .groupBy("node")
        .agg(expr("150000 + (850 * sum(c)) div 1000").as("rank_micro"))
      // no-incoming-edge nodes keep base mass; in a symmetrized graph
      // this join is a no-op but the operator must not drop nodes
      nodes
        .join(stepped, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank_micro"), lit(150000L)).as("rank_micro"))
    }
  }

  /** Per-node triangle counts via degree-ordered edge orientation — the
    * standard distributed triangle algorithm in its EDGE-ITERATOR form.
    * Each undirected edge is oriented from its lower-(degree, id) endpoint
    * to the higher one; every triangle {x,y,z} (rank x < y < z) then
    * appears at exactly one oriented edge — (x,y), whose endpoints'
    * out-neighborhoods both contain z — so intersecting the two
    * out-adjacency arrays per edge enumerates each triangle once, WITH the
    * third vertex's identity (per-node attribution comes free).
    *
    * Scale shape: orientation bounds every out-degree by O(√m), so the
    * total intersection work is Σ(d⁺(u)+d⁺(v)) over edges = O(m^1.5)
    * worst-case — the exact-enumeration optimum — but, unlike the naive
    * wedge join, non-closing wedges are rejected INSIDE the per-edge
    * intersection kernel and never materialize into a shuffle: the only
    * post-join rows are actual triangles. The adjacency table is
    * node-sized; Spark broadcasts it when small and shuffle-joins on the
    * edge keys when not — both plain equi-joins, AQE-safe.
    *
    * @param edges two columns `src`, `dst`, treated as UNDIRECTED (both
    *              orientations and duplicates collapse to one edge;
    *              self-loops are dropped — a triangle has 3 distinct nodes)
    * @return (node, tri_cnt) for every node in ≥1 triangle */
  /** Canonical undirected edge set: (a, b) with a < b, self-loops
    * dropped, multi-edges collapsed — shared by every undirected
    * algorithm here. Public so pipelines running several undirected
    * analytics over ONE graph (q85 triangles + q106 k-core) canonicalize
    * once, materialize, and hand the result to the `*Canonical` entry
    * points instead of paying the derivation per operator. */
  def canonicalUndirected(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsCanonical(canonicalUndirected(edges))

  /** [[triangleCounts]] over a pre-canonicalized edge table (contract:
    * `canon` holds distinct `(a, b)` with a < b, no self-loops —
    * [[canonicalUndirected]]'s output, ideally materialized by the
    * caller when shared across operators). */
  def triangleCountsCanonical(canon: DataFrame): DataFrame = {
    // degree over the undirected graph; rank = (deg, node) total order
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ra = struct(col("dega").as("d"), col("a").as("n"))
    val rb = struct(col("degb").as("d"), col("b").as("n"))
    val oriented = canon
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), "b")
      .select(
        when(ra < rb, struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val adj = oriented.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))
      .localCheckpoint() // read twice: edge re-derivation + v-side probe
    // re-derive each oriented edge by exploding the adjacency list: the
    // u-side neighborhood arrives for free (no first probe join), leaving
    // ONE shuffle join — the v-side adjacency lookup. An edge whose v has
    // no out-edges closes no triangle, so the inner join is correct.
    // shuffle_hash, not the default sort-merge: the exploded left side
    // carries nu per edge (Σ d⁺(u)·|nu| ≈ the whole O(m^1.5) working
    // set), and SMJ SORTS it — measured at 10× the bench corpus: 33.4 GB
    // of external-sort disk spill in this one stage (69.6 GB in-memory
    // movement), zero at 1×, invariant to shuffle-partition count and to
    // a 3.5× execution-memory raise, because the sort's working set is
    // the data itself. Hash-building the RIGHT side instead costs only
    // the node-sized adjacency per partition (out-degrees ≤ O(√m) by
    // orientation, so build partitions stay bounded) and STREAMS the fat
    // side unsorted — the spill disappears structurally, at every scale.
    // CAVEAT (ADVICE r10): ShuffledHashJoinExec's build side cannot
    // spill — a build partition that exceeds execution memory OOMs where
    // SMJ would have spilled. The floor that keeps it safe: total
    // adjacency bytes ≈ m·(8 B key + ~12 B/neighbor entry), so size
    // spark.sql.shuffle.partitions ≥ adjacencyBytes / (~¼ of per-task
    // execution memory). At the measured shapes (sf10: m≈4.8 M canon
    // edges → ~60 MB adjacency over 32 partitions ≈ 2 MB builds) this is
    // 3 orders of magnitude of headroom; a 100 TB graph sizes partitions
    // to 2-3× cluster cores anyway (Sessions.cluster), which scales the
    // denominator with the data. Only a DEGENERATE hub graph (one node
    // adjacent to ~everything, defeating the √m bound via hash collision
    // on a single build key) concentrates a build partition; for those,
    // drop the hint and take SMJ's sort spill instead.
    val tris = adj
      .select(col("u"), col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
      .join(adj.select(col("u").as("jv"), col("nbrs").as("nv")).hint("shuffle_hash"),
        col("v") === col("jv"))
      .select(col("u").as("x"), col("v").as("y"),
        explode(array_intersect(col("nu"), col("nv"))).as("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }

  /** Minimum hop distance from a seed set, bounded at `maxHops` —
    * multi-source BFS as bulk-synchronous frontier expansion. Each round
    * joins the CURRENT frontier (only the nodes first reached last round,
    * never the whole reached set) against the edge list and anti-joins
    * already-reached nodes away: per-round cost is frontier-adjacency,
    * total cost Σ|frontier adjacencies| ≤ m·maxHops, state is one
    * (node, dist) row per reached node. Frontiers are lineage-truncated
    * per round (the [[pageRank]] discipline).
    *
    * @param edges directed `src`, `dst` (symmetrize upstream for
    *              undirected reachability)
    * @param seeds one column `node`, distance-0 sources
    * @return (node, dist) for every node within `maxHops` of any seed */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame =
    bfsDistancesOn(edges.select(col("src"), col("dst")).distinct(), seeds,
      maxHops, owned = true)

  /** [[bfsDistances]] over a caller-deduped, caller-materialized edge
    * table (the [[pageRankPrepared]] contract — q81/q86 share one trade
    * graph this way). */
  def bfsDistancesPrepared(e: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    bfsDistancesOn(e, seeds, maxHops, owned = false)

  private def bfsDistancesOn(edges: DataFrame, seeds: DataFrame,
      maxHops: Int, owned: Boolean): DataFrame = {
    require(maxHops >= 0, s"bfsDistances needs maxHops >= 0, got $maxHops")
    val e = if (owned) edges.localCheckpoint() else edges
    // ONE driver action per hop (r14): the frontier is definitionally
    // reached.filter(dist == hop), so it needs no checkpoint of its own,
    // and an empty frontier is observed on the reached checkpoint
    Fixpoint("bfsDistances", maxHops, Fixpoint.ReturnState,
        readsStateOnce = false, inputs = (if (owned) Seq(e) else Nil))(
        r0 => r0.untilNone(seeds.select(col("node")).distinct()
          .withColumn("dist", lit(0)), lit(true))) { (reached, r) =>
      val frontier = reached.filter(col("dist") === r.n - 1).select(col("node"))
      val next = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached, Seq("node"), "left_anti")
        .withColumn("dist", lit(r.n))
      r.untilNone(reached.unionByName(next), col("dist") === r.n)
    }
  }

  /** Hop-bounded single/multi-source shortest paths over non-negative
    * integer edge weights — Bellman-Ford with FRONTIER-ONLY relaxation:
    * after round r the table holds the min-cost path using ≤ r edges, and
    * only nodes whose distance improved in round r−1 relax their edges in
    * round r (a node that didn't improve already propagated its final
    * offer the round it last improved, so re-relaxing it adds nothing).
    * Per-round cost is improved-set adjacency, not reached-set adjacency —
    * the [[bfsDistancesPrepared]] frontier discipline with weights.
    *
    * An empty improved set IS convergence (the ≤ maxRounds bound and the
    * fixpoint agree, so early exit never changes the result — it only
    * skips no-op rounds); state is one (node, dist) row per reached node,
    * lineage-truncated per round. With all weights = 1 this degenerates
    * to BFS hop counting.
    *
    * @param edges directed `src`, `dst`, `w` (long, ≥ 0); parallel edges
    *              collapse to their cheapest
    * @param seeds one column `node`, distance-0 sources
    * @param maxRounds max path length in edges
    * @return (node, dist): cheapest ≤ maxRounds-edge path from any seed */
  def weightedDistances(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame =
    weightedDistancesOn(edges.select(col("src"), col("dst"), col("w"))
      .groupBy("src", "dst").agg(min("w").as("w")), seeds, maxRounds,
      owned = true)

  /** [[weightedDistances]] over a caller-deduped, caller-materialized
    * (src, dst, w) table (the [[pageRankPrepared]] contract). */
  def weightedDistancesPrepared(e: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame =
    weightedDistancesOn(e, seeds, maxRounds, owned = false)

  private def weightedDistancesOn(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int, owned: Boolean): DataFrame = {
    require(maxRounds >= 0, s"weightedDistances needs maxRounds >= 0, got $maxRounds")
    val e = if (owned) edges.localCheckpoint() else edges
    // ONE driver action per round (r14, the bfsDistances fold): `__r`
    // stamps the round a node's distance last improved, so the improved
    // frontier is dist.filter(__r == round) — no separate improved-set
    // checkpoint — and "no improvement" is observed on the dist checkpoint
    Fixpoint("weightedDistances", maxRounds, Fixpoint.ReturnState,
        readsStateOnce = false, inputs = (if (owned) Seq(e) else Nil))(
        r0 => r0.untilNone(seeds.select(col("node")).distinct()
          .withColumn("dist", lit(0L)).withColumn("__r", lit(0)),
          lit(true))) { (dist, r) =>
      val frontier = dist.filter(col("__r") === r.n - 1)
      // cheapest offer per neighbor from the improved set only
      val offers = e
        .join(frontier.select(col("node").as("src"), col("dist").as("sd")),
          Seq("src"))
        .select(col("dst").as("node"), (col("sd") + col("w")).as("cand"))
        .groupBy("node").agg(min("cand").as("cand"))
      // ONE full-outer join replaces the left-join + anti-join-union
      // pair (r15, measured on q127's job decomposition: the offers
      // subtree — the round's expensive edges⋈frontier aggregate — was
      // referenced TWICE in the update plan and Spark computed it twice
      // per round, doubling every round's jobs). Row-for-row identical:
      // dist-only rows keep (dist, __r), matched rows take the cheaper
      // of (dist, cand), offers-only rows are the newly reached nodes.
      val improved = col("cand").isNotNull &&
        (col("dist").isNull || col("cand") < col("dist"))
      r.untilNone(dist
        .join(offers, Seq("node"), "full")
        .select(col("node"),
          when(improved, col("cand")).otherwise(col("dist")).as("dist"),
          when(improved, lit(r.n)).otherwise(col("__r")).as("__r")),
        col("__r") === r.n)
    }.select(col("node"), col("dist"))
  }

  /** k-core decomposition by iterative peeling: drop every node with
    * degree < k, recompute degrees over the surviving subgraph, repeat to
    * fixpoint — the density filter behind community mining and graph
    * cleanup. Each round is one degree aggregate, then two anti-joins
    * against the SMALL drop complement (after round one almost every node
    * survives, so the broadcast-hash-anti build side is the peeled few,
    * not the node set) over an edge set that only shrinks; state is
    * lineage-truncated per round and an empty drop set IS convergence,
    * with the degree table already in hand as the result.
    *
    * `maxRounds` must be ≥ peel depth + 1: every round before the last
    * removes at least one node, and the final round observes the empty
    * drop set. On non-convergence this FAILS LOUDLY (the NearDup.clusters
    * discipline) — a silently-partial core is wrong, not approximate.
    *
    * @param edges two columns `src`, `dst`, treated as UNDIRECTED
    *              (duplicates/self-loops collapse like [[triangleCounts]])
    * @return (node, core_deg) — every k-core member with its degree
    *         inside the core (≥ k by construction) */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame =
    kCoreOn(canonicalUndirected(edges), k, maxRounds, owned = true)

  /** [[kCore]] over a pre-canonicalized, pre-materialized edge table
    * (the [[triangleCountsCanonical]] contract, plus materialization —
    * every round scans it once).
    *
    * Round state is NODE-sized, never edge-sized: one row per node of the
    * surviving graph with its degree there, plus one row with a NULL
    * degree per node already peeled. Each round recomputes surviving
    * degrees by anti-joining the ONE upstream edge materialization
    * against the peeled set (null or < k), instead of re-materializing
    * the shrunken edge table. Localcheckpointing the edge set EVERY round
    * accumulated O(rounds × |E|) storage blocks — at sf10 (≈90 M edges ×
    * 11 peel rounds) that filled a 32 GB driver's storage space and
    * GC-thrashed the JVM into RPC-timeout shutdown (round-11 GR leg, exit
    * 56). Now the only edge-sized storage is the canon materialization,
    * so peak storage is canon + 2 node tables at any depth.
    *
    * Round 0 is the first degree pass, so the loop runs at most
    * `maxRounds - 1` peel rounds after it. */
  def kCoreCanonical(canon: DataFrame, k: Int, maxRounds: Int): DataFrame =
    kCoreOn(canon, k, maxRounds, owned = false)

  private def kCoreOn(edges: DataFrame, k: Int, maxRounds: Int,
      owned: Boolean): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    require(maxRounds >= 1, s"kCore needs maxRounds >= 1, got $maxRounds")
    val canon = if (owned) edges.localCheckpoint() else edges
    // an empty drop set IS convergence, with the degree table in hand
    def degrees(r: Fixpoint.Round, e: DataFrame): DataFrame =
      r.untilNone(e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_deg")),
        col("core_deg") < k)
    Fixpoint("kCore", maxRounds - 1,
        Fixpoint.Fail(s"kCore did not converge within $maxRounds rounds"),
        readsStateOnce = false, inputs = (if (owned) Seq(canon) else Nil))(
        r0 => degrees(r0, canon)) { (state, r) =>
      // peel against the DROP set, not the keep set: after the first round
      // the overwhelming majority of nodes survive, so the anti-join's
      // build side is the small complement (broadcast hash anti) instead
      // of a node-sized semi-join build
      val removed = state
        .filter(col("core_deg").isNull || col("core_deg") < k)
        .select(col("node"))
      val live = canon
        .join(removed.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(removed.select(col("node").as("b")), Seq("b"), "left_anti")
      degrees(r, live)
        .unionByName(removed.withColumn("core_deg", lit(null).cast("long")))
    }.filter(col("core_deg").isNotNull)
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
    * community detection as a bulk-iterative fixpoint: every node starts
    * labeled with its own id, and each round adopts the label most
    * frequent among its NEIGHBOURS (ties to the smallest label, making
    * the update a deterministic pure function of the graph — classic LPA
    * breaks ties randomly and is run-to-run unstable; determinism is what
    * lets the DuckDB oracle re-derive the identical labeling, the q81
    * integral-PageRank discipline). A FIXED round count, not convergence
    * detection: synchronous LPA can 2-cycle on bipartite-ish regions, so
    * "labels stopped changing" is not guaranteed to arrive; a bounded
    * round count is the streaming-safe contract (and each extra round is
    * one join + one aggregate — cost is explicit, not data-dependent).
    *
    * Distinct from [[graft.operators.NearDup.clusters]] (min-label =
    * connected components): frequency voting splits a component into
    * densely-connected communities instead of flooding the component
    * min everywhere.
    *
    * Scale shape: per round ONE equi-join (edges ⋈ labels on the
    * neighbour end, both sides hash-partitioned on the join key), one
    * map-side-combinable count aggregate, and one per-node window argmax
    * (partitioned by node — no global window).
    *
    * @param canon distinct canonical undirected edges `(a, b)`, a < b
    *              ([[canonicalUndirected]]'s contract), already
    *              materialized by the caller
    * @return (node, label) for every node incident to an edge; `label`
    *         is a node id in the same community */
  def labelPropagation(canon: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation needs rounds >= 1, got $rounds")
    // symmetrized edges, read by the label init and once per round
    val e = canon.select(col("a").as("n"), col("b").as("m"))
      .unionByName(canon.select(col("b").as("n"), col("a").as("m")))
      .cache()
    val byVotes = Window.partitionBy(col("n"))
      .orderBy(col("c").desc, col("label"))
    Fixpoint("labelPropagation", rounds, Fixpoint.ReturnState,
        readsStateOnce = true, inputs = Seq(e))(
        _ => e.select(col("n")).distinct()
          .select(col("n"), col("n").as("label"))) { (labels, _) =>
      e.join(labels.select(col("n").as("m"), col("label")), "m")
        .groupBy(col("n"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(byVotes))
        .filter(col("rn") === 1)
        .select(col("n"), col("label"))
    }
  }

  /** Local clustering coefficient (Watts & Strogatz 1998): the fraction
    * of a node's neighbour pairs that are themselves connected,
    * cc = 2·tri(n) / (deg(n)·(deg(n)−1)) — the per-node density signal
    * community/anomaly pipelines read next to raw triangle counts (a
    * high-degree node with cc≈0 is a hub; cc≈1 is a clique member).
    * Emitted in exact integer MICRO-units (the engine-wide rational
    * discipline): cc_micro = 2·10⁶·tri DIV (deg·(deg−1)), every operand
    * non-negative so Spark's truncating DIV and an oracle's floor
    * division agree, with the numerator passed through DECIMAL(38,0)
    * (2·10⁶·tri wraps int64 once a node closes > ~4.6·10¹² triangles —
    * real for celebrity hubs in power-law graphs).
    *
    * Scale shape: one [[triangleCountsCanonical]] pass plus one
    * node-sized degree aggregate and a node-keyed left join (tri = 0 for
    * triangle-free nodes) — no work beyond what triangle counting
    * already pays. Nodes of degree 1 are excluded (zero neighbour
    * pairs: the coefficient is undefined, not 0).
    *
    * @param canon distinct canonical undirected edges `(a, b)`, a < b
    *              ([[canonicalUndirected]]'s contract), already
    *              materialized by the caller
    * @return (node, deg, tri_cnt, cc_micro) for every node of degree ≥ 2 */
  def clusteringCoefficient(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("a").as("node"))
      .unionByName(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triangleCountsCanonical(canon), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .withColumn("cc_micro",
        expr("CAST(CAST(2000000 AS DECIMAL(38,0)) * tri_cnt" +
          " DIV (deg * (deg - 1)) AS BIGINT)"))
  }
}
