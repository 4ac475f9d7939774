package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: the same integral recurrence in plain
    * Scala over adjacency maps. */
  private def localPageRank(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val e = edges.distinct
    val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val incoming = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
      }
      rank = nodes.map(n =>
        n -> incoming.get(n).map(s => 150000L + (850L * s) / 1000L).getOrElse(150000L)).toMap
    }
    rank
  }

  private val diamond = Seq(
    ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"))

  test("pageRank matches the integral recurrence on a hand-checkable graph") {
    val got = Graph.pageRank(diamond.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == localPageRank(diamond, 3))
    // the hub receiving two feeds outranks its feeders
    assert(got("d") > got("b") && got("d") > got("c"))
  }

  test("ranks are a pure function of the graph — invariant to partitioning") {
    val df1 = diamond.toDF("src", "dst").repartition(1)
    val df7 = diamond.toDF("src", "dst").repartition(7)
    val a = Graph.pageRank(df1, 4).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val b = Graph.pageRank(df7, 4).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  test("duplicate edges collapse; sink-only nodes keep base mass") {
    // z has no outgoing edge: it must survive with rank from its feeder;
    // y has no incoming edge: base mass 150000 after the first iteration
    val edges = Seq(("y", "z"), ("y", "z"), ("y", "w")).toDF("src", "dst")
    val got = Graph.pageRank(edges, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("y", "z", "w"))
    assert(got("y") == 150000L)
    assert(got == localPageRank(Seq(("y", "z"), ("y", "w")), 2))
  }

  test("total mass stays bounded (no double-counting from multi-edges)") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(300)((s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .filter(e => e._1 != e._2)
    val got = Graph.pageRank(edges.toDF("src", "dst"), 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == localPageRank(edges, 3))
  }

  // ------------------------------------------------------- triangles

  /** Reference: brute-force triangle membership over the undirected,
    * deduped, loop-free edge set. */
  private def localTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      x <- nodes; y <- nodes if x < y && canon((x, y))
      z <- nodes if y < z && canon((y, z)) && canon((x, z))
    } yield (x, y, z)
    tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, o) => n -> o.size.toLong }
  }

  private def triMap(edges: Seq[(Long, Long)]) =
    Graph.triangleCounts(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangleCounts: K4 has four triangles, three per node") {
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    assert(triMap(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: dangling edges, duplicates, reversals, loops") {
    // one triangle (1,2,3); edge to 4 closes nothing; noise must collapse
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (2L, 1L), (1L, 2L), (1L, 1L))
    assert(triMap(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts matches brute force on a random graph, any partitioning") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val expected = localTriangles(edges)
    assert(triMap(edges) == expected)
    val got7 = Graph.triangleCounts(edges.toDF("src", "dst").repartition(7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got7 == expected)
  }

  // ------------------------------------------------------------- BFS

  test("bfsDistances: hand-checkable chain with a shortcut") {
    // a→b→c→d and a→c: dist(c)=1 via the shortcut, dist(d)=2
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    val got = Graph.bfsDistances(edges.toDF("src", "dst"),
        Seq("a").toDF("node"), maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
  }

  test("bfsDistances: maxHops truncates; isolated seeds stay at dist 0") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = Graph.bfsDistances(edges, Seq("a", "zzz").toDF("node"), maxHops = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> 0, "zzz" -> 0, "b" -> 1, "c" -> 2)) // d beyond bound
  }

  test("bfsDistances: multi-source takes the minimum distance") {
    val edges = Seq(("a", "b"), ("b", "c"), ("z", "c")).toDF("src", "dst")
    val got = Graph.bfsDistances(edges, Seq("a", "z").toDF("node"), maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got("c") == 1) // via z, not the 2-hop path via a
  }

  // --------------------------------------- weighted shortest paths

  /** Reference: hop-bounded Bellman-Ford in plain Scala. */
  private def localWeighted(edges: Seq[(String, String, Long)],
      seeds: Seq[String], rounds: Int): Map[String, Long] = {
    val e = edges.groupBy(t => (t._1, t._2))
      .map { case ((s, d), v) => (s, d, v.map(_._3).min) }.toSeq
    var dist: Map[String, Long] = seeds.distinct.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val offers = e.flatMap { case (s, d, w) => dist.get(s).map(sd => d -> (sd + w)) }
        .groupBy(_._1).map { case (n, v) => n -> v.map(_._2).min }
      dist = (dist.keySet ++ offers.keySet).map { n =>
        n -> math.min(dist.getOrElse(n, Long.MaxValue),
          offers.getOrElse(n, Long.MaxValue))
      }.toMap
    }
    dist
  }

  test("weightedDistances: cheap long path beats expensive direct edge") {
    // a→b→c→d costs 3; a→d direct costs 10
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L),
      ("a", "d", 10L))
    val got = Graph.weightedDistances(edges.toDF("src", "dst", "w"),
        Seq("a").toDF("node"), maxRounds = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L))
    // bounded at 2 rounds the 3-edge path is out of reach: direct edge wins
    val got2 = Graph.weightedDistances(edges.toDF("src", "dst", "w"),
        Seq("a").toDF("node"), maxRounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2("d") == 10L)
  }

  test("weightedDistances matches the Bellman-Ford reference on a random graph") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(300)(
      (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}", (rnd.nextInt(9) + 1).toLong))
    val seeds = Seq("n0", "n1")
    val expected = localWeighted(edges, seeds, rounds = 5)
    val got = Graph.weightedDistances(
        edges.toDF("src", "dst", "w").repartition(7),
        seeds.toDF("node"), maxRounds = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("weightedDistances with unit weights degenerates to BFS hop counts") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    val bfs = Graph.bfsDistances(edges.toDF("src", "dst"),
        Seq("a").toDF("node"), maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    val wd = Graph.weightedDistances(
        edges.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
        Seq("a").toDF("node"), maxRounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wd == bfs)
  }

  // ---------------------------------------------------------- k-core

  /** K4 plus a tail: the classic peel-cascade fixture. */
  private val k4WithTail = Seq(
    ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
    ("d", "e"), ("e", "f")) // e,f hang off the clique

  test("kCore peels the tail cascade and keeps the clique, degrees included") {
    val got = Graph.kCore(k4WithTail.toDF("src", "dst"), k = 3, maxRounds = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // f drops (deg 1), then e (deg 1 after f leaves... deg 2 initially,
    // 1 after f): the cascade needs TWO rounds — exactly what a
    // single-pass degree filter would get wrong
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("kCore above the max degree is empty; k=1 keeps every non-isolated node") {
    val df = k4WithTail.toDF("src", "dst")
    assert(Graph.kCore(df, k = 10, maxRounds = 8).isEmpty)
    assert(Graph.kCore(df, k = 1, maxRounds = 3).count() == 6)
  }

  test("kCore fails loudly when maxRounds is too small to converge") {
    // a 6-chain peels one endpoint pair per round at k=2: 3 peel rounds
    // plus the convergence round = 4 needed in total
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
    intercept[IllegalStateException] {
      Graph.kCore(chain.toDF("src", "dst"), k = 2, maxRounds = 1)
    }
    // with room it converges to the (empty) 2-core of a chain
    assert(Graph.kCore(chain.toDF("src", "dst"), k = 2, maxRounds = 6).isEmpty)
  }

  test("kCore round state is node-sized: storage does not grow with peel depth") {
    // a 12-chain at k=2 peels one endpoint pair per round — 6 peel rounds
    // plus convergence. The round-11 sf10 failure mode was the OLD
    // implementation checkpointing the EDGE table every round
    // (O(rounds × |E|) storage blocks -> GC-thrashed driver); pin that a
    // deep peel leaves at most the two caller-visible materializations
    // (kCore's canon checkpoint + the returned degree table) behind.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (0 until 12).map(i => (s"n$i", s"n${i + 1}"))
    assert(Graph.kCore(chain.toDF("src", "dst"), k = 2, maxRounds = 8).isEmpty)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"kCore left ${leaked.size} persistent RDDs (expected <= 2: canon + result)")
  }

  test("kCore is partition-invariant") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
    val a = Graph.kCore(edges.toDF("src", "dst").repartition(13), 8, 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = Graph.kCore(edges.toDF("src", "dst").coalesce(1), 8, 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
  }

  /** Reference implementation of one synchronous LPA round: most
    * frequent neighbour label, ties to the smallest. */
  private def localLpa(canon: Seq[(String, String)], rounds: Int): Map[String, String] = {
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (n, es) => n -> es.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        n -> nbrs.groupBy(labels).map { case (l, v) => (l, v.size) }
          .toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  // two triangles bridged by one edge: LPA keeps the communities apart
  // where connected components would flood min("a") everywhere
  private val barbell = Seq(
    ("a", "b"), ("a", "c"), ("b", "c"),
    ("x", "y"), ("x", "z"), ("y", "z"),
    ("c", "x"))

  test("labelPropagation matches the synchronous reference and splits a barbell") {
    val canon = Graph.canonicalUndirected(
      barbell.toDF("src", "dst")).localCheckpoint()
    val got = Graph.labelPropagation(canon, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == localLpa(barbell.map { case (u, v) =>
      if (u < v) (u, v) else (v, u) }.distinct, 3))
    // each triangle converges to one label, and the two labels differ
    assert(got("a") == got("b") && got("b") == got("c"))
    assert(got("x") == got("y") && got("y") == got("z"))
    assert(got("a") != got("x"))
  }

  test("clusteringCoefficient matches a brute-force reference") {
    // barbell: triangle members have cc=1 except the bridge endpoints
    // (c and x: deg 3, still only 1 closed pair of 3 => 333333)
    val canon = Graph.canonicalUndirected(barbell.toDF("src", "dst"))
      .localCheckpoint()
    val got = Graph.clusteringCoefficient(canon).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val edgeSet = barbell.flatMap { case (u, v) => Seq((u, v), (v, u)) }.toSet
    val adj = edgeSet.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    val want = adj.collect { case (n, nbrs) if nbrs.size >= 2 =>
      val pairs = nbrs.toSeq.combinations(2).size.toLong
      val closed = nbrs.toSeq.combinations(2)
        .count { case Seq(u, v) => edgeSet((u, v)) }.toLong
      n -> (nbrs.size.toLong, closed, 1000000L * closed / pairs)
    }
    assert(got == want)
    assert(got("a") == ((2L, 1L, 1000000L)) && got("c") == ((3L, 1L, 333333L)))
  }

  test("clusteringCoefficient excludes degree-1 nodes, keeps tri-free ones") {
    // path p-q-r plus pendant t on q: q has deg 3, zero triangles
    val canon = Graph.canonicalUndirected(
      Seq(("p", "q"), ("q", "r"), ("q", "t")).toDF("src", "dst"))
      .localCheckpoint()
    val got = Graph.clusteringCoefficient(canon).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("q" -> ((3L, 0L, 0L))))
  }

  test("labelPropagation is partition-invariant") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((s"n${rnd.nextInt(50)}", s"n${rnd.nextInt(50)}"))
    def run(parts: Int) = Graph.labelPropagation(
        Graph.canonicalUndirected(edges.toDF("src", "dst"))
          .repartition(parts).localCheckpoint(), rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(run(1) == run(13))
  }

  // Storage-rotation bounds (graft.core.Fixpoint): every bounded-
  // fixpoint loop must leave O(1) persistent RDDs behind, not O(rounds) —
  // the generalized kCore sf10 lesson. Each op below runs enough rounds
  // that the pre-rotation implementation would trip the bound.
  private def leakedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("pageRank storage does not grow with iteration count") {
    // 10 iterations; pre-rotation this left 11 rank checkpoints
    val n = leakedBy {
      Graph.pageRank(diamond.toDF("src", "dst"), iters = 10).collect()
    }
    assert(n <= 3, s"pageRank left $n persistent RDDs (expected <= 3: " +
      "edge checkpoint + node table + final rank)")
  }

  // Unrolled-vs-loop equivalence (r15): small round counts run UNROLLED
  // (one lazy plan, one action) while counts above the threshold keep the
  // per-round checkpoint loop. Both paths are pinned to the SAME local
  // reference models, just above and just below the threshold, so neither
  // implementation can drift from the other.

  test("pageRank loop path (iters > unroll threshold) matches the reference") {
    val got = Graph.pageRank(diamond.toDF("src", "dst"), iters = 9)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == localPageRank(diamond, 9))
  }

  test("labelPropagation loop path (rounds > unroll threshold) matches the reference") {
    val canon = Graph.canonicalUndirected(
      barbell.toDF("src", "dst")).localCheckpoint()
    val got = Graph.labelPropagation(canon, rounds = 9)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == localLpa(barbell.map { case (u, v) =>
      if (u < v) (u, v) else (v, u) }.distinct, 9))
  }

  test("unrolled pageRank releases its loop-invariant caches") {
    // iters=3 takes the unrolled path: annotated + nodes are cache()d for
    // the single action and must be unpersisted after it; only the final
    // rank checkpoint survives (the materialized-result contract)
    val n = leakedBy {
      Graph.pageRank(diamond.toDF("src", "dst"), iters = 3).collect()
    }
    assert(n <= 1, s"unrolled pageRank left $n persistent RDDs " +
      "(expected <= 1: the final rank checkpoint)")
  }

  test("unrolled labelPropagation releases its symmetrized edge cache") {
    val canon = Graph.canonicalUndirected(
      barbell.toDF("src", "dst")).localCheckpoint()
    val n = leakedBy {
      Graph.labelPropagation(canon, rounds = 3).collect()
    }
    assert(n <= 1, s"unrolled labelPropagation left $n persistent RDDs " +
      "(expected <= 1: the final labels checkpoint)")
  }

  test("bfsDistances storage does not grow with traversal depth") {
    // a 10-chain walked end to end; pre-rotation: 2 blocks per hop
    val chain = (0 until 10).map(i => (s"n$i", s"n${i + 1}"))
    val n = leakedBy {
      Graph.bfsDistances(chain.toDF("src", "dst"),
        Seq("n0").toDF("node"), maxHops = 12).collect()
    }
    assert(n <= 3, s"bfsDistances left $n persistent RDDs (expected <= 3: " +
      "edge checkpoint + final frontier/reached)")
  }

  test("weightedDistances storage does not grow with round count") {
    val chain = (0 until 10).map(i => (s"n$i", s"n${i + 1}", (i + 1).toLong))
    val n = leakedBy {
      Graph.weightedDistances(chain.toDF("src", "dst", "w"),
        Seq("n0").toDF("node"), maxRounds = 12).collect()
    }
    assert(n <= 3, s"weightedDistances left $n persistent RDDs (expected " +
      "<= 3: edge checkpoint + final improved/dist)")
  }

  test("labelPropagation storage does not grow with round count") {
    val canon = Graph.canonicalUndirected(
      barbell.toDF("src", "dst")).localCheckpoint()
    val n = leakedBy {
      Graph.labelPropagation(canon, rounds = 10).collect()
    }
    assert(n <= 2, s"labelPropagation left $n persistent RDDs (expected " +
      "<= 2: symmetrized edge checkpoint + final labels)")
  }

  // Failure-path storage (ADVICE r12): a wrapper that owns an edge
  // materialization must release it when the inner call THROWS — the
  // maxRounds IllegalStateException is a real exit on a long-lived
  // session, not a can't-happen.

  test("kCore releases its canon materialization when convergence fails") {
    val chain = (0 until 5).map(i => (i.toLong, i + 1L))
    val n = leakedBy {
      intercept[IllegalStateException] {
        // k=2 on a chain peels for several rounds; 1 round cannot converge
        Graph.kCore(chain.toDF("src", "dst"), k = 2, maxRounds = 1)
      }
    }
    assert(n == 0, s"failed kCore stranded $n persistent RDDs")
  }

  test("pageRank releases its edge materialization when the inner call throws") {
    val n = leakedBy {
      intercept[IllegalArgumentException] {
        Graph.pageRank(diamond.toDF("src", "dst"), iters = 0)
      }
    }
    assert(n == 0, s"failed pageRank stranded $n persistent RDDs")
  }
}
