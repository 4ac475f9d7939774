package graft.operators

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard near-duplicate joins over hashed-shingle sets
  * (input: `(doc_id: bigint, hs: array<bigint>)`), as inverted-index joins —
  * never an n² cross join. Two strategies with identical answers:
  *
  *  - [[prefixJoinPairs]] (DEFAULT): PPJoin-style τ-prefix postings
  *    (Xiao et al. 2008). Each document indexes only its first
  *    (n − ⌊τ·n⌋ + 1) sorted hashes, so a boilerplate shingle shared by
  *    millions of documents enters the index only for documents whose
  *    PREFIX holds it — join volume is bounded by prefix-df², robust to
  *    shingle skew. Completeness: two sets with Jaccard ≥ τ must share a
  *    prefix element, so no pair is missed; candidates are then verified by
  *    the fused exact-Jaccard kernel over the full sets. This is the 100 TB
  *    path.
  *  - [[countJoinPairs]]: count-based postings join deriving
  *    |A∩B| by co-occurrence counting and |A∪B| = |A|+|B|−|A∩B| — no
  *    verify join at all, but join volume is Σ df² over ALL shingles:
  *    corpus-linear only while every shingle is rare. Keep for low-skew
  *    corpora where the saved verify join wins.
  */
object NearDup {

  /** Skew-robust default: prefix-filtered candidates + fused-kernel verify. */
  def prefixJoinPairs(docs: DataFrame, tau: Double): DataFrame =
    verify(docs, prefixCandidates(docs, tau), tau)

  /** The τ-prefix candidate PAIRS before verification — the accounting
    * seam for the candidate-budget gate (CandidateBudgetSpec): this is the
    * set whose cardinality the prefix filter bounds by prefix-df², so a
    * policy regression moves this count deterministically. Exactly the
    * pairs [[prefixJoinPairs]] verifies. */
  def prefixCandidates(docs: DataFrame, tau: Double): DataFrame =
    candidatesFromPostings(prefixPostings(docs, tau))

  /** Cross-corpus near-dup pairs (the R-S join form of [[prefixJoinPairs]]):
    * corpus documents within Jaccard τ of ANY probe document — near-dup
    * DECONTAMINATION against a benchmark suite or known-bad set, the fuzzy
    * complement of exact shingle-overlap filtering. The prefix theorem
    * holds across two sets under one shared hash order (J(A,B) ≥ τ ⇒ the
    * two τ-prefixes intersect), so completeness is unchanged. The probe
    * side is benchmark-sized by assumption: its postings and shingle sets
    * BROADCAST, the corpus streams once and never shuffles for the
    * candidate join — linear in corpus tokens, like exact decontamination.
    *
    * @param corpus (doc_id, hs) shingle-hash sets
    * @param probe  (doc_id, hs) the small held-out set
    * @return (doc_a ∈ corpus, doc_b ∈ probe, jac ≥ tau)
    */
  def prefixJoinPairsAgainst(corpus: DataFrame, probe: DataFrame,
      tau: Double): DataFrame = {
    val cand = prefixPostings(corpus, tau).as("a")
      .join(broadcast(prefixPostings(probe, tau).as("b")),
        col("a.g") === col("b.g"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyRs(corpus, probe, cand, tau, broadcastB = true)
  }

  private def candidatesFromPostings(pref: DataFrame): DataFrame =
    pref.as("a")
      .join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** τ-prefix postings projection shared by the self- and R-S joins. */
  private def prefixPostings(docs: DataFrame, tau: Double): DataFrame =
    docs.select(col("doc_id"), explode(Text.prefixHashes(col("hs"), tau)).as("g"))

  private def verify(docs: DataFrame, cand: DataFrame, tau: Double): DataFrame =
    verifyRs(docs, docs, cand, tau, broadcastB = false)

  /** Exact-Jaccard verification of candidate pairs, doc_a resolved against
    * `docsA` and doc_b against `docsB` — the one join-back implementation
    * behind both the self-join and cross-corpus paths. */
  private def verifyRs(docsA: DataFrame, docsB: DataFrame, cand: DataFrame,
      tau: Double, broadcastB: Boolean): DataFrame = {
    val b = docsB.select(col("doc_id").as("doc_b"), col("hs").as("hsb"))
    cand
      .join(docsA.select(col("doc_id").as("doc_a"), col("hs").as("hsa")), Seq("doc_a"))
      .join(if (broadcastB) broadcast(b) else b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Text.jaccardFused(col("hsa"), col("hsb")).as("jac"))
      .filter(col("jac") >= tau)
  }

  /** Connected components over a near-dup PAIR set — the corpus-level
    * step every dedup pipeline needs after pairwise detection: transitive
    * closure groups (A~B, B~C ⇒ {A,B,C}) with the minimum doc_id as each
    * group's canonical representative, so "keep one per group" is a single
    * join away.
    *
    * Distributed min-label propagation WITH pointer jumping: each round
    * (a) takes the min of a node's own and all neighbours' labels
    * (one-hop propagation), then (b) shortcuts every label to its label's
    * label (lab(n) ← lab(lab(n))) — so the distance a minimum travels
    * DOUBLES per round and convergence is O(log diameter) rounds, not
    * O(diameter). Each round is two joins + a hash aggregate over
    * (node, label) pairs — linear state, one [[graft.core.Fixpoint]]
    * checkpoint per round. Rounds run until no label changes (observed on
    * that checkpoint); if `maxIter` rounds (default 12 ⇒ diameter ≈ 2¹²)
    * don't converge the call FAILS rather than silently returning partial
    * labels. The same bounded fixpoint as [[TreeRollup]] (SURVEY §2.5 A2).
    *
    * @param pairs (doc_a, doc_b) near-dup pairs (any extra columns ignored)
    * @return (doc_id, rep_id) for every doc appearing in a pair
    */
  def clusters(pairs: DataFrame, maxIter: Int = 12): DataFrame = {
    // NOT pre-partitioned by the join key (r15 negative A/B): hashing the
    // cached edge list by m would let every round's edges ⋈ lab join skip
    // the edge-side exchange (the tradeEdgesWeighted win), but the dedup
    // pair graphs this operator sees are SMALL — 32 pinned partitions
    // forced every downstream round stage into full task waves and AQE
    // could no longer coalesce around them (q159 1.28→1.79 s, q122
    // 3.26→3.51 s probed). The per-round exchange of a small cached table
    // is cheaper than the parallelism tax.
    val edges = pairs.select(col("doc_a").as("n"), col("doc_b").as("m"))
      .unionByName(pairs.select(col("doc_b").as("n"), col("doc_a").as("m")))
      .cache()
    graft.core.Fixpoint("NearDup.clusters", maxIter,
        graft.core.Fixpoint.Fail(s"NearDup.clusters did not converge in " +
          s"$maxIter rounds (cluster diameter > 2^maxIter?) — raise maxIter"),
        readsStateOnce = false, inputs = Seq(edges))(
        // round 0 streams the pairs DAG through `edges` once, populating
        // its cache blocks en route
        _ => edges.groupBy(col("n"))
          .agg(least(min(col("m")), first(col("n"))).as("lab"))) { (lab, r) =>
      // one-hop neighbour-min + join-back-to-self, NOT a self-unioned
      // single aggregate: the union form (min over self ∪ neighbours in
      // one agg, __old as max over a self-only column) was probed r15
      // and REJECTED — q159 1.28→1.40 s, q122 flat (the self rows widen
      // the aggregate exchange and its combiner state for no saved
      // exchange; the hop join below is AQE-broadcast-cheap).
      val viaNeighbor = edges
        .join(lab.withColumnRenamed("n", "m"), Seq("m"))
        .groupBy(col("n")).agg(min(col("lab")).as("nlab"))
      // cache the one-hop result: the pointer-jump self-join reads it from
      // BOTH sides — uncached, the edges join + aggregate would run twice.
      // `__old` (the round-entry label) rides along so convergence is read
      // off the round's checkpoint instead of a separate next ⋈ lab job.
      val hop = r.cache(lab.join(viaNeighbor, Seq("n"))
        .select(col("n"), col("lab").as("__old"),
          least(col("lab"), col("nlab")).as("lab")))
      // pointer jump: follow the label one more step (labels are nodes
      // too). Convergence = no label strictly decreased this round (labels
      // are monotonically non-increasing under least/min) — exact.
      // (r15 negative probe: an adaptive SECOND jump per round — lab ←
      // lab(lab(lab)) from round 3 on — left q122's round count at 6.
      // The rounds are HOP-limited: labels here are component-min ids,
      // not parent pointers, so label chains are already short and extra
      // jumps have nothing to shortcut. Round-count reduction needs
      // edge contraction (large-star/small-star), not more jumps.)
      r.untilNone(hop.as("x")
        .join(hop.select(col("n").as("lab"), col("lab").as("lab2")).as("y"),
          Seq("lab"), "left")
        .select(col("n"), col("__old"),
          least(col("lab"), coalesce(col("lab2"), col("lab"))).as("lab")),
        col("lab") < col("__old"))
        .select(col("n"), col("lab"))
    }.select(col("n").as("doc_id"), col("lab").as("rep_id"))
  }

  /** The curation ACTION the detection machinery exists for: dedup a
    * corpus end-to-end — prefix-filtered pair detection at `tau`,
    * transitive-closure grouping, keep each group's canonical (minimum
    * id) representative plus every unclustered document. One call from
    * `(doc_id, hs)` to the surviving ids; join the result back to the
    * full corpus to materialize the deduplicated dataset.
    *
    * Scale shape is the composition of its parts ([[prefixJoinPairs]] +
    * [[clusters]]): postings bounded by prefix-df², O(log diameter)
    * labeling rounds, and the final keep-filter is one anti-join keyed on
    * the clustered ids (small: only documents that were in some pair). */
  def dedupCorpus(docs: DataFrame, tau: Double,
      maxIter: Int = 12): DataFrame = {
    val dropped = clusters(prefixJoinPairs(docs, tau), maxIter)
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("doc_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti").select(col("doc_id"))
  }

  /** Edit-distance (Levenshtein ≤ k) similarity self-join via PassJoin
    * segment blocking (Li, Deng, Feng 2011) — never an n² cross join.
    *
    * Pigeonhole: split every string into k+1 contiguous chunks; if
    * ed(s, t) ≤ k then t contains at least one chunk of s EXACTLY, at a
    * position shifted by at most k. So the INDEX side emits each string's
    * k+1 chunks keyed by (own length, chunk index, chunk text), the PROBE
    * side emits, for every partner length in [len, len+k], the aligned
    * substrings within ±k of each chunk position — O(k³) probe keys per
    * string, independent of corpus size — and the candidate join is an
    * equi-join on those keys. Exact `levenshtein` verifies candidates, so
    * blocking only needs to be lossless (the oracle equality in q88 IS the
    * losslessness proof over real data).
    *
    * Scale shape: candidates are bounded by chunk-group sizes — strings
    * collide only when they literally share an aligned chunk. Like the
    * Jaccard prefix join, adversarial corpora where most strings share
    * long aligned runs (fixed-prefix serial IDs) need the df-capped
    * variant of the same idea; for vocabulary-shaped inputs (dedupe to
    * DISTINCT strings first — q30 composes in front) group sizes are small
    * by construction.
    *
    * @param strs (id, s) — id any orderable type; pass DISTINCT strings
    * @param k    max edit distance, 1..5 (probe fan-out grows as (k+1)²(2k+1))
    * @return (id_a, id_b, dist ≤ k), each unordered pair once, canonical
    *         order: shorter string (ties: smaller id) first */
  /** The PassJoin PROBE-KEY table — one row per (probing string, partner
    * length L ∈ [len, len+k], chunk index, aligned substring within ±k of
    * the chunk position). At most (k+1)²(2k+1) rows per string by
    * construction, INDEPENDENT of corpus size — the claimed O(k³)
    * asymptote CandidateBudgetSpec pins as a deterministic count. Exposed
    * as a seam so the budget test measures the production derivation, not
    * a re-implementation. */
  def editDistanceProbeKeys(strs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 5, s"editDistanceProbeKeys supports k in 1..5, got $k")
    val kk = k + 1
    val base = strs.select(col("id"), col("s"), length(col("s")).as("l"))
      .filter(col("l") > 0)
    base.select(col("id"), col("l"),
      explode(expr(
        s"""filter(
           |  flatten(transform(sequence(l, l + $k), L ->
           |    flatten(transform(sequence(0, $k), i ->
           |      transform(sequence(-$k, $k), d -> named_struct(
           |        'L', L, 'i', i,
           |        'st', (i * (L div $kk) + greatest(0, i - ($kk - L % $kk))) + d,
           |        'ln', (L div $kk) + if(i >= $kk - L % $kk, 1, 0))))))),
           |  p -> p.st >= 0 AND p.st + p.ln <= l)""".stripMargin)).as("p"),
      col("s"))
      .select(col("id").as("id_a"), col("l").as("l_a"),
        col("p.L").as("L"), col("p.i").as("ci"),
        expr("substring(s, p.st + 1, p.ln)").as("ck"))
  }

  /** The PassJoin CANDIDATE pairs — probe keys equi-joined against the
    * index side's chunks, orientation-deduplicated, BEFORE the exact
    * `levenshtein` verification. Candidates are bounded by aligned-chunk
    * group sizes (strings collide only when they literally share an
    * aligned chunk); CandidateBudgetSpec asserts that bound's growth shape
    * on the ScaleUp corpus. Seam for [[editDistancePairs]]. */
  def editDistanceCandidates(strs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 5, s"editDistanceCandidates supports k in 1..5, got $k")
    val kk = k + 1
    val base = strs.select(col("id"), col("s"), length(col("s")).as("l"))
      .filter(col("l") > 0)
    // chunk i of a length-L string: the k+1 near-equal pieces, longer ones
    // last — start(i) = i·(L div (k+1)) + max(0, i − ((k+1) − L mod (k+1)))
    val chunks = base.select(col("id"), col("l"),
      explode(expr(
        s"""transform(sequence(0, $k), i -> named_struct(
           |  'i', i,
           |  'chunk', substring(s,
           |     (i * (l div $kk) + greatest(0, i - ($kk - l % $kk))) + 1,
           |     (l div $kk) + if(i >= $kk - l % $kk, 1, 0))))""".stripMargin)).as("c"))
      .select(col("id").as("id_b"), col("l").as("l_b"),
        col("c.i").as("ci"), col("c.chunk").as("ck"))
    val probes = editDistanceProbeKeys(strs, k)
    probes
      .join(chunks, probes("L") === chunks("l_b")
        && probes("ci") === chunks("ci") && probes("ck") === chunks("ck"))
      // probe covers partner-longer-or-equal only; equal lengths appear in
      // both roles, so the id tiebreak keeps exactly one orientation
      .filter(col("l_a") < col("l_b")
        || (col("l_a") === col("l_b") && col("id_a") < col("id_b")))
      .select(col("id_a"), col("id_b")).distinct()
  }

  def editDistancePairs(strs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 5, s"editDistancePairs supports k in 1..5, got $k")
    editDistanceCandidates(strs, k)
      .join(strs.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
      .join(strs.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), levenshtein(col("sa"), col("sb")).as("dist"))
      .filter(col("dist") <= k)
  }

  /** Low-skew alternative: the whole pipeline is codegen'd
    * explode → shuffle-join → hash-aggregate with no verification pass. */
  def countJoinPairs(docs: DataFrame, tau: Double): DataFrame = {
    val posting = docs.select(col("doc_id"), size(col("hs")).as("n"),
      explode(col("hs")).as("g"))
    posting.as("a")
      .join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= tau)
  }
}
