package graft.operators

import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", Text.shingleHashes($"text", 3).as("hs"))
    .filter(size($"hs") > 0)

  test("prefix-filtered join returns exactly the count-join pairs (completeness)") {
    val a = NearDup.prefixJoinPairs(docs, 0.8)
      .select($"doc_a", $"doc_b", round($"jac", 9)).collect().toSet
    val b = NearDup.countJoinPairs(docs, 0.8)
      .select($"doc_a", $"doc_b", round($"jac", 9)).collect().toSet
    assert(a.nonEmpty && a == b)
  }

  test("prefix postings are pruned: index volume ~(1−τ) of the full postings") {
    val full = docs.select(explode($"hs")).count()
    val pref = docs.select(explode(Text.prefixHashes($"hs", 0.8))).count()
    assert(pref < full * 3 / 10, s"prefix index $pref not pruned vs $full")
    assert(pref > 0)
  }

  test("cross-corpus prefix join equals the brute-force R-S pairs (completeness)") {
    // corpus (id%3!=0) and probe (id%3==0) are DISJOINT id sets; matches
    // exist because the fixture's duplicate/near-dup texts straddle the
    // mod-3 split (brute.nonEmpty asserts that precondition explicitly)
    val corpus = docs.filter($"doc_id" % 3 =!= 0)
    val probe = docs.filter($"doc_id" % 3 === 0)
    val got = NearDup.prefixJoinPairsAgainst(corpus, probe, 0.8)
      .select($"doc_a", $"doc_b", round($"jac", 9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = corpus.select($"doc_id".as("doc_a"), $"hs".as("hsa"))
      .crossJoin(probe.select($"doc_id".as("doc_b"), $"hs".as("hsb")))
      .select($"doc_a", $"doc_b",
        round(Text.jaccardFused($"hsa", $"hsb"), 9).as("jac"))
      .filter($"jac" >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty,
      "fixture precondition: near-dup texts must straddle the mod-3 split")
    assert(got == brute,
      s"prefix R-S join missed pairs: got ${got.size}, brute ${brute.size}")
  }

  test("clusters: transitive closure with min-id representative") {
    // chain 1-2, 2-3 plus isolated pair 10-11 plus a long chain 20..24
    // (diameter 4 — exercises multiple propagation rounds)
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L)).toDF("doc_a", "doc_b")
    val got = NearDup.clusters(pairs).orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
  }

  test("dedupCorpus keeps one representative per group and every singleton") {
    // docs 1,2,3 near-identical (one transitive group), 4 shares nothing,
    // 5,6 a second pair — survivors must be {1, 4, 5}
    def doc(words: Seq[String]) = words.mkString(" ")
    val base = ('a' to 'n').map(_.toString)
    val docs = Seq(
      (1L, doc(base)),
      (2L, doc(base.drop(1) :+ "x")), // high overlap with 1
      (3L, doc(base.drop(1) :+ "y")), // high overlap with 1 and 2
      (4L, doc((1 to 14).map(i => s"w$i"))),
      (5L, doc((1 to 14).map(i => s"z$i"))),
      (6L, doc((1 to 14).map(i => s"z$i") :+ "tail"))
    ).toDF("doc_id", "text")
      .select($"doc_id", Text.shingleHashes($"text", 3).as("hs"))
      .filter(size($"hs") > 0)
    val survivors = NearDup.dedupCorpus(docs, 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L), s"got $survivors")
  }

  test("prefix filter bounds join volume under a viral shingle (skew robustness)") {
    // 200 docs all sharing one boilerplate shingle hash (df = 200) plus
    // distinct content. Count-join postings visit df² ≈ 20k ordered pairs
    // for that shingle alone; the τ-prefix indexes any given shingle only
    // when it falls in a doc's first (1−τ)·n sorted hashes — expected
    // (1−τ) of docs under hash ordering, here 0 since the viral hash sorts
    // last (hash order is df-agnostic; the completeness proof needs only a
    // CONSISTENT order).
    val skewed = (0 until 200).map { i =>
      // 10 distinct hashes per doc + a shared max-valued hash
      (i.toLong,
        ((0 until 10).map(j => 1000L + i * 10 + j).map(_.toLong) :+ 999999999L).toSeq)
    }.toDF("doc_id", "hs")
    val fullPairs = skewed.select($"doc_id", explode($"hs").as("g")).as("a")
      .join(skewed.select($"doc_id", explode($"hs").as("g")).as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id").count()
    val prefPairs = skewed.select($"doc_id",
        explode(Text.prefixHashes($"hs", 0.8)).as("g")).as("a")
      .join(skewed.select($"doc_id",
        explode(Text.prefixHashes($"hs", 0.8)).as("g")).as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id").count()
    assert(fullPairs >= 199L * 200 / 2) // the viral shingle's all-pairs blowup
    assert(prefPairs * 4 < fullPairs,
      s"prefix join volume $prefPairs not bounded vs $fullPairs")
    // and no true near-dup exists here, so the verified result is empty
    assert(NearDup.prefixJoinPairs(skewed, 0.8).isEmpty)
  }

  // --------------------------------------------- editDistancePairs

  /** Reference: textbook Levenshtein DP. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Brute-force pair set in the operator's canonical order. */
  private def bruteEd(ss: Seq[String], k: Int): Set[(String, String, Int)] =
    (for {
      a <- ss; b <- ss
      if a.length < b.length || (a.length == b.length && a < b)
      d = lev(a, b) if d <= k
    } yield (a, b, d)).toSet

  private def gotEd(ss: Seq[String], k: Int): Set[(String, String, Int)] =
    NearDup.editDistancePairs(
        ss.toDF("s").withColumn("id", $"s").repartition(5), k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("editDistancePairs: hand-checkable vocabulary at k=2") {
    val ss = Seq("kitten", "mitten", "sitting", "kitchen", "flaw", "lawn", "flan")
    val got = gotEd(ss, 2)
    // kitten↔mitten 1 sub; kitten↔kitchen 2 (insert c, sub e→?) — check vs DP
    assert(got == bruteEd(ss, 2))
    assert(got.contains(("kitten", "mitten", 1)))
    assert(!got.exists { case (a, b, _) => a == "kitten" && b == "sitting" })
  }

  test("editDistancePairs: blocking is lossless on random strings (k=1,2)") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcd" // tiny alphabet forces many near-misses
    val ss = Seq.fill(120)(
      (0 until (3 + rnd.nextInt(8))).map(_ => alpha(rnd.nextInt(4))).mkString
    ).distinct
    for (k <- Seq(1, 2))
      assert(gotEd(ss, k) == bruteEd(ss, k), s"mismatch at k=$k")
  }

  test("editDistancePairs: each unordered pair appears exactly once") {
    val ss = Seq("aaaa", "aaab", "aaba", "abaa", "baaa")
    val rows = NearDup.editDistancePairs(
      ss.toDF("s").withColumn("id", $"s"), 2).collect()
    val pairs = rows.map(r => Set(r.get(0), r.get(1)))
    assert(pairs.length == pairs.distinct.length)
    assert(rows.length == bruteEd(ss, 2).size)
  }

  test("clusters storage does not grow with propagation rounds") {
    // a 64-chain needs several pointer-jump rounds; the per-round label
    // checkpoints must rotate (graft.core.Fixpoint — Dataset
    // .unpersist can't reach localCheckpoint's RDD-layer blocks), leaving
    // only the final labeling persisted
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = NearDup.clusters(chain).collect()
    assert(got.length == 65 && got.forall(_.getLong(1) == 0L))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"clusters left ${leaked.size} persistent RDDs (expected <= 2: final labels)")
  }
}
