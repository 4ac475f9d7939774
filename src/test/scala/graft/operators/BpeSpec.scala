package graft.operators

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent in-memory reference: weighted pair counts over the piece
    * vectors, lexicographic tie-break, greedy left-to-right re-merge. */
  private def refBpe(words: Map[String, Long], n: Int): Seq[(String, String, Long)] = {
    def applyMerge(v: Vector[String], l: String, r: String): Vector[String] =
      v.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    var ps = words.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var continue = true
    while (continue && out.size < n) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((pieces, f) <- ps; i <- 0 until pieces.size - 1)
        pairs((pieces(i), pieces(i + 1))) += f
      if (pairs.isEmpty) continue = false
      else {
        val ((l, r), pf) = pairs.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((l, r, pf))
        ps = ps.map { case (pieces, f) => (applyMerge(pieces, l, r), f) }
      }
    }
    out.toSeq
  }

  private def got(words: Map[String, Long], n: Int) =
    Bpe.train(words.toSeq.toDF("word", "freq"), n)
      .map(m => (m.left, m.right, m.pairFreq))

  test("learns the classic Sennrich example identically to the reference") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    assert(got(words, 8) == refBpe(words, 8))
  }

  test("greedy re-merge is left-to-right: 'aaa' yields [aa, a], never [a, aa]") {
    val words = Map("aaa" -> 10L)
    val merges = Bpe.train(words.toSeq.toDF("word", "freq"), 2)
    // round 1: (a,a) weighted 20 (two adjacent pairs); after the greedy
    // re-merge the word is [aa, a], so round 2 learns (aa, a)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "a"), ("aa", "a")))
    assert(merges.head.pairFreq == 20L)
  }

  test("stops early when every word is a single piece") {
    val words = Map("ab" -> 3L)
    val merges = Bpe.train(words.toSeq.toDF("word", "freq"), 5)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b")))
  }

  test("segment applies the learned table like the reference fold") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L,
      "aaa" -> 4L)
    val df = words.toSeq.toDF("word", "freq")
    val rules = Bpe.train(df, 6)
    val got = Bpe.segment(df, rules)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2).toVector).toMap
    // reference: fold every rule in learning order over each word's chars
    def applyMerge(v: Vector[String], l: String, r: String): Vector[String] =
      v.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    val want = words.keys.map { w =>
      w -> rules.foldLeft(w.map(_.toString).toVector) { (v, m) =>
        applyMerge(v, m.left, m.right)
      }
    }.toMap
    assert(got == want)
    // every piece is either a learned merge product or a single char, and
    // pieces reassemble the word exactly
    got.foreach { case (w, ps) => assert(ps.mkString == w) }
  }

  test("merge table is partition-invariant") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L,
      "lowest" -> 4L, "newer" -> 1L)
    val a = Bpe.train(words.toSeq.toDF("word", "freq").repartition(7), 6)
    val b = Bpe.train(words.toSeq.toDF("word", "freq").coalesce(1), 6)
    assert(a == b)
    assert(a == refBpe(words, 6).zipWithIndex.map { case ((l, r, pf), i) =>
      Bpe.Merge(i + 1, l, r, pf) })
  }

  test("train storage does not grow with merge count") {
    // 8 merge rounds re-checkpoint the pieces table 8 times; the blocks
    // must rotate (graft.core.Fixpoint) — a realistic 32k-merge
    // vocabulary would otherwise hold 32k copies in storage
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    assert(Bpe.train(words.toSeq.toDF("word", "freq"), 8).size == 8)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"train left ${leaked.size} persistent RDDs (expected <= 1: final pieces)")
  }

  test("a failing train strands no round state (ADVICE r12 failure path)") {
    // raise_error fires when the initial pieces checkpoint materializes;
    // the finally must hand every tracked block back — a failed training
    // run on a long-lived session must not strand a vocabulary-sized
    // table (same class as the graph wrappers' throw paths)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val bad = Seq(("ab", 1L)).toDF("word", "freq")
      .withColumn("freq",
        org.apache.spark.sql.functions.expr(
          "IF(freq > 0, CAST(raise_error('boom') AS LONG), freq)"))
    intercept[Exception] { Bpe.train(bad, 3) }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"failed train stranded ${leaked.size} persistent RDDs")
  }
}
