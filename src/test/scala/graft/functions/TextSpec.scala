package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("wordShingles emits distinct n-grams; short docs give empty set") {
    val df = Seq("a b c d", "a b c a b c", "a b").toDF("text")
    val got = df.select(Text.wordShingles($"text", 3)).collect().map(_.getSeq[String](0).toSet)
    assert(got(0) == Set("a b c", "b c d"))
    assert(got(1) == Set("a b c", "b c a", "c a b")) // distinct, despite repeats
    assert(got(2) == Set.empty)
  }

  test("tokenHashes kernel is bit-identical to the higher-order transform form") {
    import org.apache.spark.sql.functions._
    // real corpus + adversarial edges: empty string, leading/trailing/double
    // spaces (empty tokens), unicode, single token
    val edges = Seq("", " ", "a", "a b", " a", "a ", "a  b", "héllo wörld 你好")
      .toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").unionByName(edges)
    val cmp = corpus.select(
      Text.tokenHashes($"text").as("fast"),
      transform(Text.tokens($"text"), w => Text.hash32(w)).as("slow"))
    assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty,
      "kernel diverged from the reference form")
  }

  test("shingle kernel is bit-identical to the zip_with-reduce reference form") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text")
      .unionByName(Seq("", "a", "a b", "a b c", "a b c d", "x x x x x").toDF("text"))
      .select(Text.tokenHashes($"text").as("th"))
    // the pre-kernel formulation, inlined as the reference
    def referenceForm(th: org.apache.spark.sql.Column, n: Int) = {
      val m = size(th) - lit(n - 1)
      val shifted = (0 until n).map(j => slice(th, lit(j + 1), m))
      val combined = shifted.reduceLeft(
        (acc, s) => zip_with(acc, s, (a, b) => pmod(a * 31 + b, lit(4294967296L))))
      when(size(th) >= n, array_distinct(combined))
        .otherwise(array().cast("array<bigint>"))
    }
    for (n <- Seq(1, 3, 5)) {
      val cmp = corpus.select(
        Text.shingleHashesFromTokenHashes($"th", n).as("fast"),
        referenceForm($"th", n).as("slow"))
      assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty, s"diverged at n=$n")
    }
    // null INPUT → [] (the when/otherwise contract) and null ELEMENTS →
    // one null shingle per covered window set, deduped — plus raw
    // (unmasked) values at n=1, incl. negatives and >= 2^32
    val edgy = Seq(
      Option(Seq(Option(1L), Option.empty[Long], Option(2L), Option(3L), Option(4L))),
      Option(Seq(Option(-1L), Option(1L << 40), Option(7L))),
      Option.empty[Seq[Option[Long]]])
      .map(Tuple1(_)).toDF("th")
    for (n <- Seq(1, 3)) {
      val cmp = edgy.select(
        Text.shingleHashesFromTokenHashes($"th", n).as("fast"),
        coalesce(referenceForm($"th", n), typedLit(Seq.empty[Long])).as("slow"))
      assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty, s"edge diverged at n=$n")
    }
  }

  test("hash32 is a stable 32-bit value (md5-derived, engine-portable)") {
    val got = col0(Seq("hello", "hello", "world").toDF("s").select(Text.hash32($"s")))
    assert(got(0) == got(1) && got(0) != got(2))
    got.foreach(h => assert(h.asInstanceOf[Long] >= 0L && h.asInstanceOf[Long] <= 0xFFFFFFFFL))
  }

  test("jaccard: identical→1, disjoint→0, known overlap exact") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)) // |∩|=2, |∪|=4
    ).toDF("a", "b")
    assert(col0(df.select(Text.jaccard($"a", $"b"))) == List(1.0, 0.0, 0.5))
  }

  test("prefixHashes candidate set is complete for τ=0.8 (PPJoin prefix filter)") {
    // Exhaustive check over random set pairs: whenever jaccard ≥ τ the two
    // prefixes must intersect — the correctness property the q31 scale path
    // relies on.
    val rnd = new scala.util.Random(7)
    val sets = (0 until 60).map { _ =>
      (0 until 20).map(_ => rnd.nextInt(30).toLong).distinct.sorted
    }
    val tau = 0.8
    def prefix(s: Seq[Long]): Seq[Long] =
      s.take(math.max(1, s.size - math.floor(s.size * tau).toInt + 1))
    for (a <- sets; b <- sets) {
      val inter = a.intersect(b).size.toDouble
      val jac = inter / (a.size + b.size - inter)
      if (jac >= tau)
        assert(prefix(a).intersect(prefix(b)).nonEmpty,
          s"prefix filter dropped a τ-similar pair: $a vs $b (jac=$jac)")
    }
    // and the Column implementation agrees with the model
    val df = sets.map(s => Tuple1(s)).toDF("hs")
    val got = df.select(Text.prefixHashes($"hs", tau)).collect().map(_.getSeq[Long](0).toList)
    assert(got.toSeq == sets.map(s => prefix(s).toList))
  }

  test("minhashSignature approximates jaccard and bounds each lane by the set minimum property") {
    // realistic inputs are hash32 values (≈ uniform 32-bit), where the
    // universal-hash mod wraps; tiny consecutive ints would be monotone
    // under every lane hash and make MinHash degenerate by construction
    def h32(x: Long): Long = (x * 2654435761L) % 4294967296L
    val base = (1L to 60L).map(h32)
    val near = base.drop(3) ++ Seq(1000L, 1001L, 1002L).map(h32) // jaccard ≈ 0.905
    val far = (1000L to 1060L).map(h32)
    val df = Seq((1, base), (2, near), (3, far)).toDF("id", "hs")
      .select($"id", Text.minhashSignature($"hs").as("sig"))
    val sigs = df.orderBy($"id").collect().map(_.getSeq[Long](1))
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    assert(sigs(0).size == Text.MinhashK)
    assert(agree(sigs(0), sigs(1)) > 0.7)  // near-dup: most lanes agree
    assert(agree(sigs(0), sigs(2)) < 0.2)  // unrelated: few lanes agree
  }

  test("minhashSignatureGrouped equals the array-fold minhashSignature") {
    val docs = Seq(
      (1, "the quick brown fox jumps over the lazy dog again and again"),
      (2, "pack my box with five dozen liquor jugs every single day"),
      (3, "a b c")
    ).toDF("doc_id", "text")
      .select($"doc_id", Text.shingleHashes($"text", 3).as("hs"))
      .filter(size($"hs") > 0)
    val viaArrays = docs.select($"doc_id", Text.minhashSignature($"hs").as("sig"))
      .orderBy($"doc_id").collect().map(r => (r.getInt(0), r.getSeq[Long](1).toList))
    val viaGroup = Text.minhashSignatureGrouped(docs, "doc_id", "hs")
      .orderBy($"doc_id").collect().map(r => (r.getInt(0), r.getSeq[Long](1).toList))
    assert(viaArrays.toSeq == viaGroup.toSeq)
  }

  test("ngram kernel keeps every occurrence, matching the HOF reference form") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text")
      .unionByName(Seq("", "a", "a b", "x x x x", "a b a b a b").toDF("text"))
      .select(Text.tokenHashes($"text").as("th"))
    // reference: per-window combine WITHOUT array_distinct
    def referenceForm(th: org.apache.spark.sql.Column, n: Int) = {
      val m = size(th) - lit(n - 1)
      val shifted = (0 until n).map(j => slice(th, lit(j + 1), m))
      val combined = shifted.reduceLeft(
        (acc, s) => zip_with(acc, s, (a, b) => pmod(a * 31 + b, lit(4294967296L))))
      when(size(th) >= n, combined).otherwise(array().cast("array<bigint>"))
    }
    for (n <- Seq(1, 2, 3)) {
      val cmp = corpus.select(
        Text.ngramHashes($"th", n).as("fast"), referenceForm($"th", n).as("slow"))
      assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty, s"diverged at n=$n")
    }
    // repetition is preserved: "x x x x" has three identical 2-grams
    val reps = Seq("x x x x").toDF("text")
      .select(Text.ngramHashes(Text.tokenHashes($"text"), 2).as("g"))
      .head().getSeq[Long](0)
    assert(reps.length == 3 && reps.distinct.length == 1)
  }

  test("repetitionMetrics flags degenerate documents, not diverse ones") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "one two one two one two one two one two"),
      (4L, "a b") // < 3 tokens: dropped
    ).toDF("doc_id", "text")
      .select($"doc_id", Text.tokenHashes($"text").as("th"))
    val m = Text.repetitionMetrics(docs, "doc_id", "th")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(3), r.getDouble(6))).toMap
    assert(!m.contains(4L))
    val (spamTop, spamTop2, spamDup3) = m(1L)
    assert(spamTop == 1.0 && spamTop2 == 1.0 && spamDup3 == 1.0)
    val (diverseTop, _, diverseDup3) = m(2L)
    assert(diverseTop == 0.2 && diverseDup3 == 0.0) // 'the' twice in 10 tokens
    val (_, cycleTop2, cycleDup3) = m(3L)
    assert(cycleTop2 > 0.5 && cycleDup3 == 1.0) // alternating cycle
  }

  test("scrubPii replaces emails, phones and IPs with typed tags") {
    val df = Seq(
      "mail me at jo.doe+x@sub.example.org thanks",
      "call 555-123-4567 or 555.987.6543 now",
      "host 192.168.1.254 is up",
      "no pii here at all",
      "overlap user@h.io 10.0.0.1 555-000-1111"
    ).toDF("text").select(Text.scrubPii($"text").as("s"),
      Text.piiMatchCount($"text").as("n"))
    val got = df.collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got(0) == ("mail me at <EMAIL> thanks", 1))
    assert(got(1) == ("call <PHONE> or <PHONE> now", 2))
    assert(got(2) == ("host <IP> is up", 1))
    assert(got(3) == ("no pii here at all", 0))
    assert(got(4) == ("overlap <EMAIL> <IP> <PHONE>", 3))
  }

  test("graft_scrub_pii / graft_pii_count SQL functions match the Column API") {
    graft.plans.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT graft_scrub_pii('reach a@b.io or 555-123-4567') AS s,
        |       graft_pii_count('reach a@b.io or 555-123-4567') AS n""".stripMargin)
      .head()
    assert(viaSql.getString(0) == "reach <EMAIL> or <PHONE>" && viaSql.getInt(1) == 2)
    val viaCol = Seq("reach a@b.io or 555-123-4567").toDF("t")
      .select(Text.scrubPii($"t"), Text.piiMatchCount($"t")).head()
    assert(viaSql.getString(0) == viaCol.getString(0)
      && viaSql.getInt(1) == viaCol.getInt(1))
    intercept[Exception](spark.sql("SELECT graft_scrub_pii('a', 'b')").head())
  }

  test("minhash fused kernel is bit-identical to the grouped reference form") {
    // real corpus: every document's signature must match lane-for-lane
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", Text.shingleHashes($"text", 3).as("hs"))
      .filter(size($"hs") > 0)
    val viaGroup = Text.minhashSignatureGrouped(docs, "doc_id", "hs")
      .withColumnRenamed("sig", "slow")
    val cmp = docs
      .select($"doc_id", Text.minhashSignatureFused($"hs").as("fast"))
      .join(viaGroup, Seq("doc_id"), "full_outer")
    assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty,
      "fused minhash diverged from the grouped reference form")
    // edge semantics: null elements skipped (min ignores nulls); an
    // only-nulls set keeps its group with all-null lanes; empty / null
    // input → NULL where the grouped form drops the document
    val edgy = Seq(
      (1, Option(Seq(Option(5L), Option.empty[Long], Option(9L)))),
      (2, Option(Seq(Option.empty[Long]))),
      (3, Option(Seq.empty[Option[Long]])),
      (4, Option.empty[Seq[Option[Long]]])
    ).toDF("doc_id", "hs")
    val fused = edgy.select($"doc_id", Text.minhashSignatureFused($"hs", 8).as("sig"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    def lanes(v: Any): List[Any] =
      v.asInstanceOf[scala.collection.Seq[Any]].toList
    val grouped = Text.minhashSignatureGrouped(edgy.filter($"hs".isNotNull), "doc_id", "hs", 8)
      .collect().map(r => r.getInt(0) -> lanes(r.get(1))).toMap
    assert(fused(1).map(lanes) == grouped.get(1))
    assert(fused(2).map(lanes) == grouped.get(2)) // both: 8 null lanes
    assert(fused(3).isEmpty && fused(4).isEmpty)
    assert(!grouped.contains(3)) // explode of [] drops the document
  }

  test("simhash fused kernel is bit-identical to the grouped reference form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", Text.tokenHashes($"text").as("ths"))
    val viaGroup = Text.simhash32Grouped(docs, "doc_id", "ths")
      .withColumnRenamed("simhash", "slow")
    val cmp = docs
      .select($"doc_id", Text.simhash32Fused($"ths").as("fast"))
      .join(viaGroup, Seq("doc_id"), "full_outer")
    assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty,
      "fused simhash diverged from the grouped reference form")
    // edge semantics: a NULL token hash contributes −1 to every bit (the
    // grouped when/otherwise shape); empty array → NULL (grouped drop)
    val edgy = Seq(
      (1, Seq(Option(0xFFFFFFFFL), Option.empty[Long])),
      (2, Seq(Option.empty[Long], Option.empty[Long])),
      (3, Seq.empty[Option[Long]])
    ).toDF("doc_id", "ths")
    val fused = edgy.select($"doc_id", Text.simhash32Fused($"ths").as("h"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    val grouped = Text.simhash32Grouped(edgy.filter(size($"ths") > 0), "doc_id", "ths")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fused(1).contains(grouped(1)) && fused(2).contains(grouped(2)))
    assert(fused(3).isEmpty && !grouped.contains(3))
  }

  test("simhash of the token hashes is null exactly when the text is null") {
    // q33 guards on `text` instead of on the sketch; this makes them equal
    val docs = Seq(Some("a b c"), Some(""), Some(" "), Some("a  b "), Some("é ü"),
      None).toDF("text")
    val got = docs.select($"text".isNull,
      Text.simhash32Fused(Text.tokenHashes($"text")).isNull).collect()
    got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), s"text null ≠ sketch null: $r"))
  }

  test("graft_minhash / graft_simhash SQL functions resolve and type-check") {
    graft.plans.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_minhash(array(1L, 2L, 3L), 4) AS sig,
        |       graft_simhash(array(1L, 2L, 3L)) AS sh""".stripMargin).head()
    assert(row.getSeq[Long](0).size == 4)
    // values pinned to the column-API kernels
    val viaCol = Seq(Seq(1L, 2L, 3L)).toDF("a")
      .select(Text.minhashSignatureFused($"a", 4), Text.simhash32Fused($"a")).head()
    assert(row.getSeq[Long](0) == viaCol.getSeq[Long](0) && row.getLong(1) == viaCol.getLong(1))
    // misuse fails at analysis, not execution
    intercept[Exception](spark.sql("SELECT graft_minhash(array(1L), 2, 3)").head())
    intercept[Exception](spark.sql("SELECT graft_simhash('nope')").head())
    intercept[Exception](spark.sql("SELECT graft_minhash(array(1L), NULL)").head())
  }

  test("lshBandKeys: identical signatures share all bands; banding is deterministic") {
    val df = Seq((1L to 60L).toSeq).toDF("hs")
      .select(Text.minhashSignature($"hs").as("sig"))
      .select(Text.lshBandKeys($"sig").as("bands"))
    val a = df.collect().head.getSeq[String](0)
    val b = df.collect().head.getSeq[String](0)
    assert(a.size == Text.LshBands && a == b)
  }

  test("simhash32Grouped equals the array-fold simhash32 on every document") {
    val docs = Seq(
      (1, "the quick brown fox jumps over the lazy dog"),
      (2, "the quick brown fox jumps over the lazy cat"),
      (3, "completely different content here entirely"),
      (4, "x")
    ).toDF("doc_id", "text")
      .withColumn("ths", transform(Text.tokens($"text"), w => Text.hash32(w)))
    val viaArrays = docs.select($"doc_id", Text.simhash32("ths").as("simhash"))
    val viaGroup = Text.simhash32Grouped(docs, "doc_id", "ths")
    val a = viaArrays.orderBy($"doc_id").collect().map(r => (r.getInt(0), r.getLong(1)))
    val g = viaGroup.orderBy($"doc_id").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(a.toSeq == g.toSeq)
  }

  test("simhash of near-identical docs has small hamming distance, disjoint docs large") {
    val docs = Seq(
      (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
      .withColumn("ths", transform(Text.tokens($"text"), w => Text.hash32(w)))
    val h = Text.simhash32Grouped(docs, "doc_id", "ths")
      .orderBy($"doc_id").collect().map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(1)) < ham(h(0), h(2)))
  }

  test("rollingFingerprint is order-sensitive (permutations differ)") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val got = col0(df.select(Text.rollingFingerprint($"text")))
    assert(got(0) == got(2) && got(0) != got(1))
  }

  test("rollingFingerprint kernel is bit-identical to the aggregate-fold form") {
    import org.apache.spark.sql.functions._
    val edges = Seq("", " ", "a", "the of and", " a b ").toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").unionByName(edges)
    val cmp = corpus.select(
      Text.rollingFingerprint($"text").as("fast"),
      aggregate(Text.tokenHashes($"text"), lit(0L),
        (acc, h) => (acc * 31 + h) % lit(1000000007L)).as("slow"))
    assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty,
      "rolling-fp kernel diverged from the reference fold")
  }

  test("stop-count kernel is bit-identical to the size(filter(isin)) form") {
    import org.apache.spark.sql.functions._
    // real corpus + edges incl. stopwords of several languages in one doc,
    // duplicate occurrences, empty tokens, unicode (zh profile)
    val edges = Seq("", " ", "the the the", "der und le la el y 的 是",
      "no match at all", "the und 的").toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").unionByName(edges)
    val w = Text.tokens($"text")
    val fast = Text.langScoresFromTokens(w)
    val slow = Text.LangProfiles.map { case (lang, words) =>
      lang -> size(filter(w, t => t.isin(words.map(lit): _*)))
    }
    val cols = fast.zip(slow).zipWithIndex.flatMap { case (((_, f), (_, sl)), i) =>
      Seq(f.as(s"f$i"), sl.as(s"s$i"))
    }
    val cmp = corpus.select(cols: _*)
    val mismatch = Text.LangProfiles.indices
      .map(i => not(col(s"f$i") <=> col(s"s$i")))
      .reduce(_ || _)
    assert(cmp.filter(mismatch).isEmpty,
      "stop-count kernel diverged from the reference composite")
    // the quality score built on the union slot matches the old composite
    val q = corpus.select(
      Text.qualityScoreFromTokens(w).as("fast"),
      (lit(0.5) * least(lit(1.0), size(w).cast("double") / 200.0) +
        lit(0.5) * (size(filter(w, t =>
          t.isin(Text.LangProfiles.flatMap(_._2).map(lit): _*)))
          .cast("double") / size(w))).as("slow"))
    assert(q.filter(not($"fast" <=> $"slow")).isEmpty,
      "quality-score kernel diverged from the reference composite")
  }

  test("langId scores stopword profiles and breaks ties by fixed priority") {
    val df = Seq(
      "the cat of the house and a dog",   // en stopwords
      "der hund und die katze ist da",    // de stopwords
      "xyzzy plugh",                      // no signal → priority language (en)
      "le chat et la maison est grande"   // fr stopwords
    ).toDF("text")
    assert(col0(df.select(Text.langId($"text"))) == List("en", "de", "en", "fr"))
  }

  test("qualityScore combines length and stopword ratio in [0,1]") {
    val long = ("the word " * 150).trim // 300 tokens, half stopwords
    val df = Seq(long, "no stopwords here", "the of and a to").toDF("text")
    val got = col0(df.select(Text.qualityScore($"text"))).map(_.asInstanceOf[Double])
    assert(got(0) == 0.5 * 1.0 + 0.5 * 0.5)
    assert(got(1) == 0.5 * (3.0 / 200.0) + 0.0)
    assert(got(2) == 0.5 * (5.0 / 200.0) + 0.5 * 1.0)
    got.foreach(q => assert(q >= 0.0 && q <= 1.0))
  }

  test("bpeTokenCount splits letter runs, digit runs, single symbols") {
    val df = Seq("abc de 12 x!", "a1b2", "").toDF("text")
    // "abc","de","12","x","!" = 5 ; "a","1","b","2" = 4 ; "" = 0
    assert(col0(df.select(Text.bpeTokenCount($"text"))) == List(5, 4, 0))
  }

  test("chunks: windows of `size` every `stride`, tail covered, every token in ≥1 chunk") {
    def run(n: Int, size: Int, stride: Int): Seq[(Int, Seq[String])] = {
      val toks = (1 to n).map(i => s"t$i")
      Seq(Tuple1(toks)).toDF("w")
        .select(explode(Text.chunks($"w", size, stride)).as("c"))
        .select($"c.chunk_id", $"c.toks")
        .collect().map(r => (r.getInt(0), r.getSeq[String](1).toSeq)).toSeq
    }
    // n <= size: exactly one chunk, the whole array
    assert(run(3, 5, 4) == Seq((0, Seq("t1", "t2", "t3"))))
    assert(run(5, 5, 4) == Seq((0, (1 to 5).map(i => s"t$i"))))
    // n = 6, size 5, stride 4: chunks at 0 (t1..t5) and 4 (t5, t6)
    assert(run(6, 5, 4) == Seq((0, (1 to 5).map(i => s"t$i")),
      (1, Seq("t5", "t6"))))
    // general: k-th chunk starts at k·stride, all tokens covered, overlap
    // = size − stride everywhere except possibly the tail
    val got = run(23, 7, 5)
    assert(got.map(_._1) == got.indices.toSeq)
    got.foreach { case (k, c) =>
      assert(c.head == s"t${k * 5 + 1}" && c.size <= 7)
    }
    assert(got.flatMap(_._2).distinct.size == 23)
  }

  test("normalize strips controls, collapses space runs, trims, keeps case") {
    val df = Seq(
      "  Hello\t\tWorld \r\n",
      "a\u0000b\u000bc", // NUL and vertical tab are C0 controls
      "already clean",
      "\u007f", // DEL alone -> empty after trim
      "").toDF("text")
    assert(col0(df.select(Text.normalize($"text"))) ==
      List("Hello World", "a b c", "already clean", "", ""))
  }

  test("normalize is idempotent") {
    val texts = Seq("x  y\tz", " mixed  Case ", "ok")
    val once = col0(texts.toDF("text").select(Text.normalize($"text")))
    val twice = once.map(_.toString).toDF("text")
    assert(col0(twice.select(Text.normalize($"text"))) == once)
  }

  test("tokenHashes64 kernel is bit-identical to the two-half md5 reference form") {
    // reference: first 16 md5 hex chars = (first 8 as hi) << 32 | (next 8
    // as lo) — each half parses inside a signed long, so the composition
    // is overflow-free and bit-exact for the full unsigned 64-bit pattern
    def half(w: org.apache.spark.sql.Column, from: Int) =
      conv(substring(md5(w), from, 8), 16, 10).cast("long")
    val edges = Seq("", " ", "a", "a b", " a", "a ", "a  b", "héllo wörld 你好")
      .toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").unionByName(edges)
    val cmp = corpus.select(
      Text.tokenHashes64($"text").as("fast"),
      transform(Text.tokens($"text"),
        w => shiftleft(half(w, 1), 32).bitwiseOR(half(w, 9))).as("slow"))
    assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty,
      "64-bit token-hash kernel diverged from the reference form")
  }

  test("simhash64 fused kernel is bit-identical to the 64-lane conditional-sum form") {
    val edgy = Seq(
      Option(Seq(Option(1L), Option.empty[Long], Option(-1L))), // null token
      Option(Seq.empty[Option[Long]]), // empty array -> NULL
      Option(Seq(Option(Long.MinValue), Option(Long.MaxValue))))
      .map(Tuple1(_)).toDF("ths")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(Text.tokenHashes64($"text").as("ths"))
      .unionByName(edgy.select($"ths".cast("array<bigint>")))
    // the higher-order reference: 64 conditional sums, sign bits OR'd —
    // bit 63 composes via bitwiseOR so no additive overflow
    val bits = (0 until 64).map { j =>
      when(aggregate($"ths", lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1, lit(1L))
          .otherwise(lit(-1L))) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    val ref = when(size($"ths") > 0, bits.reduce(_.bitwiseOR(_)))
    val cmp = corpus.select(
      Text.simhash64Fused($"ths").as("fast"), ref.as("slow"))
    assert(cmp.filter(not($"fast" <=> $"slow")).isEmpty,
      "64-bit simhash kernel diverged from the reference form")
  }

  test("adaptiveSimhashBlocks widens the banded key with the corpus") {
    // width(B) = floor(64(B-3)/B): 16, 25, 32, 36, 40 for B = 4..8;
    // need ceil(log2 n) + 4 bits
    assert(Text.adaptiveSimhashBlocks(1) == 4)
    assert(Text.adaptiveSimhashBlocks(500) == 4) // 9 + 4 <= 16
    assert(Text.adaptiveSimhashBlocks(4096) == 4) // 12 + 4 = 16 (boundary)
    assert(Text.adaptiveSimhashBlocks(4097) == 5) // 13 + 4 > 16
    assert(Text.adaptiveSimhashBlocks(50000) == 5) // 16 + 4 <= 25
    assert(Text.adaptiveSimhashBlocks(1L << 28) == 6) // 28 + 4 = 32
    assert(Text.adaptiveSimhashBlocks(1L << 40) == 8) // past every width: clamp
    // per-table background n^2 / 2^width stays <= n/16 (sublinear constant)
    for (n <- Seq(1L, 1000L, 100000L, 1L << 30)) {
      val b = Text.adaptiveSimhashBlocks(n)
      val width = 64 * (b - 3) / b
      assert(b == 8 || (BigInt(n) * n / BigInt(2).pow(width)) <= BigInt(n) / 16,
        s"background superlinear at n=$n, B=$b")
    }
  }
}
