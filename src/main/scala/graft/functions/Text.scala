package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis and document-dedup primitives for large-scale training-data
  * pipelines (extension scope; BASELINE.json north star).
  *
  * Everything is built from codegen'd Catalyst expressions over arrays —
  * no UDFs, no driver-side state, so every operator here scales as a pure
  * map over documents (shuffles only where a join/groupBy is inherent, e.g.
  * LSH bucketing).
  *
  * Hashing is md5-based (not Spark's xxhash64) so results are engine-portable
  * and reproducible: any system that can md5 a UTF-8 string derives the same
  * 32-bit values, which keeps signatures stable across the oracle, re-runs,
  * and future backends.
  */
object Text {

  /** Large prime > 2^32 for the minhash universal-hash family. */
  val MinhashPrime = 4294967311L
  val MinhashK = 64
  val LshBands = 16
  val LshRows = 4 // MinhashK / LshBands

  /** Stable 32-bit hash: first 8 hex chars of md5 as an unsigned int. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Tokenize + [[hash32]] every token as ONE codegen'd kernel
    * ([[graft.plans.TokenHashesExpr]]): bit-identical to
    * `transform(tokens(text), hash32)`, but the higher-order form pays an
    * interpreted lambda and a fresh md5 digest per token — this is the
    * cold-path hot spot of every shingle/fingerprint pipeline. */
  def tokenHashes(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.TokenHashesExpr(toExpr(text)))
  }

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Sliding-window token chunking — the RAG/pretraining chunker: windows
    * of `size` tokens every `stride` tokens (overlap = size − stride), the
    * last window covering the tail. Chunk count for n tokens is
    * `1 + ceil(max(n − size, 0) / stride)`, so every token lands in ≥ 1
    * chunk and chunk k starts at token k·stride. A bounded generator — the
    * per-row expansion factor is ~n/stride, never quadratic — and a pure
    * map: no shuffle, no join, no spine table.
    *
    * @param toks non-empty array<string> column
    * @return array<struct<chunk_id: int, toks: array<string>>> */
  def chunks(toks: Column, size: Int, stride: Int): Column = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"chunks needs 1 <= stride <= size, got size=$size stride=$stride")
    val n = org.apache.spark.sql.functions.size(toks)
    // ceil over positive ints via double floor: token counts sit far
    // inside double's exact-integer range
    val lastK = when(n > size,
      floor((n - lit(size) + lit(stride - 1)).cast("double") / stride)
        .cast("int")).otherwise(0)
    transform(sequence(lit(0), lastK),
      k => struct(k.cast("int").as("chunk_id"),
        slice(toks, k * stride + 1, lit(size)).as("toks")))
  }

  /** Adjacent word pairs (bigrams) of a token array, in sequence order —
    * the positional primitive behind collocation mining (q102) and
    * bigram-LM fluency scoring (q124). A bounded pure-map generator:
    * exactly n−1 structs for an n-token row, empty below two tokens (the
    * explicit guard matters — Spark's `sequence(1, 0)` would DESCEND).
    * @return array<struct<a: string, b: string>> */
  def bigrams(toks: Column): Column = {
    val n = org.apache.spark.sql.functions.size(toks)
    when(n < 2, array().cast("array<struct<a: string, b: string>>"))
      .otherwise(transform(sequence(lit(1), n - 1),
        i => struct(element_at(toks, i).as("a"),
          element_at(toks, (i + lit(1)).cast("int")).as("b"))))
  }

  /** Skip-gram (center, context) pairs within ±`window` positions — the
    * word2vec/GloVe co-occurrence generator (q125). A bounded pure map:
    * per-row expansion ≤ 2·window × tokens, boundary offsets dropped
    * locally, no self-join and no position spine. Symmetric by
    * construction: every (c, x) pair at distance d has its (x, c) mirror,
    * so corpus-wide pair counts form a symmetric matrix (PropertySpec
    * pins this).
    * @return array<struct<c: string, x: string>> */
  def skipgramPairs(toks: Column, window: Int): Column = {
    require(window >= 1, s"skipgramPairs needs window >= 1, got $window")
    val n = org.apache.spark.sql.functions.size(toks)
    val offsets = array(((-window to -1) ++ (1 to window)).map(lit(_)): _*)
    when(n < 1, array().cast("array<struct<c: string, x: string>>"))
      .otherwise(flatten(transform(sequence(lit(1), n, lit(1)), i =>
        filter(
          transform(offsets, o =>
            when(i + o >= 1 && i + o <= n,
              struct(element_at(toks, i).as("c"),
                element_at(toks, (i + o).cast("int")).as("x")))
              .otherwise(lit(null).cast("struct<c: string, x: string>"))),
          p => p.isNotNull))))
  }

  /** Distinct word n-gram shingles, e.g. n=3 → "w1 w2 w3" strings. (The
    * string form — useful for debugging; the hot path is [[shingleHashes]],
    * which never materializes shingle strings.) */
  def wordShingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(0), size(w) - lit(n)),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct 32-bit shingle hashes — the set representation used by exact
    * Jaccard, minhash, and the prefix filter.
    *
    * Each TOKEN is md5-hashed once (engine-portable base), then n-gram
    * hashes combine token hashes arithmetically:
    * `((h1·31 + h2)·31 + h3) mod 2^32` — order-sensitive, so "a b c" and
    * "c b a" collide no more than any hash pair. Building shingle STRINGS
    * (slice + concat per position) and md5-ing each was ~3× slower for
    * identical discriminative power; the combine is plain integer math over
    * the per-token hash array. */
  def shingleHashes(text: Column, n: Int): Column =
    shingleHashesFromTokenHashes(tokenHashes(text), n)

  /** Shingle combine over a PRE-COMPUTED token-hash array column, as the
    * codegen'd [[graft.plans.ShingleHashesExpr]] kernel — one loop per
    * row, no per-window interpreted lambdas, no intermediate slice
    * arrays. Bit-identical to the zip_with-reduce + array_distinct
    * formulation it replaced (TextSpec pins the equivalence against the
    * reference form). */
  def shingleHashesFromTokenHashes(th: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    // coalesce: the replaced when/otherwise form returned [] (not NULL)
    // for a NULL input array — preserve that contract
    coalesce(toCol(graft.plans.ShingleHashesExpr(toExpr(th), n)),
      typedLit(Seq.empty[Long]))
  }

  /** Exact Jaccard similarity of two pre-hashed shingle sets. Integer set
    * sizes → double division: bit-deterministic. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact Jaccard via the fused codegen'd kernel
    * ([[graft.plans.JaccardSimilarity]]): one hash-set pass per side, no
    * intermediate intersect/union arrays — same values as [[jaccard]],
    * for verification hot paths. */
  def jaccardFused(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.JaccardSimilarity(toExpr(a), toExpr(b)))
  }

  /** Prefix-filter index set (PPJoin-style; Xiao et al. 2008 "Efficient
    * similarity joins for near duplicate detection"): with hashes in
    * ascending order, any pair with Jaccard ≥ τ must share an element of
    * each side's first (n − ⌊τ·n⌋ + 1) elements — so only prefixes need
    * indexing and the candidate set stays complete. ⌊·⌋ (not ⌈·⌉) keeps the
    * prefix conservatively long against fp rounding of τ·n. */
  def prefixHashes(hashes: Column, tau: Double): Column = {
    val n = size(hashes)
    slice(array_sort(hashes), lit(1),
      greatest(lit(1), (n - floor(n * lit(tau)) + 1).cast("int")))
  }

  /** MinHash signature of a hashed-shingle set: k universal hashes
    * h_i(x) = ((2i+1)·x + 104729·(i+1)) mod P, sig_i = min over the set.
    * (MinHash: Broder 1997 "On the resemblance and containment of documents".)
    */
  def minhashSignature(hashes: Column, k: Int = MinhashK): Column =
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(hashes,
        x => (x * (i * 2 + lit(1)) + lit(104729L) * (i + lit(1))) % lit(MinhashPrime))))

  /** LSH band keys: the signature cut into `bands` runs of `rows`, each run
    * serialized to a string key. Documents sharing any (band, key) pair are
    * near-dup candidates (standard banding scheme: for r=4, b=16 the
    * collision probability at Jaccard 0.8 is 1-(1-0.8^4)^16 ≈ 0.9997). */
  def lshBandKeys(sig: Column, bands: Int = LshBands, rows: Int = LshRows): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws("-", slice(sig, b * rows + lit(1), lit(rows))))

  /** 32-bit SimHash over term hashes (Charikar 2002): bit j of the result is
    * set iff Σ_tokens (2·bit_j(h)−1) ≥ 0. Term frequency weighs naturally
    * (tokens, not a set). Implemented as a SQL higher-order expression over
    * a column holding array<bigint> token hashes. */
  def simhash32(tokenHashesCol: String): Column =
    expr(
      s"""aggregate(transform(sequence(0, 31), j ->
         |  if(aggregate($tokenHashesCol, 0L,
         |       (acc, h) -> acc + (case when (shiftright(h, j) & 1) = 1
         |                          then 1L else -1L end)) >= 0,
         |     shiftleft(1L, j), 0L)),
         |  0L, (a, x) -> a + x)""".stripMargin)

  /** SimHash as a relational transform: explode token hashes, run 32
    * codegen'd conditional-sum aggregates, recombine sign bits. Same result
    * as [[simhash32]], but an order of magnitude faster: higher-order array
    * functions are interpreted per element in Spark, while this shape stays
    * inside WholeStageCodegen with map-side partial aggregation (the shuffle
    * carries 32 longs per key, independent of document length). Documents
    * with zero tokens drop out (no rows to explode).
    * Superseded in the hot path by [[simhash32Fused]], which computes the
    * same sketch as a pure map with no shuffle at all — this grouped form
    * remains as the independent reference the kernel is pinned against.
    */
  def simhash32Grouped(df: org.apache.spark.sql.DataFrame, key: String,
      tokenHashesCol: String): org.apache.spark.sql.DataFrame = {
    val exploded = df.select(col(key), explode(col(tokenHashesCol)).as("__h"))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"__s$j")
    }
    val sim = (0 until 32)
      .map(j => when(col(s"__s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    exploded.groupBy(col(key)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(key), sim.as("simhash"))
  }

  /** MinHash as a relational transform: explode the shingle-hash sets and run
    * k codegen'd min-aggregates, then recombine into the signature array.
    * Identical lanes to [[minhashSignature]], but the per-element hash math
    * stays inside WholeStageCodegen with map-side partial aggregation — the
    * shuffle carries k longs per document, independent of document length —
    * where the higher-order-function form is interpreted per (element × lane).
    * Documents must have non-empty hash sets (explode drops empty rows).
    * Superseded in the hot path by [[minhashSignatureFused]], which computes
    * the same lanes as a pure map with no shuffle at all — this grouped form
    * remains as the independent reference the kernel is pinned against.
    */
  def minhashSignatureGrouped(df: org.apache.spark.sql.DataFrame, key: String,
      hashesCol: String, k: Int = MinhashK): org.apache.spark.sql.DataFrame = {
    val exploded = df.select(col(key), explode(col(hashesCol)).as("__x"))
    val laneMins = (0 until k).map { i =>
      min((col("__x") * (2 * i + 1) + 104729L * (i + 1)) % MinhashPrime).as(s"__m$i")
    }
    exploded.groupBy(col(key)).agg(laneMins.head, laneMins.tail: _*)
      .select(col(key), array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** MinHash signature as ONE codegen'd per-row kernel
    * ([[graft.plans.MinhashSignatureExpr]]): all k lanes advance in a
    * single pass over the hash set, so the signature is a pure map — no
    * explode, no aggregation shuffle. Bit-identical lanes to
    * [[minhashSignatureGrouped]] (TextSpec pins it); yields NULL where the
    * grouped form would drop the document (empty / all-null hash set), so
    * callers that rely on the drop add `.filter(sig.isNotNull)`. */
  def minhashSignatureFused(hashes: Column, k: Int = MinhashK): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.MinhashSignatureExpr(toExpr(hashes), k))
  }

  /** SimHash as ONE codegen'd per-row kernel ([[graft.plans.Simhash32Expr]]):
    * the 32 bit-counters advance in a single pass over the token hashes —
    * no explode, no aggregation shuffle. Bit-identical to
    * [[simhash32Grouped]] (TextSpec pins it), including the NULL-token
    * (−1 to every bit) edge; yields NULL where the grouped form would drop
    * the document (empty array). */
  def simhash32Fused(tokenHashes: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.Simhash32Expr(toExpr(tokenHashes)))
  }

  /** Tokenize + 64-bit md5 hash (first 16 hex chars per token) as ONE
    * codegen'd kernel — [[tokenHashes]] widened for the 64-bit SimHash
    * ([[simhash64Fused]]). */
  def tokenHashes64(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.TokenHashes64Expr(toExpr(text)))
  }

  /** 64-bit SimHash as ONE codegen'd per-row kernel over 64-bit token
    * hashes — [[simhash32Fused]]'s shape with 64 bit counters. The wider
    * fingerprint is what makes banded Hamming dedup scale: band keys must
    * carry ≥ log2(corpus) bits for the random-collision background to stay
    * linear (Manku, Jain, Das Sarma 2007), and a 32-bit sketch cannot
    * yield such bands past ~10⁵ documents. Bit semantics (NULL token → −1
    * every bit; empty array → NULL) match the 32-bit kernel. */
  def simhash64Fused(tokenHashes: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.Simhash64Expr(toExpr(tokenHashes)))
  }

  /** Manku-banding block count scaled to corpus size, the
    * [[graft.functions.Vectors.adaptivePlanes]] move for SimHash dedup:
    * a 64-bit fingerprint split into B blocks finds all pairs within
    * Hamming distance k via the C(B, B−k) combination tables that each
    * retain B−k blocks (the k differing bits hit ≤ k blocks, so some
    * retained set matches exactly — pigeonhole, Manku et al. 2007 §3).
    * Each table's key carries ⌊64·(B−k)/B⌋ bits, so its random-collision
    * background is n²/2^width: B is the SMALLEST block count in
    * [k+1, 8] whose key width ≥ ⌈log2(n)⌉ + marginBits, making expected
    * random collisions per table ≤ n/2^(marginBits+1) — linear with a
    * 1/32 constant at the default margin. Integer-exact (no floating
    * log), so a SQL oracle states the identical derivation:
    * ⌈log2(n)⌉ = min j with 2^j ≥ n. Larger corpora pay more tables
    * (C(5,2)=10 vs C(4,1)=4) — candidate generation cost, traded against
    * quadratic background. */
  def adaptiveSimhashBlocks(corpusSize: Long, k: Int = 3,
      marginBits: Int = 4): Int = {
    val n = math.max(corpusSize, 1L)
    val clog = (0 to 62).find(j => (1L << j) >= n).getOrElse(63)
    (k + 1 to 8).find(b => 64 * (b - k) / b >= clog + marginBits).getOrElse(8)
  }

  /** Rolling polynomial fingerprint over token hashes:
    * fold(acc = 0; acc = (acc·31 + h) mod 1_000_000_007) — order-sensitive,
    * so equal fingerprints mean equal token sequences (modulo collisions),
    * unlike the set-based signatures above. One codegen'd loop
    * ([[graft.plans.RollingFpExpr]]) — the `aggregate` higher-order form
    * is CodegenFallback and paid an interpreted lambda per token; the
    * kernel is the same Java long arithmetic in the same order (TextSpec
    * pins bit-equality to the reference fold). */
  def rollingFingerprint(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.RollingFpExpr(toExpr(tokenHashes(text))))
  }

  /** Language-ID by stopword-profile hit counts. Deterministic argmax with
    * fixed priority order on ties (en > de > fr > es > zh). A heuristic, not
    * a model: on corpora whose vocabulary carries no language signal (like
    * the synthetic test tables) it degenerates to the priority language —
    * the operator contract is determinism + the scoring shape. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "una", "y", "es"),
    "zh" -> Seq("的", "了", "是"))

  /** ONE codegen'd pass computing every language profile's hit count plus
    * the union-set count (slot [[LangProfiles]].length, for
    * [[qualityScoreFromTokens]]) — replaces six per-profile
    * `size(filter(w, isin(...)))` composites whose ArrayFilter lambdas are
    * CodegenFallback (r14, guide §4). langId + quality call sites build
    * the IDENTICAL expression tree, so codegen subexpression elimination
    * evaluates the kernel once per row in composite gates (q43). */
  private def stopCounts(w: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.StopCountsExpr(toExpr(w),
      LangProfiles.map(_._2) :+ LangProfiles.flatMap(_._2)))
  }

  /** Per-language stopword hit counts over a PRE-COMPUTED token array
    * column — materialize the tokens once as a projection and feed them to
    * every text gate (langId + quality + counts) so a composite filter
    * tokenizes each document exactly once. The `coalesce(…, -1)` preserves
    * the reference composite's `size(null, legacy) = -1` on a null token
    * array (TextSpec pins equality to the filter/isin form). */
  def langScoresFromTokens(w: Column): Seq[(String, Column)] = {
    val counts = stopCounts(w)
    LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      lang -> coalesce(counts.getItem(i), lit(-1))
    }
  }

  def langIdFromTokens(w: Column): Column = {
    val scores = langScoresFromTokens(w)
    // first language whose score is >= all others (priority on ties)
    scores.foldRight(lit(LangProfiles.last._1)) { case ((lang, s), els) =>
      when(scores.filter(_._1 != lang).map(_._2)
          .foldLeft(lit(true))((acc, o) => acc && s >= o), lang)
        .otherwise(els)
    }
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Quality score: 0.5·min(1, n_tokens/200) + 0.5·stopword_ratio — the
    * length/stopword shape of C4-style quality filters, deterministic
    * per-row double arithmetic. */
  def qualityScoreFromTokens(w: Column): Column = {
    val nTok = size(w)
    // union-set slot of the shared kernel; -1 on null array = the
    // reference size(filter(...), legacy) composite exactly
    val stop = coalesce(stopCounts(w).getItem(LangProfiles.length), lit(-1))
    lit(0.5) * least(lit(1.0), nTok.cast("double") / 200.0) +
      lit(0.5) * (stop.cast("double") / nTok)
  }

  def qualityScore(text: Column): Column = qualityScoreFromTokens(tokens(text))

  /** BPE-ish token count: runs of letters, runs of digits, or single other
    * non-space chars — the usual pre-tokenizer regex shape. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** ALL-occurrence n-gram hashes (order-preserving, NOT deduped) — the
    * repetition-metric companion to [[shingleHashesFromTokenHashes]];
    * codegen'd [[graft.plans.NgramHashesExpr]], same combine math. */
  def ngramHashes(th: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge.{toCol, toExpr}
    toCol(graft.plans.NgramHashesExpr(toExpr(th), n))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1, the
    * repetition-removal family of quality filters): per document, the
    * fraction of token/2-gram occurrences claimed by the single most
    * frequent gram, and the fraction of 3-gram occurrences belonging to
    * grams that occur more than once. Boilerplate and degenerate
    * (keyboard-mash / template) documents score high and get filtered.
    *
    * Relational 100 TB shape: the token-hash array is computed ONCE (pure
    * map), each gram width explodes into a map-side-combined
    * (doc, gram)-count aggregate, and the per-document reductions ride the
    * same shuffle key — work is O(total tokens), never O(doc²). All
    * metrics are exact integer ratios → bit-deterministic doubles.
    *
    * Input: a frame with `key` and a token-hash array column (from
    * [[tokenHashes]]). Documents with fewer than 3 tokens are dropped
    * (their 3-gram denominator is empty).
    */
  def repetitionMetrics(df: org.apache.spark.sql.DataFrame, key: String,
      thCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(key), col(thCol).as("__th"))
      .filter(size(col("__th")) >= 3)
    def widthMetrics(n: Int, top: String, dup: String) = {
      val grams = base.select(col(key),
        explode(ngramHashes(col("__th"), n)).as("__g"))
      grams.groupBy(col(key), col("__g")).agg(count(lit(1)).as("__c"))
        .groupBy(col(key))
        .agg(
          (max(col("__c")).cast("double") / sum(col("__c"))).as(top),
          (sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L)))
            .cast("double") / sum(col("__c"))).as(dup))
    }
    widthMetrics(1, "top_token_frac", "dup_token_frac")
      .join(widthMetrics(2, "top_2gram_frac", "dup_2gram_frac"), Seq(key))
      .join(widthMetrics(3, "top_3gram_frac", "dup_3gram_frac"), Seq(key))
  }

  /** PII scrubbing: emails, North-American phone shapes, and IPv4
    * addresses replaced with typed placeholder tags — the standard
    * pre-training redaction pass. Patterns stay inside the regex subset
    * Java and RE2 share (no backrefs, no lookaround), so the operator is
    * engine-portable and DuckDB-oracle-checkable. Order matters (emails
    * first: an email never contains a phone/IP match, but scrubbing IPs
    * first could split a host-shaped address) — apply via [[scrubPii]].
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Count of PII matches (pre-scrub), for redaction auditing. */
  def piiMatchCount(text: Column): Column =
    PiiPatterns.map { case (pat, _) =>
      size(regexp_extract_all(text, lit(pat), lit(0)))
    }.reduce(_ + _)

  /** Canonical text normalization — the cleanup pass every corpus gets
    * before dedup/quality gates: C0/DEL control characters (tab, CR, LF,
    * vertical tab included) become spaces, space runs collapse, edges
    * trim. Every regex here is a literal byte class shared verbatim by
    * Java and RE2 regex engines (no `\s`, whose class differs between
    * them), so an independent engine normalizes to the identical string —
    * which is what makes md5-keyed exact dedup over normalized text
    * engine-portable. Case is deliberately untouched: lowercasing is
    * locale-dependent and belongs to the caller's tokenizer. */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "), "  +", " "))
}
