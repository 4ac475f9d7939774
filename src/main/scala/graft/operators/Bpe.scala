package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge training (Sennrich et al. 2016) —
  * the tokenizer-TRAINING step of an LLM data pipeline (token counting and
  * BPE-ish segmentation live in [[graft.functions.Text]]; this learns the
  * merge table those tokenizers consume).
  *
  * The classic formulation never touches the corpus after one pass: merges
  * are learned over the WORD-FREQUENCY table (vocabulary-sized, corpus
  * frequencies as weights). Each round is (a) one map-side-combinable
  * aggregate over adjacent piece pairs weighted by word frequency, (b) a
  * 1-row argmax collect (the model-broadcast pattern — the only driver
  * data is the single winning pair), and (c) a pure-map re-segmentation of
  * the piece arrays via a left-to-right greedy fold (`aggregate` higher-
  * order function — codegen-friendly, no UDF). State is lineage-truncated
  * per round by [[graft.core.Fixpoint]].
  *
  * Determinism: ties on pair frequency break lexicographically, so the
  * learned merge table is a pure function of the word-frequency table.
  *
  * Oracle-checked since round 4 (q111): the greedy fold itself needs an
  * array-typed accumulator `list_reduce` cannot express, but its merge
  * DECISIONS have a set-based equivalent — within each maximal run of
  * consecutive pair matches, merge at alternate positions from the run
  * start (runs longer than 1 require left = right; a merged token l+r can
  * never re-trigger l in the same round since r is nonempty) — so the
  * DuckDB mirror unrolls pair-count → argmax → island-parity
  * re-segmentation CTEs per round. BpeSpec additionally pins the loop
  * against an independent in-memory reference (tie-breaks, "aaa" greed,
  * early stop, partition invariance).
  */
object Bpe {

  /** One learned rule: merge adjacent (left, right) into left+right. */
  final case class Merge(rank: Int, left: String, right: String, pairFreq: Long)

  /** One greedy left-to-right merge application ("aaa" under (a,a) becomes
    * ["aa","a"], never ["a","aa"]) — the standard BPE apply, shared by
    * [[train]]'s per-round re-segmentation and [[segment]]. */
  private def applyMerge(pieces: org.apache.spark.sql.Column, l: String,
      r: String): org.apache.spark.sql.Column =
    aggregate(pieces, array().cast("array<string>"),
      (out, x) => when(size(out) > 0
          && element_at(out, -1) === lit(l) && x === lit(r),
        concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
        .otherwise(concat(out, array(x))))

  /** Tokenizer APPLY: segment each word under an already-learned merge
    * table — the step that actually touches the corpus vocabulary in
    * production (train once, segment everywhere). Pure map per rule, in
    * learning order, no shuffle at all: the plan is `|rules|` chained
    * projections over the vocabulary table, broadcast-free because the
    * rules are literals baked into the expressions.
    *
    * @param words any table with a `word` string column (other columns
    *              pass through)
    * @return input columns + `pieces: array<string>` */
  def segment(words: DataFrame, rules: Seq[Merge]): DataFrame = {
    var df = words.withColumn("pieces",
      filter(split(col("word"), ""), x => x =!= lit("")))
    rules.sortBy(_.rank).foreach { m =>
      df = df.withColumn("pieces", applyMerge(col("pieces"), m.left, m.right))
    }
    df
  }

  /** Learn `nMerges` merge rules from a word-frequency table.
    *
    * @param words (word: string, freq: long) — aggregate the corpus to
    *              this shape first (vocabulary-sized by Zipf's law)
    * @return rules in learning order; may be shorter than `nMerges` if
    *         every word collapses to a single piece first */
  def train(words: DataFrame, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, s"train needs nMerges >= 1, got $nMerges")
    val rules = scala.collection.mutable.ArrayBuffer.empty[Merge]
    val pieces = graft.core.Fixpoint("Bpe.train", nMerges,
        graft.core.Fixpoint.ReturnState, readsStateOnce = false, inputs = Nil)(
        _ => words.select(col("freq"),
          filter(split(col("word"), ""), x => x =!= lit("")).as("pieces"))) {
        (pieces, r) =>
      val top = pieces
        .select(col("freq"), explode(expr(
          // the size guard matters: sequence(1, 0) counts DOWN in Spark,
          // so an unguarded single-piece word would probe index 0
          """IF(size(pieces) < 2,
            |   CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>),
            |   transform(sequence(1, size(pieces) - 1),
            |     i -> struct(element_at(pieces, i) AS l,
            |                 element_at(pieces, CAST(i + 1 AS INT)) AS r)))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) pieces // nothing left to merge: converged
      else {
        val (left, right) = (top(0).getString(0), top(0).getString(1))
        rules += Merge(r.n, left, right, top(0).getLong(2))
        pieces.select(col("freq"), applyMerge(col("pieces"), left, right).as("pieces"))
      }
    }
    // the RESULT is `rules`: hand the vocabulary-sized last table back
    graft.core.RoundCheckpoints.releasePersisted(pieces)
    rules.toSeq
  }
}
