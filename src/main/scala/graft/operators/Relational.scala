package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators from the reference inventory (SURVEY §2).
  *
  * Everything is expressed on the DataFrame API so Catalyst keeps full
  * freedom: filters push into scans, small sides broadcast, partial
  * aggregation happens map-side. No operator here ever collects to the
  * driver — they all scale with the cluster.
  */
object Relational {

  /** D1 "latest row per key" — the reference's PG `SELECT DISTINCT ON (k) …
    * ORDER BY k, updatedAt DESC` (dags/guardian/etl_guardian_to_clickhouse.py:35-42,
    * dags/student/etl_students_to_clickhouse.py:37-46).
    *
    * One shuffle on the key; at scale this is the unavoidable exchange, and
    * `row_number` keeps only rank 1 per key without materializing sorts
    * beyond each partition. Callers must pass a total order (append a unique
    * tiebreaker) for reproducible results on ties.
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[dedupLatest]] for a small dimension that a join broadcasts. Ties
    * left by `ordering` are broken by the row's own values, so the pick is
    * total: a replayed row and its original are interchangeable, and any
    * other tie resolves the same way on every run. The dimension is read as
    * one partition — the broadcast collects it whole anyway — and a single
    * partition already satisfies the window, so the dedup runs inside the
    * broadcast's job with no exchange or job of its own.
    */
  def latestDim(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame =
    dedupLatest(df.coalesce(1), keys, ordering :+ struct(df.columns.map(col): _*).asc)

  /** MERGE-INTO upsert semantics as one shuffle: rows from `updates`
    * replace same-key rows in `existing`, new keys insert, untouched keys
    * survive — the warehouse "apply this batch of changes" primitive
    * (ClickHouse ReplacingMergeTree's collapse, Delta MERGE's
    * matched/not-matched arms, minus delete clauses).
    *
    * Built on [[dedupLatest]] with a transient source-priority column, so
    * the whole merge is one hash exchange on the key and a per-partition
    * row_number — no join. `updates` must be key-unique OR callers append
    * `ordering` tiebreakers for reproducible within-updates winners (same
    * contract as dedupLatest). Schemas must match by name.
    */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String],
      ordering: Seq[Column] = Nil): DataFrame =
    dedupLatest(
      existing.withColumn("__pri", lit(0))
        .unionByName(updates.withColumn("__pri", lit(1))),
      keys, col("__pri").desc +: ordering)
      .drop("__pri")

  /** S3/P2 incremental watermark scan — `WHERE updatedAt > '<last_run>'`
    * (dags/student/etl_students_to_clickhouse.py:37-46). The predicate is a
    * plain Column filter so it pushes down into parquet row-group pruning or
    * a JDBC WHERE clause. */
  def incrementalFrom(df: DataFrame, tsCol: String, watermark: java.sql.Timestamp): DataFrame =
    df.filter(col(tsCol) > lit(watermark))

  /** J6/S4 semi-join pushdown — the reference harvests fact-side key sets and
    * issues `WHERE k IN (...)` against the dimension source
    * (dags/student_scores_subject/etl_student_scores_subject_month_to_clickhouse.py:467-511).
    * As a plan this is a LEFT SEMI join; Spark broadcasts whichever side is
    * small, and never materializes the key list on the driver. */
  def semiJoin(dim: DataFrame, fact: DataFrame, dimKey: String, factKey: String): DataFrame =
    dim.join(fact.select(col(factKey).as(dimKey)).distinct(), Seq(dimKey), "left_semi")

  /** §2.4 anti-membership — "keys in A missing from B" (processed_subjects
    * set-difference, dags/student_scores_subject/...py:273-276). */
  def antiJoin(left: DataFrame, right: DataFrame, leftKey: String, rightKey: String): DataFrame =
    left.join(right.select(col(rightKey).as(leftKey)).distinct(), Seq(leftKey), "left_anti")

  /** §2.8 top-k: total order + limit. Spark plans this as TakeOrderedAndProject —
    * a per-partition bounded heap plus a k-row driver merge, no global sort. */
  def topK(df: DataFrame, k: Int, ordering: Seq[Column]): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  /** A7 max-by — "row attribute at the greatest ordering value" (scorer of
    * the latest markedAt, dags/student_transcript/...py:297-301). Single-pass
    * aggregation; `orderCol` must be unique within the group for determinism.
    */
  def latestBy(valueCol: Column, orderCol: Column): Column = max_by(valueCol, orderCol)

  /** Majority vote (mode) per key with a DETERMINISTIC lexicographic
    * tie-break — the weak-supervision consolidation step: many noisy votes
    * per item collapse to one label. One hash aggregate to the
    * (key, label) vote table — bounded by key × labels, never rows — then
    * one key-partitioned window carrying both the winner rank and the
    * total vote count in a single exchange.
    *
    * @return keyCols + (labelCol, votes, n_total), one row per key */
  def majorityLabel(df: DataFrame, keyCols: Seq[String],
      labelCol: String): DataFrame = {
    val k = keyCols.map(col)
    val counts = df.groupBy(k :+ col(labelCol): _*)
      .agg(count(lit(1)).as("votes"))
    val part = Window.partitionBy(k: _*)
    counts
      .withColumn("__rk", row_number().over(
        part.orderBy(col("votes").desc, col(labelCol).asc)))
      .withColumn("n_total", sum(col("votes")).over(part))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** As-of join — for each left row, the single right row with the
    * greatest `rightTs` ≤/< the left row's `leftTs` within the same keys
    * (the time-series/attribution join Spark has no native operator for;
    * DuckDB/kdb call it ASOF JOIN).
    *
    * Distributed shape: tag both sides, UNION, and run ONE window pass —
    * a single shuffle on the keys plus a per-partition sort by
    * (ts, side), with `last(payload, ignoreNulls)` carrying each right
    * row's payload forward to the left rows that follow it in time. No
    * range join, no per-row probe, no broadcast requirement: both sides
    * stream, state per key is one row — the 100 TB shape. (A range
    * equi-join would be O(|L|·|R|) per key; sort-merge-style carry is
    * O(|L|+|R| log) and AQE-skew-splittable.)
    *
    * `strict` selects `<` (right row at exactly leftTs excluded — the
    * attribution default) vs `≤`. Right payload column names must not
    * collide with left columns. Unmatched left rows keep null payloads
    * (left-outer semantics; filter payload non-null for inner).
    * Determinism: callers ensure (keys, rightTs) is unique on the right —
    * equal-ts right rows make "the" as-of row ill-defined in any engine.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, rightPayload: Seq[String],
      strict: Boolean = true): DataFrame = {
    // at equal ts, the left row must sort BEFORE the right row under
    // strict (<) so the window cannot see it, and AFTER under ≤
    val (leftTag, rightTag) = if (strict) (0, 1) else (1, 0)
    val lTagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(leftTag))
    val rTagged = right
      .select((keys.map(col) :+ col(rightTs).as("__ts")) ++ rightPayload.map(col): _*)
      .withColumn("__side", lit(rightTag))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the payload carries as ONE struct (null on left rows, so ignoreNulls
    // skips them): per-column carries would backfill a NULL field of the
    // as-of row from an OLDER right row — a chimera of two right rows
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
      .withColumn("__payload", when(col("__side") === rightTag,
        struct(rightPayload.map(col): _*)))
    val filled = unioned
      .withColumn("__payload", last(col("__payload"), ignoreNulls = true).over(w))
    rightPayload.foldLeft(filled)(
        (df, c) => df.withColumn(c, col(s"__payload.$c")))
      .filter(col("__side") === leftTag)
      .drop("__ts", "__side", "__payload")
  }

  /** Range (interval) join — points matched to intervals
    * `[loCol, hiCol)` sharing `keys` — via BIN BUCKETING: each interval
    * registers under every `binWidth`-sized bin it overlaps, each point
    * under its own bin, and the pair meets in an ordinary shuffled
    * equi-join on (keys, bin) with the exact predicate re-checked after.
    * Without this, Catalyst plans an inequality join as
    * BroadcastNestedLoopJoin — O(|points|·|intervals|) per key and a
    * broadcast requirement on a whole side; bucketing makes it one
    * shuffle, with interval replication bounded by
    * (interval length / binWidth) + 1. Pick binWidth near the typical
    * interval length so replication stays ~2× (bin math is exact integer
    * `div` — no double rounding at epoch-scale magnitudes).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
      ptCol: String, loCol: String, hiCol: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth " +
      "(div by 0 would null every bin and silently match nothing)")
    val binned = intervals.withColumn("__bin",
      explode(sequence(expr(s"`$loCol` div ${binWidth}L"),
        expr(s"`$hiCol` div ${binWidth}L"))))
    val pts = points.withColumn("__bin", expr(s"`$ptCol` div ${binWidth}L"))
    pts.join(binned, keys :+ "__bin")
      .filter(col(ptCol) >= col(loCol) && col(ptCol) < col(hiCol))
      .drop("__bin")
  }

  /** Skew-resistant equi-join: salt the (large, skewed) fact side into
    * `saltBuckets` sub-keys and replicate the dimension side across every
    * bucket, so one hot key spreads over `saltBuckets` tasks instead of
    * melting a single reducer.
    *
    * AQE's runtime skew-join handling (on by default in
    * [[graft.core.Sessions]]) covers sort-merge joins; explicit salting is
    * the deterministic fallback for aggregation-feeding joins and engines
    * where AQE cannot split (e.g. a following groupBy on the join key —
    * salt both the join AND the first-level aggregate, then de-salt with a
    * second small aggregate).
    *
    * @param fact the skewed side; gains a transient `__salt` column
    * @param dim  the replicated side (size × saltBuckets — keep it small)
    */
  def skewJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int = 16): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets))
        .cast("int"))
    val replicated = dim
      .withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
