package graft.pipelines

import graft.functions.Scalar
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** scores_by_subject_to_clickhouse
  * (dags/score/etl_scores_by_subject_to_clickhouse.py:48-106).
  *
  * The reference's `calculate_scores_recursively` looks recursive but its
  * child filter checks `type == 'Subject'` (capitalized, :72) while every
  * evaluation's type is lowercase — so the recursion NEVER descends in
  * practice: a subject evaluation WITH children yields None (dropped, :74-76)
  * and only childless subject evaluations emit, averaging their own raw
  * scores with None coerced to 0 (:80-81). We reproduce that observable
  * behavior — leaf-only emission — rather than the dead code path (SURVEY
  * §2.3 P3: preserve behavior, not the bug). The general bounded-depth
  * rollup lives in [[graft.operators.TreeRollup]] for callers who want the
  * evidently-intended semantics.
  *
  * Plan shape: one broadcast anti-join against the evaluations that have a
  * child (its build side is not deduplicated: an anti join only tests
  * membership, and a distinct would cost an exchange), one
  * groupBy(evaluationId) over scores with map-side partial aggregation, and
  * one broadcast join of that per-evaluation aggregate onto the leaf
  * subjects. At 100 TB of scores the only exchange is the score
  * aggregation — the minimum for this computation.
  */
object SubjectScores {

  /** @param evaluations evaluationId, parentId, type, schoolId, campusId,
    *                    groupStructureId, structurePath, maxScore,
    *                    referenceId, templateId, configGroupId, createdAt
    * @param scores      evaluationId, studentId, score (string/double),
    *                    scorerId, markedAt
    */
  def apply(evaluations: DataFrame, scores: DataFrame): DataFrame = {
    // parents that have at least one child (child linkage excludes 'na')
    val parentsWithChildren = evaluations
      .filter(col("parentId").isNotNull && col("parentId") =!= "na")
      .select(col("parentId").as("evaluationId"))

    val leafSubjects = evaluations
      .filter(col("type") === "subject")
      .join(broadcast(parentsWithChildren), Seq("evaluationId"), "left_anti")

    // mean with None→0 coercion (:80): unparseable/missing scores count as
    // zeros in BOTH numerator and denominator
    val avgScores = scores
      .groupBy(col("evaluationId"))
      .agg(avg(coalesce(Scalar.toDoubleOrNull(col("score")), lit(0.0))).as("score"))

    leafSubjects
      .join(avgScores, Seq("evaluationId")) // inner: no scores → no row (:81 None)
      .select(
        col("schoolId"), col("campusId"), col("groupStructureId"),
        col("structurePath"), col("parentId"), col("evaluationId"),
        col("score"), col("maxScore"),
        col("referenceId").as("subjectId"),
        col("templateId"), col("configGroupId"), col("createdAt"))
  }
}
