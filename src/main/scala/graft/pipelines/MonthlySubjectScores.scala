package graft.pipelines

import graft.functions.Scalar
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** scores_by_subject_student_month_to_clickhouse — the widest reference
  * pipeline (dags/student_scores_subject/etl_student_scores_subject_month_to_clickhouse.py:111-431):
  * per-(subject, student) score rollups with custom-evaluation weighted
  * aggregation, three dimension joins, grade/percentage derivation, and the
  * wide `student_month_subject_score` record assembly.
  *
  * Faithfully preserved semantics (SURVEY §1.2, §2.5):
  *  - direct/custom averaging DROPS null scores (:199,:243 `is not None`) —
  *    unlike the subject-score pipeline's null→0;
  *  - custom→subject rollup is COE-WEIGHTED, coe null/≤0 → 1 (:293-295);
  *  - maxScore missing → 100, ≤0 → percentage 0 (:208-211,:251-254);
  *  - direct scores win over aggregated per (subject, student) (:275);
  *  - dimension lookups are last-wins dicts (:143-149) → dedup-latest;
  *  - the `description` fields are always null (the Mongo projection
  *    :450-453 never fetches description on scores).
  *
  * Determinism contract where the reference is order-dependent (Python dict /
  * list iteration): "first score" attribution = least (markedAt, scorerId);
  * custom-record lists sort by evaluationId. Documented engine behavior.
  *
  * Plan shape at scale: scores groupBy (evaluationId, studentId) is the one
  * big exchange; every dimension join broadcasts (dims are semi-join-pruned
  * to the score batch, S4/J6); the custom→subject rollup aggregates the
  * already-reduced per-evaluation rows. No driver-side iteration anywhere.
  */
object MonthlySubjectScores {

  /** @param evaluations evaluationId, parentId, type, name, maxScore, coe,
    *                    schoolId, campusId, groupStructureId, structurePath,
    *                    templateId, configGroupId, referenceId, createdAt
    *                    [, attendanceColumn struct(startDate, endDate) —
    *                    optional; the reference's projection drops it so its
    *                    month dates are always null, we use it when present]
    * @param scores      evaluationId, studentId, score, scorerId, markedAt,
    *                    structurePath, idCard
    * @param students    studentId, firstName, lastName, firstNameNative,
    *                    lastNameNative, dob, gender, campusId, idCard
    * @param structureRecords structureRecordId, name, groupStructureId
    * @param subjects    subjectId, name, nameNative, credit, code,
    *                    structureRecordId, coe
    */
  def apply(evaluations: DataFrame, scores: DataFrame, students: DataFrame,
      structureRecords: DataFrame, subjects: DataFrame): DataFrame = {

    val subjEvals = evaluations.filter(col("type") === "subject")
    val monthEvals = evaluations.filter(col("type") === "month")
    val customEvals = evaluations.filter(col("type") === "custom")

    // ---- per-(evaluation, student) score reduction (one big exchange) ----
    // drop-null averaging + least-(markedAt, scorerId) attribution
    val attrs = struct(col("structurePath"), col("scorerId"), col("markedAt"),
      col("idCard"))
    val perEvalStudent = scores
      .groupBy(col("evaluationId"), col("studentId"))
      .agg(
        avg(Scalar.toDoubleOrNull(col("score"))).as("avg_score"),
        count(Scalar.toDoubleOrNull(col("score"))).as("n_parsed"),
        min_by(attrs, struct(coalesce(col("markedAt"), lit("")),
          coalesce(col("scorerId"), lit("")))).as("attrs"))
      .filter(col("n_parsed") > 0) // :244-245 skip when nothing parseable

    // ---- custom records: per-(custom eval, student) graded rollup --------
    val customJoined = perEvalStudent
      .join(
        customEvals.select(
          col("evaluationId"), col("parentId").as("subjectEvaluationId"),
          col("name").as("customName"),
          Scalar.toDoubleOrNull(col("maxScore")).as("customMaxRaw"),
          Scalar.toDoubleOrNull(col("coe")).as("customCoe")),
        Seq("evaluationId"))
      .join(subjEvals.select(col("evaluationId").as("subjectEvaluationId")),
        Seq("subjectEvaluationId")) // :157 parent must be a subject eval
      .withColumn("customMax", coalesce(col("customMaxRaw"), lit(100.0)))
      .withColumn("pct", Scalar.percentage(col("avg_score"), col("customMax")))
      .withColumn("g", Scalar.gradeInfo(col("pct")))

    val customRecord = struct(
      col("evaluationId"), col("customName").as("name"),
      col("avg_score").as("score"), col("customMax").as("maxScore"),
      col("pct").as("percentage"), col("g.grade").as("grade"),
      col("g.gpa").as("gpa"), col("g.meaning").as("meaning"),
      col("customCoe").as("coe"), lit(null).cast("string").as("description"))

    // per-(subject, student): the custom list + its weighted percentage
    val w = when(col("customCoe").isNull || col("customCoe") <= 0, lit(1.0))
      .otherwise(col("customCoe")) // :293-295 fallback
    val customBySubject = customJoined
      .groupBy(col("subjectEvaluationId"), col("studentId"))
      .agg(
        sort_array(collect_list(customRecord)).as("customList"),
        (sum(col("pct") * w) / sum(w)).as("weighted_pct"),
        min_by(col("attrs"), struct(coalesce(col("attrs.markedAt"), lit("")),
          col("evaluationId"))).as("custom_attrs"))

    // ---- direct records ---------------------------------------------------
    val direct = perEvalStudent
      .join(subjEvals.select(col("evaluationId")), Seq("evaluationId"))
      .select(col("evaluationId").as("subjectEvaluationId"), col("studentId"),
        col("avg_score"), col("attrs"))

    // ---- assemble: direct wins; aggregated fills the rest (:273-276) ------
    val subjDim = subjEvals.select(
      col("evaluationId").as("subjectEvaluationId"),
      col("parentId").as("subjectParentId"), col("name").as("subjectName"),
      Scalar.toDoubleOrNull(col("maxScore")).as("subjectMaxRaw"),
      col("schoolId"), col("groupStructureId").as("evalGroupStructureId"),
      col("createdAt").as("subjectCreatedAt"))

    val directScored = direct
      .join(customBySubject, Seq("subjectEvaluationId", "studentId"), "left")
      .join(subjDim, Seq("subjectEvaluationId"))
      .withColumn("subjectMax", coalesce(col("subjectMaxRaw"), lit(100.0)))
      .withColumn("score", col("avg_score"))
      .withColumn("percentage", Scalar.percentage(col("score"), col("subjectMax")))
      .withColumn("scoreSource", lit("direct"))

    val aggregatedScored = customBySubject
      .join(direct.select(col("subjectEvaluationId"), col("studentId")),
        Seq("subjectEvaluationId", "studentId"), "left_anti")
      .join(subjDim, Seq("subjectEvaluationId"))
      .withColumn("subjectMax", coalesce(col("subjectMaxRaw"), lit(100.0)))
      .withColumn("percentage", col("weighted_pct"))
      .withColumn("score",
        when(col("subjectMax") > 0, col("percentage") * col("subjectMax") / 100)
          .otherwise(lit(0.0))) // :309
      .withColumn("attrs", col("custom_attrs"))
      .withColumn("scoreSource", lit("aggregated"))

    val common = Seq("subjectEvaluationId", "studentId", "score", "percentage",
      "scoreSource", "attrs", "customList", "subjectParentId", "subjectName",
      "subjectMax", "schoolId", "evalGroupStructureId", "subjectCreatedAt")
    val scored = directScored.selectExpr(common: _*)
      .unionByName(aggregatedScored.selectExpr(common: _*))
      .withColumn("g", Scalar.gradeInfo(col("percentage")))

    // ---- dimension joins (all broadcast; last-wins dedup :143-149) --------
    val studentDim = graft.operators.Relational.dedupLatest(
      students, Seq("studentId"), Seq(col("studentId"))) // input assumed unique
      .select(col("studentId"), col("firstName").as("studentFirstName"),
        col("lastName").as("studentLastName"),
        col("firstNameNative").as("studentFirstNameNative"),
        col("lastNameNative").as("studentLastNameNative"),
        col("idCard").as("studentIdCard"), col("gender"), col("dob"),
        col("campusId"))
    val structDim = structureRecords.select(
      col("structureRecordId").as("srId"),
      col("name").as("structureRecordName"),
      col("groupStructureId").as("structGroupStructureId"))
    // last-wins per structureRecordId (:148-149): keep greatest subjectId
    val subjectDim = graft.operators.Relational.dedupLatest(
      subjects, Seq("structureRecordId"), Seq(col("subjectId").desc))
      .select(col("structureRecordId").as("srId"),
        col("nameNative").as("subjectNameNative"), col("credit"),
        col("coe"), col("code"))
    val monthDim = {
      val hasAttendance = monthEvals.columns.contains("attendanceColumn")
      val start = if (hasAttendance) col("attendanceColumn.startDate")
        else lit(null).cast("string")
      val end = if (hasAttendance) col("attendanceColumn.endDate")
        else lit(null).cast("string")
      monthEvals.select(col("evaluationId").as("monthEvaluationId"),
        col("name").as("monthName"),
        date_format(Scalar.parseTimestampLoose(start),
          "yyyy-MM-dd HH:mm:ss").as("monthStartDate"),
        date_format(Scalar.parseTimestampLoose(end),
          "yyyy-MM-dd HH:mm:ss").as("monthEndDate"))
    }

    scored
      .withColumn("structureRecordId",
        Scalar.structureRecordIdFromPath(col("attrs.structurePath")))
      .join(broadcast(studentDim), Seq("studentId"), "left")
      .join(broadcast(structDim),
        col("structureRecordId") === col("srId"), "left").drop("srId")
      .join(broadcast(subjectDim),
        col("structureRecordId") === col("srId"), "left").drop("srId")
      .join(broadcast(monthDim),
        col("subjectParentId") === col("monthEvaluationId"), "left")
      .select(
        col("schoolId"), col("campusId"),
        col("structureRecordId"), col("structureRecordName"),
        coalesce(col("evalGroupStructureId"), col("structGroupStructureId"))
          .as("groupStructureId"), // :386 coalesce chain (student leg absent
                                   // from the reference's projection)
        col("attrs.structurePath").as("structurePath"),
        col("studentId"), col("studentFirstName"), col("studentLastName"),
        col("studentFirstNameNative"), col("studentLastNameNative"),
        col("studentIdCard").as("idCard"), col("gender"), col("dob"),
        col("monthEvaluationId"), col("monthName"),
        col("monthStartDate"), col("monthEndDate"),
        col("subjectEvaluationId"), col("subjectName"),
        col("subjectNameNative"), col("subjectMax").as("subjectMaxScore"),
        col("credit"), col("coe"), col("code"),
        col("score"), col("percentage"),
        col("g.grade").as("grade"), col("g.gpa").as("gpa"),
        col("g.meaning").as("meaning"),
        col("scoreSource"),
        col("attrs.scorerId").as("scorerId"),
        date_format(Scalar.parseTimestampLoose(col("attrs.markedAt")),
          "yyyy-MM-dd HH:mm:ss").as("markedAt"),
        lit(null).cast("string").as("description"),
        // size(null) is -1 under legacy sizeOfNull (ANSI off) — guard first
        when(col("customList").isNull, lit(0))
          .otherwise(size(col("customList"))).as("customEvaluationCount"),
        when(col("customList").isNotNull, to_json(col("customList")))
          .as("customEvaluations"),
        date_format(Scalar.parseTimestampLoose(col("subjectCreatedAt")),
          "yyyy-MM-dd HH:mm:ss").as("createdAt"))
  }
}
