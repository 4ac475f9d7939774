package graft.pipelines

import graft.functions.Scalar
import graft.operators.Relational
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
  * Plan shape: scores reduce per (evaluationId, studentId) with a map-side
  * partial aggregate and its one exchange, then one repartition by
  * studentId; the direct score, the custom list and the weighted custom
  * percentage come out of ONE aggregation per (subject, student), keyed by
  * a superset of studentId, so no other exchange touches score-derived rows
  * and no intermediate is planned twice. Every lookup broadcasts. No
  * driver-side iteration anywhere. PipelinesSpec pins the exchanges, the
  * one scan of scores and the job count.
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
    *                    lastNameNative, dob, gender, campusId, idCard,
    *                    updatedAt
    * @param structureRecords structureRecordId, name, groupStructureId,
    *                    updatedAt
    * @param subjects    subjectId, name, nameNative, credit, code,
    *                    structureRecordId, coe, updatedAt
    */
  def apply(evaluations: DataFrame, scores: DataFrame, students: DataFrame,
      structureRecords: DataFrame, subjects: DataFrame): DataFrame = {

    // ---- per-(evaluation, student) score reduction ------------------------
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

    // ---- route each row to its subject: a subject evaluation's own scores
    // are direct, a custom's roll up to its parent (:157) -------------------
    val routes = evaluations.filter(col("type").isin("subject", "custom"))
      .select(col("evaluationId"),
        when(col("type") === "subject", col("evaluationId"))
          .otherwise(col("parentId")).as("subjectEvaluationId"),
        (col("type") === "subject").as("isDirect"),
        col("name").as("customName"),
        Scalar.toDoubleOrNull(col("maxScore")).as("customMaxRaw"),
        Scalar.toDoubleOrNull(col("coe")).as("customCoe"))
    val custom = !col("isDirect")

    // a custom row's graded record
    val customMax = coalesce(col("customMaxRaw"), lit(100.0))
    val pct = Scalar.percentage(col("avg_score"), customMax)
    val g = Scalar.gradeInfo(pct)
    val customRecord = struct(
      col("evaluationId"), col("customName").as("name"),
      col("avg_score").as("score"), customMax.as("maxScore"),
      pct.as("percentage"), g("grade").as("grade"),
      g("gpa").as("gpa"), g("meaning").as("meaning"),
      col("customCoe").as("coe"), lit(null).cast("string").as("description"))
    val w = when(col("customCoe").isNull || col("customCoe") <= 0, lit(1.0))
      .otherwise(col("customCoe")) // :293-295 fallback

    // ---- per-(subject, student): the direct score, the custom list and its
    // weighted percentage, one aggregation. Every later operator is keyed by
    // a superset of studentId, so the one repartition here is the last
    // score exchange.
    val bySubject = perEvalStudent
      .join(broadcast(routes), Seq("evaluationId"))
      .filter(col("subjectEvaluationId").isNotNull)
      .repartition(col("studentId"))
      .groupBy(col("subjectEvaluationId"), col("studentId"))
      .agg(
        max(col("isDirect")).as("hasDirect"),
        max(when(col("isDirect"), col("avg_score"))).as("direct_score"),
        max(when(col("isDirect"), col("attrs"))).as("direct_attrs"),
        sort_array(collect_list(when(custom, customRecord))).as("customs"),
        (sum(when(custom, pct * w)) / sum(when(custom, w))).as("weighted_pct"),
        min_by(col("attrs"), when(custom, struct(
          coalesce(col("attrs.markedAt"), lit("")), col("evaluationId"))))
          .as("custom_attrs"))

    // ---- assemble: direct wins; aggregated fills the rest (:273-276) ------
    // the join also drops customs whose parent is not a subject (:157)
    val subjDim = evaluations.filter(col("type") === "subject").select(
      col("evaluationId").as("subjectEvaluationId"),
      col("parentId").as("subjectParentId"), col("name").as("subjectName"),
      Scalar.toDoubleOrNull(col("maxScore")).as("subjectMaxRaw"),
      col("schoolId"), col("groupStructureId").as("evalGroupStructureId"),
      col("createdAt").as("subjectCreatedAt"))

    val scored = bySubject
      .join(broadcast(subjDim), Seq("subjectEvaluationId"))
      .withColumn("subjectMax", coalesce(col("subjectMaxRaw"), lit(100.0)))
      .withColumn("percentage", when(col("hasDirect"),
        Scalar.percentage(col("direct_score"), col("subjectMax")))
        .otherwise(col("weighted_pct")))
      .withColumn("score", when(col("hasDirect"), col("direct_score"))
        .when(col("subjectMax") > 0, col("percentage") * col("subjectMax") / 100)
        .otherwise(lit(0.0))) // :309
      .withColumn("scoreSource", when(col("hasDirect"), lit("direct"))
        .otherwise(lit("aggregated")))
      .withColumn("attrs", when(col("hasDirect"), col("direct_attrs"))
        .otherwise(col("custom_attrs")))
      .withColumn("customList", when(size(col("customs")) > 0, col("customs")))
      .withColumn("g", Scalar.gradeInfo(col("percentage")))

    // ---- dimension joins (all broadcast; last-wins dicts :143-149). The
    // sources carry every version of a row, replays included: each lookup
    // keeps the latest per key ----------------------------------------------
    val studentDim = Relational.latestDim(
      students.select(col("studentId"), col("updatedAt"),
        col("firstName").as("studentFirstName"),
        col("lastName").as("studentLastName"),
        col("firstNameNative").as("studentFirstNameNative"),
        col("lastNameNative").as("studentLastNameNative"),
        col("idCard").as("studentIdCard"), col("gender"), col("dob"),
        col("campusId")),
      Seq("studentId"), Seq(col("updatedAt").desc)).drop("updatedAt")
    val structDim = Relational.latestDim(
      structureRecords.select(col("structureRecordId").as("srId"),
        col("updatedAt"), col("name").as("structureRecordName"),
        col("groupStructureId").as("structGroupStructureId")),
      Seq("srId"), Seq(col("updatedAt").desc)).drop("updatedAt")
    // last-wins per structureRecordId (:148-149): greatest subjectId, at its
    // latest version
    val subjectDim = Relational.latestDim(
      subjects.select(col("structureRecordId").as("srId"), col("subjectId"),
        col("updatedAt"), col("nameNative").as("subjectNameNative"),
        col("credit"), col("coe"), col("code")),
      Seq("srId"), Seq(col("subjectId").desc, col("updatedAt").desc))
      .drop("subjectId", "updatedAt")
    val monthDim = {
      val monthEvals = evaluations.filter(col("type") === "month")
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
