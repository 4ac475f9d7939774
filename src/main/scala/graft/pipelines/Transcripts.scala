package graft.pipelines

import graft.functions.Scalar
import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** student_transcript_etl — the nested-output pipeline
  * (dags/student_transcript/etl_student_transcript_to_clickhouse.py:177-457):
  * per-(student, structureRecord) transcript records carrying an
  * Array(Struct) of 18-field subject details plus credit-weighted totals,
  * matching `student_transcript_staging`
  * (migrations/2025_02_25_15_30_create_transcript_table.sql:2-64).
  *
  * Faithfully preserved semantics — note where they DIFFER from the month
  * pipeline (SURVEY §1.2 risk register):
  *  - averaging filters null raw scores then coerces unparseable→0
  *    (:287-288) — the third null-handling variant;
  *  - custom→subject rollup is an UNWEIGHTED mean of custom percentages
  *    (:258) — no coe weighting;
  *  - direct scores beat custom-derived scores per (subject, student)
  *    (:280-295);
  *  - subject lookup is FIRST-match per structureRecordId (:325-328), vs
  *    the month pipeline's last-wins dict;
  *  - the 2-level parent walk is type-dispatched: subject→month→semester
  *    or subject→semester directly (:343-366), names default to "".
  *
  * Determinism contract where the reference depends on iteration order:
  * score attribution = least (markedAt, scorerId); the custom-path marker =
  * greatest markedAt; per-student scorer/markedAt = the greatest
  * subjectEvaluationId's; subjectDetails sorts by subjectEvaluationId.
  *
  * Plan shape: scores reduce per (evaluationId, studentId) with a map-side
  * partial aggregate and its one exchange, then one repartition by
  * studentId. Direct and custom rows meet in ONE aggregation per (subject,
  * student), the (student, structureRecord) assembly groups by a superset
  * of studentId, and the per-student scorer is a window over studentId, so
  * no other exchange touches score-derived rows and no intermediate is
  * planned twice. Evaluation and dimension lookups broadcast; the nested
  * array builds via collect_list inside the group — never on the driver.
  * PipelinesSpec pins the exchanges, the one scan of scores and the job
  * count.
  */
object Transcripts {

  def apply(evaluations: DataFrame, scores: DataFrame, students: DataFrame,
      structureRecords: DataFrame, subjects: DataFrame): DataFrame = {

    // ---- per-(evaluation, student) reduction ------------------------------
    // filter null raw, parse, coerce unparseable→0 (:287-288)
    val attrs = struct(col("structurePath"), col("scorerId"), col("markedAt"))
    val perEvalStudent = scores
      .groupBy(col("evaluationId"), col("studentId"))
      .agg(
        avg(when(col("score").isNotNull,
          coalesce(Scalar.toDoubleOrNull(col("score")), lit(0.0)))).as("avg0"),
        count(col("score")).as("n_nonnull"),
        min_by(attrs, struct(coalesce(col("markedAt"), lit("")),
          coalesce(col("scorerId"), lit("")))).as("attrs"))
      .filter(col("n_nonnull") > 0)

    // ---- route each row to its subject: a subject evaluation's own scores
    // are direct, a custom's roll up to its parent (:209, :226-268) --------
    val routes = evaluations.filter(col("type").isin("subject", "custom"))
      .select(col("evaluationId"),
        when(col("type") === "subject", col("evaluationId"))
          .otherwise(col("parentId")).as("subjectEvaluationId"),
        (col("type") === "subject").as("isDirect"),
        Scalar.toDoubleOrNull(col("maxScore")).as("customMaxRaw"))
    val custom = !col("isDirect")

    // ---- direct-beats-custom resolution, one aggregation (:258, :280-305):
    // every later aggregation and window is keyed by a superset of
    // studentId, so the one repartition here is the last score exchange
    val bySubject = perEvalStudent
      .join(broadcast(routes), Seq("evaluationId"))
      .filter(col("subjectEvaluationId").isNotNull)
      .repartition(col("studentId"))
      .groupBy(col("subjectEvaluationId"), col("studentId"))
      .agg(
        max(col("isDirect")).as("hasDirect"),
        max(when(col("isDirect"), col("avg0"))).as("direct_score"),
        max(when(col("isDirect"), col("attrs"))).as("direct_attrs"),
        avg(when(custom, Scalar.percentage(col("avg0"), col("customMaxRaw"))))
          .as("avg_custom_pct"), // :258 unweighted
        max_by(col("attrs"), when(custom,
          struct(coalesce(col("attrs.markedAt"), lit("")), col("evaluationId"))))
          .as("custom_attrs")) // :297-301 latest marker

    // the join also drops customs whose parent is not a subject (:209)
    val subjDim = evaluations.filter(col("type") === "subject").select(
      col("evaluationId").as("subjectEvaluationId"),
      col("parentId").as("subjectParentId"), col("name").as("subjectName"),
      Scalar.toDoubleOrNull(col("maxScore")).as("subjectMaxRaw"),
      col("schoolId"))

    val scored = bySubject
      .join(broadcast(subjDim), Seq("subjectEvaluationId"))
      .withColumn("subjectMax", coalesce(col("subjectMaxRaw"), lit(100.0)))
      // :265 percentage→score conversion has NO >0 guard (missing max → 100)
      .withColumn("final_score", when(col("hasDirect"), col("direct_score"))
        .otherwise(col("avg_custom_pct") * col("subjectMax") / 100))
      .withColumn("attrs", when(col("hasDirect"), col("direct_attrs"))
        .otherwise(col("custom_attrs")))
      .withColumn("percentage",
        Scalar.percentage(col("final_score"), col("subjectMax")))
      .withColumn("g", Scalar.gradeInfo(col("percentage")))
      .withColumn("structureRecordId",
        Scalar.structureRecordIdFromPath(col("attrs.structurePath")))

    // ---- type-dispatched 2-level parent walk (:343-366) -------------------
    val parentDim = evaluations.select(col("evaluationId").as("pid"),
      col("name").as("pname"), col("type").as("ptype"),
      col("parentId").as("ppid"))
    val grandDim = evaluations.select(col("evaluationId").as("gid"),
      col("name").as("gname"), col("type").as("gtype"))

    val withParents = scored
      .join(broadcast(parentDim),
        col("subjectParentId") === col("pid") && col("subjectParentId") =!= "na",
        "left")
      .join(broadcast(grandDim),
        col("ppid") === col("gid") && col("ppid") =!= "na" &&
          col("ptype") === "month", "left")
      .withColumn("subjectParentName", coalesce(col("pname"), lit("")))
      .withColumn("subjectParentType", coalesce(col("ptype"), lit("")))
      .withColumn("monthName",
        when(col("ptype") === "month", col("pname")).otherwise(lit("")))
      .withColumn("monthEvaluationId",
        when(col("ptype") === "month", col("pid")))
      .withColumn("semesterName", coalesce(
        when(col("ptype") === "month" && col("gtype") === "semester", col("gname")),
        when(col("ptype") === "semester", col("pname")),
        lit("")))
      .withColumn("semesterEvaluationId", coalesce(
        when(col("ptype") === "month" && col("gtype") === "semester", col("gid")),
        when(col("ptype") === "semester", col("pid"))))

    // ---- first-match subject info per structureRecordId (:325-328), each
    // subject at its latest version -----------------------------------------
    val subjectDim = Relational.latestDim(
      subjects.select(col("structureRecordId").as("srId"), col("subjectId"),
        col("updatedAt"), col("nameNative").as("subjectNameNative"),
        col("code"), col("credit")),
      Seq("srId"), Seq(col("subjectId").asc, col("updatedAt").desc))
      .drop("subjectId", "updatedAt")

    val details = withParents
      .join(broadcast(subjectDim), col("structureRecordId") === col("srId"), "left")
      .withColumn("credit2",
        coalesce(col("credit").cast("double"), lit(0.0))) // :374 default 0
      .withColumn("detail", struct(
        col("subjectEvaluationId"),
        coalesce(col("subjectName"), lit("")).as("subjectName"),
        coalesce(col("subjectNameNative"), lit("")).as("subjectNameNative"),
        coalesce(col("code"), lit("")).as("code"),
        col("credit2").as("credit"),
        col("final_score").as("score"),
        col("subjectMaxRaw").as("maxScore"),
        col("percentage"),
        col("g.grade").as("grade"),
        col("g.meaning").as("meaning"),
        col("g.gpa").as("gpa"),
        col("subjectParentName"),
        col("pid").as("subjectParentEvaluationId"),
        col("subjectParentType"),
        col("monthName"), col("monthEvaluationId"),
        col("semesterName"), col("semesterEvaluationId")))

    // ---- transcript assembly (:399-452) -----------------------------------
    // the sources carry every version of a row, replays included: each
    // lookup keeps the latest per key
    val studentDim = Relational.latestDim(
      students.select(col("studentId"), col("updatedAt"),
        col("firstName").as("studentFirstName"),
        col("lastName").as("studentLastName"),
        col("firstNameNative").as("studentFirstNameNative"),
        col("lastNameNative").as("studentLastNameNative"),
        col("idCard"), col("gender"), col("dob"), col("campusId")),
      Seq("studentId"), Seq(col("updatedAt").desc)).drop("updatedAt")
    val structDim = Relational.latestDim(
      structureRecords.select(col("structureRecordId").as("srId2"),
        col("updatedAt"), col("name").as("structureRecordName"),
        col("groupStructureId")),
      Seq("srId2"), Seq(col("updatedAt").desc)).drop("updatedAt")

    // per-student scorer/markedAt = the greatest subjectEvaluationId's
    // (:331-332, last-write-wins): each record's latest, then the student's
    // latest over a window, which the studentId partitioning already serves
    val byStudent = Window.partitionBy(col("studentId"))
    details
      .groupBy(col("studentId"), col("structureRecordId"))
      .agg(
        sort_array(collect_list(col("detail"))).as("subjectDetails"),
        max(col("subjectEvaluationId")).as("lastEvaluationId"),
        max_by(struct(col("attrs.scorerId"), col("attrs.markedAt")),
          col("subjectEvaluationId")).as("lastScore"),
        min_by(col("schoolId"), col("subjectEvaluationId")).as("schoolId"), // :417
        sum(col("credit2")).as("totalCredits"),
        (sum(col("credit2") * col("g.gpa")) / sum(col("credit2"))).as("gpaRatio"),
        count(lit(1)).as("subjectCount"))
      .withColumn("totalGPA",
        when(col("totalCredits") > 0, col("gpaRatio")).otherwise(lit(0.0)))
      .withColumn("scorer",
        max_by(col("lastScore"), col("lastEvaluationId")).over(byStudent))
      .drop("gpaRatio")
      .join(broadcast(studentDim), Seq("studentId"), "left")
      .join(broadcast(structDim),
        col("structureRecordId") === col("srId2"), "left").drop("srId2")
      .select(
        col("schoolId"), col("campusId"),
        col("structureRecordId"), col("structureRecordName"),
        col("groupStructureId"),
        concat(lit("#"), col("structureRecordId")).as("structurePath"), // :424
        col("studentId"), col("studentFirstName"), col("studentLastName"),
        col("studentFirstNameNative"), col("studentLastNameNative"),
        col("idCard"), col("gender"), col("dob"),
        col("subjectDetails"),
        col("totalCredits"), col("totalGPA"), col("subjectCount"),
        col("scorer.scorerId").as("scorerId"),
        date_format(Scalar.parseTimestampLoose(col("scorer.markedAt")),
          "yyyy-MM-dd HH:mm:ss").as("markedAt"),
        date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss").as("createdAt"))
  }
}
