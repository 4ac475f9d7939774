package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The warehouse schema catalog: every reference mart table declared up
  * front as a `StructType` plus its physical-layout metadata — the Spark
  * rendering of the ClickHouse DDL under `apps/clickhouse/migrations/`
  * (type mapping per SURVEY §1.2: UUID→String, Int8→Byte, Float32→Float,
  * UInt32→Long, Decimal kept, DateTime→Timestamp, Bool→Boolean).
  *
  * `PARTITION BY` → parquet partition columns (multi-tenant pruning),
  * `ORDER BY` → within-partition sort (min/max-stat range scans); both are
  * applied by [[graft.sources.Sinks.writePartitioned]]. `DEFAULT` clauses
  * become coalesce-at-sink expressions via [[Schemas.conform]].
  */
object Schemas {

  final case class TableSpec(
      name: String,
      schema: StructType,
      partitionBy: Seq[String],
      orderBy: Seq[String],
      defaults: Map[String, Column] = Map.empty) {

    /** Align a DataFrame to this spec: apply DEFAULT fallbacks, cast every
      * column to the declared type, project in declared order. Missing
      * nullable columns materialize as nulls; missing non-null columns
      * without defaults fail analysis — schema drift surfaces at plan time,
      * not at read time. */
    def conform(df: DataFrame): DataFrame = {
      val cols = schema.fields.map { f =>
        val base =
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null)
        val withDefault = defaults.get(f.name)
          .map(d => coalesce(base, d)).getOrElse(base)
        withDefault.cast(f.dataType).as(f.name)
      }
      df.select(cols.toSeq: _*)
    }
  }

  private def f(n: String, t: DataType, nullable: Boolean = false) =
    StructField(n, t, nullable)
  private val S = StringType
  private val TS = TimestampType

  /** 2024_12_03_17_41_create_subject_table.sql */
  val subject: TableSpec = TableSpec("subject", StructType(Seq(
    f("schoolId", S), f("campusId", S, true), f("groupStructureId", S, true),
    f("structureRecordId", S, true), f("subjectId", S),
    f("curriculumId", S, true), f("name", S), f("nameNative", S, true),
    f("description", S, true), f("credit", FloatType), f("code", S, true),
    f("practiceHour", ByteType), f("theoryHour", ByteType),
    f("fieldHour", ByteType), f("totalHour", ByteType), f("photo", S, true),
    f("createdAt", TS), f("updatedAt", TS), f("archiveStatus", ByteType),
    f("lmsCourseId", S, true), f("teachers", S, true))),
    partitionBy = Seq("schoolId"), orderBy = Seq("schoolId", "subjectId"),
    defaults = Map("credit" -> lit(1.0f), "practiceHour" -> lit(0),
      "theoryHour" -> lit(0), "fieldHour" -> lit(0), "totalHour" -> lit(0),
      "archiveStatus" -> lit(0)))

  /** 2024_12_13_15_00_create_applicant_table.sql */
  val applicant: TableSpec = TableSpec("applicant", StructType(Seq(
    f("applicantId", S), f("userKey", S, true), f("idCard", S, true),
    f("status", S), f("enrollToSubject", S), f("enrollToDetail", S),
    f("lastProfile", S), f("applicantStatus", S), f("source", S, true),
    f("admissionFlow", S), f("confirmTarget", S, true),
    f("waitApplicantConfirm", S, true), f("updatedAt", TS), f("createdAt", TS),
    f("toNotifyApplicant", BooleanType), f("schoolId", S),
    f("userId", S, true), f("enrollToId", S))),
    partitionBy = Seq("schoolId"), orderBy = Seq("schoolId", "applicantId"),
    defaults = Map("status" -> lit("pending"),
      "applicantStatus" -> lit("pending"), "admissionFlow" -> lit("default"),
      "toNotifyApplicant" -> lit(false)))

  /** 2025_02_18_4_30_create_materialized_teacher_postgres_table.sql */
  val teacher: TableSpec = TableSpec("teacher", StructType(Seq(
    f("teacherId", IntegerType), f("firstName", S), f("lastName", S),
    f("firstNameNative", S, true), f("lastNameNative", S, true),
    f("idCard", S, true), f("gender", S, true), f("email", S, true),
    f("phone", S, true), f("position", S, true), f("createdAt", TS),
    f("updatedAt", TS), f("department", S, true),
    f("archiveStatus", ByteType), f("schoolId", S), f("campusId", S),
    f("groupStructureId", S), f("structureRecordId", S), f("subjectId", S),
    f("employeeId", S))),
    partitionBy = Seq("schoolId"), orderBy = Seq("schoolId", "teacherId"),
    defaults = Map("archiveStatus" -> lit(0)))

  /** 2025_02_19_9_37_create_guardian_postgres_table.sql */
  val guardian: TableSpec = TableSpec("guardian", StructType(Seq(
    f("guardianId", S), f("schoolId", S), f("firstName", S), f("lastName", S),
    f("firstNameNative", S, true), f("lastNameNative", S, true),
    f("gender", S, true), f("dob", DateType, true), f("phone", S, true),
    f("email", S, true), f("address", S, true), f("photo", S, true),
    f("createdAt", TS), f("updatedAt", TS), f("archiveStatus", ByteType),
    f("userName", S, true))),
    partitionBy = Seq("schoolId"), orderBy = Seq("schoolId", "guardianId"),
    defaults = Map("archiveStatus" -> lit(0)))

  /** migrations_not_running/2024_12_03_17_40_create_student_table.sql */
  val student: TableSpec = TableSpec("student", StructType(Seq(
    f("uniqueKey", S), f("idCard", S, true), f("firstName", S),
    f("lastName", S), f("firstNameNative", S, true),
    f("lastNameNative", S, true), f("gender", S, true),
    f("dob", DateType, true), f("program", S, true), f("remark", S, true),
    f("phone", S, true), f("email", S, true), f("profile", S, true),
    f("noAttendance", BooleanType), f("status", S),
    f("finalAcademicStatus", S), f("enrolledAt", TS, true),
    f("archiveStatus", ByteType), f("position", S, true),
    f("finishDate", TS, true), f("finishReason", S, true),
    f("updatedAt", TS), f("createdAt", TS), f("schoolId", S))),
    partitionBy = Seq("schoolId"), orderBy = Seq("schoolId", "uniqueKey"),
    defaults = Map("noAttendance" -> lit(false), "status" -> lit("start"),
      "finalAcademicStatus" -> lit("start"), "archiveStatus" -> lit(0)))

  /** 2025_02_26_13_23_create_school_table.sql (the applied variant) */
  val school: TableSpec = TableSpec("school", StructType(Seq(
    f("schoolId", S), f("name", S), f("code", S, true), f("url", S),
    f("email", S, true), f("address", S, true), f("logo", S, true),
    f("status", S, true), f("province", S, true), f("country", S, true),
    f("createdAt", TS), f("updatedAt", TS))),
    partitionBy = Nil, orderBy = Seq("schoolId"))

  /** migrations_not_running/2024_12_03_15_01 campus table */
  val campus: TableSpec = TableSpec("campus", StructType(Seq(
    f("schoolId", S), f("campusId", S), f("name", S),
    f("nameNative", S, true), f("code", S, true), f("phone", S, true),
    f("email", S, true), f("address", S, true), f("isHq", BooleanType),
    f("archiveStatus", ByteType), f("status", S),
    f("responsibleBy", S, true), f("structureType", S, true),
    f("createdAt", TS), f("updatedAt", TS))),
    partitionBy = Seq("schoolId"), orderBy = Seq("campusId"),
    defaults = Map("isHq" -> lit(false), "archiveStatus" -> lit(0),
      "status" -> lit("progress")))

  /** migrations_not_running/2024_12_03_15_01 group_structure table */
  val groupStructure: TableSpec = TableSpec("group_structure", StructType(Seq(
    f("schoolId", S), f("campusId", S), f("groupStructureId", S),
    f("name", S), f("nameNative", S, true), f("code", S, true),
    f("description", S, true), f("archiveStatus", ByteType), f("status", S),
    f("responsibleBy", S, true), f("structureType", S, true),
    f("createdAt", TS), f("updatedAt", TS))),
    partitionBy = Seq("schoolId"), orderBy = Seq("groupStructureId"),
    defaults = Map("archiveStatus" -> lit(0), "status" -> lit("progress")))

  /** migrations_not_running/2024_12_03_15_01 structure_record table */
  val structureRecord: TableSpec = TableSpec("structure_record", StructType(Seq(
    f("schoolId", S), f("campusId", S), f("groupStructureId", S),
    f("structureRecordId", S), f("name", S), f("nameNative", S, true),
    f("code", S, true), f("description", S, true),
    f("enrollableCategory", S, true), f("recordType", S, true),
    f("tags", S, true), f("isPromoted", BooleanType),
    f("isFeatured", BooleanType), f("isPublic", BooleanType),
    f("isOpen", BooleanType), f("startDate", DateType, true),
    f("endDate", DateType, true), f("structurePath", S, true),
    f("archiveStatus", ByteType), f("status", S),
    f("responsibleBy", S, true), f("structure", S),
    f("structureType", S, true), f("createdAt", TS), f("updatedAt", TS))),
    partitionBy = Seq("schoolId"), orderBy = Seq("structureRecordId"),
    defaults = Map("isPromoted" -> lit(false), "isFeatured" -> lit(false),
      "isPublic" -> lit(false), "isOpen" -> lit(false),
      "archiveStatus" -> lit(0), "status" -> lit("progress")))

  /** migrations_not_running/2024_12_03_17_43_create_subject_score_table.sql */
  val subjectScore: TableSpec = TableSpec("subject_score", StructType(Seq(
    f("score", FloatType, true), f("maxScore", FloatType, true),
    f("gpa", S, true), f("rank", LongType, true),
    f("date", DateType, true), f("month", S, true), f("year", S, true),
    f("createdAt", TS), f("schoolId", S), f("evaluationId", S),
    f("campusId", S, true), f("groupStructureId", S, true),
    f("structurePath", S, true), f("templateId", S, true),
    f("configGroupId", S, true), f("parentId", S, true), f("studentId", S),
    f("subjectId", S))),
    partitionBy = Seq("schoolId", "subjectId"),
    orderBy = Seq("schoolId", "subjectId", "studentId"))

  /** 2025_02_24_10_02_create_student_score_subject_month_table.sql */
  val studentMonthSubjectScore: TableSpec =
    TableSpec("student_month_subject_score_staging", StructType(Seq(
      f("schoolId", S), f("campusId", S), f("structureRecordId", S),
      f("structureRecordName", S), f("groupStructureId", S),
      f("structurePath", S), f("studentId", S), f("studentFirstName", S),
      f("studentLastName", S), f("studentFirstNameNative", S),
      f("studentLastNameNative", S), f("idCard", S),
      f("dob", DateType, true), f("gender", S), f("monthEvaluationId", S),
      f("monthName", S), f("monthStartDate", TS, true),
      f("monthEndDate", TS, true), f("subjectEvaluationId", S),
      f("subjectName", S), f("subjectNameNative", S),
      f("subjectMaxScore", DoubleType), f("coe", IntegerType), f("code", S),
      f("credit", DecimalType(5, 2)), f("score", DoubleType),
      f("percentage", DoubleType), f("grade", S), f("meaning", S),
      f("gpa", DoubleType), f("scoreSource", S),
      f("customEvaluationCount", IntegerType), f("customEvaluations", S),
      f("scorerId", S), f("markedAt", TS, true), f("description", S),
      f("createdAt", TS))),
      partitionBy = Nil,
      orderBy = Seq("monthEvaluationId", "subjectEvaluationId", "studentId"),
      defaults = Map("createdAt" -> current_timestamp()))

  /** 2025_02_25_15_30_create_transcript_table.sql — the Array(Tuple) mart */
  val transcriptDetail: StructType = StructType(Seq(
    f("subjectEvaluationId", S), f("subjectName", S),
    f("subjectNameNative", S), f("code", S), f("credit", DecimalType(5, 2)),
    f("score", DecimalType(5, 2)), f("maxScore", DoubleType),
    f("percentage", DecimalType(5, 2)), f("grade", S), f("meaning", S),
    f("gpa", DecimalType(5, 2)), f("subjectParentName", S),
    f("subjectParentEvaluationId", S), f("subjectParentType", S),
    f("monthName", S, true), f("monthEvaluationId", S, true),
    f("semesterName", S, true), f("semesterEvaluationId", S, true)))

  val transcript: TableSpec = TableSpec("student_transcript_staging",
    StructType(Seq(
      f("schoolId", S), f("campusId", S), f("structureRecordId", S),
      f("structureRecordName", S), f("groupStructureId", S),
      f("structurePath", S), f("studentId", S), f("studentFirstName", S),
      f("studentLastName", S), f("studentFirstNameNative", S),
      f("studentLastNameNative", S), f("idCard", S),
      f("dob", DateType, true), f("gender", S),
      f("subjectDetails", ArrayType(transcriptDetail)),
      f("totalCredits", DecimalType(7, 2)), f("totalGPA", DecimalType(7, 2)),
      f("subjectCount", LongType), f("scorerId", S),
      f("markedAt", TS, true), f("createdAt", TS))),
    partitionBy = Nil,
    orderBy = Seq("groupStructureId", "structureRecordId", "studentId"),
    defaults = Map("createdAt" -> current_timestamp()))

  val all: Seq[TableSpec] = Seq(subject, applicant, teacher, guardian,
    student, school, campus, groupStructure, structureRecord, subjectScore,
    studentMonthSubjectScore, transcript)

  /** K5 migration runner: idempotent mart bootstrap with an applied-ledger,
    * mirroring the reference's `custom_entrypoint.sh:24-56` (each DDL under
    * `migrations/` runs ONCE, its name recorded in applied_migrations.txt;
    * re-runs skip applied entries). Here "applying" a spec materializes its
    * schema as an empty single-file parquet table at `basePath/<name>` —
    * the warehouse contract a fresh cluster needs before any pipeline
    * appends — and existing DATA is never touched: a spec already in the
    * ledger is not rewritten, so bootstrap is safe to run against a live
    * mart (the reference's operational guarantee).
    *
    * @return names newly applied this run (empty ⇒ no-op re-run)
    */
  def bootstrap(spark: org.apache.spark.sql.SparkSession, basePath: String,
      specs: Seq[TableSpec] = all): Seq[String] = {
    // ledger I/O goes through Hadoop FS so basePath may be any supported
    // filesystem (local, HDFS, s3a) — a driver-local java.io.File would
    // never see a remote ledger and re-apply everything
    val conf = spark.sparkContext.hadoopConfiguration
    val ledgerPath = new org.apache.hadoop.fs.Path(basePath, "applied_migrations.txt")
    val fs = ledgerPath.getFileSystem(conf)
    val applied: Set[String] =
      if (fs.exists(ledgerPath)) {
        val in = fs.open(ledgerPath)
        try scala.io.Source.fromInputStream(in).getLines()
          .map(_.trim).filter(_.nonEmpty).toSet
        finally in.close()
      } else Set.empty
    val todo = specs.filterNot(s => applied(s.name))
    todo.foreach { spec =>
      // An un-ledgered EXISTING dir is either a live table (adopt it —
      // never clobber readable data) or debris from a crashed bootstrap
      // (unreadable: no parquet footer — repair by rewriting). Readability
      // is the discriminator; a plain mode would either wipe live data
      // (overwrite) or strand debris forever (ignore).
      val dir = new org.apache.hadoop.fs.Path(basePath, spec.name)
      val adoptable = fs.exists(dir) &&
        scala.util.Try(spark.read.parquet(dir.toString).schema).isSuccess
      if (!adoptable) {
        // empty DF with the declared schema; repartition(1) forces one
        // task so a real parquet footer (the schema) lands on disk
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], spec.schema)
          .repartition(1)
          .write.mode("overwrite").parquet(dir.toString)
      }
    }
    if (todo.nonEmpty) {
      // rewrite-to-temp + rename: the old truncate-in-place lost the whole
      // history if the JVM died mid-write (HDFS/S3 lack reliable append)
      val tmp = new org.apache.hadoop.fs.Path(basePath,
        "applied_migrations.txt.tmp")
      val out = fs.create(tmp, true)
      try (applied.toSeq.sorted ++ todo.map(_.name))
        .foreach(n => out.write((n + "\n").getBytes("UTF-8")))
      finally out.close()
      if (fs.exists(ledgerPath)) fs.delete(ledgerPath, false)
      fs.rename(tmp, ledgerPath)
    }
    todo.map(_.name)
  }
}
