package graft.perfbench

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import graft.core.Schemas
import graft.core.Schemas.TableSpec
import graft.operators.Relational
import graft.pipelines._
import graft.sources.{Sinks, Sources, WatermarkStore}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The daily ETL workload: the ten reference pipelines load partitioned
  * marts from generated school sources, day after day, and report queries
  * read the marts back.
  *
  * Each simulated day runs the seven copy pipelines (incremental through
  * `Runner.runIncremental`, full reloads where the reference reloads
  * fully) and the three score pipelines (the day's partition through
  * `Runner.backfill`), then two mart queries. After the last day one
  * `Runner.backfill` recomputes the earlier days, picking up scores that
  * arrived late. An operation is one pipeline load into one mart (the
  * school-structures pipeline loads three).
  *
  * @param src the generated sources: `<src>/<table>/dNN.parquet` per day
  *            and `<src>/counts.json` (rows per delta)
  * @param dir where the marts and the watermark store live */
final class Etl(spark: SparkSession, src: String, dir: String) {
  import Etl._

  private val counts: Map[String, Seq[Long]] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$src/counts.json")), "UTF-8")
    "\"([a-z_]+)\": \\[([0-9, ]*)\\]".r.findAllMatchIn(text).map { m =>
      m.group(1) -> m.group(2).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    }.toMap
  }

  private val marts = s"$dir/marts"
  /** One watermark store per watermark, as each DAG keeps its own
    * variable; concurrent loads never share a store file. */
  private def store(wmName: String) = new WatermarkStore(s"$dir/watermarks/$wmName.properties")

  /** The live source table on day `d`: every delta delivered so far. */
  private def source(table: String, d: Int): DataFrame = Sources.parquet(spark,
    (0 to d).map(i => f"d$i%02d.parquet").mkString(s"$src/$table/{", ",", "}"),
    SourceSchemas(table))

  private def scanned(tables: Seq[String], d: Int): Long =
    tables.map(t => counts(t).take(d + 1).sum).sum

  // accounting since the last reset, read by the run's summary
  var rowsScanned = 0L
  var rowsLoaded = 0L
  var transformS = 0.0
  val loadS = new scala.collection.mutable.ArrayBuffer[Double]
  val martQueryS = new scala.collection.mutable.ArrayBuffer[Double]
  val backfillS = new scala.collection.mutable.ArrayBuffer[Double]

  private def sortOf(spec: TableSpec) = spec.orderBy.filterNot(spec.partitionBy.contains)

  private def incremental(spec: TableSpec, wmName: String, wrap: Wrap)(
      f: Timestamp => DataFrame): Long =
    Runner.runIncremental(store(wmName), wmName, "updatedAt", s"$marts/${spec.name}",
      spec.partitionBy, sortOf(spec))(wm => wrap(() => spec.conform(f(wm))))

  private def fullReload(spec: TableSpec, wrap: Wrap)(f: => DataFrame): Long = {
    val obs = Observation()
    Sinks.writePartitioned(
      wrap(() => spec.conform(f)).observe(obs, count(lit(1)).as("n")),
      s"$marts/${spec.name}", spec.partitionBy, sortOf(spec),
      SaveMode.Overwrite, guardEmpty = false)
    obs.get("n").asInstanceOf[Long]
  }

  /** A score mart as of the end of each date: sources delivered by day
    * `upTo`, scores marked before the date ends. */
  private def scoresAsOf(name: String, dates: Seq[Date], upTo: Int): DataFrame =
    dates.map { date =>
      val end = date.toLocalDate.plusDays(1).toString
      val ev = source("evaluations", upTo)
      val sc = source("scores", upTo).filter(col("markedAt") < lit(end))
      (name match {
        case "subject_score_daily" => SubjectScores(ev, sc)
        case "month_subject_score_daily" => MonthlySubjectScores(ev, sc,
          source("student", upTo), source("structure_record", upTo), source("subject", upTo))
        case "transcript_daily" => Transcripts(ev, sc,
          source("student", upTo), source("structure_record", upTo), source("subject", upTo))
      }).withColumn("day", lit(date))
    }.reduce(_ unionByName _)

  private def scoreLoad(name: String, reads: Seq[String]) =
    Load(name, reads, Seq(name), (d, wrap) =>
      Runner.backfill(Seq(date(d)), "day", s"$marts/$name")(ds =>
        wrap(() => scoresAsOf(name, ds, d))))

  private val scoreLoads = Seq(
    scoreLoad("transcript_daily", ScoreLookups),
    scoreLoad("month_subject_score_daily", ScoreLookups),
    scoreLoad("subject_score_daily", Seq("evaluations", "scores")))

  // the school table of this DAG is the one the schools pipeline loads; its
  // other three tables load here, one mart each, so no mart has two writers
  private val structureLoads = StructureTables.map { case (part, spec, _) =>
    Load(s"school_structures.$part", Seq(part), Seq(spec.name), (d, w) =>
      incremental(spec, s"school_structures.$part", w)(wm =>
        CopyPipelines.schoolStructures(source("school", d), source("campus", d),
          source("group_structure", d), source("structure_record", d), wm)(part)))
  }

  private val copyLoads = Seq(
    Load("students", Seq("student"), Seq("student"), (d, w) =>
      incremental(Schemas.student, "students", w)(wm =>
        CopyPipelines.students(source("student", d), wm))),
    Load("applicants", Seq("applicants"), Seq("applicant"), (d, w) =>
      fullReload(Schemas.applicant, w)(CopyPipelines.applicants(source("applicants", d)))),
    Load("guardians", Seq("guardian"), Seq("guardian"), (d, w) =>
      fullReload(Schemas.guardian, w)(CopyPipelines.guardians(source("guardian", d)))),
    Load("subjects", Seq("subject"), Seq("subject"), (d, w) =>
      fullReload(Schemas.subject, w)(CopyPipelines.subjects(source("subject", d)))),
    Load("teachers", Seq("teacher"), Seq("teacher"), (d, w) =>
      incremental(Schemas.teacher, "teachers", w)(wm =>
        CopyPipelines.teachers(source("teacher", d), wm))),
    Load("schools", Seq("school"), Seq("school"), (d, w) =>
      incremental(Schemas.school, "schools", w)(wm =>
        CopyPipelines.schools(source("school", d), wm))))

  /** The ten pipelines' loads, one per mart. */
  private val loads: Seq[Load] = scoreLoads ++ structureLoads ++ copyLoads

  def resetCounters(): Unit = {
    rowsScanned = 0; rowsLoaded = 0; transformS = 0
    loadS.clear(); martQueryS.clear(); backfillS.clear()
  }

  private val day0 = s"$dir.day0"

  /** Keeps a copy of the marts and watermark stores as they stand after
    * day 0, so that [[restoreDay0]] can replay the same days. */
  def snapshotDay0(): Unit = {
    deleteTree(new java.io.File(day0))
    copyTree(dir, day0)
  }

  def restoreDay0(): Unit = {
    deleteTree(new java.io.File(dir))
    copyTree(day0, dir)
  }

  def cleanUp(): Unit = Seq(dir, day0).foreach(d => deleteTree(new java.io.File(d)))

  /** Runs work whose parts are independent and untimed: the initial load
    * and the output checks. */
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(PoolThreads, r => {
    val t = new Thread(r, "perfbench-etl")
    t.setDaemon(true)
    t
  })

  /** Day 0, the initial load of every mart, then the mart queries. It is
    * set-up: untimed, its loads run side by side on the pool, and it warms
    * the code paths the timed days take. */
  def initialLoad(): Unit = {
    loads.map(l => pool.submit[Long](() => l.run(0, f => f()))).foreach(_.get())
    martQueries()
  }

  /** One simulated day: the twelve loads one after another, as one
    * closed-loop client, then the mart queries. */
  def day(d: Int, ops: Ops, trace: Option[Trace]): Unit = {
    loads.foreach { l =>
      var n = 0L
      val t = ops.op(l.name, trace, ()) { (id, _) =>
        n = l.run(d, f => {
          val s = System.nanoTime()
          try trace.fold(f())(_.phase(id, "construct")(f()))
          finally transformS += (System.nanoTime() - s) / 1e9
        })
      }
      t.foreach { s =>
        loadS += s; rowsLoaded += n; rowsScanned += scanned(l.reads, d)
      }
    }
    martQueries()
  }

  /** The backfill after day `last`: every earlier date of the score mart
    * recomputed from all sources delivered by then. */
  def backfill(last: Int): Unit = {
    val s = System.nanoTime()
    runBackfill(last)
    backfillS += (System.nanoTime() - s) / 1e9
  }

  private def backfillDates(last: Int) = (0 until last).map(date)

  private def runBackfill(last: Int): Long =
    Runner.backfill(backfillDates(last), "day", s"$marts/$BackfillMart")(ds =>
      scoresAsOf(BackfillMart, ds, last))

  /** Report queries over the marts, latest row per key at read. */
  private def martQueries(): Unit = {
    def timed(body: => Unit): Unit = {
      val s = System.nanoTime()
      body
      martQueryS += (System.nanoTime() - s) / 1e9
    }
    timed(Relational.dedupLatest(Sources.mart(spark, marts, Schemas.student),
      Seq("uniqueKey"), Seq(col("updatedAt").desc))
      .groupBy("schoolId").count().collect())
    timed(Relational.dedupLatest(Sources.mart(spark, marts, Schemas.teacher),
      Seq("teacherId"), Seq(col("updatedAt").desc))
      .groupBy("schoolId", "campusId").count().collect())
  }

  def martFiles(): Int = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(marts))
    try s.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
    finally s.close()
  }

  /** The output checks after the backfill that followed day `last`.
    * Returns the names of the checks that failed.
    *  1. each incremental mart, latest row per key, equals a full reload;
    *  2. each watermark is the latest `updatedAt` its mart holds;
    *  3. the backfill replaced exactly the requested dates;
    *  4. running the same backfill again changes nothing. */
  def check(last: Int): Seq[String] = {
    def latest(df: DataFrame, key: String) =
      Relational.dedupLatest(df, Seq(key), Seq(col("updatedAt").desc))
    val path = s"$marts/$BackfillMart"
    def partitions(): Map[Date, String] = {
      val df = spark.read.parquet(path)
      df.select("day").distinct().collect().map(_.getDate(0)).map { d =>
        d -> Fingerprint.of(df.filter(col("day") === lit(d)))
      }.toMap
    }
    val afterFirst = partitions()
    // the requested dates must equal a fresh recomputation; the last date,
    // not requested, must still hold its daily load
    def backfilled(d: Date, what: String) = () =>
      Option.when(afterFirst.get(d).forall(_ != Fingerprint.of(
        scoresAsOf(BackfillMart, Seq(d), last))))(s"backfill: $what $d")
    val independent: Seq[() => Option[String]] =
      Incremental.map { case (spec, key, full) => () =>
        Option.when(Fingerprint.of(latest(Sources.mart(spark, marts, spec), key)) !=
          Fingerprint.of(latest(spec.conform(full(this, last)), key)))(
          s"mart ${spec.name} != full reload")
      } ++ Watermarks.map { case (wmName, spec) => () =>
        val mx = Sources.mart(spark, marts, spec)
          .agg(date_format(max(col("updatedAt")), "yyyy-MM-dd'T'HH:mm:ss")).head().getString(0)
        val wm = store(wmName).get(wmName)
        Option.when(mx != null && wm != mx)(s"watermark $wmName $wm != $mx")
      } ++ backfillDates(last).map(backfilled(_, "not recomputed")) :+
        backfilled(date(last), "touched unrequested date")
    val failures = independent.map(c => pool.submit[Option[String]](() => c()))
      .flatMap(_.get())
    runBackfill(last)
    failures ++ Option.when(partitions() != afterFirst)("backfill rerun not idempotent")
  }
}

object Etl {
  /** One load: a pipeline name, the source tables it scans, the marts it
    * writes, and the call that loads a day (given a wrapper for its
    * transform closure). */
  private final case class Load(name: String, reads: Seq[String],
      marts: Seq[String], run: (Int, Wrap) => Long)
  private type Wrap = (() => DataFrame) => DataFrame

  val Start: java.time.LocalDate = java.time.LocalDate.of(2024, 3, 1)
  def date(d: Int): Date = Date.valueOf(Start.plusDays(d))
  val BackfillMart = "subject_score_daily"
  val ScoreLookups = Seq("evaluations", "scores", "student", "structure_record", "subject")

  /** Threads of the pool for untimed work. */
  private val PoolThreads = 4

  /** The school-structure tables: name, mart spec, key. */
  private val StructureTables = Seq(
    ("campus", Schemas.campus, "campusId"),
    ("group_structure", Schemas.groupStructure, "groupStructureId"),
    ("structure_record", Schemas.structureRecord, "structureRecordId"))

  private val Epoch = Runner.Epoch

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Copies the tree at `from` to `to`, which must not exist yet. */
  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = java.nio.file.Files.walk(src)
    try s.iterator().asScala.foreach(p =>
      java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally s.close()
  }

  /** Incrementally loaded marts: spec, key, and the full-reload twin. */
  private val Incremental: Seq[(TableSpec, String, (Etl, Int) => DataFrame)] = Seq(
    (Schemas.student, "uniqueKey", (e: Etl, d: Int) => CopyPipelines.students(e.source("student", d), Epoch)),
    (Schemas.teacher, "teacherId", (e: Etl, d: Int) => CopyPipelines.teachers(e.source("teacher", d), Epoch)),
    (Schemas.school, "schoolId", (e: Etl, d: Int) => CopyPipelines.schools(e.source("school", d), Epoch))) ++
    StructureTables.map { case (part, spec, key) =>
      (spec, key, (e: Etl, d: Int) => CopyPipelines.schoolStructures(e.source("school", d),
        e.source("campus", d), e.source("group_structure", d),
        e.source("structure_record", d), Epoch)(part))
    }

  private val Watermarks: Seq[(String, TableSpec)] = Seq(
    "students" -> Schemas.student, "teachers" -> Schemas.teacher,
    "schools" -> Schemas.school) ++
    StructureTables.map { case (part, spec, _) => s"school_structures.$part" -> spec }

  /** The source schemas, declared up front as the production readers
    * declare theirs (the generator writes exactly these types). */
  val SourceSchemas: Map[String, StructType] = Map(
    "school" -> ("schoolId STRING, name STRING, code STRING, url STRING, email STRING, " +
      "address STRING, logo STRING, status STRING, province STRING, country STRING, " +
      "createdAt TIMESTAMP, updatedAt TIMESTAMP"),
    "campus" -> ("schoolId STRING, campusId STRING, name STRING, nameNative STRING, " +
      "code STRING, isHq BOOLEAN, archiveStatus TINYINT, status STRING, " +
      "createdAt TIMESTAMP, updatedAt TIMESTAMP"),
    "group_structure" -> ("schoolId STRING, campusId STRING, groupStructureId STRING, " +
      "name STRING, code STRING, archiveStatus TINYINT, status STRING, " +
      "createdAt TIMESTAMP, updatedAt TIMESTAMP"),
    "structure_record" -> ("schoolId STRING, campusId STRING, groupStructureId STRING, " +
      "structureRecordId STRING, name STRING, code STRING, isPromoted BOOLEAN, " +
      "isFeatured BOOLEAN, isPublic BOOLEAN, isOpen BOOLEAN, startDate DATE, " +
      "archiveStatus TINYINT, status STRING, structure STRING, " +
      "createdAt TIMESTAMP, updatedAt TIMESTAMP"),
    "subject" -> ("schoolId STRING, campusId STRING, groupStructureId STRING, " +
      "structureRecordId STRING, subjectId STRING, name STRING, nameNative STRING, " +
      "credit DOUBLE, code STRING, coe DOUBLE, practiceHour TINYINT, " +
      "theoryHour TINYINT, totalHour TINYINT, archiveStatus TINYINT, " +
      "createdAt TIMESTAMP, updatedAt TIMESTAMP"),
    "student" -> ("uniqueKey STRING, studentId STRING, firstName STRING, lastName STRING, " +
      "firstNameNative STRING, lastNameNative STRING, dob DATE, gender STRING, " +
      "idCard STRING, profile STRUCT<bio: STRING, profile: STRUCT<legacy: STRING>>, " +
      "noAttendance BOOLEAN, status STRING, finalAcademicStatus STRING, " +
      "enrolledAt TIMESTAMP, createdAt TIMESTAMP, updatedAt TIMESTAMP, " +
      "schoolId STRING, campusId STRING, structureRecordId STRING"),
    "guardian" -> ("guardianId STRING, schoolId STRING, firstName STRING, lastName STRING, " +
      "gender STRING, dob DATE, phone STRING, email STRING, createdAt TIMESTAMP, " +
      "updatedAt TIMESTAMP, archiveStatus TINYINT"),
    "teacher" -> ("teacherId INT, schoolId STRING, campusId STRING, groupStructureId STRING, " +
      "structureRecordId STRING, subjectId STRING, employeeId STRING, firstName STRING, " +
      "lastName STRING, gender STRING, email STRING, archiveStatus TINYINT, " +
      "createdAt TIMESTAMP, updatedAt TIMESTAMP"),
    "applicants" -> ("applicantId STRING, idCard STRING, enrollToSubject STRING, " +
      "enrollToDetail STRUCT<program: STRING, term: STRING>, " +
      "lastProfile STRUCT<firstName: STRING, lastName: STRING>, applicantStatus STRING, " +
      "source STRING, admissionFlow STRING, updatedAt STRING, createdAt STRING, " +
      "toNotifyApplicant BOOLEAN, schoolId STRING, enrollToId STRING"),
    "evaluations" -> ("evaluationId STRING, parentId STRING, type STRING, name STRING, " +
      "maxScore DOUBLE, coe DOUBLE, schoolId STRING, campusId STRING, " +
      "groupStructureId STRING, structurePath STRING, templateId STRING, " +
      "configGroupId STRING, referenceId STRING, createdAt STRING, " +
      "attendanceColumn STRUCT<startDate: STRING, endDate: STRING>"),
    "scores" -> ("evaluationId STRING, studentId STRING, score STRING, scorerId STRING, " +
      "markedAt STRING, structurePath STRING, idCard STRING")
  ).map { case (k, ddl) => k -> StructType.fromDDL(ddl) }
}
