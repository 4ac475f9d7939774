package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.functions._

// FIXTURES.md source-shaped rows (top-level for implicit Encoders)
case class Ev(evaluationId: String, parentId: String, `type`: String,
    name: String, maxScore: Option[Double], coe: Option[Double],
    schoolId: String, campusId: Option[String],
    groupStructureId: Option[String], structurePath: Option[String],
    templateId: Option[String], configGroupId: Option[String],
    referenceId: Option[String], createdAt: String)
case class Sc(evaluationId: String, studentId: String, score: Option[String],
    scorerId: Option[String], markedAt: Option[String],
    structurePath: Option[String], idCard: Option[String])
case class Stu(studentId: String, firstName: String, lastName: String,
    firstNameNative: Option[String], lastNameNative: Option[String],
    dob: Option[java.sql.Date], gender: Option[String],
    campusId: Option[String], idCard: Option[String])
case class SR(structureRecordId: String, name: String,
    groupStructureId: Option[String])
case class Sub(subjectId: String, name: String, nameNative: Option[String],
    credit: Option[Double], code: Option[String], structureRecordId: String,
    coe: Option[Double])

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: String, parent: String, typ: String, name: String,
      maxScore: Option[Double] = None, coe: Option[Double] = None) =
    Ev(id, parent, typ, name, maxScore, coe, "sch", Some("cam"), None, None,
      Some("tpl"), Some("cfg"), Some(s"ref-$id"), "2024-01-01T00:00:00Z")

  // Shared evaluation tree (FIXTURES §1): semester → month → subjects s1,s2;
  // customs c1,c2 under s1. s1 max 50; s2 max 0 (guard); c1 max 50 coe 2;
  // c2 max/coe missing (→100/→1).
  private val tree = Seq(
    ev("sem", "na", "semester", "S1-2024"),
    ev("m1", "sem", "month", "January"),
    ev("s1", "m1", "subject", "Math", Some(50.0)),
    ev("s2", "m1", "subject", "Art", Some(0.0)),
    ev("c1", "s1", "custom", "Quiz", Some(50.0), Some(2.0)),
    ev("c2", "s1", "custom", "HW", None, None))

  private val path = "p#sr1#x"
  // stuA: direct s1 scores 40, 44, "abc" (parse-fails) + direct s2 score 10.
  // stuB: only custom scores — c1=30 (pct 60), c2=80 (pct 80).
  private val scoreRows = Seq(
    Sc("s1", "stuA", Some("40"), Some("t1"), Some("2024-02-01T10:00:00Z"), Some(path), None),
    Sc("s1", "stuA", Some("44"), Some("t1"), Some("2024-02-02T10:00:00Z"), Some(path), None),
    Sc("s1", "stuA", Some("abc"), Some("t1"), Some("2024-02-03T10:00:00Z"), Some(path), None),
    Sc("s2", "stuA", Some("10"), Some("t2"), Some("2024-02-04T10:00:00Z"), Some(path), None),
    Sc("c1", "stuB", Some("30"), Some("t3"), Some("2024-02-05T10:00:00Z"), Some(path), None),
    Sc("c2", "stuB", Some("80"), Some("t3"), Some("2024-02-06T10:00:00Z"), Some(path), None))

  private val studentRows = Seq(
    Stu("stuA", "Alice", "Ames", None, None, None, Some("female"), Some("cam1"), Some("id-a")),
    Stu("stuB", "Bob", "Baker", None, None, None, Some("male"), Some("cam1"), Some("id-b")))
  private val srRows = Seq(SR("sr1", "Class A", Some("gs1")))
  // two subjects share sr1: month pipeline last-wins (sub2), transcript
  // first-match (sub1) — the J3 quirk pair
  private val subjectRows = Seq(
    Sub("sub1", "Math", Some("MathNative1"), Some(3.0), Some("MTH1"), "sr1", Some(1.0)),
    Sub("sub2", "Math", Some("MathNative2"), Some(4.0), Some("MTH2"), "sr1", Some(1.0)))

  test("SubjectScores: leaf-only emission with null→0 averaging (dead-recursion behavior)") {
    val evals = Seq(
      ev("root", "na", "month", "M"),
      ev("withkids", "root", "subject", "HasChildren", Some(100.0)),
      ev("kid", "withkids", "custom", "Kid", Some(10.0)),
      ev("leaf", "root", "subject", "Leaf", Some(100.0)),
      ev("noscores", "root", "subject", "NoScores", Some(100.0))).toDF()
    val scores = Seq(
      Sc("leaf", "stuA", Some("80"), None, None, None, None),
      Sc("leaf", "stuB", None, None, None, None, None),       // null → 0
      Sc("leaf", "stuC", Some("abc"), None, None, None, None), // unparseable → 0
      Sc("kid", "stuA", Some("5"), None, None, None, None)).toDF()
    val got = SubjectScores(evals, scores).collect()
    // only "leaf" emits: withkids has a child (recursion returns None),
    // noscores has no rows; avg = (80 + 0 + 0) / 3
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("evaluationId") == "leaf")
    assert(r.getAs[Double]("score") == 80.0 / 3)
    assert(r.getAs[String]("subjectId") == "ref-leaf")
  }

  test("MonthlySubjectScores: direct drop-null avg, weighted custom rollup, guards") {
    val out = MonthlySubjectScores(tree.toDF(), scoreRows.toDF(),
      studentRows.toDF(), srRows.toDF(), subjectRows.toDF())
    val rows = out.collect()
      .map(r => (r.getAs[String]("subjectEvaluationId"), r.getAs[String]("studentId")) -> r)
      .toMap
    assert(rows.size == 3)

    // (s1, stuA) direct: "abc" DROPPED (month drop-null variant) → avg 42
    val a1 = rows(("s1", "stuA"))
    assert(a1.getAs[String]("scoreSource") == "direct")
    assert(a1.getAs[Double]("score") == 42.0)
    assert(a1.getAs[Double]("percentage") == 84.0) // 42/50*100
    assert(a1.getAs[String]("grade") == "B+" && a1.getAs[Double]("gpa") == 3.5)
    assert(a1.getAs[Int]("customEvaluationCount") == 0)
    assert(a1.getAs[String]("customEvaluations") == null)
    // dims: month label, structure record, last-wins subject (sub2)
    assert(a1.getAs[String]("monthEvaluationId") == "m1")
    assert(a1.getAs[String]("monthName") == "January")
    assert(a1.getAs[String]("structureRecordId") == "sr1")
    assert(a1.getAs[String]("structureRecordName") == "Class A")
    assert(a1.getAs[String]("groupStructureId") == "gs1") // coalesce chain → structure leg
    assert(a1.getAs[String]("subjectNameNative") == "MathNative2") // last-wins
    assert(a1.getAs[String]("studentFirstName") == "Alice")
    assert(a1.getAs[String]("markedAt") == "2024-02-01 10:00:00") // least markedAt

    // (s2, stuA): maxScore 0 → percentage 0 → F
    val a2 = rows(("s2", "stuA"))
    assert(a2.getAs[Double]("percentage") == 0.0)
    assert(a2.getAs[String]("grade") == "F")

    // (s1, stuB) aggregated: weighted pct = (60·2 + 80·1)/3 = 200/3;
    // score = pct·50/100; grade C+ (≥65)
    val b = rows(("s1", "stuB"))
    assert(b.getAs[String]("scoreSource") == "aggregated")
    assert(math.abs(b.getAs[Double]("percentage") - 200.0 / 3) < 1e-12)
    assert(math.abs(b.getAs[Double]("score") - 100.0 / 3) < 1e-12)
    assert(b.getAs[String]("grade") == "C+" && b.getAs[Double]("gpa") == 2.5)
    assert(b.getAs[Int]("customEvaluationCount") == 2)
    val json = b.getAs[String]("customEvaluations")
    assert(json.contains("\"evaluationId\":\"c1\"") && json.contains("\"coe\":2.0"))
    // c2's missing max/coe fell back to 100/1 in the record
    assert(json.contains("\"maxScore\":100.0"))
  }

  test("Transcripts: zero-coerce avg, unweighted custom mean, credit-weighted GPA, parent walk") {
    val out = Transcripts(tree.toDF(), scoreRows.toDF(),
      studentRows.toDF(), srRows.toDF(), subjectRows.toDF())
    val rows = out.collect().map(r => r.getAs[String]("studentId") -> r).toMap
    assert(rows.size == 2)

    // stuA @ sr1: s1 avg coerces "abc"→0 → (40+44+0)/3 = 28 → pct 56 → C;
    // s2 → pct 0 → F. credit from FIRST-match subject (sub1, 3.0).
    val a = rows("stuA")
    assert(a.getAs[String]("structureRecordId") == "sr1")
    assert(a.getAs[String]("structurePath") == "#sr1")
    val detailsA = a.getSeq[org.apache.spark.sql.Row](a.fieldIndex("subjectDetails"))
    assert(detailsA.length == 2 && a.getAs[Long]("subjectCount") == 2L)
    val ds1 = detailsA.find(_.getAs[String]("subjectEvaluationId") == "s1").get
    assert(ds1.getAs[Double]("score") == 28.0)
    assert(math.abs(ds1.getAs[Double]("percentage") - 56.0) < 1e-9)
    assert(ds1.getAs[String]("grade") == "C" && ds1.getAs[Double]("gpa") == 2.0)
    assert(ds1.getAs[Double]("credit") == 3.0) // first-match sub1
    assert(ds1.getAs[String]("subjectNameNative") == "MathNative1")
    // type-dispatched parent walk: subject → month → semester
    assert(ds1.getAs[String]("subjectParentType") == "month")
    assert(ds1.getAs[String]("monthName") == "January")
    assert(ds1.getAs[String]("monthEvaluationId") == "m1")
    assert(ds1.getAs[String]("semesterName") == "S1-2024")
    assert(ds1.getAs[String]("semesterEvaluationId") == "sem")
    val ds2 = detailsA.find(_.getAs[String]("subjectEvaluationId") == "s2").get
    assert(ds2.getAs[Double]("percentage") == 0.0)
    assert(ds2.getAs[String]("grade") == "F")
    // totals: credits 3+3=6; GPA = (3·2.0 + 3·0.0)/6 = 1.0
    assert(a.getAs[Double]("totalCredits") == 6.0)
    assert(a.getAs[Double]("totalGPA") == 1.0)

    // stuB @ sr1: UNWEIGHTED custom mean (60+80)/2 = 70 → score 35 → B
    val b = rows("stuB")
    val detailsB = b.getSeq[org.apache.spark.sql.Row](b.fieldIndex("subjectDetails"))
    assert(detailsB.length == 1)
    val db = detailsB.head
    assert(db.getAs[Double]("percentage") == 70.0)
    assert(db.getAs[Double]("score") == 35.0)
    assert(db.getAs[String]("grade") == "B" && db.getAs[Double]("gpa") == 3.0)
    // 18 fields in the detail struct, DDL order (2025_02_25 migration)
    assert(db.schema.fieldNames.toSeq == Seq(
      "subjectEvaluationId", "subjectName", "subjectNameNative", "code",
      "credit", "score", "maxScore", "percentage", "grade", "meaning", "gpa",
      "subjectParentName", "subjectParentEvaluationId", "subjectParentType",
      "monthName", "monthEvaluationId", "semesterName", "semesterEvaluationId"))
  }

  test("CopyPipelines.students: watermark + uniqueKey dedup + gender + profile scrub") {
    val wm = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val raw = Seq(
      // stale: before watermark
      ("u1", "id1", "M", ts("2024-01-05 00:00:00"), ("x", "keepme")),
      // two fresh versions of u2 → latest wins
      ("u2", "id2", "Male", ts("2024-01-11 00:00:00"), ("old", "a")),
      ("u2", "id2b", "FEMALE", ts("2024-01-12 00:00:00"), ("new", "b")),
      ("u3", "id3", "nonbinary", ts("2024-01-13 00:00:00"), ("z", "c"))
    ).toDF("uniqueKey", "studentId", "gender", "updatedAt", "profile")
      .withColumn("profile", struct(col("profile._1").as("bio"),
        struct(lit("redundant")).as("profile"))) // nested profile.profile → scrubbed
    val got = CopyPipelines.students(raw, wm).orderBy($"uniqueKey").collect()
    assert(got.map(_.getAs[String]("uniqueKey")).toSeq == Seq("u2", "u3"))
    val u2 = got(0)
    assert(u2.getAs[String]("studentId") == "id2b") // latest version
    assert(u2.getAs[String]("gender") == "female")
    assert(!u2.getAs[String]("profile").contains("redundant")) // F11 scrub
    assert(got(1).getAs[String]("gender") == "nonbinary") // passthrough
  }

  test("CopyPipelines.applicants: timestamp passthrough cleaning + defaults") {
    val raw = Seq(
      ("a1", Some("done"), Some(true), "2024-03-05T10:20:30.123Z", "not-a-ts"),
      ("a2", None, None, "2024-03-05T10:20:30Z", "2024-03-05T11:00:00Z")
    ).toDF("applicantId", "applicantStatus", "toNotifyApplicant", "createdAt", "updatedAt")
    val got = CopyPipelines.applicants(raw).orderBy($"applicantId").collect()
    assert(got(0).getAs[String]("createdAt") == "2024-03-05 10:20:30")
    assert(got(0).getAs[String]("updatedAt") == "not-a-ts") // passthrough, not null
    assert(got(1).getAs[String]("applicantStatus") == "pending") // default
    assert(got(1).getAs[Boolean]("toNotifyApplicant") == false)
  }

  test("Runner: watermark commits max loaded ts only after a successful write") {
    val dir = java.nio.file.Files.createTempDirectory("runner_spec").toString
    val store = new graft.sources.WatermarkStore(s"$dir/wm.properties")
    val data = Seq(
      ("k1", ts("2024-01-05 00:00:00"), "sch1"),
      ("k2", ts("2024-01-20 00:00:00"), "sch1"))
      .toDF("id", "updatedAt", "schoolId")
    def run() = Runner.runIncremental(store, "students", "updatedAt",
      s"$dir/out", Seq("schoolId"), Seq("id")) { wm =>
      graft.operators.Relational.incrementalFrom(data, "updatedAt", wm)
    }
    assert(run() == 2) // epoch watermark → everything
    assert(store.get("students") == "2024-01-20T00:00:00")
    assert(run() == 0) // second run: nothing after the new watermark
    assert(spark.read.parquet(s"$dir/out").count() == 2) // no duplicate load
  }

  test("Runner: the source is scanned exactly once per run (observe-based stats)") {
    val dir = java.nio.file.Files.createTempDirectory("runner_once").toString
    val store = new graft.sources.WatermarkStore(s"$dir/wm.properties")
    val acc = spark.sparkContext.longAccumulator("graft_rows_scanned")
    val data = Seq(
      ("k1", ts("2024-01-05 00:00:00"), "sch1"),
      ("k2", ts("2024-01-20 00:00:00"), "sch1"))
      .toDF("id", "updatedAt", "schoolId")
    val n = Runner.runIncremental(store, "students_once", "updatedAt",
      s"$dir/out", Seq("schoolId"), Seq("id")) { wm =>
      graft.operators.Relational.incrementalFrom(data, "updatedAt", wm)
        .filter((r: org.apache.spark.sql.Row) => { acc.add(1); true })
    }
    assert(n == 2)
    // the old stats-collect + isEmpty + write path executed the transform
    // 3× (6 row passes); the observe path must touch each row once
    assert(acc.value == 2, s"expected 2 row passes, saw ${acc.value}")
    assert(store.get("students_once") == "2024-01-20T00:00:00")
  }

  test("Runner.backfill replaces exactly the requested partitions, idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("backfill").toString
    val out = s"$dir/out"
    def d(s: String) = java.sql.Date.valueOf(s)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03").map(d)
    // initial load: one row per day, v=1
    Runner.backfill(days, "day", out) { ds =>
      ds.map(x => (x, 1)).toDF("day", "v")
    }
    // backfill day 2 only, with changed data AND a stray day-3 row the
    // contract must refuse to write
    val n = Runner.backfill(Seq(d("2024-01-02")), "day", out) { _ =>
      Seq((d("2024-01-02"), 99), (d("2024-01-02"), 98), (d("2024-01-03"), 666))
        .toDF("day", "v")
    }
    assert(n == 2) // the stray day-3 row was filtered, not written
    def state() = spark.read.parquet(out)
      .select(col("day").cast("string"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val afterOnce = state()
    assert(afterOnce == Set(("2024-01-01", 1), ("2024-01-02", 99),
      ("2024-01-02", 98), ("2024-01-03", 1)))
    // rerun the same backfill: byte-identical state (idempotent, no dupes)
    Runner.backfill(Seq(d("2024-01-02")), "day", out) { _ =>
      Seq((d("2024-01-02"), 99), (d("2024-01-02"), 98)).toDF("day", "v")
    }
    assert(state() == afterOnce)
    // retraction: a requested date whose recomputation is EMPTY must end
    // empty (dynamic partition overwrite would leave the stale rows)
    val n0 = Runner.backfill(Seq(d("2024-01-02")), "day", out) { _ =>
      Seq.empty[(java.sql.Date, Int)].toDF("day", "v")
    }
    assert(n0 == 0)
    assert(state() == Set(("2024-01-01", 1), ("2024-01-03", 1)))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}
