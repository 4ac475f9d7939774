"""Seeded generator for the school-source tables the etl_daily workload loads.

Shapes follow FIXTURES.md: Postgres-style tables (student, guardian, teacher,
school, campus, group_structure, structure_record, subject) carry typed
`updatedAt` timestamps; Mongo-style collections (applicants, evaluations,
scores) carry ISO-8601 strings and the documented dirty values (unparseable
scores, `#undefined` structure paths, gender spellings, nested redundant
`profile` keys, missing weights).

Each simulated day d writes one delta file per table,
`<out>/<table>/d<dd>.parquet`. A delta holds new rows, new versions of
existing keys (strictly later `updatedAt`), replays of rows already sent on
an earlier day; each day one table delivers nothing at all. Scores also
arrive late: some rows of day d are marked on an earlier day, which is what
a backfill of those days picks up. `<out>/counts.json` lists the rows of
every delta, which is what a load scans.

    python3 perfbench/gen_etl.py <out_dir> <days> <seed>
"""
import datetime as dt
import json
import os
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
TS = pa.timestamp("us", tz="UTC")
S = pa.string()
GENDERS = ["Male", "M", "f", "FEMALE", "nonbinary", None]
FIRST = ["Sok", "Dara", "Vanna", "Rith", "Mony", "Lina", "Chan", "Nary"]
LAST = ["Chea", "Kim", "Lim", "Heng", "Sam", "Touch", "Pich", "Ouk"]

SCHEMAS = {
    "school": [("schoolId", S), ("name", S), ("code", S), ("url", S),
               ("email", S), ("address", S), ("logo", S), ("status", S),
               ("province", S), ("country", S), ("createdAt", TS),
               ("updatedAt", TS)],
    "campus": [("schoolId", S), ("campusId", S), ("name", S),
               ("nameNative", S), ("code", S), ("isHq", pa.bool_()),
               ("archiveStatus", pa.int8()), ("status", S),
               ("createdAt", TS), ("updatedAt", TS)],
    "group_structure": [("schoolId", S), ("campusId", S),
                        ("groupStructureId", S), ("name", S), ("code", S),
                        ("archiveStatus", pa.int8()), ("status", S),
                        ("createdAt", TS), ("updatedAt", TS)],
    "structure_record": [("schoolId", S), ("campusId", S),
                         ("groupStructureId", S), ("structureRecordId", S),
                         ("name", S), ("code", S), ("isPromoted", pa.bool_()),
                         ("isFeatured", pa.bool_()), ("isPublic", pa.bool_()),
                         ("isOpen", pa.bool_()), ("startDate", pa.date32()),
                         ("archiveStatus", pa.int8()), ("status", S),
                         ("structure", S), ("createdAt", TS),
                         ("updatedAt", TS)],
    "subject": [("schoolId", S), ("campusId", S), ("groupStructureId", S),
                ("structureRecordId", S), ("subjectId", S), ("name", S),
                ("nameNative", S), ("credit", pa.float64()), ("code", S),
                ("coe", pa.float64()), ("practiceHour", pa.int8()),
                ("theoryHour", pa.int8()), ("totalHour", pa.int8()),
                ("archiveStatus", pa.int8()), ("createdAt", TS),
                ("updatedAt", TS)],
    "student": [("uniqueKey", S), ("studentId", S), ("firstName", S),
                ("lastName", S), ("firstNameNative", S),
                ("lastNameNative", S), ("dob", pa.date32()), ("gender", S),
                ("idCard", S),
                ("profile", pa.struct([("bio", S), ("profile",
                    pa.struct([("legacy", S)]))])),
                ("noAttendance", pa.bool_()), ("status", S),
                ("finalAcademicStatus", S), ("enrolledAt", TS),
                ("createdAt", TS), ("updatedAt", TS), ("schoolId", S),
                ("campusId", S), ("structureRecordId", S)],
    "guardian": [("guardianId", S), ("schoolId", S), ("firstName", S),
                 ("lastName", S), ("gender", S), ("dob", pa.date32()),
                 ("phone", S), ("email", S), ("createdAt", TS),
                 ("updatedAt", TS), ("archiveStatus", pa.int8())],
    "teacher": [("teacherId", pa.int32()), ("schoolId", S), ("campusId", S),
                ("groupStructureId", S), ("structureRecordId", S),
                ("subjectId", S), ("employeeId", S), ("firstName", S),
                ("lastName", S), ("gender", S), ("email", S),
                ("archiveStatus", pa.int8()), ("createdAt", TS),
                ("updatedAt", TS)],
    "applicants": [("applicantId", S), ("idCard", S),
                   ("enrollToSubject", S),
                   ("enrollToDetail", pa.struct([("program", S),
                                                 ("term", S)])),
                   ("lastProfile", pa.struct([("firstName", S),
                                              ("lastName", S)])),
                   ("applicantStatus", S), ("source", S),
                   ("admissionFlow", S), ("updatedAt", S), ("createdAt", S),
                   ("toNotifyApplicant", pa.bool_()), ("schoolId", S),
                   ("enrollToId", S)],
    "evaluations": [("evaluationId", S), ("parentId", S), ("type", S),
                    ("name", S), ("maxScore", pa.float64()),
                    ("coe", pa.float64()), ("schoolId", S), ("campusId", S),
                    ("groupStructureId", S), ("structurePath", S),
                    ("templateId", S), ("configGroupId", S),
                    ("referenceId", S), ("createdAt", S),
                    ("attendanceColumn", pa.struct([("startDate", S),
                                                    ("endDate", S)]))],
    "scores": [("evaluationId", S), ("studentId", S), ("score", S),
               ("scorerId", S), ("markedAt", S), ("structurePath", S),
               ("idCard", S)],
}


class Gen:
    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)

    def uid(self):
        return str(uuid.UUID(bytes=self.rng.bytes(16), version=4))

    def pick(self, xs):
        return xs[int(self.rng.integers(0, len(xs)))]

    def chance(self, p):
        return bool(self.rng.random() < p)

    def stamp(self, day, earliest=None):
        """A whole-second UTC time on `day` (day 0 also covers the month
        before it, the history the first extract finds)."""
        lo = -30 * 86400 if day == 0 else 0
        t = BASE + dt.timedelta(days=day,
                                seconds=int(self.rng.integers(lo, 86400)))
        return max(t, earliest) if earliest else t

    def iso(self, t):
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def generate(out, days, seed):
    g = Gen(seed)
    rows = {t: [[] for _ in range(days)] for t in SCHEMAS}
    latest = {t: {} for t in SCHEMAS}

    def emit(table, day, key, row):
        rows[table][day].append(row)
        latest[table][key] = row

    def name():
        return g.pick(FIRST), g.pick(LAST)

    # --- day 0: the institutional tree ----------------------------------
    schools, campuses, groups, records, subjects = [], [], [], [], []
    for s in range(4):
        sid = g.uid()
        schools.append(sid)
        t = g.stamp(0)
        emit("school", 0, sid, dict(
            schoolId=sid, name=f"School {s}", code=f"S{s}",
            url=f"https://s{s}.example", email=None if s == 0 else f"s{s}@x",
            address=None, logo=None, status="active", province="PP",
            country="KH", createdAt=t, updatedAt=t))
        for c in range(2):
            cid = g.uid()
            campuses.append((sid, cid))
            t = g.stamp(0)
            emit("campus", 0, cid, dict(
                schoolId=sid, campusId=cid, name=f"Campus {s}.{c}",
                nameNative=None, code=None, isHq=c == 0, archiveStatus=0,
                status="progress", createdAt=t, updatedAt=t))
            for k in range(2):
                gid = g.uid()
                groups.append((sid, cid, gid))
                t = g.stamp(0)
                emit("group_structure", 0, gid, dict(
                    schoolId=sid, campusId=cid, groupStructureId=gid,
                    name=f"Year {k}", code=None, archiveStatus=0,
                    status="progress", createdAt=t, updatedAt=t))
                for r in range(3):
                    rid = g.uid()
                    records.append((sid, cid, gid, rid))
                    t = g.stamp(0)
                    emit("structure_record", 0, rid, dict(
                        schoolId=sid, campusId=cid, groupStructureId=gid,
                        structureRecordId=rid, name=f"Class {k}{r}",
                        code=None, isPromoted=False, isFeatured=g.chance(.2),
                        isPublic=True, isOpen=True,
                        startDate=dt.date(2024, 1, 8), archiveStatus=0,
                        status="progress", structure="class",
                        createdAt=t, updatedAt=t))
                    for j in range(4):
                        subid = g.uid()
                        subjects.append((sid, cid, gid, rid, subid))
                        t = g.stamp(0)
                        emit("subject", 0, subid, dict(
                            schoolId=sid, campusId=cid, groupStructureId=gid,
                            structureRecordId=rid, subjectId=subid,
                            name=g.pick(["Math", "Khmer", "Physics", "Art"]),
                            nameNative=None if j == 3 else f"N{j}",
                            credit=float(g.pick([1, 2, 3, 4])),
                            code=f"C{j}", coe=g.pick([None, 1.0, 2.0, 0.0]),
                            practiceHour=2, theoryHour=3, totalHour=5,
                            archiveStatus=0, createdAt=t, updatedAt=t))

    # evaluation tree per structure record: semester -> 2 months ->
    # subjects (one per subject of the record) -> 0-2 custom marks
    leaves = {}  # structureRecordId -> [(evaluationId, path)]
    for (sid, cid, gid, rid) in records:
        path = f"{sid}#{rid}#{gid}"
        base = dict(schoolId=sid, campusId=cid, groupStructureId=gid,
                    structurePath=path, templateId=g.uid(),
                    configGroupId=g.uid(), coe=None, maxScore=None,
                    attendanceColumn=None)

        def ev(parent, typ, nm, **kw):
            eid = g.uid()
            created = (g.iso(g.stamp(0)) if not g.chance(.1)
                       else "datetime.date@version=2(2024-02-20)")
            emit("evaluations", 0, eid, dict(base, evaluationId=eid,
                 parentId=parent, type=typ, name=nm, createdAt=created,
                 **dict(dict(referenceId=None), **kw)))
            return eid

        sem = ev("na", "semester", "Semester 1")
        mine = []
        for m, (start, end) in enumerate([("2024-02-01", "2024-02-29"),
                                          ("2024-03-01", "2024-03-31")]):
            mon = ev(sem, "month", f"Month {m}",
                     attendanceColumn=dict(startDate=start, endDate=end))
            for (_, _, _, r2, subid) in subjects:
                if r2 != rid:
                    continue
                sub = ev(mon, "subject", "subject",
                         maxScore=g.pick([100.0, 50.0, None, 0.0]),
                         referenceId=subid)
                customs = [ev(sub, "custom", f"Quiz {q}",
                              maxScore=g.pick([None, 20.0, 10.0]),
                              coe=g.pick([None, 1.0, 2.0, -1.0]))
                           for q in range(int(g.rng.integers(0, 3)))]
                for eid in customs or [sub]:
                    mine.append((eid, path))
        leaves[rid] = mine

    def student_row(day, key, sid, cid, rid, prev=None):
        first, last = name()
        t = g.stamp(day, prev["updatedAt"] + dt.timedelta(seconds=1)
                    if prev else None)
        return dict(
            uniqueKey=key, studentId=prev["studentId"] if prev else g.uid(),
            firstName=first, lastName=last, firstNameNative=None,
            lastNameNative=None if g.chance(.5) else last.upper(),
            dob=dt.date(2008, 1, 1) + dt.timedelta(int(g.rng.integers(0, 1500))),
            gender=g.pick(GENDERS), idCard=f"ID{int(g.rng.integers(1e6))}",
            profile=None if g.chance(.2) else dict(
                bio=f"bio {int(g.rng.integers(100))}",
                profile=dict(legacy="redundant")),
            noAttendance=g.chance(.1), status="start",
            finalAcademicStatus="start", enrolledAt=t,
            createdAt=prev["createdAt"] if prev else t, updatedAt=t,
            schoolId=sid, campusId=cid, structureRecordId=rid)

    students = []  # (uniqueKey, studentId, structureRecordId)

    def new_student(day):
        sid, cid, gid, rid = g.pick(records)
        key = g.uid()
        row = student_row(day, key, sid, cid, rid)
        emit("student", day, key, row)
        students.append((key, row["studentId"], rid))

    def new_guardian(day):
        gid = g.uid()
        first, last = name()
        t = g.stamp(day)
        emit("guardian", day, gid, dict(
            guardianId=gid, schoolId=g.pick(schools), firstName=first,
            lastName=last, gender=g.pick(GENDERS), dob=None, phone=None,
            email=f"{first.lower()}@x", createdAt=t, updatedAt=t,
            archiveStatus=0))

    def new_teacher(day, tid):
        sid, cid, gid, rid, subid = g.pick(subjects)
        first, last = name()
        t = g.stamp(day)
        emit("teacher", day, tid, dict(
            teacherId=tid, schoolId=sid, campusId=cid, groupStructureId=gid,
            structureRecordId=rid, subjectId=subid,
            employeeId=g.uid() if g.chance(.7) else f"EMP-{tid}",
            firstName=first, lastName=last, gender=g.pick(GENDERS),
            email=None, archiveStatus=0, createdAt=t, updatedAt=t))

    def new_applicant(day):
        aid = g.uid()
        first, last = name()
        t = g.iso(g.stamp(day))
        emit("applicants", day, aid, dict(
            applicantId=aid, idCard=None, enrollToSubject=g.uid(),
            enrollToDetail=dict(program="general", term="2024"),
            lastProfile=dict(firstName=first, lastName=last),
            applicantStatus=g.pick([None, "done", "review"]),
            source=g.pick([None, "web", "walk-in"]), admissionFlow="default",
            updatedAt=t if g.chance(.95) else "not-a-ts", createdAt=t,
            toNotifyApplicant=g.pick([None, True, False]),
            schoolId=g.pick(schools), enrollToId=g.uid()))

    for _ in range(600):
        new_student(0)
    for _ in range(400):
        new_guardian(0)
    for tid in range(80):
        new_teacher(0, tid)
    for _ in range(200):
        new_applicant(0)

    def update(table, day, key, **changes):
        prev = latest[table][key]
        t = g.stamp(day, prev["updatedAt"] + dt.timedelta(seconds=1))
        emit(table, day, key, dict(prev, updatedAt=t, **changes))

    def scores_for(day):
        for (key, stid, rid) in students:
            for (eid, path) in leaves[rid]:
                if not g.chance(.25):
                    continue
                marked = day - (int(g.rng.integers(1, 3)) if day > 0
                                and g.chance(.15) else 0)
                raw = g.pick([str(int(g.rng.integers(0, 101))),
                              str(round(float(g.rng.uniform(0, 100)), 1)),
                              None, "abc"] if g.chance(.05) else
                             [str(int(g.rng.integers(0, 101)))])
                sp = g.pick([path + "#undefined", "nohash"]) \
                    if g.chance(.02) else path
                emit("scores", day, (eid, stid, g.uid()), dict(
                    evaluationId=eid, studentId=stid, score=raw,
                    scorerId=g.uid() if g.chance(.9) else None,
                    markedAt=g.iso(g.stamp(marked)), structurePath=sp,
                    idCard=None))

    scores_for(0)
    for day in range(1, days):
        # one source delivers nothing today
        quiet = g.pick([t for t in SCHEMAS if t not in ("scores", "evaluations")])
        # new versions only of keys sent on earlier days, so every version
        # of a key lies strictly after the previous day's watermark
        old_students = [students[i] for i in
                        g.rng.choice(len(students), 40, replace=False)]
        old_guardians = g.rng.choice(sorted(latest["guardian"]), 20,
                                     replace=False)
        old_teachers = g.rng.choice(sorted(latest["teacher"]), 5,
                                    replace=False)
        for _ in range(30):
            new_student(day)
        for key, _, _ in old_students:
            prev = latest["student"][key]
            sid, cid, rid = prev["schoolId"], prev["campusId"], \
                prev["structureRecordId"]
            emit("student", day, key, student_row(day, key, sid, cid, rid, prev))
        for _ in range(20):
            new_guardian(day)
        for key in old_guardians:
            update("guardian", day, key, phone=f"0{int(g.rng.integers(1e8))}")
        for tid in range(80 + 3 * (day - 1), 80 + 3 * day):
            new_teacher(day, tid)
        for key in old_teachers:
            update("teacher", day, int(key), email="t@x")
        for _ in range(20):
            new_applicant(day)
        update("school", day, g.pick(schools), status=g.pick(["active", "paused"]))
        update("campus", day, g.pick(campuses)[1], code=f"K{day}")
        update("group_structure", day, g.pick(groups)[2], code=f"G{day}")
        update("structure_record", day, g.pick(records)[3], code=f"R{day}")
        for key in g.rng.choice(sorted(latest["subject"]), 3, replace=False):
            update("subject", day, key, credit=float(g.pick([1, 2, 3])))
        scores_for(day)
        # at-least-once extraction: replay some rows already delivered
        for t in SCHEMAS:
            if t in ("scores", "evaluations") or not rows[t][day - 1]:
                continue
            old = rows[t][day - 1]
            for i in g.rng.choice(len(old), min(5, len(old)), replace=False):
                rows[t][day].append(old[i])
        rows[quiet][day] = []

    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "counts.json"), "w") as f:
        json.dump({t: [len(r) for r in rows[t]] for t in SCHEMAS}, f)
    for t, schema in SCHEMAS.items():
        os.makedirs(os.path.join(out, t), exist_ok=True)
        fields = pa.schema(schema)
        for day in range(days):
            cols = {n: [r[n] for r in rows[t][day]] for n in fields.names}
            table = pa.table({n: pa.array(cols[n], type=fields.field(n).type)
                              for n in fields.names}, schema=fields)
            pq.write_table(table, os.path.join(out, t, f"d{day:02d}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
