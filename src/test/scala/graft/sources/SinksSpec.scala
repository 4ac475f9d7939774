package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitioned lays out partition dirs and round-trips with pruning (K1)") {
    val dir = Files.createTempDirectory("sinks_spec").toString + "/t"
    val df = Seq(
      ("s1", 1, 10.0), ("s1", 2, 20.0), ("s2", 3, 30.0)
    ).toDF("schoolId", "id", "v")
    val n = Sinks.writePartitioned(df, dir, Seq("schoolId"), Seq("id"),
      SaveMode.Overwrite)
    assert(n == 1)
    assert(new java.io.File(dir, "schoolId=s1").isDirectory)
    val pruned = spark.read.parquet(dir).filter($"schoolId" === "s1")
    assert(pruned.count() == 2)
    // partition pruning is visible in the file-scan's partition filters
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("schoolId"))
  }

  test("writePartitioned keeps the declared order inside each written file") {
    val dir = Files.createTempDirectory("sinks_spec_order").toString + "/t"
    // input ordered by updatedAt, against the declared subjectId order
    val df = (1 to 200).map(i => (s"s${i % 2}", 1000 - i, i.toLong))
      .toDF("schoolId", "subjectId", "updatedAt").coalesce(1)
    Sinks.writePartitioned(df, dir, Seq("schoolId"), Seq("subjectId"), SaveMode.Overwrite)
    val files = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.length == 2)
    files.foreach { f =>
      // one small file reads as one split, in file order
      val ids = spark.read.parquet(f.getPath).select("subjectId").as[Int].collect().toSeq
      assert(ids.size == 100 && ids == ids.sorted, s"${f.getName} not ordered by subjectId")
    }
  }

  test("writePartitioned skips empty batches (K4 guard)") {
    val dir = Files.createTempDirectory("sinks_spec_empty").toString + "/t"
    val df = Seq(("s1", 1)).toDF("schoolId", "id").filter($"id" < 0)
    assert(Sinks.writePartitioned(df, dir, Seq("schoolId")) == -1)
    assert(!new java.io.File(dir).exists())
  }

  test("writePartitioned append mode accumulates (the reference's reload duplicates)") {
    val dir = Files.createTempDirectory("sinks_spec_append").toString + "/t"
    val df = Seq(("s1", 1, 1L), ("s1", 1, 2L)).toDF("schoolId", "id", "updatedAt")
    Sinks.writePartitioned(df, dir, Seq("schoolId"))
    Sinks.writePartitioned(df, dir, Seq("schoolId"))
    val all = spark.read.parquet(dir)
    assert(all.count() == 4)
    // §2.10: reload duplicates are resolved at read with dedupLatest
    val deduped = graft.operators.Relational.dedupLatest(
      all, Seq("id"), Seq($"updatedAt".desc))
    assert(deduped.count() == 1)
  }

  test("writeBucketed: bucketed tables join with NO exchange on either side") {
    val base = Files.createTempDirectory("sinks_bucketed").toString
    val left = (1 to 1000).map(i => (i % 100, s"l$i")).toDF("k", "lv")
    val right = (1 to 1000).map(i => (i % 100, s"r$i")).toDF("k", "rv")
    Sinks.writeBucketed(left, s"$base/tl", "bucketed_l", Seq("k"), 8, Seq("k"))
    Sinks.writeBucketed(right, s"$base/tr", "bucketed_r", Seq("k"), 8, Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bucketed_l").join(spark.table("bucketed_r"), "k")
      assert(joined.count() == 10 * 10 * 100)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange"), s"bucketed join still shuffled:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writeBucketed executes its input exactly once and returns the observed count") {
    val base = Files.createTempDirectory("sinks_bucketed_once").toString
    val acc = spark.sparkContext.longAccumulator("bucketed_rows_scanned")
    val df = (1 to 50).map(i => (i % 5, s"v$i")).toDF("k", "v")
      .filter((_: org.apache.spark.sql.Row) => { acc.add(1); true })
    val n = Sinks.writeBucketed(df, s"$base/t", "bucketed_once", Seq("k"), 4)
    assert(n == 50)
    // the old isEmpty probe partially re-executed the plan before the
    // write; the observe path must touch each row exactly once
    assert(acc.value == 50, s"expected 50 row passes, saw ${acc.value}")
  }

  test("compact folds small files into few, preserving data and partition dirs") {
    val base = Files.createTempDirectory("sinks_compact").toString
    val flat = s"$base/flat"
    val df = (1 to 5000).map(i => (i.toLong, i % 7, s"v$i")).toDF("id", "k", "v")
    df.repartition(40).write.parquet(flat) // 40 tiny files
    val (b1, a1) = Sinks.compact(spark, flat)
    assert(b1 == 40 && a1 < 5, s"$b1 -> $a1 files")
    val back = spark.read.parquet(flat)
    assert(back.count() == 5000)
    assert(back.agg(sum($"id")).head().getLong(0) == 5000L * 5001 / 2)
    assert(!new java.io.File(s"$flat.compact_tmp").exists())
    assert(!new java.io.File(s"$flat.compact_bak").exists())
    // partitioned layout survives, one-ish file per key dir
    val part = s"$base/part"
    df.repartition(10).write.partitionBy("k").parquet(part) // 7 dirs x 10 files
    val (b2, a2) = Sinks.compact(spark, part, partitionCols = Seq("k"))
    assert(b2 > 50 && a2 <= 14, s"$b2 -> $a2 files")
    assert(new java.io.File(part, "k=3").isDirectory)
    assert(spark.read.parquet(part).count() == 5000)
  }

  test("compact refuses a streaming file-sink directory (sink-log safety)") {
    val dir = Files.createTempDirectory("sinks_compact_stream").toString + "/t"
    Seq((1, "a")).toDF("id", "v").write.parquet(dir)
    // simulate the sink's transaction log
    new java.io.File(dir, "_spark_metadata").mkdirs()
    val e = intercept[IllegalArgumentException](Sinks.compact(spark, dir))
    assert(e.getMessage.contains("_spark_metadata"))
    // untouched on disk (reading THROUGH the now-present sink log would
    // itself demonstrate the invisibility problem compact guards against)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("writeBucketed Ignore-mode on an existing table returns 0, not a hang") {
    val base = Files.createTempDirectory("sinks_ignore").toString
    val df = Seq((1, "a")).toDF("k", "v")
    assert(Sinks.writeBucketed(df, s"$base/t", "bucketed_ig", Seq("k"), 2) == 1L)
    // Ignore on the existing table runs no job: must return 0 promptly
    val n = Sinks.writeBucketed(df, s"$base/t", "bucketed_ig", Seq("k"), 2,
      mode = SaveMode.Ignore)
    assert(n == 0L)
  }

  test("publishVersioned: atomic snapshot flips, immutable old versions, retention") {
    val root = Files.createTempDirectory("publish_spec").toString + "/tbl"
    val v0 = Sinks.publishVersioned(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    assert(v0 == 0L)
    val r0 = Sinks.readPublished(spark, root)
    assert(r0.count() == 2)
    // a reader holding v0's plan keeps seeing v0 after the next publish
    val v1 = Sinks.publishVersioned(
      Seq((3, "c"), (4, "d"), (5, "e")).toDF("k", "v"), root, keep = 2)
    assert(v1 == 1L)
    assert(r0.count() == 2, "published snapshots must be immutable")
    assert(Sinks.readPublished(spark, root).count() == 3)
    // retention keep=1 drops v0 but never the pointed-to newest
    val v2 = Sinks.publishVersioned(Seq((6, "f")).toDF("k", "v"), root, keep = 1)
    assert(v2 == 2L)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("v=000002"), s"retention left $dirs")
    assert(Sinks.readPublished(spark, root).count() == 1)
  }

  test("readPublished falls back to the highest version when the pointer is mid-swap") {
    val root = Files.createTempDirectory("publish_fb").toString + "/tbl"
    Sinks.publishVersioned(Seq((1, "a")).toDF("k", "v"), root)
    Sinks.publishVersioned(Seq((2, "b"), (3, "c")).toDF("k", "v"), root)
    // simulate the delete+rename window: no pointer on disk
    assert(new java.io.File(s"$root/_LATEST").delete())
    assert(Sinks.readPublished(spark, root).count() == 2,
      "fallback must resolve the newest on-disk snapshot")
    // a crashed mid-write publish (v-dir without _SUCCESS) must be
    // invisible to the fallback and swept by the next publish
    val partial = new java.io.File(s"$root/v=000002")
    assert(partial.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/v=000002/part-x.parquet"),
      Array[Byte](1, 2, 3))
    assert(Sinks.readPublished(spark, root).count() == 2,
      "half-written snapshot served to a reader")
    val v3 = Sinks.publishVersioned(Seq((9, "z")).toDF("k", "v"), root)
    assert(v3 == 3L, "partial dir must not be reused for a new version")
    assert(!partial.exists(), "crashed partial must be swept")
  }

  test("WatermarkStore get/set round-trip with epoch default (§2.10 protocol)") {
    val f = Files.createTempDirectory("wm_spec").toString + "/wm.properties"
    val store = new WatermarkStore(f)
    assert(store.get("students") == "1970-01-01T00:00:00")
    store.set("students", "2024-05-01T12:00:00")
    assert(store.get("students") == "2024-05-01T12:00:00")
    // independent instance sees the committed value (persistence)
    assert(new WatermarkStore(f).get("students") == "2024-05-01T12:00:00")
    // other pipelines are unaffected
    assert(new WatermarkStore(f).get("teachers") == "1970-01-01T00:00:00")
  }

  test("WatermarkStore survives a writer that crashed mid-write") {
    val dir = Files.createTempDirectory("wm_crash")
    val f = dir.resolve("wm.properties").toString
    val store = new WatermarkStore(f)
    store.set("students", "2024-05-01T12:00:00")
    store.set("teachers", "2024-06-01T00:00:00")
    // a crashed writer's half-written sibling: truncated mid-line
    val stale = dir.resolve(".wm.properties.tmp")
    Files.write(stale, "students=2099-".getBytes("UTF-8"))
    assert(new WatermarkStore(f).get("students") == "2024-05-01T12:00:00")
    assert(new WatermarkStore(f).get("teachers") == "2024-06-01T00:00:00")
    store.set("students", "2024-07-01T00:00:00")
    assert(new WatermarkStore(f).get("students") == "2024-07-01T00:00:00")
    assert(new WatermarkStore(f).get("teachers") == "2024-06-01T00:00:00")
    val left = Files.list(dir).toArray.map(_.toString).toSeq
    assert(left == Seq(f), s"set left files behind: $left")
  }
}
