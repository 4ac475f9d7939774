package graft.streaming

import graft.SparkSpec
import graft.streaming.Streaming.{SessionEvent, SessionOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("sessionizeCustomState splits on 30-min gaps, tolerating disorder") {
    val m = 60L * 1000000 // a minute in micros
    val events = Seq(
      // user 1: two sessions — [0, 10, 29+29] then [100]
      SessionEvent(1, 0), SessionEvent(1, 10 * m), SessionEvent(1, 39 * m),
      SessionEvent(1, 100 * m),
      // user 2: one session, events arrive OUT OF ORDER
      SessionEvent(2, 7 * m), SessionEvent(2, 0), SessionEvent(2, 14 * m),
      // user 3: boundary — exactly 30 min gap starts a NEW session
      SessionEvent(3, 0), SessionEvent(3, 30 * m)
    ).toDS()
    val got = Streaming.sessionizeCustomState(events)
      .collect().sortBy(s => (s.userId, s.startMicros)).toSeq
    assert(got == Seq(
      SessionOut(1, 0, 3), SessionOut(1, 100 * m, 1),
      SessionOut(2, 0, 3),
      SessionOut(3, 0, 1), SessionOut(3, 30 * m, 1)))
  }

  test("production file sinks emit watermark-finalized results, append mode") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("stream_files").toString
    val nHourly = Streaming.hourlyEventCountsToFiles(spark, sf,
      s"$dir/hourly", s"$dir/ckpt_hourly")
    assert(nHourly > 0, "append sink emitted nothing")
    // every emitted (hour, type, n) matches the batch rollup — the
    // append-mode output is a watermark-finalized PREFIX of the full result
    val batch = graft.core.Tables(spark, sf, "events")
      .groupBy(org.apache.spark.sql.functions.date_trunc("hour", $"ts").as("hour"),
        $"event_type")
      .count()
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val emitted = spark.read.parquet(s"$dir/hourly").collect()
    assert(emitted.length.toLong == nHourly)
    emitted.foreach { r =>
      val k = (r.getTimestamp(0), r.getString(1))
      assert(batch(k) == r.getLong(2), s"finalized window $k diverged from batch")
    }
    val nSessions = Streaming.sessionizeToFiles(spark, sf,
      s"$dir/sessions", s"$dir/ckpt_sessions")
    assert(nSessions > 0, "session append sink emitted nothing")
  }

  test("file-sink counts are per-run, not cumulative, across resumed runs") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("stream_resume").toString
    val run1 = Streaming.hourlyEventCountsToFiles(spark, sf,
      s"$dir/hourly", s"$dir/ckpt")
    assert(run1 > 0)
    // resume against the same checkpoint with no new source data: THIS run
    // emits nothing — the old implementation re-counted the whole output
    // directory and reported run1 again
    val run2 = Streaming.hourlyEventCountsToFiles(spark, sf,
      s"$dir/hourly", s"$dir/ckpt")
    assert(run2 == 0, s"resumed no-op run reported $run2 rows (cumulative?)")
    // the cumulative directory still holds exactly run1's emission
    assert(spark.read.parquet(s"$dir/hourly").count() == run1)
  }

  test("streaming dedup drops duplicates within the watermark, across runs") {
    val dir = java.nio.file.Files.createTempDirectory("stream_dedup").toString
    val ns = 1000000000L // event-time nanos (source files carry int64 nanos)
    def writeEvents(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = s"$dir/tmp_$name"
      rows.toDF("event_id", "user_id", "ts", "event_type")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/src/$name"))
    }
    new java.io.File(s"$dir/src").mkdirs()
    val t0 = 1700000000L * ns
    writeEvents("events.parquet", Seq(
      (1L, 10L, t0, "click"),
      (1L, 10L, t0 + 60 * ns, "click"), // within-batch duplicate
      (2L, 10L, t0 + 120 * ns, "view"),
      (3L, 11L, t0 + 180 * ns, "click"),
      (4L, 11L, t0 + 240 * ns, "view"),
      (5L, 12L, t0 + 300 * ns, "click")))
    val run1 = Streaming.dedupEventsToFiles(spark, s"$dir/src",
      s"$dir/out", s"$dir/ckpt")
    assert(run1 == 5, s"run1 emitted $run1, expected 5 (one dup dropped)")
    // a later file replays id 3 within the horizon and adds a new id 6:
    // checkpointed dedup state must drop the replay
    writeEvents("events2.parquet", Seq(
      (3L, 11L, t0 + 360 * ns, "click"), // cross-run duplicate
      (6L, 12L, t0 + 420 * ns, "view")))
    val run2 = Streaming.dedupEventsToFiles(spark, s"$dir/src",
      s"$dir/out", s"$dir/ckpt")
    assert(run2 == 1, s"run2 emitted $run2, expected 1 (replay dropped)")
    val ids = spark.read.parquet(s"$dir/out")
      .groupBy($"event_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(ids.values.forall(_ == 1L), s"duplicates survived: $ids")
  }

  test("streaming foreachBatch JDBC load is idempotent across replayed batches") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("stream_jdbc").toString
    val sf = "/root/testdata/sf0.001"
    val spec = graft.core.Schemas.TableSpec(
      "stream_events",
      StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("event_type", StringType))),
      Nil, Seq("event_id"))
    val url = "jdbc:derby:memory:graft_stream;create=true"
    val total = graft.core.Tables(spark, sf, "events").count()
    // default ledger lives inside the checkpoint (shared lineage)
    val n1 = Streaming.eventsToJdbc(spark, sf, spec, url, s"$dir/ckpt")
    assert(n1 == total, s"first run wrote $n1 of $total")
    // resumed run: checkpoint says nothing new — no writes
    val n2 = Streaming.eventsToJdbc(spark, sf, spec, url, s"$dir/ckpt")
    assert(n2 == 0, s"resumed no-op run wrote $n2")
    // crash-replay of a COMMITTED batch: fresh checkpoint re-delivers
    // batch 0 with identical content (foreachBatch is at-least-once); the
    // surviving ledger must skip the double insert
    val n3 = Streaming.eventsToJdbc(spark, sf, spec, url, s"$dir/ckpt2",
      s"$dir/ckpt/jdbc_ledger.properties")
    assert(n3 == 0, s"replayed batch wrote $n3 — ledger failed to dedup")
    val inDb = spark.read.jdbc(url, "stream_events", new java.util.Properties())
    assert(inDb.count() == total, "warehouse must hold exactly one copy")
  }

  test("streaming sketch dedup collapses duplicate content, across runs") {
    val dir = java.nio.file.Files.createTempDirectory("stream_sketch").toString
    def writeDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$dir/tmp_$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/src/$name"))
    }
    new java.io.File(s"$dir/src").mkdirs()
    writeDocs("documents.parquet", Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "the quick brown fox jumps over the dog"), // exact duplicate
      (3L, "an entirely different document about spark shuffles"),
      (4L, "a third text with its own distinct content")))
    val run1 = Streaming.dedupDocsBySketchToFiles(spark, s"$dir/src",
      s"$dir/out", s"$dir/ckpt")
    assert(run1 == 3, s"run1 emitted $run1, expected 3 (one content dup dropped)")
    // a later ingest file replays the same content under a new id and
    // adds genuinely new content: checkpointed sketch state must thin it
    writeDocs("documents2.parquet", Seq(
      (5L, "the quick brown fox jumps over the dog"), // cross-run dup
      (6L, "fresh never-seen content for the second batch")))
    val run2 = Streaming.dedupDocsBySketchToFiles(spark, s"$dir/src",
      s"$dir/out", s"$dir/ckpt")
    assert(run2 == 1, s"run2 emitted $run2, expected 1 (replayed content dropped)")
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == 4)
    assert(out.select($"sketch").distinct().count() == 4,
      "every surviving document must carry a distinct sketch")
  }

  test("stream-static enrichment stamps dimension values, no stream state") {
    val dir = java.nio.file.Files.createTempDirectory("stream_enrich").toString
    val sf = "/root/testdata/sf0.001"
    val dim = Seq(("click", "interactive"), ("view", "passive"))
      .toDF("event_type", "label")
    val n = Streaming.enrichEventsToFiles(spark, sf, dim, "event_type",
      s"$dir/out", s"$dir/ckpt")
    val src = graft.core.Tables(spark, sf, "events")
    assert(n == src.count(), "enrichment must be row-preserving (left join)")
    val out = spark.read.parquet(s"$dir/out")
    // every known type got its label; unknown types survive with null
    val labels = out.groupBy($"event_type", $"label").count().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.get("click").contains("interactive"))
    assert(labels.get("view").contains("passive"))
  }

  test("dedupUserDaysWithinWatermark matches batch DISTINCT when the " +
      "horizon covers the input span (q162 gate contract)") {
    val sf = "/root/testdata/sf0.001"
    val got = Streaming.dedupUserDaysWithinWatermark(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = graft.core.Tables(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) div 86400000000 AS day_idx")
      .distinct().orderBy("user_id", "day_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty)
    assert(got == want)
    // and the stream actually thinned something: raw rows > distinct keys
    assert(graft.core.Tables(spark, sf, "events").count() > got.size)
  }

  test("memory-sink query names are unique per invocation (no collision)") {
    val sf = "/root/testdata/sf0.001"
    val a = Streaming.hourlyEventCounts(spark, sf).count()
    val b = Streaming.hourlyEventCounts(spark, sf).count()
    assert(a == b && a > 0)
  }

  test("the memory-sink runner propagates a stream failure and drops its view") {
    val sf = "/root/testdata/sf0.001"
    def streamViews = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_")).toSet
    val before = streamViews
    val failing = Streaming.parquetStream(spark, sf, "events")
      .filter(org.apache.spark.sql.functions.expr(
        "raise_error('graft runner boom') IS NULL"))
      .select("user_id")
    val e = intercept[Exception](
      Streaming.runToMemory(failing, "append", "user_id"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage)
      .exists(_.contains("graft runner boom"))), s"got $e")
    assert(streamViews == before, "the failed run left its temp view registered")
  }

  test("sessionizeCustomState agrees with session_window on real events") {
    // derive both sessionizations of the sf0.001 events table and compare
    val sf = "/root/testdata/sf0.001"
    val raw = graft.core.Tables(spark, sf, "events")
      .selectExpr("user_id AS userId", "unix_micros(ts) AS tsMicros")
      .as[SessionEvent]
    // session_start strings carry second precision — compare at seconds
    val custom = Streaming.sessionizeCustomState(raw)
      .collect().map(s => (s.userId, s.startMicros / 1000000, s.nEvents)).sorted.toSeq
    val native = Streaming.sessionize(spark, sf)
      .selectExpr("user_id", "unix_seconds(to_timestamp(session_start)) AS sm",
        "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(custom == native)
  }

  test("multi-batch custom-state sessions: event-time timeouts match the batch twin") {
    // VERDICT r6 ask #6: the event-time-timeout path is what production
    // relies on when input spans micro-batches — force TWO data batches
    // (two files, maxFilesPerTrigger=1) and assert batch parity on every
    // watermark-expired user. u1's session SPANS the batch boundary (the
    // case the single-batch shim's end-of-batch flush would split).
    val dir = java.nio.file.Files.createTempDirectory("stream_custom_mb").toString
    new java.io.File(s"$dir/src").mkdirs()
    val baseUs = 1700000000L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val gapS = 1800L
    val file1 = Seq( // chronologically first half
      1L -> 0L, 1L -> 600L, // u1 session opens
      2L -> 0L, 2L -> 300L, // u2 session: last event here, closes by timeout
      3L -> 0L) // u3 first session
    val file2 = Seq( // second half
      1L -> 1200L, // u1 continues ACROSS the boundary (gap 600 < 1800)
      3L -> 7200L, // u3 second session (gap 7200 > 1800 closes the first)
      99L -> 36000L) // watermark driver: own trailing session stays open
    def write(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = s"$dir/tmp_$name"
      // reversed order inside the file: the fold must sort per group
      rows.reverse.map { case (u, s) => (u, ts(s)) }.toDF("user_id", "ts")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/src/$name"))
    }
    write("e1.parquet", file1)
    write("e2.parquet", file2)
    val schema = spark.read.parquet(s"$dir/src/e1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = Streaming.sessionizeCustomStateEventTime(stream,
        gapMicros = gapS * 1000000L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("graft_custom_mb")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not finish")
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not span at least two micro-batches")
    val got = spark.table("graft_custom_mb").as[SessionOut].collect().toSet
    spark.catalog.dropTempView("graft_custom_mb")
    // batch twin over the full bounded input
    val twin = Streaming.sessionizeCustomState(
      (file1 ++ file2).map { case (u, s) => SessionEvent(u, baseUs + s * 1000000L) }
        .toDS(), gapS * 1000000L).collect().toSet
    // final watermark = max event − 1 s: every u1/u2/u3 session's gap
    // deadline (≤ 7200 + 1800 s) lies far behind it → emitted by timeout
    // or by in-data gap evidence; u99's trailing session must be RETAINED
    // in state, not flushed at stream end
    assert(got == twin.filter(_.userId != 99L),
      s"got $got\nexpected ${twin.filter(_.userId != 99L)}")
    assert(got.exists(s => s.userId == 1L && s.nEvents == 3L),
      "u1's boundary-spanning session was split")
  }

  test("custom-state sessions: an out-of-order event in a later batch " +
      "extends the open session instead of rewinding it") {
    // ADVICE r7 (medium): the merge branch used to overwrite lastMicros
    // with the incoming event's time unconditionally, so a late event
    // EARLIER than the session's current end rewound its reach (splitting
    // subsequent events the batch twin merges) and a late event before
    // the session's start left startMicros wrong. Force the exact shape:
    // batch 1 opens u1 [1000 s, 1400 s]; batch 2 delivers u1 at 900 s
    // (inside the 600 s watermark allowance, BEFORE the session start)
    // then u1 at 1800 s — within gap (500 s) of the true end 1400 but NOT
    // of the rewound end 900. Buggy fold: emits (start=1000, n=3) and
    // opens a second session at 1800. Correct fold: one session
    // (start=900, n=4), closed by u99's watermark push.
    val dir = java.nio.file.Files.createTempDirectory("stream_ooo").toString
    new java.io.File(s"$dir/src").mkdirs()
    val baseUs = 1700000000L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val gapS = 500L
    val file1 = Seq(1L -> 1000L, 1L -> 1400L)
    val file2 = Seq(1L -> 900L, 1L -> 1800L, 99L -> 10000L)
    def write(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = s"$dir/tmp_$name"
      rows.reverse.map { case (u, s) => (u, ts(s)) }.toDF("user_id", "ts")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/src/$name"))
    }
    write("e1.parquet", file1)
    write("e2.parquet", file2)
    val schema = spark.read.parquet(s"$dir/src/e1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = Streaming.sessionizeCustomStateEventTime(stream,
        gapMicros = gapS * 1000000L, late = "600 seconds")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("graft_custom_ooo")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not finish")
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not span at least two micro-batches")
    val got = spark.table("graft_custom_ooo").as[SessionOut].collect().toSet
    spark.catalog.dropTempView("graft_custom_ooo")
    val twin = Streaming.sessionizeCustomState(
      (file1 ++ file2).map { case (u, s) => SessionEvent(u, baseUs + s * 1000000L) }
        .toDS(), gapS * 1000000L).collect().toSet
    assert(got == twin.filter(_.userId != 99L),
      s"got $got\nexpected ${twin.filter(_.userId != 99L)}")
    assert(got.exists(s => s.userId == 1L && s.nEvents == 4L
        && s.startMicros == baseUs + 900L * 1000000L),
      s"u1's out-of-order event did not extend the session: $got")
  }

  test("custom-state sessions, late > gap: retroactive sessions and late " +
      "bridges match the batch twin") {
    // VERDICT r8 ask #8: with allowed lateness LARGER than the session gap
    // (backfill/repair shape), gap evidence alone no longer proves closure
    // — through round 8 this was a documented precondition, now the
    // operator holds each session until the watermark passes end + gap.
    // Two shapes the eager single-session fold gets wrong:
    //  - u1: batch 1 opens [5000 s, 5400 s]; batch 2 delivers 3000 s —
    //    2000 s before the open session's START (> gap 500) but inside
    //    the 3000 s lateness window. Batch twin: its own retroactive
    //    session (3000, n=1) plus (5000, n=2). The old fold merged it
    //    (3000 − 5400 < gap trivially) into one (3000, n=3).
    //  - u2: batch 1 proves a gap between [2600] and [3400] (800 ≥ 500);
    //    batch 2's 3000 s lands within gap of BOTH — the twin merges all
    //    three into one session. Early emission on gap evidence would
    //    have irrevocably shipped (2600, n=1).
    val dir = java.nio.file.Files.createTempDirectory("stream_retro").toString
    new java.io.File(s"$dir/src").mkdirs()
    val baseUs = 1700000000L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val gapS = 500L
    val file1 = Seq(1L -> 5000L, 1L -> 5400L, 2L -> 2600L, 2L -> 3400L)
    // watermark after batch 1 = 5400 − 3000 = 2400 s: every batch-2 event
    // is above it (accepted), u99 then pushes the final watermark past
    // every deadline (20000 − 3000 = 17000 ≥ 5900)
    val file2 = Seq(1L -> 3000L, 2L -> 3000L, 99L -> 20000L)
    def write(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = s"$dir/tmp_$name"
      rows.reverse.map { case (u, s) => (u, ts(s)) }.toDF("user_id", "ts")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/src/$name"))
    }
    write("e1.parquet", file1)
    write("e2.parquet", file2)
    val schema = spark.read.parquet(s"$dir/src/e1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = Streaming.sessionizeCustomStateEventTime(stream,
        gapMicros = gapS * 1000000L, late = "3000 seconds")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("graft_custom_retro")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not finish")
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not span at least two micro-batches")
    val got = spark.table("graft_custom_retro").as[SessionOut].collect().toSet
    spark.catalog.dropTempView("graft_custom_retro")
    val twin = Streaming.sessionizeCustomState(
      (file1 ++ file2).map { case (u, s) => SessionEvent(u, baseUs + s * 1000000L) }
        .toDS(), gapS * 1000000L).collect().toSet
    assert(got == twin.filter(_.userId != 99L),
      s"got $got\nexpected ${twin.filter(_.userId != 99L)}")
    assert(got.exists(s => s.userId == 1L && s.nEvents == 1L
        && s.startMicros == baseUs + 3000L * 1000000L),
      s"u1's late event did not form its own retroactive session: $got")
    assert(got.exists(s => s.userId == 2L && s.nEvents == 3L
        && s.startMicros == baseUs + 2600L * 1000000L),
      s"u2's late bridge event did not merge the gap-separated sessions: $got")
  }

  test("custom-state sessions, late == gap boundary: eager emission is off " +
      "and parity holds") {
    // ADVICE r9: the parity proof of the eager regime is STRICT — with
    // late == gap an accepted event can land in the exactly-gap-wide
    // seam between two state sessions and bridge them, so gap evidence
    // is not final and the boundary case must take the watermark-held
    // path. Construction (gap = late = 500 s):
    //  - batch 1: u1 at 5000 and 5500 — exactly gap apart, two sessions;
    //    watermark after the batch = 5500 − 500 = 5000. The old
    //    `late <= gap` eager test would emit (5000, n=1) HERE.
    //  - batch 2: u1 at 5200 — strictly above the watermark (accepted,
    //    no boundary-acceptance ambiguity), within gap of BOTH sessions.
    //    The batch twin merges all three into one (5000, n=3); an eager
    //    first batch has already shipped (5000, n=1) irrevocably.
    //    u99 at 6600 pushes the final watermark past 5500 + 500.
    val dir = java.nio.file.Files.createTempDirectory("stream_edge").toString
    new java.io.File(s"$dir/src").mkdirs()
    val baseUs = 1700000000L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val gapS = 500L
    val file1 = Seq(1L -> 5000L, 1L -> 5500L)
    val file2 = Seq(1L -> 5200L, 99L -> 6600L)
    def write(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = s"$dir/tmp_$name"
      rows.map { case (u, s) => (u, ts(s)) }.toDF("user_id", "ts")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/src/$name"))
    }
    write("e1.parquet", file1)
    write("e2.parquet", file2)
    val schema = spark.read.parquet(s"$dir/src/e1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/src")
    val q = Streaming.sessionizeCustomStateEventTime(stream,
        gapMicros = gapS * 1000000L, late = "500 seconds")
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName("graft_custom_edge")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not finish")
    q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "input did not span at least two micro-batches")
    val got = spark.table("graft_custom_edge").as[SessionOut].collect().toSet
    spark.catalog.dropTempView("graft_custom_edge")
    val twin = Streaming.sessionizeCustomState(
      (file1 ++ file2).map { case (u, s) =>
        SessionEvent(u, baseUs + s * 1000000L) }
        .toDS(), gapS * 1000000L).collect().toSet
    assert(got == twin.filter(_.userId != 99L),
      s"got $got\nexpected ${twin.filter(_.userId != 99L)}")
    assert(got.exists(s => s.userId == 1L && s.nEvents == 3L
        && s.startMicros == baseUs + 5000L * 1000000L),
      s"the bridge event did not merge the exactly-gap-separated sessions: $got")
  }

  test("q74 batch sessionization agrees with streaming session_window") {
    // backfill/live parity: the batch window program and the streaming
    // session_window must carve identical sessions from the same events
    val sf = "/root/testdata/sf0.001"
    val batch = graft.QueriesExt.entries.find(_.name == "q74_sessionize_batch")
      .get.fn(spark, sf)
      .selectExpr("user_id", "start_us / 1000000 AS sm", "n_events")
      .collect().map(r => (r.getLong(0), r.getDouble(1).toLong, r.getLong(2)))
      .sorted.toSeq
    val stream = Streaming.sessionize(spark, sf)
      .selectExpr("user_id", "unix_seconds(to_timestamp(session_start)) AS sm",
        "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(batch == stream)
  }
}
