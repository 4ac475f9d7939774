package graft
import org.apache.spark.sql.SparkSession

/** Executor-side I/O accounting for bench runs (round-10 q85 evidence:
  * wall-clock growth conflates PLAN growth with single-box
  * memory-hierarchy growth — the same shuffle that stays in page cache
  * at sf1 hits the disk at sf10. Summing task metrics separates them:
  * if a query's shuffle/spill BYTES grow exactly with the data while
  * its SECONDS grow faster, the plan is linear and the excess is the
  * box, not the query). Thread-safe: task-end events arrive on the
  * listener bus thread while the bench thread reads snapshots. */
private[graft] final class IoListener
    extends org.apache.spark.scheduler.SparkListener {
  private val shuffleW = new java.util.concurrent.atomic.AtomicLong
  private val spillDisk = new java.util.concurrent.atomic.AtomicLong
  private val spillMem = new java.util.concurrent.atomic.AtomicLong
  private val input = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillDisk.addAndGet(m.diskBytesSpilled)
      spillMem.addAndGet(m.memoryBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }
  def reset(): Unit = {
    shuffleW.set(0); spillDisk.set(0); spillMem.set(0); input.set(0)
  }
  /** (shuffle_write, spill_disk, spill_mem, input) in bytes since reset.
    * Listener-bus delivery is asynchronous; callers snapshot AFTER the
    * query's jobs complete and poll until two reads agree so late task
    * events are included (bounded at ~2 s — metrics are evidence, never
    * part of the timed path). */
  def settledSnapshot(): (Long, Long, Long, Long) = {
    def now = (shuffleW.get, spillDisk.get, spillMem.get, input.get)
    var prev = now
    var tries = 0
    while (tries < 20) {
      Thread.sleep(100)
      val cur = now
      if (cur == prev) return cur
      prev = cur
      tries += 1
    }
    // still moving after the 2 s bound: return what we have, but say so —
    // a silently under-counted io_mb line is indistinguishable from a
    // genuinely smaller plan when the evidence is read later (ADVICE r10)
    System.err.println(
      "[io] WARNING: task metrics still settling after 2 s; " +
        "this query's io_mb may under-count straggler tasks")
    prev
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Partition-count experiments (the sf10 spill hypothesis, SCALE.md)
    // plug in HERE, not in the shared session builder — a leftover export
    // must never reach Verify / tests / SubCorpus (ADVICE r9; the knob
    // also now follows the SPARK_GRAFT_* naming every other env uses)
    // SPARK_GRAFT_MASTER overrides the master URL for the multi-executor
    // validation legs (VERDICT r10 missing #1): `local-cluster[4,8,8192]`
    // runs REAL executor processes — serialized netty shuffle fetch,
    // per-executor off-heap pools, inter-process broadcast — which
    // local[32] structurally cannot exercise. Those legs launch through
    // spark-submit (tools/lcbench.sh) so the worker/executor JVMs find
    // SPARK_HOME and the packaged graft jar; an explicit .master() here
    // would silently override spark-submit's --master, hence the env.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b0 = graft.core.Sessions.builder(master, cpus)
    val b1 = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .fold(b0)(p => b0.config("spark.sql.shuffle.partitions", p))
    // Off-heap Tungsten pages for large-heap scale legs (round-10 q85
    // diagnosis: at 48g heap, G1 young evacuation of the join's page
    // arrays cost 6-16 s PER PAUSE — q85 sf1 went 10.8 s @8g -> 47 s
    // @48g with zero host contention; moving execution memory off-heap
    // removes those arrays from the collector's copy set entirely).
    // SPARK_GRAFT_OFFHEAP=24g etc.; production twin: Sessions.cluster.
    val spark = sys.env.get("SPARK_GRAFT_OFFHEAP")
      .fold(b1)(sz => b1.config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", sz))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional query filter (comma-separated qNN prefixes or full names) —
    // the sf10 watch-family runs (SCALE.md) bench a handful of queries on a
    // 100× corpus, where a full-corpus run would be hours. Matching is by
    // name or by the qNN prefix before the first '_'.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def selected(name: String): Boolean =
      only.isEmpty || only(name) || only(name.takeWhile(_ != '_'))
    val queries = SparkEntry.queries.filter(e => selected(e._1))
    // Warm the JVM/codegen once on the smallest SF so measured times reflect
    // execution, not first-call classloading.
    queries.values.foreach { fn =>
      try fn(spark, "/root/testdata/sf0.001").write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // Target-SF JIT ramp (untimed): the sf0.001 warmup compiles codegen
    // classes but C2 keeps profiling for the first ~2 min of at-scale
    // execution, which inflated ALL THREE reps of the first ~12 queries
    // in sort order (r6: q01-q09/q100/q101 read 1.8-4.7x their steady
    // state; an Explain probe minutes later showed them back at r5
    // levels). One untimed pass of the first 12 queries at the target SF
    // absorbs the ramp before any timing starts.
    queries.toSeq.sortBy(_._1).take(12).foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // median of 3 reps per query: single-rep timings at local[32] showed
    // 10-20× first-touch GC/scheduling outliers (q08, round 1); the median
    // reflects steady-state execution and makes rounds comparable
    // clamp to ≥1 (0 would crash the median index); even counts report the
    // upper middle — use odd rep counts for a true median
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // Adaptive reps at REPS=1 (VERDICT r12 "what's wrong" #4): the
    // single-rep full-run protocol kept flagging 15-40% swings on
    // sub-second queries that isolated re-reads then cleared — pure
    // scheduler/GC noise, a false-alarm class every round. When the
    // FIRST rep of a query lands under 2 s, two more reps are cheap by
    // construction (< ~4 s, bounded by the gate that triggered them), so
    // run them and report the median; genuinely heavy queries still pay
    // one rep. SPARK_GRAFT_BENCH_ADAPTIVE=0 opts out (preflight's time
    // budget); explicit REPS>1 already medians and is untouched.
    val adaptive = reps == 1 &&
      !sys.env.get("SPARK_GRAFT_BENCH_ADAPTIVE").exists(v => v == "0")
    // A query that throws must NOT report its exception latency as a
    // timing (round 4: 40 broken queries "benched" at ~0.05 s and
    // contaminated the totals) — it goes under "errors" instead.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Host contention arrives in MID-RUN storms (r6: two same-code runs 8
    // min apart showed 2-6× swings on time-adjacent query clusters while
    // the end-of-run calib moved 3%), so one global calib constant cannot
    // normalize per-query comparisons. Sample the fixed integer workload
    // right before each query's reps (~0.13 s each, ~21 s per run) and
    // emit it as calib_q; tools/benchcmp.py prefers it over the global
    // constant when both sides carry it.
    val calibQ = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Parallel twin (VERDICT r7 ask #5): the 1-thread probe reads HEALTHY
    // during whole-window core theft (one thread still gets a full core
    // while 31 are stolen), which is exactly the contention signature the
    // four-run sf1 spread showed on parallel-CPU-bound queries. calib_pq
    // times the same loop on `cpus` threads at once — its degradation
    // relative to calib_q is the lost-core signal tools/benchcmp.py uses
    // to separate host windows from real regressions.
    val calibPq = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    calibOnce(200000000L) // discard: compiles the probe loop itself
    calibParOnce(100000000L, cpus) // discard: thread-pool warmup
    // Per-query executor I/O (shuffle write / spill / input bytes), summed
    // over the query's reps and reported per-rep — the plan-vs-box growth
    // decomposition (see IoListener). Untimed: reset happens before the
    // probes, the settled snapshot after the last rep's clearCache.
    val io = new IoListener
    spark.sparkContext.addSparkListener(io)
    val ioQ = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // numeric twin of ioQ's disk-spill field, feeding the compact tail's
    // spill_top (VERDICT r10 missing #4: the ~4 KB archived tail truncated
    // the full io_mb map out, so the one surviving artifact could not show
    // the evidence class that settled the q85 flag)
    val spillQ = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      io.reset()
      calibQ(name) = calibOnce(200000000L)
      calibPq(name) = calibParOnce(100000000L, cpus)
      // Per-rep snapshot-and-diff (ADVICE r10): a FAILED rep's partial
      // I/O accumulated in the listener too, inflating the per-rep
      // average when some reps fail. Baseline settles after the probes
      // (reset alone can race late events from the previous query's
      // clearCache); each rep's delta joins the sum only if the rep
      // succeeded. Snapshots are untimed — they happen after the clock.
      var ioPrev = io.settledSnapshot()
      var ioOk = (0L, 0L, 0L, 0L)
      val timesBuf = scala.collection.mutable.ArrayBuffer.empty[Double]
      var rep = 0
      var target = reps
      while (rep < target) {
        val t0 = System.nanoTime()
        // noop write materializes every row without driver collect
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // isolate queries/reps: cached plans from one run must not occupy
        // storage memory (and GC budget) during the next one's timing
        spark.catalog.clearCache()
        val snap = io.settledSnapshot()
        if (ok) {
          ioOk = (ioOk._1 + snap._1 - ioPrev._1,
            ioOk._2 + snap._2 - ioPrev._2, ioOk._3 + snap._3 - ioPrev._3,
            ioOk._4 + snap._4 - ioPrev._4)
          timesBuf += dt
        }
        ioPrev = snap
        rep += 1
        // sub-2 s first rep at REPS=1 → median-of-3 (see `adaptive`)
        if (adaptive && rep == 1 && ok && dt < 2.0) target = 3
      }
      val times = timesBuf.sorted
      if (times.nonEmpty) {
        val (sw, sd, sm, in) = ioOk
        def mbPerRep(v: Long): Double = v / times.size.toDouble / 1048576.0
        def fmt(v: Long): String = String.format(java.util.Locale.ROOT,
          "%.1f", Double.box(mbPerRep(v)))
        ioQ(name) = s"""{"shuffle_mb":${fmt(sw)},"spill_disk_mb":${
          fmt(sd)},"spill_mem_mb":${fmt(sm)},"input_mb":${fmt(in)}}"""
        spillQ(name) = mbPerRep(sd)
      }
      if (times.isEmpty) None else Some(name -> times(times.size / 2))
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // fixed single-thread integer workload, timed — host/VM contention was
    // observed to swing identical-code query times 3×; this calibration
    // constant lets rounds be compared speed-normalized (calib_q above is
    // the per-query refinement; this global stays for older snapshots)
    val calib = calibOnce(400000000L)
    val calibPar = calibParOnce(100000000L, cpus)
    val cqJson = calibQ.map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val cpqJson = calibPq.map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    val ioJson = ioQ.map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString("{", ",", "}")
    // Host-health window stamp (VERDICT r13 ask #2): round 13's full
    // bench ran entirely inside a degraded parallel-capacity window —
    // in-run parallel probe ~1.6× the r12 reference at IDENTICAL
    // single-thread calib — and the per-query contention flags
    // (2× the run's own median) are structurally blind to it: a
    // WHOLE-RUN degradation moves the median itself. The absolute
    // anchor is the probe's construction: calibParOnce runs HALF the
    // per-thread iterations of calibOnce, so on an uncontended box with
    // ≥ cpus cores the parallel probe finishes in ~0.5× the
    // single-thread probe. A run whose MEDIAN pq/q ratio deviates >25%
    // above that prediction is stamped "degraded" — benchcmp.py refuses
    // to let such a run anchor a round-over-round comparison silently.
    // Per-query CALIBRATED times (VERDICT r14 ask #1): two rounds of perf
    // reads were lost to degraded host windows because the archived
    // artifacts carried only RAW seconds — a window-degraded run looks
    // like a code regression until someone re-derives the calibration by
    // hand. qt_cal = raw_sec / calib_q(q), i.e. each query's time in
    // units of the single-thread probe sampled right before its reps;
    // the ratio of two runs' qt_cal values is exactly benchcmp.py's
    // per-query-calibrated comparison, now computable from either stdout
    // line alone (the compact tail included). Dimensionless multiples of
    // ~0.1 s probe time, so typical values are 1-30.
    val qtCal: Seq[(String, Double)] = results.toSeq.sortBy(_._1).flatMap {
      case (k, v) => calibQ.get(k).filter(_ > 0).map(c => k -> v / c)
    }
    val qtCalJson = qtCal.map { case (k, v) =>
      s"${jstr(k)}:${String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))}"
    }.mkString("{", ",", "}")
    val (windowRatio, window) = windowSummary(calibQ, calibPq)
    if (window == "degraded")
      System.err.println(s"[bench] WARNING: degraded parallel-capacity " +
        s"window (median calib_pq/calib_q ${String.format(
          java.util.Locale.ROOT, "%.3f", Double.box(windowRatio))} vs " +
        "predicted 0.5); this run must not anchor round-over-round reads")
    val wr = String.format(java.util.Locale.ROOT, "%.3f", Double.box(windowRatio))
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir","calib_sec":$calib,"calib_par":$calibPar,"window":"$window","window_ratio":$wr,"qt_cal":$qtCalJson,"calib_q":$cqJson,"calib_pq":$cpqJson,"io_mb":$ioJson}""")
    // Compact twin as the FINAL stdout line (VERDICT r6 ask #7): the
    // driver archives only a ~4 KB stdout tail, which truncated the full
    // line above mid-map in round 6 (BENCH_r06.json `parsed: null`). Keys
    // shortened to the qNN prefix, times at 0.1 ms, no calib_q — ~2.5 KB,
    // so any tail capture contains one parseable record. Local tooling
    // (tools/benchcmp.py) still prefers the full line when both survive.
    // Locale.ROOT: f"$v%.4f" uses the JVM default locale, and a comma
    // decimal separator would make the compact twin invalid JSON —
    // defeating the tail-capture fix it exists for (ADVICE r7)
    // Dense per-query encoding (VERDICT r11 missing #4): the driver's
    // archived tail is ~2 KB and the round-11 JSON-map twin (~2.7 KB at
    // 174 queries) still lost its first ~40 entries off the front. One
    // string field `qt` = "q01:.454;q02:1.058;..." — qNN keys, 3-decimal
    // seconds, leading zero stripped — is ~10 bytes/query, so all 174
    // entries plus the header fit in ~1.9 KB. tools/benchcmp.py parses
    // both encodings (and still prefers the full line when it survives).
    val qtCompact = results.toSeq.sortBy(_._1).map { case (k, v) =>
      val t = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      k.takeWhile(_ != '_') + ":" + (if (t.startsWith("0.")) t.drop(1) else t)
    }.mkString(";")
    // dense calibrated twin (VERDICT r14 ask #1): same qNN encoding, 2
    // decimals (values are probe multiples, 1% precision suffices) — ~1.6
    // KB at 174 queries, placed right after qt so a front-truncated tail
    // loses raw times before it loses the window-proof calibrated ones
    val qtCalCompact = qtCal.map { case (k, v) =>
      val t = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      k.takeWhile(_ != '_') + ":" + (if (t.startsWith("0.")) t.drop(1) else t)
    }.mkString(";")
    // Contamination self-identification (VERDICT r9 missing #2): the
    // driver archives only this tail line, which truncates calib_q/
    // calib_pq out — so when a mid-run host storm hits (r9: q47-q71 read
    // 5-60× in BENCH_r09.json and only judge re-runs could adjudicate
    // it), the one surviving artifact must carry the verdict itself.
    // Signal: each query's calib_pq/calib_q ratio (parallel-probe
    // degradation — the lost-core signature the 1-thread probe is blind
    // to) against the run's median; >2× median flags the query.
    // Consecutive flagged queries in execution order compress to
    // "q47-q71" ranges so the field stays tail-sized even in a long storm.
    val (contended, contendMax) = contentionSummary(calibQ, calibPq)
    // Top disk spillers, tail-sized (VERDICT r10 missing #4): the archived
    // artifact carries the evidence class that settled round 10's q85 flag
    // — which queries hit the disk, and by how much per rep. Three entries,
    // qNN keys, whole MB; queries that never spilled never appear.
    val spillTop = spillQ.toSeq.filter(_._2 >= 1.0).sortBy(-_._2).take(3)
      .map { case (k, v) => s"${k.takeWhile(_ != '_')}:${v.round}" }
      .mkString(",")
    val calibPar2 = calibParOnce(100000000L, cpus)
    val head =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        if (p.waitFor() == 0) out else "unknown"
      } catch { case _: Throwable => "unknown" }
    println(s"""{"metric":"total","value":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(total))},"unit":"sec","n_q":${results.size},"qt":${jstr(qtCompact)},"qt_cal":${jstr(qtCalCompact)},"n_errors":${errors.size},"sf":"$sfDir","calib_sec":$calib,"calib_par":$calibPar2,"window":"$window","window_ratio":$wr,"contended":${jstr(contended)},"contend_max":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(contendMax))},"spill_top":${jstr(spillTop)},"head":${jstr(head)}}""")
    spark.stop()
  }

  /** ("q47-q71,q103" range-compressed flagged queries, max ratio/median).
    * Flag = a query whose parallel-probe degradation (calib_pq / calib_q)
    * exceeds 2× the run median on EITHER its own pre-rep probe OR the
    * NEXT query's — probes run before a query's reps, so a storm that
    * starts mid-rep escapes the query's own probe and first registers on
    * its successor's (VERDICT r10 ask #8); the whole-window core-theft
    * signature either way. Empty string = no contention detected. Maps
    * iterate in insertion = execution order (LinkedHashMap). */
  private[graft] def contentionSummary(
      calibQ: scala.collection.Map[String, Double],
      calibPq: scala.collection.Map[String, Double]): (String, Double) = {
    val ratios = calibQ.keysIterator.toSeq.flatMap { name =>
      for (q <- calibQ.get(name); pq <- calibPq.get(name); if q > 0)
        yield name -> pq / q
    }
    if (ratios.size < 2) return ("", 1.0)
    val sortedR = ratios.map(_._2).sorted
    val med = sortedR(sortedR.size / 2)
    if (med <= 0) return ("", 1.0)
    def hot(i: Int): Boolean = ratios(i)._2 > 2 * med
    val flaggedIdx = ratios.indices.filter(i =>
      hot(i) || (i + 1 < ratios.size && hot(i + 1)))
    val short = (i: Int) => ratios(i)._1.takeWhile(_ != '_')
    // compress consecutive execution-order indices to "first-last"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var run = List.empty[Int]
    def flush(): Unit = run match {
      case Nil =>
      case one :: Nil => parts += short(one); run = Nil
      case _ => parts += s"${short(run.last)}-${short(run.head)}"; run = Nil
    }
    flaggedIdx.foreach { i =>
      if (run.nonEmpty && i != run.head + 1) flush()
      run = i :: run
    }
    flush()
    (parts.mkString(","), ratios.map(_._2).max / med)
  }

  /** (median calib_pq/calib_q over the run, "healthy"|"degraded") — the
    * whole-run host-health verdict (VERDICT r13 ask #2). Absolute
    * anchor: the parallel probe runs HALF the per-thread iterations of
    * the single-thread probe, so its predicted ratio on an uncontended
    * box with ≥ cpus cores is 0.5 — a prediction derived from the
    * probes' construction, not from any past run, which is what lets it
    * catch a degradation that elevates the WHOLE run (the per-query
    * contention flags compare against the run's own median and cannot).
    * Degraded = median ratio > 0.5 × 1.25. Fewer than 2 probe pairs
    * (single-query runs) report healthy at ratio 0.5 — no basis to
    * stamp either way, and the stamp must not block tiny iso runs. */
  private[graft] def windowSummary(
      calibQ: scala.collection.Map[String, Double],
      calibPq: scala.collection.Map[String, Double]): (Double, String) = {
    val ratios = calibQ.keysIterator.toSeq.flatMap { name =>
      for (q <- calibQ.get(name); pq <- calibPq.get(name); if q > 0)
        yield pq / q
    }.sorted
    if (ratios.size < 2) return (0.5, "healthy")
    val med = ratios(ratios.size / 2)
    (med, if (med > 0.5 * 1.25) "degraded" else "healthy")
  }

  /** Wall time of `iters` iterations of a fixed single-thread integer
    * loop — a host-speed probe immune to JIT state (the loop compiles on
    * first use and stays compiled). */
  private def calibOnce(iters: Long): Double = {
    val t0 = System.nanoTime()
    var s = 0L
    var i = 0L
    while (i < iters) { s += i * i; i += 1 }
    if (s == 42) print("") // keep the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall time for `threads` concurrent copies of the same loop to ALL
    * finish — the whole-machine twin of [[calibOnce]]. On a healthy host
    * this is ≈ the single-thread time (every thread gets a core); during
    * core theft it rises with the lost-core fraction, which the 1-thread
    * probe is structurally blind to. */
  private def calibParOnce(itersPerThread: Long, threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        var s = 0L
        var i = 0L
        while (i < itersPerThread) { s += i * i; i += 1 }
        sink.addAndGet(s) // keep the loop live across JIT
      })
      t.start()
      t
    }
    ts.foreach(_.join())
    if (sink.get() == 42) print("")
    (System.nanoTime() - t0) / 1e9
  }
}
