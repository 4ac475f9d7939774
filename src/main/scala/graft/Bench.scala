package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The perf protocol: each selected query's median wall time at one scale
  * factor, printed as ONE JSON line on stdout:
  *
  * `{"metric":"total","value":<sum of medians>,"unit":"sec","queries":{..},
  * "errors":{..},"sf":..,"calib_sec":..,"calib_par":..,"window":..,
  * "window_ratio":..,"qt_cal":{..},"calib_q":{..},"calib_pq":{..},"head":..}`
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default: the sf0.1 test corpus),
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated qNN prefixes or full names),
  * `SPARK_GRAFT_BENCH_REPS` (default 3), and the session's
  * `SPARK_GRAFT_CPUS` / `SPARK_GRAFT_MASTER` ([[graft.core.Sessions.fromEnv]]).
  * Executor I/O per query comes from Spark's event log
  * (`--conf spark.eventLog.enabled=true` on a spark-submit leg) or from the
  * perfbench trace's `task.*` layer, not from this line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.fromEnv()
    // Sessions.builder sets shuffle partitions to the session's core count
    val cpus = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Optional query filter: matching is by full name or by the qNN prefix
    // before the first '_' (heavy-query runs at sf1/sf10 bench a handful).
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def selected(name: String): Boolean =
      only.isEmpty || only(name) || only(name.takeWhile(_ != '_'))
    val queries = SparkEntry.queries.filter(e => selected(e._1)).toSeq.sortBy(_._1)
    // noop write materializes every row without a collect
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    // Warm the JVM/codegen once on the smallest SF so measured times reflect
    // execution, not first-call classloading.
    queries.foreach { case (_, fn) =>
      try run(fn, "/root/testdata/sf0.001") catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    // Target-SF JIT ramp (untimed): C2 keeps profiling for the first ~2 min
    // of at-scale execution, which inflated all reps of the first ~12
    // queries in sort order to 1.8-4.7x their steady state. One untimed
    // pass of those queries at the target SF absorbs it.
    queries.take(12).foreach { case (_, fn) =>
      try run(fn, sfDir) catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // Median of reps per query (single reps showed 10-20x first-touch
    // GC/scheduling outliers). Clamped to >= 1; even counts report the
    // upper middle, so use odd counts for a true median.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // A query that throws must NOT report its exception latency as a
    // timing — it goes under "errors" instead.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Host-speed probes sampled right before each query's reps: calib_q
    // times a fixed single-thread loop, calib_pq the same loop on `cpus`
    // threads. tools/benchcmp.py normalizes each query by its own calib_q;
    // calib_pq's rise relative to calib_q is the lost-core signal the
    // single-thread probe cannot see (see windowSummary).
    val calibQ = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val calibPq = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    calibOnce(200000000L) // discard: compiles the probe loop itself
    calibParOnce(100000000L, cpus) // discard: thread-pool warmup
    val results: Seq[(String, Double)] = queries.flatMap { case (name, fn) =>
      calibQ(name) = calibOnce(200000000L)
      calibPq(name) = calibParOnce(100000000L, cpus)
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { run(fn, sfDir); true }
          catch { case e: Throwable =>
            errors.getOrElseUpdate(name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // cached plans from one rep must not occupy storage memory (and GC
        // budget) during the next one's timing
        spark.catalog.clearCache()
        if (ok) Some(dt) else None
      }.sorted
      times.lift(times.size / 2).map(name -> _)
    }
    val total = results.map(_._2).sum
    // whole-run probes: calib_sec normalizes snapshots that predate calib_q
    val calib = calibOnce(400000000L)
    val calibPar = calibParOnce(100000000L, cpus)
    // qt_cal = raw seconds / calib_q: each query's time in units of the
    // single-thread probe sampled right before its reps, so the ratio of
    // two runs' qt_cal is benchcmp.py's per-query calibrated comparison.
    val qtCal = results.flatMap { case (k, v) =>
      calibQ.get(k).filter(_ > 0).map(c => k -> fmt3(v / c))
    }
    val (windowRatio, window) = windowSummary(calibQ, calibPq)
    if (window == "degraded")
      System.err.println(s"[bench] WARNING: degraded parallel-capacity " +
        s"window (median calib_pq/calib_q ${fmt3(windowRatio)} vs " +
        "predicted 0.5); this run must not anchor round-over-round reads")
    val head =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        if (p.waitFor() == 0) out else "unknown"
      } catch { case _: Throwable => "unknown" }
    def obj(kv: Iterable[(String, Any)]): String =
      kv.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)},"errors":${obj(errors.map { case (k, v) => k -> jstr(v) })},"sf":${jstr(sfDir)},"calib_sec":$calib,"calib_par":$calibPar,"window":"$window","window_ratio":${fmt3(windowRatio)},"qt_cal":${obj(qtCal)},"calib_q":${obj(calibQ)},"calib_pq":${obj(calibPq)},"head":${jstr(head)}}""")
    spark.stop()
  }

  /** Locale.ROOT: the default locale may print a comma decimal separator,
    * which is not JSON. */
  private def fmt3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** (median calib_pq/calib_q over the run, "healthy"|"degraded") — the
    * whole-run host-health stamp. Absolute anchor: the parallel probe runs
    * HALF the per-thread iterations of the single-thread probe, so its
    * predicted ratio on an uncontended box with ≥ cpus cores is 0.5 — a
    * prediction derived from the probes' construction, not from any past
    * run, which is what lets it catch a degradation that elevates the
    * WHOLE run. Degraded = median ratio > 0.5 × 1.25. Fewer than 2 probe
    * pairs (single-query runs) report healthy at ratio 0.5 — no basis to
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
