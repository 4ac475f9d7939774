package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One-session soak over every `SparkEntry.queries` entry with NO
  * `clearCache()` between queries — the §3.3 interactive-session regime
  * (a BI tool holds one session open all day and never calls
  * clearCache), which every other harness (Bench, Verify, preflight)
  * masks by isolating queries. This is the regime where the round-11
  * storage-leak class (kCore's per-round checkpoints, the Caching
  * construction orphans) bites a real user, so the composed property
  * gets its own commanded gate (VERDICT r11 ask #1):
  *
  *  - run all queries back-to-back in ONE JVM/session, recording the
  *    persistent-RDD count, executor storage-memory use, pending
  *    Caching listeners, and catalog temp-view count after each;
  *  - at the end, force GC and let Spark's ContextCleaner drain (the
  *    weak-valued persistent-RDD registry + reference tracking reclaim
  *    blocks whose RDD objects became unreachable — one-shot result
  *    checkpoints are SUPPOSED to converge to zero this way);
  *  - assert the post-GC session state is bounded: leaked RDDs under a
  *    small constant, pending listeners under the Caching cap, storage
  *    bytes near zero, temp views bounded.
  *
  * Exit 0 + `soak.json` artifact on pass; exit 1 with the violated
  * bound named on fail. Intentional session residents are allowed for:
  * the QueriesExt shared-table memo localCheckpoints (bounded by
  * distinct (session, dir, key) — they ARE the session's working set)
  * and rotated-loop final-round results until their consumers' Dataset
  * objects are collected.
  *
  * `SOAK_THREADS=N` (default 1) runs the same soak CONCURRENTLY: the
  * query list is dealt round-robin to N driver threads sharing the ONE
  * session — the literal §3.3 BI-server shape (Metabase issues parallel
  * statements over one SparkSession). This is the regime the round-11
  * registry-diff rotation was UNSAFE in (a concurrent statement's
  * freshly-persisted RDDs landed in the diff and were released
  * mid-query); exact ownership tracking (round 12) makes it safe by
  * construction, and this mode is the whole-engine witness — every
  * operator family, not just the FixpointSpec microcosm.
  *
  * Disk is asserted too: Spark's shuffle/spill/blockmgr directories
  * under the local dir must return to a small constant once the
  * ContextCleaner drains (shuffle-file GC is reference-triggered, the
  * same mechanism as block cleanup — a session that never GCs its
  * ShuffleDependencies fills /tmp at 100 TB scale).
  *
  * Usage: `runMain graft.Soak <sfDir> <outJson> [onlyCsv]`; bounds are
  * env-overridable (SOAK_MAX_RDDS, SOAK_MAX_STORAGE_MB,
  * SOAK_MAX_VIEWS, SOAK_MAX_DISK_MB).
  */
object Soak {

  def main(args: Array[String]): Unit = {
    val (sfDir, outPath, only) = args match {
      case Array(a, b)    => (a, b, Set.empty[String])
      case Array(a, b, f) => (a, b, f.split(",").map(_.trim).toSet)
      case _ => sys.error("usage: Soak <sfDir> <outJson> [onlyCsv]")
    }
    // App-private local dir (ADVICE r12): the disk gate previously
    // summed every blockmgr-*/spark-* under java.io.tmpdir, so a
    // concurrent Spark job on the host could false-fail the bound (or
    // mask a real leak by absorbing the attribution). Pointing
    // spark.local.dir at a fresh directory makes everything under it
    // OURS by construction — driver shuffle/blockmgr dirs, and in
    // local-cluster mode the executor dirs too (standalone executors
    // inherit the app's spark.local.dir unless the worker overrides
    // SPARK_LOCAL_DIRS, which these legs never do).
    val localDir = Files.createTempDirectory("graft-soak-").toFile
    localDir.deleteOnExit()
    val spark = graft.core.Sessions.fromEnv(
      "spark.local.dir" -> localDir.getAbsolutePath)
    val sc = spark.sparkContext

    def rddCount: Int = sc.getPersistentRDDs.size
    def storageMb: Long = sc.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / 1048576L
    def views: Long = spark.catalog.listTables().count()
    // shuffle/spill/broadcast files: everything Spark wrote under the
    // local dir for THIS app (blockmgr-* data dirs + the spark-* scratch
    // dirs). Reference-triggered shuffle-file GC must drain these.
    // (rdd blocks, shuffle files, broadcast blocks, everything else) MB —
    // the breakdown matters: rdd_* bytes under a MEMORY_AND_DISK memo are
    // the resident working set's disk tier (intentional), while shuffle_*
    // bytes that survive GC would be a ShuffleDependency leak
    def diskBreakdownMb: (Long, Long, Long, Long) = {
      var (rdd, shuffle, bcast, other) = (0L, 0L, 0L, 0L)
      // File-based walk: length()/listFiles() return 0/null for entries
      // the ContextCleaner deletes mid-walk — no exceptions to juggle
      def walk(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids == null) {
          val n = f.getName
          if (n.startsWith("rdd_")) rdd += f.length()
          else if (n.contains("shuffle_")) shuffle += f.length()
          else if (n.startsWith("broadcast_")) bcast += f.length()
          else other += f.length()
        } else kids.foreach(walk)
      }
      // rooted at OUR spark.local.dir — every byte under it belongs to
      // this app (ADVICE r12: the old java.io.tmpdir walk counted any
      // concurrent Spark job's dirs into this app's bound)
      Option(localDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("blockmgr-") ||
          f.getName.startsWith("spark-"))
        .foreach(walk)
      (rdd / 1048576L, shuffle / 1048576L, bcast / 1048576L, other / 1048576L)
    }
    def diskMb: Long = {
      val (r, s, b, o) = diskBreakdownMb; r + s + b + o
    }
    def pending: Int = graft.core.Caching.pendingCount(spark)
    // the shared-table memo's measured footprint (mem+disk blocks behind
    // the checkpointed tables) — the byte-priced twin of the entry cap
    // (VERDICT r12 "what's wrong" #3: the rdd-disk class the leakable
    // bound exempts must carry its own budget, or the exemption is a
    // blank check)
    def memoMb: Long = QueriesExt.memoBytes(spark) / 1048576L
    // Locale.ROOT everywhere a double is rendered: a comma decimal
    // separator would make the artifact invalid JSON (the Bench lesson)
    def d1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val nThreads = math.max(1, sys.env.getOrElse("SOAK_THREADS", "1").toInt)
    val t0 = System.nanoTime()
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val peakRdds = new java.util.concurrent.atomic.AtomicInteger(0)
    val peakStorageMb = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakDiskMb = new java.util.concurrent.atomic.AtomicLong(0L)
    // match by full name or qNN prefix (the Bench filter contract —
    // round 13: a prefix-only onlyCsv silently selected ZERO queries
    // and the leg "passed" on nothing)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(e => only.isEmpty || only(e._1) ||
        only(e._1.takeWhile(_ != '_')))
    require(only.isEmpty || queries.nonEmpty,
      s"onlyCsv matched no queries: ${only.mkString(",")}")
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        tid: Int): Unit = {
      val q0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable => errors.synchronized {
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        }
      }
      val dt = (System.nanoTime() - q0) / 1e9
      val (r, s, p, dk) = (rddCount, storageMb, pending, diskMb)
      peakRdds.getAndAccumulate(r, math.max)
      peakStorageMb.getAndAccumulate(s, math.max)
      peakDiskMb.getAndAccumulate(dk, math.max)
      rows.synchronized {
        rows += s"""{"q":"${name.takeWhile(_ != '_')}","t":$tid,"sec":${d3(dt)},"rdds":$r,"storage_mb":$s,"disk_mb":$dk,"pending":$p}"""
      }
      // NO clearCache() — that absence is the whole point
    }
    if (nThreads == 1) queries.foreach { case (n, f) => runOne(n, f, 0) }
    else {
      // deal round-robin to N driver threads over the ONE shared session —
      // the §3.3 BI-server shape (parallel statements, no isolation)
      val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until nThreads).map { tid =>
        val mine = queries.zipWithIndex.collect {
          case ((n, f), i) if i % nThreads == tid => (n, f)
        }
        new Thread(() =>
          try mine.foreach { case (n, f) => runOne(n, f, tid) }
          catch { case e: Throwable => fails.add(e) },
          s"soak-$tid")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!fails.isEmpty) throw fails.peek()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (rawRdds, rawStorage, rawDisk) = (rddCount, storageMb, diskMb)

    // GC-settle: the weak-valued registry + ContextCleaner reclaim
    // asynchronously; force collections until BOTH the registry count and
    // the local-dir bytes stop falling (shuffle-file deletion lags block
    // unpersist — at sf10 the drain is tens of GB and takes several
    // cleaner round-trips)
    var settleRounds = 0
    var last = (-1, -1L)
    var cur = (rddCount, diskMb)
    while (settleRounds < 20 && cur != last) {
      last = cur
      System.gc()
      Thread.sleep(1500)
      cur = (rddCount, diskMb)
      settleRounds += 1
    }
    val (endRdds, endStorage, endViews, endPending) =
      (rddCount, storageMb, views, pending)
    val (endMemoMb, endMemoEntries) =
      (memoMb, QueriesExt.memoEntries(spark))
    // per-table pricing: a memo-bound FAIL must name which tables carry
    // the weight, not one opaque sum
    val memoBreakdown = QueriesExt.memoBreakdownMb(spark)
      .map { case (k, mb) => s""""$k":$mb""" }.mkString("{", ",", "}")
    val (endDiskRdd, endDiskShuffle, endDiskBcast, endDiskOther) =
      diskBreakdownMb
    val endDisk = endDiskRdd + endDiskShuffle + endDiskBcast + endDiskOther
    // the leak-class bound is on NON-rdd bytes: rdd_* files post-GC are
    // the resident memo working set's disk tier (MEMORY_AND_DISK blocks
    // evicted from the memory store), already bounded by SessionMemo +
    // the storage bound; shuffle/broadcast/scratch bytes must drain
    val endDiskLeakable = endDiskShuffle + endDiskBcast + endDiskOther

    val maxRdds = sys.env.getOrElse("SOAK_MAX_RDDS", "24").toInt
    val maxStorageMb = sys.env.getOrElse("SOAK_MAX_STORAGE_MB", "1024").toLong
    val maxViews = sys.env.getOrElse("SOAK_MAX_VIEWS", "64").toLong
    val maxDiskMb = sys.env.getOrElse("SOAK_MAX_DISK_MB", "2048").toLong
    // default 2 GB fits the sf0.1 working set (~257 MB) with an order of
    // headroom; size-class legs override (sf10 rotated family: ~13 GB)
    val maxMemoMb = sys.env.getOrElse("SOAK_MAX_MEMO_MB", "2048").toLong
    val violations = Seq(
      (endRdds > maxRdds) -> s"persistent RDDs post-GC $endRdds > $maxRdds",
      (endStorage > maxStorageMb) -> s"storage post-GC ${endStorage}MB > ${maxStorageMb}MB",
      (endPending > graft.core.Caching.maxPending) ->
        s"pending listeners $endPending > cap ${graft.core.Caching.maxPending}",
      (endViews > maxViews) -> s"temp views $endViews > $maxViews",
      (endDiskLeakable > maxDiskMb) ->
        s"non-rdd local-dir disk post-GC ${endDiskLeakable}MB (shuffle=$endDiskShuffle bcast=$endDiskBcast other=$endDiskOther) > ${maxDiskMb}MB",
      (endMemoMb > maxMemoMb) ->
        s"shared-table memo post-GC ${endMemoMb}MB ($endMemoEntries entries) > ${maxMemoMb}MB",
    ).collect { case (true, msg) => msg }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val json =
      s"""{"n_queries":${queries.size},"n_errors":${errors.size},
         |"threads":$nThreads,"wall_sec":${d1(wall)},"sf":${jstr(sfDir)},
         |"peak_rdds":${peakRdds.get()},"peak_storage_mb":${peakStorageMb.get()},
         |"peak_disk_mb":${peakDiskMb.get()},
         |"end_raw_rdds":$rawRdds,"end_raw_storage_mb":$rawStorage,
         |"end_raw_disk_mb":$rawDisk,
         |"end_postgc_rdds":$endRdds,"end_postgc_storage_mb":$endStorage,
         |"end_postgc_disk_mb":$endDisk,
         |"end_postgc_disk_rdd_mb":$endDiskRdd,
         |"end_postgc_disk_shuffle_mb":$endDiskShuffle,
         |"end_postgc_disk_broadcast_mb":$endDiskBcast,
         |"end_postgc_disk_other_mb":$endDiskOther,
         |"end_views":$endViews,"end_pending_listeners":$endPending,
         |"end_memo_mb":$endMemoMb,"end_memo_entries":$endMemoEntries,
         |"end_memo_breakdown_mb":$memoBreakdown,
         |"gc_settle_rounds":$settleRounds,
         |"bounds":{"max_rdds":$maxRdds,"max_storage_mb":$maxStorageMb,"max_views":$maxViews,"max_disk_mb":$maxDiskMb,"max_memo_mb":$maxMemoMb,"listener_cap":${graft.core.Caching.maxPending}},
         |"violations":[${violations.map(jstr).mkString(",")}],
         |"pass":${violations.isEmpty},
         |"errors":$errJson,
         |"trajectory":[
         |${rows.mkString(",\n")}
         |]}
         |""".stripMargin
    Option(Paths.get(outPath).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(outPath), json)
    println(s"[soak] ${queries.size} queries, ${errors.size} errors, " +
      s"threads=$nThreads, wall ${d1(wall)}s; rdds peak=${peakRdds.get()} " +
      s"raw-end=$rawRdds post-gc=$endRdds; storage peak=${peakStorageMb.get()}MB " +
      s"post-gc=${endStorage}MB; disk peak=${peakDiskMb.get()}MB post-gc=${endDisk}MB " +
      s"(rdd=$endDiskRdd shuffle=$endDiskShuffle bcast=$endDiskBcast other=$endDiskOther); " +
      s"memo=${endMemoMb}MB/$endMemoEntries entries $memoBreakdown; " +
      s"pending=$endPending views=$endViews -> " +
      (if (violations.isEmpty) "PASS" else s"FAIL: ${violations.mkString("; ")}"))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
