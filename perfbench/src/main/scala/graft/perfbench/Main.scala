package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.core.Sessions
import org.apache.spark.sql.SparkSession

/** Times operations and counts the ones that fail; safe to share between
  * concurrent clients. An operation has two phases, building its DataFrame
  * and executing it; in a traced run each becomes a span under the
  * operation's span. */
final class Ops {
  val times = new ArrayBuffer[Double]
  var attempted = 0
  var failed = 0
  private var next = 0

  /** @return the operation's seconds, or `None` when it threw */
  def op[A](name: String, trace: Option[Trace], construct: => A)(
      execute: (Int, A) => Unit): Option[Double] = {
    val id = synchronized {
      next += 1
      attempted += 1
      next - 1
    }
    val s = System.nanoTime()
    val su = Trace.nowUs()
    try {
      val a = trace.fold(construct)(_.phase(id, "construct")(construct))
      trace.fold(execute(id, a))(_.phase(id, "execute")(execute(id, a)))
      val t = (System.nanoTime() - s) / 1e9
      synchronized(times += t)
      System.err.println(f"[perfbench] op $name $t%.3f s")
      Some(t)
    } catch {
      case NonFatal(e) =>
        synchronized(failed += 1)
        System.err.println(s"[perfbench] $name failed: $e")
        None
    } finally trace.foreach(_.opSpan(id, su, Trace.nowUs()))
  }
}

/** The benchmark's entry point. One run: start the session, prepare the
  * inputs (timed apart), set up (warm-up and output checks), run the timed
  * passes, check outputs, and print one JSON line of metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --passes <n> --trace <0|1>
  *      --data <dir> --corpus <dir> --fingerprints <file> [--gen-seconds <s>]
  * }}}
  */
object Main {
  val Cores = 4
  /** Longest wait for a quiet host before the timed phase starts. */
  private val GateMaxS = 10.0

  private final case class Args(workload: String, seed: Long, passes: Int,
      trace: Boolean, data: String, corpus: String, fingerprints: String,
      genSeconds: Double)

  private def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--passes").toInt,
      need("--trace") == "1", need("--data"), need("--corpus"), need("--fingerprints"),
      m.get("--gen-seconds").fold(0.0)(_.toDouble))
  }

  private def readFingerprints(path: String): Map[(String, String), String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).map(p => (p(0), p(1)) -> p(2)).toMap
      finally src.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Sessions.builder(s"local[$Cores]", Cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.tune(spark)
    System.err.println(f"[perfbench] session up ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s after JVM start")
    try run(spark, args, jvmStart)
    finally spark.stop()
    sys.exit(0)
  }

  private def run(spark: SparkSession, args: Args, jvmStart: Long): Unit = {
    val fps = readFingerprints(args.fingerprints)
    val memoAtStart = graft.QueriesExt.memoEntries(spark)
    val genStart = System.nanoTime()

    // --- inputs (timed apart from set-up) and the workload --------------
    sealed trait W
    final case class Q(q: Queries) extends W
    final case class E(e: Etl) extends W
    val w: W = args.workload match {
      case "reports_sf0.1" =>
        Q(new Queries(spark, args.corpus, args.workload, Queries.Reports, args.seed,
          fps.collect { case ((args.workload, q), f) => q -> f }))
      case "etl_daily" =>
        Etl.deleteTree(new java.io.File(s"${args.data}/etl_work"))
        E(new Etl(spark, s"${args.data}/etl_src", s"${args.data}/etl_work"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val genS = args.genSeconds + (System.nanoTime() - genStart) / 1e9

    // --- set-up: warm-up and the untimed output checks ------------------
    w match {
      case Q(q) => q.warm()
      case E(e) =>
        e.initialLoad()
        if (args.trace) e.snapshotDay0()
        e.resetCounters()
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - (genS - args.genSeconds)

    // --- timed passes ---------------------------------------------------
    // A pass is one round of the query mix, or one simulated day. The
    // traced run measures the same passes twice more, untraced and then
    // traced, so that the two compare equal and equally warm work: the
    // same query orders, or the same days replayed on the marts as day 0
    // left them.
    val passes = args.passes
    val ops = new Ops
    var measurements = 0
    def runPasses(trace: Option[Trace]): Seq[Double] = {
      w match {
        case E(e) =>
          if (measurements > 0) e.restoreDay0()
          e.resetCounters()
        case _ =>
      }
      ops.times.clear()
      measurements += 1
      (0 until passes).map { k =>
        val s = System.nanoTime()
        w match {
          case Q(q) => q.pass(k, ops, trace)
          case E(e) => e.day(k + 1, ops, trace)
        }
        (System.nanoTime() - s) / 1e9
      }
    }
    // The timed phase starts once the host gives this VM its CPUs.
    val gateS = HostCpu.awaitQuiet(Cores, GateMaxS)
    val (cpu0, host0) = (processCpuS(), HostCpu.sample())
    val runS = runPasses(None).sum
    val cpuS = (processCpuS() - cpu0) / passes
    val stealFrac = HostCpu.stealFrac(host0, HostCpu.sample())
    val opTimes = ops.times.toSeq
    val trace = if (args.trace) Some(new Trace(spark)) else None
    val traced = trace.map { t =>
      val replay = runPasses(None).sum
      t.start()
      val p = runPasses(Some(t)).sum
      t.stop()
      (p, replay)
    }
    w match {
      case E(e) => e.backfill(passes)
      case _ =>
    }

    // --- output checks that follow the run ----------------------------
    w match {
      case E(e) =>
        val s = System.nanoTime()
        val failures = e.check(passes)
        failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
        System.err.println(f"[perfbench] checks ${(System.nanoTime() - s) / 1e9}%.1f s")
        ops.failed += failures.size
      case _ =>
    }
    val martFiles = w match {
      case E(e) => e.martFiles()
      case _ => 0
    }

    val failed = math.min(ops.failed, ops.attempted)
    def q(p: Double) = if (opTimes.isEmpty) Double.NaN else Stats.quantile(opTimes, p)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"), ("run_s", runS, "s"), ("op_p50_s", q(0.5), "s"))

    // Metrics the result line cannot carry: some exist on one workload
    // only, and a run has too few operations for a p90 with ten samples
    // beyond it. Printed for the reader, never compared.
    val storagePeak = w match { case Q(q) => q.storagePeakMb; case _ => 0.0 }
    val etl = w match { case E(e) => Some(e); case _ => None }
    val perWorkload: Seq[(String, Double, String)] = Seq(
      ("rows_per_s", etl.fold(0.0)(e => e.rowsScanned / math.max(e.loadS.sum, 1e-9)), "rows/s"),
      ("backfill_s", etl.fold(0.0)(e => Stats.median(e.backfillS.toSeq)), "s"),
      ("mart_query_p50_s", etl.fold(0.0)(e => Stats.median(e.martQueryS.toSeq)), "s"))
    val summary = endToEnd ++ Seq(("op_p90_s", q(0.9), "s")) ++
      etl.fold(Seq.empty[(String, Double, String)])(_ => perWorkload) ++ Seq(
      ("storage_peak_mb", storagePeak, "MB"),
      ("failed_frac", failed.toDouble / math.max(1, ops.attempted), "ratio"),
      ("gen_s", genS, "s"), ("cpu_s", cpuS, "s"), ("host_steal_frac", stealFrac, "ratio"),
      ("gate_wait_s", gateS, "s"),
      ("ops", opTimes.size.toDouble, "count"),
      ("passes", passes.toDouble, "count"))
    println("# " + summary.map { case (k, v, u) => f"$k=$v%.4f $u" }.mkString(", ") +
      Stats.supportedPercentile(opTimes.size).fold(
        s"; op_p90_s rests on ${opTimes.size} ops, fewer than the 100 that put 10 beyond it")(
        p => f"; the ${opTimes.size} ops support percentiles up to p${p * 100}%.0f"))

    val metrics: Seq[(String, Double, String)] = trace match {
      case None => endToEnd
      case Some(t) => layers(t, w match { case Q(q) => Some(q); case _ => None }, etl,
        spark, passes, traced.get, memoAtStart, genS, martFiles) ++
        perWorkload ++ Seq(
          ("op_p90_s", q(0.9), "s"),
          ("storage_peak_mb", storagePeak, "MB"),
          ("failed_frac", failed.toDouble / math.max(1, ops.attempted), "ratio"))
    }
    val correct = failed == 0
    println(json(correct, ops.attempted, failed, metrics))
    etl.foreach(_.cleanUp())
  }

  /** Per-layer metrics of a traced run; counts and times are per pass. */
  private def layers(t: Trace, q: Option[Queries], e: Option[Etl],
      spark: SparkSession, passes: Int, traced: (Double, Double),
      memoAtStart: Int, genS: Double, martFiles: Int): Seq[(String, Double, String)] = {
    val per = 1.0 / passes
    val self = t.selfTimes()
    val total = math.max(self.getOrElse("total", 0.0), 1e-9)
    def c(k: String) = t.get(k) * per
    val (runS, untracedRunS) = traced
    Seq(
      ("construct.s", self.getOrElse("in.construct", 0.0) * per, "s"),
      ("construct.jobs", c("construct.jobs"), "count"),
      ("construct.tables_jobs", c("construct.tables_jobs"), "count"),
      ("tables.resolve_ms", q.fold(0.0)(_.resolveMs()), "ms"),
      ("memo.builds", (graft.QueriesExt.memoEntries(spark) - memoAtStart).toDouble, "count"),
      ("memo.mb", graft.QueriesExt.memoBytes(spark) / Trace.Mb, "MB"),
      ("catalyst.analysis_s", c("catalyst.analysis_s"), "s"),
      ("catalyst.optimization_s", c("catalyst.optimization_s"), "s"),
      ("catalyst.planning_s", c("catalyst.planning_s"), "s"),
      ("exec.s", self.getOrElse("in.execute", 0.0) * per, "s"),
      ("exec.sql_executions", c("exec.sql_executions"), "count"),
      ("exec.jobs", c("exec.jobs"), "count"),
      ("exec.stages", c("exec.stages"), "count"),
      ("exec.tasks", c("exec.tasks"), "count"),
      ("sched.task_deser_s", c("sched.task_deser_s"), "s"),
      ("sched.delay_s", c("sched.delay_s"), "s"),
      ("sched.slot_busy_frac",
        Stats.slotBusyFrac(t.get("task.run_s") * 1e6, t.jobIntervals(), Cores), "ratio"),
      ("task.run_s", c("task.run_s"), "s"),
      ("task.cpu_s", c("task.cpu_s"), "s"),
      ("task.gc_s", c("task.gc_s"), "s"),
      ("task.fetch_wait_s", c("task.fetch_wait_s"), "s"),
      ("task.shuffle_write_mb", c("task.shuffle_write_mb"), "MB"),
      ("task.spill_disk_mb", c("task.spill_disk_mb"), "MB"),
      ("task.input_mb", c("task.input_mb"), "MB"),
      ("stream.batches", c("stream.batches"), "count"),
      ("stream.batch_p50_ms", t.batchP50Ms, "ms"),
      ("runner.transform_s", e.fold(0.0)(_.transformS) * per, "s"),
      ("runner.load_s", e.fold(0.0)(_.loadS.sum) * per, "s"),
      ("runner.rows_loaded", e.fold(0.0)(_.rowsLoaded.toDouble) * per, "count"),
      ("runner.useful_frac", e.fold(0.0)(x => x.rowsLoaded.toDouble / math.max(1L, x.rowsScanned)), "ratio"),
      ("sinks.files_written", c("sinks.files_written"), "count"),
      ("sinks.mb_written", c("sinks.mb_written"), "MB"),
      ("sinks.bytes_per_row",
        t.get("sinks.mb_written") * Trace.Mb / math.max(1.0, t.get("sinks.rows_written")), "B/row"),
      ("mart.files", martFiles.toDouble, "count"),
      ("self.op_s", self.getOrElse("op", 0.0) * per, "s"),
      ("self.construct_s", self.getOrElse("construct", 0.0) * per, "s"),
      ("self.execute_s", self.getOrElse("execute", 0.0) * per, "s"),
      ("self.jobs_s", self.getOrElse("jobs", 0.0) * per, "s"),
      ("share.construct", self.getOrElse("construct", 0.0) / total, "ratio"),
      ("share.execute", self.getOrElse("execute", 0.0) / total, "ratio"),
      ("share.jobs", self.getOrElse("jobs", 0.0) / total, "ratio"),
      ("trace.run_s", runS, "s"),
      ("trace.overhead_frac", runS / untracedRunS - 1, "ratio"),
      ("gen_s", genS, "s"))
  }

  /** CPU seconds this process has used. */
  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}

/** Host CPU accounting from `/proc/stat`: the share of CPU time the
  * hypervisor gave to other guests while the run measured (steal), which
  * marks a run taken in a contended window. `NaN` where it is unavailable. */
object HostCpu {
  def sample(): Option[Array[Long]] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }.toOption

  /** Busy-spins `cores` threads for half a second and tells whether the
    * hypervisor took at most `MaxSteal` of that time for other guests
    * (`true` where `/proc/stat` is unavailable). Steal shows only while
    * this VM wants its CPUs, hence the spin. */
  def quiet(cores: Int): Boolean = {
    val before = sample()
    val end = System.nanoTime() + 500000000L
    val spinners = (1 to cores).map(_ => new Thread(() => while (System.nanoTime() < end) {}))
    spinners.foreach(_.start())
    spinners.foreach(_.join())
    val f = stealFrac(before, sample())
    f.isNaN || f <= MaxSteal
  }

  /** Waits until the host is [[quiet]], or for `maxS` seconds at most;
    * returns the seconds waited. Runs measured while neighbours took a
    * tenth of the CPU read up to twice as slow on small operations. */
  def awaitQuiet(cores: Int, maxS: Double): Double = {
    val start = System.nanoTime()
    def waited = (System.nanoTime() - start) / 1e9
    while (!quiet(cores) && waited < maxS) Thread.sleep(1000)
    waited
  }

  /** The share of CPU time other guests may take from a measurement. */
  val MaxSteal = 0.05

  def stealFrac(a: Option[Array[Long]], b: Option[Array[Long]]): Double = (a, b) match {
    case (Some(x), Some(y)) if x.length > 7 =>
      val d = y.zip(x).map { case (p, q) => p - q }
      if (d.sum > 0) d(7).toDouble / d.sum else Double.NaN
    case _ => Double.NaN
  }
}
