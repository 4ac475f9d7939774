package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval with a parent, all spans of one operation
  * sharing its `op` id. Times are epoch microseconds. */
final case class Span(op: Int, name: String, parent: String,
    start: Long, end: Long)

/** The traced run's recorder. It reads Spark only through public hooks —
  * a `SparkListener` (jobs, stages, tasks, SQL executions), a
  * `QueryExecutionListener` (Catalyst phase times from `qe.tracker`) and a
  * `StreamingQueryListener` (micro-batches) — and tags the jobs each
  * operation starts with local properties, so every job span joins its
  * operation's span tree. Spans stay in memory until the run ends.
  *
  * The untraced run never constructs one: its end-to-end numbers are
  * measured with no listener attached. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = new ArrayBuffer[Span]
  private val jobStart = new ConcurrentHashMap[Int, (Int, String, Long, Boolean)]
  @volatile private var live = false

  // counters, summed over the traced window
  private val counters = new ConcurrentHashMap[String, java.lang.Double]
  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = Option(counters.get(k)).fold(0.0)(_.doubleValue)
  private val batchMs = new ArrayBuffer[Double]
  // events delivered, and jobs and SQL executions started but not ended:
  // what `stop` watches to know the listener bus has caught up
  private val delivered = new java.util.concurrent.atomic.AtomicLong
  private val open = new java.util.concurrent.atomic.AtomicLong

  def batchP50Ms: Double = batchMs.synchronized(
    if (batchMs.isEmpty) 0.0 else Stats.median(batchMs.toSeq))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (live) {
      delivered.incrementAndGet()
      open.incrementAndGet()
      val p = e.properties
      val op = Option(p).flatMap(x => Option(x.getProperty(OpKey))).fold(-1)(_.toInt)
      val phase = Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("other")
      val fromTables = e.stageInfos.exists(_.name.contains("Tables.scala"))
      jobStart.put(e.jobId, (op, phase, e.time * 1000, fromTables))
      add("exec.jobs", 1)
      if (phase == "construct") {
        add("construct.jobs", 1)
        if (fromTables) add("construct.tables_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, phase, s, _) =>
        delivered.incrementAndGet()
        open.decrementAndGet()
        spans.synchronized(spans += Span(op, "job", phase, s, e.time * 1000))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (live) {
      delivered.incrementAndGet()
      add("exec.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (live) {
      delivered.incrementAndGet()
      val m = e.taskMetrics
      val i = e.taskInfo
      add("exec.tasks", 1)
      if (m != null) {
        add("task.run_s", m.executorRunTime / 1e3)
        add("task.cpu_s", m.executorCpuTime / 1e9)
        add("task.gc_s", m.jvmGCTime / 1e3)
        add("task.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("task.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
        add("task.spill_disk_mb", m.diskBytesSpilled / Mb)
        add("task.input_mb", m.inputMetrics.bytesRead / Mb)
        add("sched.task_deser_s", m.executorDeserializeTime / 1e3)
        if (i != null) {
          // the Spark UI's definition of scheduler delay
          val gettingResult =
            if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult
          add("sched.delay_s", math.max(0L, delay) / 1e3)
        }
      }
    }
    private val sqlOpen = ConcurrentHashMap.newKeySet[Long]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if live =>
        delivered.incrementAndGet()
        if (sqlOpen.add(s.executionId)) open.incrementAndGet()
        add("exec.sql_executions", 1)
      case s: SparkListenerSQLExecutionEnd =>
        if (sqlOpen.remove(s.executionId)) {
          delivered.incrementAndGet()
          open.decrementAndGet()
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (live) {
      delivered.incrementAndGet()
      qe.tracker.phases.foreach { case (name, p) =>
        if (Catalyst.contains(name)) add(s"catalyst.${name}_s", p.durationMs / 1e3)
      }
      // what a file write committed, from the write command's own metrics
      qe.executedPlan.foreach {
        case w: DataWritingCommandExec =>
          def m(k: String) = w.cmd.metrics.get(k).fold(0L)(_.value)
          add("sinks.files_written", m("numFiles").toDouble)
          add("sinks.mb_written", m("numOutputBytes") / Mb)
          add("sinks.rows_written", m("numOutputRows").toDouble)
        case _ =>
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (live) {
        delivered.incrementAndGet()
        add("stream.batches", 1)
        Option(e.progress.durationMs.get("triggerExecution"))
          .foreach(ms => batchMs.synchronized(batchMs += ms.doubleValue))
      }
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    live = true
  }

  /** Waits until the listeners have seen every job and SQL execution
    * they saw start end, and no event has arrived for 100 ms (5 s at
    * most), then detaches them. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while ((open.get > 0 || delivered.get != last) && System.nanoTime() < deadline) {
      last = delivered.get
      Thread.sleep(100)
    }
    if (open.get > 0 || delivered.get != last) System.err.println(
      "[perfbench] trace: listener events still arriving after 5 s; counters may be short")
    live = false
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  /** Run `body` as phase `phase` of operation `op`: its jobs carry the
    * tags, and the phase becomes a child span of the operation. */
  def phase[T](op: Int, phase: String)(body: => T): T = {
    val outer = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(PhaseKey, phase)
    val s = nowUs()
    try body
    finally {
      spans.synchronized(spans += Span(op, phase, "op", s, nowUs()))
      sc.setLocalProperty(PhaseKey, outer)
      if (outer == null) sc.setLocalProperty(OpKey, null)
    }
  }

  def opSpan(op: Int, start: Long, end: Long): Unit =
    spans.synchronized(spans += Span(op, "op", "", start, end))

  /** Time per layer, in seconds. Self times: the operation itself (time
    * not in a phase), each phase (time not in its jobs or in a phase
    * nested inside it), and the jobs. `in.<phase>`: each phase's time less
    * the phases nested inside it. `total`: the operations' time. */
  def selfTimes(): Map[String, Double] = {
    val byOp = spans.synchronized(spans.toList).groupBy(_.op)
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    byOp.foreach { case (op, ss) =>
      val jobs = ss.filter(_.name == "job")
      ss.find(_.name == "op").filter(_ => op >= 0).foreach { o =>
        val phases = ss.filter(_.parent == "op")
        acc("op") += Stats.selfTime((o.start, o.end), phases.map(p => (p.start, p.end))) / 1e6
        phases.foreach { p =>
          val nested = phases.filter(q => (q ne p) && q.start >= p.start && q.end <= p.end)
            .map(q => (q.start, q.end))
          val mine = jobs.filter(_.parent == p.name).map(j => (j.start, j.end)) ++ nested
          acc(p.name) += Stats.selfTime((p.start, p.end), mine) / 1e6
          acc(s"in.${p.name}") += Stats.selfTime((p.start, p.end), nested) / 1e6
        }
        acc("jobs") += Stats.unionLength(jobs.map(j => (j.start, j.end))) / 1e6
        acc("total") += (o.end - o.start) / 1e6
      }
    }
    acc.toMap
  }

  /** Every job's active interval, in microseconds. */
  def jobIntervals(): Seq[(Long, Long)] =
    spans.synchronized(spans.filter(_.name == "job").map(j => (j.start, j.end)).toList)
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val Catalyst = Set("analysis", "optimization", "planning")
  val Mb: Double = 1024.0 * 1024.0
  private val nanoBase = System.nanoTime()
  private val wallBaseUs = System.currentTimeMillis() * 1000
  def nowUs(): Long = wallBaseUs + (System.nanoTime() - nanoBase) / 1000
}
