package graft

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs: one JVM-wide SparkSession (getOrCreate
  * makes every suite reuse it) with the engine's semantic confs applied, so
  * tests exercise exactly what Verify/Bench run.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.DataFrame

  /** Rows of a single-column result as a comparable list. */
  def col0(df: DataFrame): List[Any] =
    df.collect().map(_.get(0)).toList

  /** Spark jobs started while `body` runs, counted by a job-start
    * listener. A marked sentinel job runs after `body`; the bus delivers
    * events in order, so once the sentinel is seen every earlier job start
    * has been counted. */
  def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "graft.sparkSpec.sentinel"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p => Option(p.getProperty(marker)))
          .getOrElse("job"))
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty(marker, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      Iterator.continually(starts.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .map(s => Option(s).getOrElse(fail("sentinel job start never delivered")))
        .takeWhile(_ != "sentinel").size
    } finally sc.removeSparkListener(l)
  }

  /** Driver actions `body` runs, as seen by a QueryExecutionListener (one
    * event per action). The listener bus delivers asynchronously, so the
    * count is read once it has stopped changing for 500 ms. */
  def actionsIn(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    spark.listenerManager.register(l)
    try {
      body
      var last = -1
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (n.get != last && System.nanoTime() < deadline) {
        last = n.get
        Thread.sleep(500)
      }
      n.get
    } finally spark.listenerManager.unregister(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
