package graft.core

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** [[Sessions]]' codegen cache: a JVM-wide singleton that Spark sizes once,
  * from the first session's static conf, so every builder must carry the
  * engine's size and a replay must find its generated classes cached. */
class SessionsSpec extends SparkSpec {

  private val Key = "spark.sql.codegen.cache.maxEntries"

  test("builder and cluster carry the codegen cache size") {
    assert(spark.conf.get(Key) == Sessions.CodegenCacheEntries.toString)
    // create() builds a new session (and shared state) on the running
    // context from the builder's own options
    val built = Seq(Sessions.builder("local[1]", 1),
      Sessions.cluster("sessions-spec").master("local[1]")).map(_.create())
    try built.foreach(s =>
      assert(s.conf.get(Key) == Sessions.CodegenCacheEntries.toString))
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a plan rerun after 150 distinct plans compiles nothing") {
    // Spark's default cache (100 entries) has evicted the first plan's
    // class by the time it reruns; each k is a distinct inlined literal
    def run(k: Int): Unit = spark.range(10).selectExpr(s"id * $k AS v").collect()
    (1 to 150).foreach(run)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(1)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"the rerun compiled $compiles classes")
  }
}
