package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: time named queries in one warm session and show each one's
  * formatted physical plan — the feedback loop for plan-shape iteration
  * (broadcasts, pushdown, codegen spans) and the before/after plan
  * exhibits under `plans/`.
  *
  * `runMain graft.Explain <q1,q2,...> [sfDir] [reps] [planDir]`
  *
  * Each rep is one construction plus a `noop` write, the region Bench
  * times, followed by `clearCache` as in Bench; its line carries
  * `compiles=<n>`, the classes Janino compiled during the rep (0 on a
  * replay whose generated code is all in Spark's codegen cache). With
  * `planDir` each plan goes to `<planDir>/<qNN>.txt`, otherwise to
  * stdout. Per-job timings come from the perfbench trace
  * (`perfbench/run.py --trace 1`).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val planDir = if (args.length > 3) Some(Paths.get(args(3))) else None
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    planDir.foreach(Files.createDirectories(_))
    val spark = graft.core.Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach { name =>
      val fn = all(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      planDir match {
        case Some(d) =>
          Files.writeString(d.resolve(s"${name.takeWhile(_ != '_')}.txt"), plan)
        case None => println(plan)
      }
      val times = (1 to reps).map { i =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        spark.catalog.clearCache()
        println(f"[explain] $name rep $i: $dt%.3f s compiles=$compiles")
        dt
      }.sorted
      if (times.nonEmpty)
        println(f"[explain] $name median: ${times(times.size / 2)}%.3f s")
    }
    finally spark.stop()
  }
}
