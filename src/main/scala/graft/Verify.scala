package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Dev loop: an optional third arg is a comma-separated query-name filter
  * (`runMain graft.Verify <sf> <out> q34_sim_cosine_topk,q110_rrf_fusion`)
  * — only those queries run and only their oracle SQL is dumped, so
  * tools/check.py checks exactly the filtered set. The driver always
  * calls with two args (full run). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Set.empty[String])
      case Array(a, b, f) => (a, b, f.split(",").map(_.trim).toSet)
    }
    def selected(name: String): Boolean = only.isEmpty || only(name)
    // SPARK_GRAFT_MASTER: the multi-executor correctness leg
    // (tools/lcverify.sh) runs THIS entrypoint through spark-submit on
    // local-cluster[W,C,M] — real executor processes — to pin that every
    // query's RESULT is topology-invariant.
    val spark = graft.core.Sessions.fromEnv()
    new java.io.File(outDir).mkdirs()
    // record the topology that produced this artifact (ADVICE r11: a
    // forgotten `export SPARK_GRAFT_MASTER=local-cluster[...]` would
    // silently change what every Verify run executes on — the check
    // artifact itself must say which master it ran under)
    Files.writeString(Paths.get(s"$outDir/_master.txt"),
      s"${spark.sparkContext.master}\n")
    if (sys.env.contains("SPARK_GRAFT_MASTER"))
      System.err.println(
        s"[verify] NOTE: SPARK_GRAFT_MASTER override active -> ${spark.sparkContext.master}")
    // Failures must land in the artifact, not only stderr: a query that
    // errors here writes no parquet dir, and "missing" is indistinguishable
    // from "never declared" downstream (the round-4 lesson — 40 broken
    // queries shipped silently). _errors.json makes failed explicit.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors.synchronized {
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
      }
    val todo = SparkEntry.queries.filter(e => selected(e._1)).toSeq.sortBy(_._1)
    // SPARK_GRAFT_VERIFY_THREADS=N (round 12): dump the SAME results from
    // N concurrent driver threads over the one session — the §3.3
    // BI-server shape — so tools/check.py's DuckDB hash-compare becomes a
    // RESULT-IDENTITY-under-concurrency gate, not just a no-crash soak.
    // The driver always runs the sequential default (1).
    val vThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "1").toInt
    if (vThreads <= 1)
      todo.foreach { case (name, fn) =>
        runOne(name, fn)
        // per-query caches must not accumulate across 174 queries (GC drag)
        spark.catalog.clearCache()
      }
    else {
      // no clearCache here: it is session-global and would yank another
      // thread's in-flight caches (recompute churn); the soak proved the
      // no-clearCache session stays bounded
      val fails = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until vThreads).map { tid =>
        val mine = todo.zipWithIndex.collect {
          case ((n, f), i) if i % vThreads == tid => (n, f)
        }
        new Thread(() =>
          try mine.foreach { case (n, f) => runOne(n, f) }
          catch { case e: Throwable => fails.add(e) },
          s"verify-$tid")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (!fails.isEmpty) throw fails.peek()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
