package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** A query workload: one closed-loop client issuing a fixed mix of queries
  * from the catalogue against one corpus, in an order drawn from the seed
  * for every pass. Each query's DataFrame is built through
  * `SparkEntry.queries` and materialised with a `noop` write; cached
  * datasets are cleared after each query, while the session memo lives on.
  *
  * @param workload the workload's name in the fingerprints file
  * @param expected result fingerprints by query name */
final class Queries(spark: SparkSession, dir: String, workload: String,
    mix: Seq[String], seed: Long, expected: Map[String, String]) {

  private val catalogue = SparkEntry.queries
  mix.foreach(q => require(catalogue.contains(q), s"unknown query $q"))

  /** Queries whose result did not match its fingerprint. */
  val wrong = mutable.Set.empty[String]
  var storagePeakMb = 0.0

  def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  /** Set-up: one pass that checks every query's result against its
    * fingerprint. It also builds the session memo and compiles the query
    * paths, so the timed passes start warm. */
  def warm(): Unit = check()

  private def check(): Unit = order(0).foreach { q =>
    val s = System.nanoTime()
    val fp = try Some(Fingerprint.of(catalogue(q)(spark, dir)))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed its check pass: $e")
        None
    }
    spark.catalog.clearCache()
    System.err.println(f"[perfbench] check $q ${(System.nanoTime() - s) / 1e9}%.3f s")
    if (fp.isEmpty || expected.get(q) != fp) {
      // in the fingerprints file's format, so a deliberate change to the
      // mix or the corpus can record the new line from this message
      System.err.println(s"[perfbench] fingerprint mismatch, got: $workload $q " +
        s"${fp.getOrElse("-")} (recorded: ${expected.getOrElse(q, "none")})")
      wrong += q
    }
  }

  def pass(k: Int, ops: Ops, trace: Option[Trace]): Unit = order(k + 1).foreach { q =>
    val done = ops.op(q, trace, catalogue(q)(spark, dir)) { (_, df) =>
      df.write.format("noop").mode("overwrite").save()
    }
    if (done.isDefined && wrong(q)) ops.failed += 1
    // storage after the query: the session memo plus what the query cached
    val mb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Trace.Mb
    storagePeakMb = math.max(storagePeakMb, mb)
    spark.catalog.clearCache()
  }

  /** Median time of a direct table resolution over the corpus's tables. */
  def resolveMs(): Double = Stats.median(graft.core.Tables.names.map { t =>
    val s = System.nanoTime()
    graft.core.Tables(spark, dir, t)
    (System.nanoTime() - s) / 1e6
  })
}

object Queries {
  /** Reports mix: interactive queries from every family of the catalogue,
    * none longer than a few seconds at sf0.1. */
  val Reports: Seq[String] = Seq(
    "q03_dedup_latest", "q20_distinct", // relational
    "q161_streaming_distinct", // streaming
    "q132_label_propagation", // graph
    "q33_dedup_simhash", "q30_dedup_exact", // near-duplicate / text
    "q150_log2_histogram", "q54_percentiles", // statistics
    "q35_sim_ann_lsh") // retrieval
}
