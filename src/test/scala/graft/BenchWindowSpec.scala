package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.LinkedHashMap

/** [[Bench.windowSummary]] — the whole-run host-health stamp. It compares
  * the run's median calib_pq/calib_q against the ABSOLUTE ratio the probes'
  * construction predicts (0.5), so a degradation that elevates the entire
  * run is caught even though it moves the run's own median with it.
  */
class BenchWindowSpec extends AnyFunSuite {

  private def names(n: Int) = (1 to n).map(i => f"q$i%02d_some_query")

  test("a run at the predicted parallel ratio stamps healthy") {
    val ns = names(8)
    val cq = LinkedHashMap(ns.map(_ -> 0.10): _*)
    val cpq = LinkedHashMap(ns.map(_ -> 0.05): _*) // exactly predicted 0.5
    val (ratio, stamp) = Bench.windowSummary(cq, cpq)
    assert(stamp == "healthy" && math.abs(ratio - 0.5) < 1e-9)
    // a ratio just under the prediction (0.47) is healthy too
    val cpq2 = LinkedHashMap(ns.map(_ -> 0.047): _*)
    assert(Bench.windowSummary(cq, cpq2)._2 == "healthy")
  }

  test("a whole-run parallel-capacity loss stamps degraded") {
    val ns = names(8)
    val cq = LinkedHashMap(ns.map(_ -> 0.10): _*)
    val cpq = LinkedHashMap(ns.map(_ -> 0.077): _*) // uniform 0.77
    val (ratio, stamp) = Bench.windowSummary(cq, cpq)
    assert(stamp == "degraded" && ratio > 0.7, s"got $stamp at $ratio")
  }

  test("single-query runs have no basis to stamp and default healthy") {
    assert(Bench.windowSummary(LinkedHashMap("q01_x" -> 0.1),
      LinkedHashMap("q01_x" -> 0.09)) == ((0.5, "healthy")))
  }
}
