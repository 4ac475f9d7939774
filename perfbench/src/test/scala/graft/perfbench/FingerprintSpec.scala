package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.core.Sessions.local(2)
  import FingerprintSpec.R

  override def afterAll(): Unit = spark.stop()

  private def fp(rows: Seq[R], parts: Int = 1) =
    Fingerprint.of(spark.createDataFrame(rows).repartition(parts))

  private val rows = Seq(R(1, "a", 0.1 + 0.2, Seq(1, 2)), R(2, null, 2.5, Nil),
    R(3, "c", -1.0, Seq(3)))

  test("row order and partitioning do not change the fingerprint") {
    assert(fp(rows) == fp(rows.reverse, 3))
  }

  test("a changed, missing or repeated row changes the fingerprint") {
    val base = fp(rows)
    assert(fp(rows.updated(1, R(2, "b", 2.5, Nil))) != base) // null -> value
    assert(fp(rows.updated(0, R(1, "a", 0.4, Seq(1, 2)))) != base)
    assert(fp(rows.updated(0, R(1, "a", 0.3, Seq(2, 1)))) != base) // array order
    assert(fp(rows.tail) != base)
    assert(fp(rows :+ rows.head) != base)
    assert(base.startsWith("3:"))
  }

  test("floating-point noise below the sixth decimal does not") {
    // 0.1 + 0.2 is 0.30000000000000004
    assert(fp(rows) == fp(rows.updated(0, R(1, "a", 0.3, Seq(1, 2)))))
  }
}

object FingerprintSpec {
  final case class R(k: Int, s: String, x: Double, xs: Seq[Int])
}
