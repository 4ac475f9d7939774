package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TreeRollupSpec extends SparkSpec {
  import spark.implicits._

  /** Reference shape (SURVEY §2.5 A2): custom → subject → month → semester,
    * a node's value = mean of children's values, leaves = mean of raw scores. */
  test("rollup resolves a 3-level tree bottom-up with per-level means") {
    val nodes = Seq(
      ("sem", "na"),
      ("m1", "sem"), ("m2", "sem"),
      ("s1", "m1"), ("s2", "m1"), ("s3", "m2")
    ).toDF("id", "parentId")
    val leaves = Seq(
      ("s1", 80.0), ("s1", 90.0), // s1 = 85
      ("s2", 60.0),               // s2 = 60
      ("s3", 100.0), ("s3", 0.0)  // s3 = 50
    ).toDF("id", "score")
    val byId = TreeRollup.rollup(nodes, leaves).orderBy($"id").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(byId("s1") == (85.0, 0))
    assert(byId("s2") == (60.0, 0))
    assert(byId("s3") == (50.0, 0))
    assert(byId("m1") == ((85.0 + 60.0) / 2, 1)) // 72.5
    assert(byId("m2") == (50.0, 1))
    assert(byId("sem") == ((72.5 + 50.0) / 2, 2)) // 61.25
  }

  test("rollup handles ragged trees: leaf-parents at different depths") {
    val nodes = Seq(
      ("root", "na"),
      ("deep", "root"), ("shallow", "root"),
      ("leaf1", "deep"), ("leaf2", "deep")
    ).toDF("id", "parentId")
    val leaves = Seq(
      ("leaf1", 10.0), ("leaf2", 30.0), // deep = 20
      ("shallow", 40.0)                 // shallow is itself childless
    ).toDF("id", "score")
    val byId = TreeRollup.rollup(nodes, leaves).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(byId("deep") == (20.0, 1))
    assert(byId("shallow") == (40.0, 0))
    assert(byId("root") == (30.0, 2)) // mean(20, 40); height from deepest child
  }

  test("rollup ignores parents whose children never resolve (no scores anywhere)") {
    val nodes = Seq(("p", "na"), ("c1", "p"), ("c2", "p")).toDF("id", "parentId")
    val leaves = Seq(("c1", 50.0)).toDF("id", "score") // c2 unresolvable
    val ids = TreeRollup.rollup(nodes, leaves).collect().map(_.getString(0)).toSet
    assert(ids == Set("c1")) // p cannot resolve: c2 has no value
  }

  test("rollup quantizes at 1e-6 deterministically across partition counts") {
    val nodes = Seq(("p", "na"), ("c", "p")).toDF("id", "parentId")
    val leaves = (1 to 100).map(i => ("c", i / 3.0)).toDF("id", "score")
    val v1 = TreeRollup.rollup(nodes.repartition(1), leaves.repartition(1))
      .filter($"id" === "p").collect().head.getDouble(1)
    val v8 = TreeRollup.rollup(nodes.repartition(8), leaves.repartition(8))
      .filter($"id" === "p").collect().head.getDouble(1)
    assert(v1 == v8)
  }

  test("rollup storage does not grow with tree depth") {
    // a 12-deep path resolves one level per round; the per-round
    // `resolved` checkpoints must rotate (graft.core.Fixpoint),
    // leaving only the final table persisted
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val path = ("r", "na") +: (1 to 12).map(i =>
      (s"n$i", if (i == 1) "r" else s"n${i - 1}"))
    val nodes = path.toDF("id", "parentId")
    val leaves = Seq(("n12", 42.0)).toDF("id", "score")
    val got = TreeRollup.rollup(nodes, leaves).collect()
    assert(got.length == 13 && got.forall(_.getDouble(1) == 42.0))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"rollup left ${leaked.size} persistent RDDs (expected <= 2: final resolved)")
  }

  test("rollup runs one driver action per round") {
    // height-2 tree: rounds 1-2 resolve a level each, round 3 resolves
    // nothing; the init checkpoint is the only other action. A separate
    // emptiness probe per round would add one more action per round.
    val nodes = Seq(("sem", "na"), ("m1", "sem"), ("m2", "sem"),
      ("s1", "m1"), ("s2", "m1"), ("s3", "m2")).toDF("id", "parentId")
    val leaves = Seq(("s1", 80.0), ("s2", 60.0), ("s3", 50.0))
      .toDF("id", "score")
    var out: org.apache.spark.sql.DataFrame = null
    val actions = actionsIn { out = TreeRollup.rollup(nodes, leaves) }
    assert(out.count() == 6)
    assert(actions == 1 + 3, s"rollup ran $actions driver actions " +
      "(expected the init + one per round for 3 rounds)")
  }
}
