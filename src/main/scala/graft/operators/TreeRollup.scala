package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A2 recursive evaluation-tree rollup (SURVEY §2.5) — the reference's
  * `calculate_scores_recursively` (dags/score/etl_scores_by_subject_to_clickhouse.py:63-81):
  * a node's value is the mean of its children's values; a childless node's
  * value is the mean of its own raw scores.
  *
  * The reference recurses per-node in single-threaded Python. Distributed
  * form: a leaf-up iterative fixpoint of (join children→resolved, aggregate).
  * Each round resolves every node whose children are all resolved, so the
  * round count equals tree height (≤ 4 in the reference: custom → subject →
  * month → semester) — the driver loop is bounded by the hierarchy's shape,
  * never by row count, and each round is a full-cluster shuffle-aggregate.
  * `localCheckpoint` truncates lineage so plans don't grow with depth.
  *
  * Determinism: means are carried as fixed-point micro-units
  * (floor(mean·1e6) longs). Integer sums are order-free, so results are
  * identical across partitionings, engines, and re-runs; the 1e-6
  * quantization per level is the engine's documented contract. Callers
  * should feed integer-valued `score` doubles (e.g. cents) for the leaf
  * level to be exact as well.
  */
object TreeRollup {

  /** @param nodes      (id, parentId) adjacency; parentId null/'na' marks roots
    * @param leafScores (id, score) raw per-node observations (null handling
    *                   is the caller's, per-pipeline — SURVEY §1.2 has three
    *                   different semantics)
    * @return (id, value, height): value = quantized mean (micro-units/1e6);
    *         height 0 = from own scores, else 1 + max child height
    */
  def rollup(nodes: DataFrame, leafScores: DataFrame, maxDepth: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._

    val edges = nodes.select($"id", $"parentId")
      .filter($"parentId".isNotNull && $"parentId" =!= "na")
    val parentsWithChildren = edges.select($"parentId".as("id")).distinct()

    val childCounts = edges.groupBy($"parentId").agg(count("*").as("n_children"))
    // stops after the first round that resolves no new node, observed on
    // that round's checkpoint (whose rows then equal the previous state)
    graft.core.Fixpoint("TreeRollup", maxDepth, graft.core.Fixpoint.ReturnState,
        readsStateOnce = false, inputs = Nil)(
        // Round 0: childless nodes average their own raw scores.
        _ => leafScores.groupBy($"id")
          .agg(floor(avg($"score") * 1000000L).cast("long").as("vmicro"))
          .join(parentsWithChildren, Seq("id"), "left_anti")
          .withColumn("height", lit(0))) { (resolved, r) =>
      // Parents all of whose children are resolved, minus already-resolved.
      val candidate = edges
        .join(resolved.withColumnRenamed("id", "childId"),
          edges("id") === col("childId"))
        .groupBy($"parentId")
        .agg(floor(avg($"vmicro")).cast("long").as("vmicro"),
          count("*").as("n_resolved"),
          (max($"height") + 1).as("height"))
        .join(childCounts, Seq("parentId"))
        .filter($"n_resolved" === $"n_children")
        .select($"parentId".as("id"), $"vmicro", $"height")
      resolved.unionByName(r.untilNone(
        candidate.join(resolved.select($"id"), Seq("id"), "left_anti"),
        lit(true)))
    }.select($"id", ($"vmicro" / 1000000L).as("value"), $"height")
  }
}
