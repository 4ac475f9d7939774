package graft.core

import java.lang.ref.WeakReference

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, lit, sum, when}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.{ArrayBuffer, Buffer}

/** The one driver for the engine's bounded iterative fixpoints (PageRank,
  * label propagation, BFS, weighted relaxation, k-core, connected
  * components, the evaluation-tree rollup, BPE training). An operator
  * supplies an init, a per-round step returning a LAZY DataFrame, and a
  * round bound; the driver owns everything else:
  *
  *  - exactly ONE eager, tracked `localCheckpoint` per round (the init is
  *    round 0). Lineage is truncated every round, so the plan never grows
  *    with depth: a fixpoint that re-plans its whole history doubles the
  *    plan per round and eventually OOMs the planner.
  *  - convergence read off that checkpoint: a step may mark one sub-plan
  *    with [[Round.untilNone]], and the loop stops after the first round
  *    in which no row of it satisfies the condition — an `Observation` on
  *    the checkpoint job, never a second action. A step that returns its
  *    input state unchanged (`eq`) has also converged, without a
  *    checkpoint (BPE's nothing-left-to-merge).
  *  - the unroll decision: when the operator declares that its step reads
  *    the state exactly once and the bound is ≤ [[UnrollMax]] rounds, the
  *    rounds are chained into one lazy plan evaluated by ONE action (the
  *    final checkpoint). Each checkpoint costs one driver action and one
  *    state-sized block-store write; at ≤ 8 rounds the unrolled plan is a
  *    shallow linear chain. A step that reads the state 2-3 times would
  *    duplicate the state subtree exponentially, so it is never unrolled.
  *  - storage rotation: `localCheckpoint` persists at the RDD layer, which
  *    `Dataset.unpersist` cannot reach, so each round's blocks are released
  *    once the next round's are materialized ([[Rounds]]). Peak storage is
  *    two rounds of state at any depth — O(rounds × state) blocks
  *    GC-thrashed a 32 GB driver at sf10 (SCALE.md, round 11).
  *  - release on EVERY exit of the caller-owned `inputs` (the edge tables
  *    and loop-invariant caches an operator built for this loop), of the
  *    intra-round [[Round.cache]]s, and — on failure or an exhausted
  *    [[Fail]] bound — of every tracked round block, so a failed query
  *    strands nothing on a long-lived session. The returned state is the
  *    last round's checkpoint: truncated lineage, so releasing the inputs
  *    never removes its recovery source.
  *  - one stderr line per loop: `[fixpoint] <name>: rounds=<n>
  *    converged=<bool> unrolled=<bool>` — round-count optimizations show
  *    here, not only in noisy wall-clock time.
  *
  * The step must consume the previous state within its round: after the
  * round's checkpoint the previous blocks are gone.
  */
private[graft] object Fixpoint {

  /** Largest bound that a read-state-once step runs unrolled. */
  private val UnrollMax = 8

  /** What an exhausted bound (no convergence within `maxRounds`) means. */
  sealed trait OnExhausted
  /** The bound IS the contract (a fixed round count, a hop limit): return
    * the last state. */
  case object ReturnState extends OnExhausted
  /** A partial result would be wrong, not approximate: release every
    * block and throw `IllegalStateException(message)`. */
  final case class Fail(message: String) extends OnExhausted

  /** Per-round handle given to init (round 0) and step (rounds 1..). */
  final class Round private[Fixpoint] (val n: Int, scratch: Buffer[DataFrame]) {
    private var observation: Option[Observation] = None

    /** Count, on this round's checkpoint, the rows of `df` for which
      * `changed` holds; the loop converges after a round that counts 0.
      * `df` may be any sub-plan of the round's result. Once per round,
      * and never in an unrolled loop. */
    def untilNone(df: DataFrame, changed: Column): DataFrame = {
      val obs = new Observation
      observation = Some(obs)
      df.observe(obs,
        coalesce(sum(when(changed, 1L).otherwise(0L)), lit(0L)).as("changed"))
    }

    /** Cache an intermediate the round reads more than once; it is
      * released as soon as the round's checkpoint is materialized. */
    def cache(df: DataFrame): DataFrame = { scratch += df; df.cache() }

    private[Fixpoint] def converged: Boolean =
      observation.exists(_.get("changed") == 0L)
  }

  /** Run the loop and return the final (checkpointed) state.
    *
    * @param readsStateOnce the step references its state exactly once, so
    *                       bounds ≤ [[UnrollMax]] run as one plan
    * @param inputs         caller-owned caches/checkpoints the loop reads;
    *                       released on every exit */
  def apply(name: String, maxRounds: Int, onExhausted: OnExhausted,
      readsStateOnce: Boolean, inputs: Seq[DataFrame])(
      init: Round => DataFrame)(
      step: (DataFrame, Round) => DataFrame): DataFrame = {
    val unrolled = readsStateOnce && maxRounds <= UnrollMax
    val scratch = ArrayBuffer.empty[DataFrame]
    val rc = new Rounds
    def checkpoint(df: DataFrame): DataFrame = {
      val out = rc.track(df.localCheckpoint())
      scratch.foreach(_.unpersist()); scratch.clear()
      out
    }
    try {
      val r0 = new Round(0, scratch)
      var state = if (unrolled) init(r0) else checkpoint(init(r0))
      var converged = !unrolled && r0.converged
      var n = 0
      while (!converged && n < maxRounds) {
        val r = new Round(n + 1, scratch)
        val next = step(state, r)
        converged = next eq state
        if (!converged) {
          n += 1
          state = if (unrolled) next else checkpoint(next)
          converged = !unrolled && r.converged
        }
      }
      if (unrolled) state = checkpoint(state)
      System.err.println(
        s"[fixpoint] $name: rounds=$n converged=$converged unrolled=$unrolled")
      onExhausted match {
        case Fail(message) if !converged => throw new IllegalStateException(message)
        case _ => state
      }
    } catch {
      case t: Throwable => rc.releaseAll(); throw t
    } finally {
      scratch.foreach(_.unpersist())
      inputs.foreach(release)
    }
  }

  /** A cache()d input leaves the CacheManager; a localCheckpoint()ed one
    * hands back its RDD-layer blocks. */
  private def release(ds: DataFrame): Unit =
    if (ds.storageLevel != StorageLevel.NONE) ds.unpersist()
    else RoundCheckpoints.releasePersisted(ds)

  /** Storage rotation with EXACT ownership: [[track]] walks the
    * checkpointed Dataset's public RDD lineage to its persisted internal
    * RDD and keeps a weak reference to it. Nothing outside the loop is
    * ever touched, so a CONCURRENT statement on the same SparkContext —
    * another loop, an interactive statement caching its own base, a
    * one-shot result checkpoint — is unaffected (the §3.3 multi-statement
    * BI session runs this shape). One instance serves one single-threaded
    * loop. */
  private[core] final class Rounds {
    private var held: Option[WeakReference[RDD[_]]] = None

    /** Make `ds` — the result of an eager `localCheckpoint()` — this
      * round's state and release the previous round's blocks. Throws if
      * nothing in its lineage is persisted. */
    def track(ds: DataFrame): DataFrame = {
      val persisted = RoundCheckpoints.firstPersisted(ds.queryExecution.toRdd)
        .getOrElse(throw new IllegalArgumentException(
          "Fixpoint.Rounds.track: no persisted RDD in the Dataset's " +
            "lineage — track the result of an eager localCheckpoint()"))
      releaseAll()
      held = Some(new WeakReference[RDD[_]](persisted))
      ds
    }

    /** Release the current round's blocks (a failed loop). */
    def releaseAll(): Unit = {
      held.flatMap(ref => Option(ref.get())).foreach(_.unpersist(blocking = false))
      held = None
    }
  }
}
