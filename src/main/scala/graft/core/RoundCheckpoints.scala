package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** RDD-layer block helpers for eagerly-checkpointed Datasets.
  * `localCheckpoint` persists at the RDD layer, which `Dataset.unpersist`
  * cannot reach — the blocks outlive the Dataset reference until the
  * SparkContext dies (or the ContextCleaner notices a GC'd RDD). The
  * persisted RDD is found by walking the Dataset's public RDD lineage.
  * Round-state rotation lives in [[Fixpoint]]. */
private[graft] object RoundCheckpoints {

  /** Unpersist the RDD-layer blocks backing an eagerly-checkpointed
    * Dataset the caller OWNS and no longer needs. Safe ONLY when every
    * datum derived from `ds` that outlives this call is itself
    * materialized with truncated lineage (checkpointed): the blocks are
    * the recovery source for nothing after that. No-ops when nothing in
    * the lineage is persisted (already released, or never a checkpoint). */
  def releasePersisted(ds: Dataset[_]): Unit =
    firstPersisted(ds.queryExecution.toRdd)
      .foreach(_.unpersist(blocking = false))

  /** Storage id of the persisted RDD backing an eagerly-checkpointed
    * Dataset, if any — how the memo byte budget prices one shared table
    * (`sc.getRDDStorageInfo` keyed by this id gives its mem+disk
    * footprint without touching the data). */
  def persistedRddId(ds: Dataset[_]): Option[Int] =
    firstPersisted(ds.queryExecution.toRdd).map(_.id)

  private[core] def firstPersisted(r: RDD[_]): Option[RDD[_]] =
    if (r.getStorageLevel != StorageLevel.NONE) Some(r)
    else r.dependencies.view.flatMap(d => firstPersisted(d.rdd)).headOption
}
