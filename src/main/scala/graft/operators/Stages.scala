package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared handling for stage-internal cached relations.
  *
  * [[materialized]] persists a relation AND populates the cache eagerly
  * (one count job) before any consumer's plan is built. The lazy
  * `persist` alone is not enough when the relation fans out into several
  * exchange subtrees of ONE downstream action: AQE submits every ready
  * leaf stage concurrently, the racing stages each find the cache block
  * missing and each recompute the partition (the bench-log
  * "Block rdd_N already exists on this machine; not re-adding it"
  * signature — work is duplicated per racing consumer, then all but one
  * copy is thrown away). Eager materialization runs the expensive child
  * plan exactly once; every consumer stage then reads computed blocks.
  *
  * Use it only for stage-bounded relations (fingerprint/stats/model
  * projections — tens of bytes per row), never for corpus-text-sized
  * data, and release through the owning stage handle exactly like a
  * plain persist (the count adds one scheduling round-trip, which the
  * removed duplicate compute repays many times over — guide §5, caching
  * is for reused expensive relations, and a cache raced N ways was paid
  * N times, not reused).
  */
private[graft] object Stages {
  def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The raw RDD behind a `localCheckpoint`ed relation (its LogicalRDD
    * leaf), if it has one.
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Free the checkpoint blocks behind every LogicalRDD leaf of `df`.
    * Neither `spark.catalog.clearCache()` nor `Dataset.unpersist` covers
    * them (they are raw-RDD persists, not CacheManager entries). The
    * relation is unusable afterwards: the checkpoint IS its lineage.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(false))
}
