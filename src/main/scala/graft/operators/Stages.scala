package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** A staged operator's result with every relation its builder cached.
  * See [[Stages]] for the lifecycle rules.
  */
final case class Stage(result: DataFrame, cached: Seq[DataFrame] = Nil,
                       checkpoints: Seq[DataFrame] = Nil) {
  def unpersist(): Unit = {
    cached.foreach(_.unpersist())
    checkpoints.foreach(Stages.releaseCheckpoint)
  }
}

/** The lifecycle of stage-internal cached relations, in one place.
  *
  *  - A `*Stage` builder returns a [[Stage]]. Its `cached` lists every
  *    relation the builder persisted ([[persisted]] or [[materialized]]),
  *    its `checkpoints` every `localCheckpoint` the builder itself
  *    created. `Stage.unpersist()` frees all of them; the result is
  *    unusable afterwards only if it reads a released checkpoint.
  *  - A stage lists a checkpoint only if it created it:
  *    [[releaseCheckpoint]] frees every LogicalRDD leaf of the relation,
  *    so a relation that reads an input's checkpoint (a `SessionArtifacts`
  *    entry, say) must never be listed.
  *
  * [[persisted]] is the lazy persist: the first action fills the cache.
  * [[materialized]] persists AND fills the cache eagerly (one count job)
  * before any consumer's plan is built. The lazy form is not enough when
  * the relation fans out into several exchange subtrees of ONE downstream
  * action: AQE submits every ready leaf stage concurrently, the racing
  * stages each find the cache block missing and each recompute the
  * partition (the bench-log "Block rdd_N already exists on this machine;
  * not re-adding it" signature). Eager materialization runs the expensive
  * child plan exactly once. Use it only for stage-bounded relations
  * (fingerprint/stats/model projections — tens of bytes per row), never
  * for corpus-text-sized data (guide §5: caching is for reused expensive
  * relations, and a cache raced N ways was paid N times, not reused).
  */
private[graft] object Stages {
  def persisted(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  def materialized(df: DataFrame): DataFrame = {
    val p = persisted(df)
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
