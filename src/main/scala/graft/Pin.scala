package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.storage.StorageLevel

/** The scoped lifetime of an intermediate that a body reads more than once
  * (SeccoSQL's materialize once, reuse): its blocks are released when
  * `body` returns or throws, never left to GC. A pin that backs a returned
  * lazy frame is not scoped and does not belong here; round loops hand
  * their pins on through [[Rounds]].
  */
private[graft] object Pin {

  /** Eager `localCheckpoint`: one job now, lineage cut, so every read sees
    * the same rows even over a non-deterministic upstream.
    */
  def checkpointed[T](df: DataFrame)(body: DataFrame => T): T = {
    val pinned = df.localCheckpoint(true)
    try body(pinned) finally GraftSqlBridge.releaseCheckpoint(pinned)
  }

  /** `persist` at `MEMORY_AND_DISK`: no job of its own, the first action
    * fills the blocks as a side effect of its own work.
    */
  def cached[T](df: DataFrame)(body: DataFrame => T): T = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(pinned) finally pinned.unpersist(false)
  }
}
