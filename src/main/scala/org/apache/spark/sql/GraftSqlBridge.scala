package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Dataset construction — the standard pattern
  * for libraries that add custom logical operators (the public API has no
  * "DataFrame from LogicalPlan" entry point).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** `df`'s plan on a clone of its session that has `confs` set: a
    * setting that only this query's planning and execution see (AQE, a
    * stream's state partitions), while `df`'s own session keeps its conf.
    * The clone carries the session's conf, temp views and functions.
    */
  def onClone(df: DataFrame, confs: (String, String)*): DataFrame = {
    val clone = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    ofRows(clone, logicalPlan(df))
  }

  /** Unregisters the listener bus that `session` put on its SparkContext
    * when it started its first stream: Spark registers one per session
    * that starts a stream and never removes it, so every clone from
    * [[onClone]] that ran a stream would leave one behind, and each
    * SparkContext event would reach them all. Only for a session none of
    * whose streams runs any more.
    */
  def releaseStreamListener(session: SparkSession): Unit = {
    val streams = session.asInstanceOf[classic.SparkSession].streams
    scala.util.Try(streams.getClass.getDeclaredField("listenerBus")).foreach { f =>
      f.setAccessible(true)
      session.sparkContext.listenerBus.removeListener(
        f.get(streams).asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
    }
  }

  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Listener-bus access for [[graft.QueryTrace]]: the bus is private to
    * Spark's package.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def postListenerEvent(sc: org.apache.spark.SparkContext,
      e: org.apache.spark.scheduler.SparkListenerEvent): Unit = sc.listenerBus.post(e)

  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The persisted RDD backing a (local)checkpointed Dataset — None when the
    * plan is not a checkpoint leaf (deliberately NOT a deep collect, which
    * could reach a checkpoint the caller owns).
    */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    logicalPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Unpersist the checkpoint blocks behind `df` (no-op for non-checkpoint
    * plans; never throws — cleanup must not fail the query). Round loops
    * ([[graft.Rounds]]) release a finished round's blocks with it once the
    * next round is materialized.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach { r =>
      try r.unpersist(blocking = false) catch { case _: Exception => () }
    }
}
