package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Spark internals needed by graft's custom
  * Catalyst expressions (Column <-> Expression, abstract type classes).
  * Kept to the absolute minimum surface.
  */
object Shims {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * private[sql]) — the entry point for graft's native operators
    * (plans.AsofJoinPlan). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A serializable carrier for the driver's Hadoop configuration, so
    * executor-side writers (`graft.operators.ShardSink`) see the session's
    * `spark.hadoop.*` settings (credentials, fs impls) exactly as Spark's
    * own writers do. Wraps `private[spark]` SerializableConfiguration.
    */
  class SerializableHadoopConf(@transient conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private val inner = new org.apache.spark.util.SerializableConfiguration(conf)
    def value: org.apache.hadoop.conf.Configuration = inner.value
  }

  /** Add a custom writer's bytes and records to the task's output
    * metrics (the setters are `private[spark]`), so listeners and the UI
    * see them as they see Spark's own file writers' output.
    */
  def addOutputMetrics(ctx: org.apache.spark.TaskContext, bytes: Long,
                       records: Long): Unit = {
    val m = ctx.taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + records)
  }

  /** Blocking removal of every broadcast block still materialized in the
    * BlockManager. Broadcast cleanup normally rides ContextCleaner's
    * weak-ref queue — an ASYNC path that lags a shared long-running JVM
    * (same failure mode as localCheckpoint blocks, r8): hundreds of
    * queries' broadcast-exchange blocks pile up and surface as
    * multi-second timing swings in unrelated later queries. Benchmarks
    * call this after each fully-consumed run so block-manager state is
    * deterministic at every timer start. Only safe once the owning
    * query's result has been consumed (a later `.value` re-read of a
    * drained broadcast would fail).
    */
  def drainBroadcasts(sc: org.apache.spark.SparkContext): Int = {
    val master = sc.env.blockManager.master
    val bids = master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId => b.broadcastId }
      .distinct
    bids.foreach(id =>
      master.removeBroadcast(id, removeFromMaster = true, blocking = true))
    bids.size
  }

  /** Whether the driver still holds broadcast `b`'s value: false once
    * [[drainBroadcasts]] (or any other removal of its blocks) ran, after
    * which a task reading it would fail.
    */
  def broadcastHeld(sc: org.apache.spark.SparkContext,
                    b: org.apache.spark.broadcast.Broadcast[_]): Boolean =
    sc.env.blockManager.getStatus(org.apache.spark.storage.BroadcastBlockId(b.id)).isDefined

  /** Apply the functions registered on a SparkSessionExtensions to a
    * registry (`registerFunctions` is private[sql]) — lets tests exercise
    * the `spark.sql.extensions` injection path without tearing down the
    * shared session.
    */
  def applyExtensionFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(registry)
}
