package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversion for the
  * engine's custom Catalyst expressions (Spark 4 moved these behind the
  * classic/Connect split). Lives in the sql package tree for access; the
  * engine's own code stays in `graft.*`. */
object Shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable unique id of a session (`sessionUUID` lives on the classic
    * concrete class, not the abstract API type) — used as a memoization key
    * that, unlike `identityHashCode`, cannot collide across sessions. */
  def sessionUuid(s: org.apache.spark.sql.SparkSession): String =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Drain the listener bus (`listenerBus` is `private[spark]`) so a
    * metrics snapshot taken right after a query's last job sees every
    * job and stage event — the span rows Bench reads per query would
    * otherwise race the async event delivery. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The running SparkContext, if any (`getActive` is `private[spark]`;
    * the public `getOrCreate` would start one). */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** Free a `localCheckpoint()`ed frame's blocks. `Dataset.unpersist`
    * only drops cache-manager entries; a local checkpoint's blocks belong
    * to the RDD under the frame's `LogicalRDD` leaf, which stays in
    * `getPersistentRDDs` until that RDD itself is unpersisted. The release
    * goes through `unpersistRDD` (`private[spark]`) because
    * `RDD.unpersist` logs a lost-lineage warning for every checkpoint,
    * and a released pin is never read again. Any other plan shape fails
    * loudly: falling back to `unpersist` would silently keep the blocks. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case p => throw new IllegalArgumentException(
        s"releaseCheckpoint expects a localCheckpoint()ed frame (a LogicalRDD " +
          s"leaf), got a ${p.getClass.getName} plan")
    }
}
