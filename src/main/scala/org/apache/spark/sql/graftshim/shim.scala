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

  /** Free a `localCheckpoint()`ed frame's blocks, which belong to the RDD
    * under its `LogicalRDD` leaf and stay in `getPersistentRDDs` until that
    * RDD is unpersisted; false when `df` holds no live checkpoint. Goes
    * through `unpersistRDD` (`private[spark]`) because `RDD.unpersist`
    * logs a lost-lineage warning for every checkpoint, and a released pin
    * is never read again. Called only by `graft.Sweep.release`. */
  def releaseCheckpoint(df: org.apache.spark.sql.Dataset[_]): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan match {
      case r: org.apache.spark.sql.execution.LogicalRDD
          if r.rdd.sparkContext.getPersistentRDDs.contains(r.rdd.id) =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
        true
      case _ => false
    }
}
