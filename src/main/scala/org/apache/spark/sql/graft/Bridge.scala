package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ⇄ Expression
  * converters (Spark 4 moved these behind the Connect-agnostic Column
  * API). This is the only file that lives inside the org.apache.spark.sql
  * namespace; everything else is plain public API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Deterministically drain the async listener bus: every event posted
    * before the call has been delivered when it returns. Swallows the
    * timeout — a slow bus must degrade a reading, never hang or kill it.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The listeners registered on `sc`'s bus. */
  def listeners(sc: org.apache.spark.SparkContext)
      : Seq[org.apache.spark.scheduler.SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.toSeq
  }
}
