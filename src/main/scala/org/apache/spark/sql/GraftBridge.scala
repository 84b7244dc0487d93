package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql package for Column ↔ catalyst Expression conversion
  * (Spark 4 made `classic.ExpressionUtils` private[sql]; defining custom
  * Catalyst expressions from a library requires this one-hop adapter).
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Register a Catalyst expression builder as a temp SQL function on an
    * existing session (sessionState is private[sql]; for new sessions use
    * `graft.functions.GraftExtensions` via `spark.sql.extensions`).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Block until every event posted so far to the context's listener bus
    * (SparkListeners and QueryExecutionListeners alike, which are delivered
    * asynchronously) has been handled. The bus is private[spark].
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The shuffle a map stage writes (None for a result stage). */
  def shuffleDepId(info: org.apache.spark.scheduler.StageInfo): Option[Int] =
    info.shuffleDepId
}
