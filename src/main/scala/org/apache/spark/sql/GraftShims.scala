package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column<->Expression conversions (Spark 4.x moved
  * them behind `org.apache.spark.sql.classic.ExpressionUtils`) and the one
  * plan factory, shared by the route and produce paths. Standard pattern for
  * Catalyst-extension libraries: one tiny accessor object in the
  * `org.apache.spark.sql` package, nothing else lives here.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until queued listener events are delivered (`listenerBus` is
    * `private[spark]`) — lets metrics collectors read complete task totals. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Plan factory: a DataFrame with `df`'s schema whose rows are
    * `reshape(df's executed rows)`, planned as one `LogicalRDD` leaf (the
    * `internalCreateDataFrame` path: a hand-built plan wrapped back into a
    * Dataset). `reshape` may cache or regroup partitions, not change rows
    * (the router caches each parsed batch, the flush regroups). Building
    * the frame plans `df` but runs no job, except that an adaptive plan
    * with exchanges runs its shuffle stages here, so build it where a
    * failure of `df` is handled. */
  def reshapedRows(df: DataFrame)(reshape: RDD[InternalRow] => RDD[InternalRow]): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(reshape(df.queryExecution.toRdd), df.schema)
}
