package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 moved Column<->Expression conversion behind
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils), so
  * extension libraries expose it from inside the package — the same
  * technique Spark-native connector/extension projects use.
  */
package object graftshim {
  def exprToColumn(e: Expression): Column = ExpressionUtils.column(e)
  def columnToExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unload every loaded state-store provider (`private[sql]` in
    * Spark 4). A streaming harness that runs hundreds of queries
    * against throwaway checkpoints must drop their providers itself —
    * see EventStream.unloadStateStores for the measured leak.
    */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** A Hadoop configuration shipped once to the executors, the way
    * Spark's file sources ship theirs (`private[spark]`).
    */
  def broadcastConf(
      sc: org.apache.spark.SparkContext,
      conf: org.apache.hadoop.conf.Configuration): () => org.apache.hadoop.conf.Configuration = {
    val b = org.apache.spark.util.SerializableConfiguration.broadcast(sc, conf)
    () => b.value.value
  }

  /** Open a file split's line reader the way Spark's CSV source does:
    * created with task interrupts deferred (`private[spark]` Utils), so
    * an interrupt cannot leak a half-opened stream.
    */
  def openLines(
      file: org.apache.spark.sql.execution.datasources.PartitionedFile,
      conf: org.apache.hadoop.conf.Configuration
  ): org.apache.spark.sql.execution.datasources.HadoopFileLinesReader =
    org.apache.spark.util.Utils.createResourceUninterruptiblyIfInTaskThread(
      new org.apache.spark.sql.execution.datasources.HadoopFileLinesReader(file, None, conf))
}
