package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column↔Expression converters (Spark 4
  * moved `new Column(expr)` behind org.apache.spark.sql.classic). Lives under
  * the org.apache.spark.sql package purely for access; used by graft's custom
  * Catalyst expressions.
  */
object SqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a (resolved) logical plan — the public-snippet
    * DatasetFactory pattern; needed to hand a custom LogicalPlan node to the
    * planner.
    */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until the listener bus has delivered every event posted so far
    * (the bus is private[spark]): a listener's counts are complete only
    * after this, with no sleep to guess at.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Spill file under Spark's configured local dirs (`spark.local.dir`) via
    * the executor's DiskBlockManager — the same placement contract as
    * Spark's own shuffle/sort spills, so spill I/O lands on the disks the
    * cluster sized for it (not the root-volume `java.io.tmpdir`) and is
    * swept by the worker's recursive cleanup if the JVM dies. Falls back to
    * a JVM temp file only when no SparkEnv exists (bare unit-test use).
    */
  def createSpillFile(prefix: String): java.io.File = {
    val env = org.apache.spark.SparkEnv.get
    if (env != null && env.blockManager != null)
      env.blockManager.diskBlockManager.createTempLocalBlock()._2
    else java.io.File.createTempFile(prefix, ".run")
  }

  /** The executor's Spark local dirs (test observability for spill
    * placement; DiskBlockManager is private[spark]).
    */
  def sparkLocalDirs: Array[java.io.File] = {
    val env = org.apache.spark.SparkEnv.get
    if (env != null && env.blockManager != null)
      env.blockManager.diskBlockManager.localDirs
    else Array.empty
  }
}
