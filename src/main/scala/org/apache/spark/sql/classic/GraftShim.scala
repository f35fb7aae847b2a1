package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Dataset.ofRows — the standard technique
  * public Spark extension libraries use to materialize a custom
  * LogicalPlan as a DataFrame (a one-line shim placed inside the sql
  * package namespace). Used by graft.plans.AsofJoinNative; `column` wraps
  * a custom Expression (graft.functions.ParamLiteral) as a Column;
  * `sessionArtifactAdded` lets graft.streaming's drains choose their
  * cloned session's class loader. */
object GraftShim {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def column(e: Expression): org.apache.spark.sql.Column = ExpressionUtils.column(e)

  /** Whether `spark` has added jars, classes or files of its own. The
    * manager's flag is `protected` in Scala and public in bytecode, so it
    * is read through its getter. */
  def sessionArtifactAdded(spark: org.apache.spark.sql.SparkSession): Boolean =
    artifactAddedFlag.invoke(spark.asInstanceOf[SparkSession].artifactManager)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get

  private lazy val artifactAddedFlag =
    classOf[org.apache.spark.sql.artifact.ArtifactManager].getMethod("sessionArtifactAdded")
}
