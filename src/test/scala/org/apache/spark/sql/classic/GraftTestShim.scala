package org.apache.spark.sql.classic

/** Test-side bridge to `private[sql]` session internals. */
object GraftTestShim {
  /** The id of the artifact state `spark`'s jobs run under: its session
    * UUID when its tasks get their own executor class loader, None when
    * they run in the executors' default one (artifact isolation off).
    * A session fixes this from its conf when it is built. */
  def artifactStateId(spark: org.apache.spark.sql.SparkSession): Option[String] =
    Option(spark.asInstanceOf[SparkSession].artifactManager.state).map(_.uuid)
}
