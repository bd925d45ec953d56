package org.apache.spark.sql

/** Reaches the private[sql] function registry so a spec can apply a
  * SparkSessionExtensions' function injections to a live session (the
  * spark.sql.extensions path without a new session).
  */
object GraftTestBridge {
  def registerInjectedFunctions(ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)
}
