package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Registers the SQL functions an extension injects into a live session's
  * function registry — the step `spark.sql.extensions` performs when a
  * session is built. `registerFunctions` is private[sql], hence this
  * package. */
object TestExtensions {
  def registerFunctions(spark: SparkSession, extension: SparkSessionExtensions => Unit): Unit = {
    val ext = new SparkSessionExtensions
    extension(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }
}
