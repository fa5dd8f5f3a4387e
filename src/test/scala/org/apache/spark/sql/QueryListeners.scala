package org.apache.spark.sql

import org.apache.spark.sql.util.QueryExecutionListener

/** Test access to the `private[sql]` list of a session's registered
  * [[QueryExecutionListener]]s: lets a suite check that a listener it
  * cannot name (an anonymous one inside the library) has unregistered. */
object QueryListeners {

  def of(spark: SparkSession): Seq[QueryExecutionListener] =
    spark.asInstanceOf[classic.SparkSession].listenerManager.listListeners().toSeq
}
