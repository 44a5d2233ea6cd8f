package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Package bridge to the `private[spark]` `SparkContext.getActive`, which
  * [[graft.GraftExtensions]] uses to configure the context a session is
  * being built on.
  */
object ContextBridge {
  def active: Option[SparkContext] = SparkContext.getActive
}
