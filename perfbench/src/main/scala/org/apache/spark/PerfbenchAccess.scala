package org.apache.spark

import org.apache.spark.storage.RDDInfo

/** The two scheduler internals the benchmark's tracing reads. */
object PerfbenchAccess {

  /** Block until every listener has handled every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Names of the plan-node scopes an RDD was created in, outermost
    * first: "Exchange", "WholeStageCodegen (2)", "Scan csv " and so on. */
  def scopeNames(info: RDDInfo): Seq[String] =
    info.scope.toSeq.flatMap(_.getAllScopes.map(_.name))
}
