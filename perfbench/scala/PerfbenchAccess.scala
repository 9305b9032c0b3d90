package org.apache.spark

/** Reaches package-private parts of the SparkContext: the listener bus,
  * so the benchmark can wait until every job and task event has been
  * delivered to its ledger, and the status store, whose own listener
  * keeps a second record of every job to check the ledger against. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (job id, submission ms, completion ms or -1, description) of every
    * job the status store holds. */
  def jobs(sc: SparkContext): Seq[(Int, Long, Long, String)] =
    sc.statusStore.jobsList(null).map(j => (j.jobId,
      j.submissionTime.map(_.getTime).getOrElse(-1L),
      j.completionTime.map(_.getTime).getOrElse(-1L),
      j.description.getOrElse("")))
}
