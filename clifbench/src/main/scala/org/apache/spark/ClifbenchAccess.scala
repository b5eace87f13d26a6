package org.apache.spark

import java.io.File

/** The two scheduler internals the benchmark's probe reads, reachable
  * only from inside the `org.apache.spark` package. */
object ClifbenchAccess {

  /** Block until every queued listener event (job/stage/task, SQL
    * execution, streaming progress) has been delivered. Replaces the
    * fixed sleeps the older profiling tools used. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The block manager's scratch directories (under SPARK_LOCAL_DIRS or
    * spark.local.dir): shuffle files, spills and disk-persisted blocks. */
  def blockManagerDirs: Seq[File] =
    Option(SparkEnv.get).toSeq.flatMap(_.blockManager.diskBlockManager.localDirs)
}
