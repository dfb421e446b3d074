package org.apache.spark.graftshim

/** Test access to Spark's process-tree metrics reader, which is
  * package-private. Building it runs `getconf PAGESIZE` once per JVM,
  * at the first executor heartbeat; a test that counts the processes a
  * stretch of work starts builds it beforehand.
  */
object ProcfsMetrics {
  def init(): Unit = { org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo; () }
}
