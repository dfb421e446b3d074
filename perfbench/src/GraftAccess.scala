package graft.streaming

import org.apache.spark.sql.DataFrame

/** The two package-private engine entry points the `stream_prep`
  * workload needs, used as they are rather than re-implemented: the
  * decontamination fixture's window hashes, and the fold cadence that
  * splits `addBatch` time into ingest and fold batches.
  */
object PerfbenchAccess {
  def benchWindows(bench: DataFrame): DataFrame =
    graft.operators.TextOps.d7bBenchWindows(bench)
  def foldDue(foldEvery: Int, batchId: Long): Boolean =
    StreamDedup.foldDue(foldEvery, batchId)
}
