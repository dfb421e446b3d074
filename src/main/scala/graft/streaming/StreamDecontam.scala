package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextOps

/** d7b's threshold-overlap decontamination run AT INGEST: every
  * micro-batch of incoming documents is screened against the broadcast
  * benchmark-window fixture in the same trigger that lands it, and the
  * flagged (doc, bench item) verdicts are appended to a store — a
  * contaminated document is known BEFORE anything downstream trains on
  * it, instead of at the next batch decontamination sweep.
  *
  * The screen core is single-sourced from the oracled batch operator
  * ([[TextOps.d7bVerdicts]]): one narrow window-hash projection per
  * batch, bench windows broadcast at both joins. A document's verdict
  * depends only on that document and the fixed bench fixture, so the
  * result is batch-cut independent by construction, and StreamingSpec
  * holds the served store equal to the batch query's verdicts on the
  * same corpus.
  *
  * Per-batch verdicts land in `verdicts_b<id>` (store contract:
  * [[StoreSink]]). Store rows are flagged pairs only (contamination is
  * rare by construction), orders of magnitude smaller than the stream.
  */
object StreamDecontam {

  /** Start the at-ingest screen over a stream with (doc_id, text)
    * columns. `benchWindows` is the (bench_id, h) fixture from
    * [[TextOps.d7bBenchWindows]] — bounded; callers materialize it
    * once (cache/localCheckpoint) before starting the query.
    */
  def start(source: DataFrame, benchWindows: DataFrame, storeDir: String,
      checkpointDir: String, foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(source, checkpointDir, Seq(storeDir), foldEvery = foldEvery,
      fold = fold(_, storeDir)) { (_, batch, batchId) =>
      val sp = batch.select(col("doc_id"), split(col("text"), " ").as("ws"))
      TextOps.d7bVerdicts(sp, benchWindows)
        .withColumn("b", StoreSink.batchIdCol(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/verdicts_b$batchId")
    }

  /** Compact per-batch verdict dirs into one `verdicts_fold_0_<hi>`
    * range dir (the dirs otherwise accumulate one per micro-batch
    * forever — ~2,900/day at a 30 s trigger). StreamDedup's fold
    * machinery under the store's maintenance lease; crash leaves
    * overlap that [[serve]]'s distinct absorbs.
    */
  def fold(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldSidecars(spark, storeDir, "verdicts")

  /** The stored verdicts across all ingested batches (per-batch dirs
    * plus [[fold]] compactions; overlap collapsed by distinct on the
    * internal batch-id column, which is dropped from the served rows).
    */
  def serve(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.readInferred(spark, storeDir, StoreSink.sidecar("verdicts"))
      .distinct().drop("b")
}
