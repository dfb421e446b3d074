package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.TextOps

/** d7b's threshold-overlap decontamination run AT INGEST: every
  * micro-batch of incoming documents is screened against the broadcast
  * benchmark-window fixture in the same trigger that lands it, and the
  * flagged (doc, bench item) verdicts are appended to a store — a
  * contaminated document is known BEFORE anything downstream trains on
  * it, instead of at the next batch decontamination sweep.
  *
  * The screen core is single-sourced from the oracled batch operator
  * ([[TextOps.d7bVerdictsInPlace]], d7b's hits, threshold and ppm): one
  * narrow window-hash projection per batch against the broadcast bench
  * fixture, whose per-item totals are counted once per run. A
  * document's verdict depends only on that document and the fixed bench
  * fixture, so the result is batch-cut independent by construction, and
  * StreamingSpec holds the served store equal to the batch query's
  * verdicts on the same corpus.
  *
  * Per-batch verdicts land in `verdicts_b<id>` (store contract:
  * [[StoreSink]]). Store rows are flagged pairs only (contamination is
  * rare by construction), orders of magnitude smaller than the stream.
  */
object StreamDecontam {

  private val Verdicts = StoreSink.sidecar("verdicts", StructType(
    Seq("doc_id", "bench_id", "n_item_windows", "n_present", "overlap_ppm", "b")
      .map(StructField(_, LongType))))

  /** The verdict store under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Verdicts)

  /** Start the at-ingest screen over a stream with (doc_id, text)
    * columns. `benchWindows` is the (bench_id, h) fixture from
    * [[TextOps.d7bBenchWindows]] — bounded; its per-item window totals
    * are counted here, once per run.
    */
  def start(source: DataFrame, benchWindows: DataFrame, storeDir: String,
      checkpointDir: String, foldEvery: Int = 0): StreamingQuery = {
    val bench = TextOps.d7bBenchWithTotals(benchWindows).localCheckpoint()
    StoreSink.start(source, checkpointDir, Seq(store(storeDir)),
      foldEvery = foldEvery) { (_, batch, batchId) =>
      // one partition, so no shuffle (STATIC PLANS in StoreSink)
      val sp = batch.coalesce(1).select(col("doc_id"), split(col("text"), " ").as("ws"))
      verdictRows(TextOps.d7bVerdictsInPlace(sp, lit(true), bench),
          StoreSink.batchIdCol(batchId).as("b"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/verdicts_b$batchId")
    }
  }

  /** One (doc_id, bench_id, n_item_windows, n_present, overlap_ppm, b)
    * row per verdict of a frame [[TextOps.d7bVerdictsInPlace]]
    * annotated; `b` is the batch-id column.
    */
  private[streaming] def verdictRows(screened: DataFrame, b: Column): DataFrame =
    screened.select(col("doc_id"), explode(col("verdicts")).as("r"))
      .select(col("doc_id"), col("r.bench_id").cast(LongType).as("bench_id"),
        col("r.n_item_windows"), col("r.n_present"), col("r.overlap_ppm"), b)

  /** The stored verdicts across all ingested batches (per-batch dirs
    * plus their folds; overlap collapsed by distinct on the internal
    * batch-id column, which is dropped from the served rows).
    * Empty-but-typed before the first commit.
    */
  def serve(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Verdicts).distinct().drop("b")
}
