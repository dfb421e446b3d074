package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.CorpusPrep

/** s10's DSIR importance dial AT INGEST — the last admission gate
  * without a streaming twin (quality → exact → near-dup → decontam →
  * novelty → image all had theirs): every micro-batch of incoming
  * documents is scored against the FROZEN hashed-bigram lift table in
  * the trigger that lands it, so a document's target-likeness verdict
  * (mean_lift_ppm, the resampling accept/reject) exists BEFORE anything
  * downstream trains on it, instead of at the next batch sweep.
  *
  * The scoring core is single-sourced from the oracled batch operator
  * ([[CorpusPrep.dsirScore]] — map-only, the lift table inlined as a
  * 4096-long literal), and the lift table is [[CorpusPrep.dsirLiftArray]]
  * over the reference corpus — StreamVec's frozen-codebook discipline:
  * train once, freeze for the life of the store, rotate by rebuilding
  * (re-training the LM mid-stream would make verdicts incomparable
  * across cohorts, the same reason the PQ codebook never drifts under
  * a store). A document's verdict depends only on that document and
  * the frozen array, so the result is batch-cut independent by
  * construction, and StreamingSpec holds the served store equal to the
  * batch s10 query on the same corpus.
  *
  * Per-doc verdicts land in `verdicts_b<id>` (store contract:
  * [[StoreSink]]). Unlike the
  * decontam screen the verdict row set is the DOCUMENT set (every doc
  * gets a row, not just flagged ones) — the store is the corpus's
  * importance ledger, so [[importanceLog]] can report the per-cohort
  * acceptance rate (the dial a mixture owner actually watches: a feed
  * whose sel_ppm collapses is drifting away from the target
  * distribution).
  *
  * 100 TB shape: the per-batch cost is one narrow map-only pass — no
  * join, no shuffle, no state read (the only stream twin with a
  * zero-exchange trigger); the lift array is 32 KB of driver state
  * broadcast with the task closure.
  */
object StreamImportance {

  private val Verdicts = StoreSink.sidecar("verdicts", StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("n_bigrams", LongType), StructField("mean_lift_ppm", LongType),
    StructField("selected", LongType), StructField("b", LongType))))

  /** The importance ledger under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Verdicts)

  /** Start the at-ingest scorer over a stream with (doc_id, source,
    * text) columns. `liftArr` is the frozen 4096-bucket lift table from
    * [[CorpusPrep.dsirLiftArray]] over the reference corpus.
    */
  def start(source: DataFrame, liftArr: Array[Long], storeDir: String,
      checkpointDir: String, foldEvery: Int = 0): StreamingQuery = {
    require(liftArr.length == 4096, s"lift array has ${liftArr.length} buckets, want 4096")
    StoreSink.start(source, checkpointDir, Seq(store(storeDir)),
      foldEvery = foldEvery) { (_, batch, batchId) =>
      CorpusPrep.dsirScore(batch, liftArr)
        .withColumn("b", StoreSink.batchIdCol(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/verdicts_b$batchId")
    }
  }

  /** The stored per-doc verdicts across all ingested batches —
    * (doc_id, source, n_bigrams, mean_lift_ppm, selected), the same
    * shape (and, on a ONCE-INGESTED corpus, the same rows) as batch
    * s10. The distinct() runs WITH the batch column, so a doc
    * genuinely re-sent in a later batch keeps one ledger row per
    * cohort (deliberate: the ledger is the admission HISTORY, and
    * [[importanceLog]] recounts each cohort from exactly its own
    * rows) — equality with batch s10 therefore holds only for corpora
    * where each doc_id was ingested once, the precondition the
    * equality spec states and pins.
    */
  def serve(spark: SparkSession, storeDir: String): DataFrame =
    verdicts(spark, storeDir).drop("b")

  private def verdicts(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Verdicts).distinct()

  /** The per-cohort admission dial: one row per micro-batch with the
    * cohort's document count, accepted count, and acceptance rate in
    * ppm — the importance-side sibling of StreamNovelty's noveltyLog
    * (a feed whose sel_ppm decays is drifting off-target; the signal
    * to re-weight or re-source, watched the same way).
    */
  def importanceLog(spark: SparkSession, storeDir: String): DataFrame =
    verdicts(spark, storeDir)
      .groupBy("b")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("selected").cast("long").as("n_selected"))
      .withColumn("sel_ppm", expr("CAST((1000000 * n_selected) div n_docs AS BIGINT)"))
      .orderBy("b")
}
