package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.CorpusPrep

/** tok11's best-fit packing manifest AT INGEST — the dataloader-shape
  * dial kept current while the corpus streams in, instead of at the
  * next batch sweep: every micro-batch lands its docs' token counts in
  * the store's ledger in the trigger that admits them, and [[serve]]
  * runs the closed-form BFD over the ACCUMULATED ledger — so "how many
  * bins / how much padding / how much co-residency would this corpus
  * cost to pack" is answerable after every cohort, which is when a
  * feed owner actually tunes L or the quantum.
  *
  * The packing core is single-sourced from the oracled batch operator
  * ([[CorpusPrep.bfdPackFrame]] — the ≤32-row histogram fold plus the
  * residual-histogram closed form, OpsSpec-pinned against a literal
  * per-item BFD), so the at-ingest manifest and batch tok11 can never
  * disagree on a once-ingested corpus; StreamingSpec holds them equal
  * across batch cuts, restart, and fold. BFD is order-sensitive in
  * general but HISTOGRAM-determined (tok11's design note), so the
  * manifest is batch-cut independent by construction — the same
  * argument that makes it reproducible across engines makes it
  * reproducible across ingest schedules.
  *
  * Per-doc token counts land in `toks_b<id>` (store contract:
  * [[StoreSink]]). The ledger's distinct runs WITH the batch column, so
  * a doc genuinely re-sent in a later batch keeps one ledger row per
  * cohort (the admission HISTORY; [[packingLog]] recounts each cohort
  * from exactly its own rows) —
  * the serve-equals-batch-tok11 claim therefore carries the same
  * once-ingested precondition StreamImportance's does, and the spec
  * states it.
  *
  * 100 TB shape: the per-batch cost is one narrow map-only token-count
  * pass (no join, no shuffle, no state read — the zero-exchange
  * trigger, like StreamImportance); serve's cost is the ledger scan
  * folded map-side to the ≤32-row histogram plus bounded driver
  * arithmetic.
  */
object StreamPacking {

  private val Toks = StoreSink.sidecar("toks", StructType(Seq(
    StructField("doc_id", LongType), StructField("n_tokens", LongType),
    StructField("b", LongType))))

  /** The token-count ledger under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Toks)

  /** Start the at-ingest ledger over a stream with (doc_id, text)
    * columns. Zero-token docs emit no ledger row (tok10/tok11's
    * convention — they contribute nothing to any packing).
    */
  def start(source: DataFrame, storeDir: String, checkpointDir: String,
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(source, checkpointDir, Seq(store(storeDir)),
      foldEvery = foldEvery) { (_, batch, batchId) =>
      batch.select(col("doc_id"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .withColumn("b", StoreSink.batchIdCol(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/toks_b$batchId")
    }

  /** The accumulated (doc_id, n_tokens, b) ledger across all ingested
    * batches — replay overlap collapsed, genuine re-sends kept per
    * cohort (see the object scaladoc).
    */
  private def ledger(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Toks).distinct()

  /** The packing manifest over every ingested doc — on a once-ingested
    * corpus, the same 32 rows as batch tok11.
    */
  def serve(spark: SparkSession, storeDir: String): DataFrame =
    CorpusPrep.bfdPackFrame(
      ledger(spark, storeDir).select(col("n_tokens").as("n")).localCheckpoint())

  /** The per-cohort ingest dial: docs, tokens, and packing-pool items
    * per micro-batch — the feed-shape signal (a cohort whose pool
    * share spikes is sending fragmenting short docs; one whose
    * full-chunk share spikes is sending long docs the packer never
    * pads).
    */
  def packingLog(spark: SparkSession, storeDir: String): DataFrame =
    ledger(spark, storeDir)
      .groupBy("b")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sum(when(col("n_tokens") % 256 > 0, 1L).otherwise(0L))
          .cast("long").as("pool_items"))
      .orderBy("b")
}
