package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import graft.operators.Retrieval

/** Streaming POSITIONAL-index ingest — the streaming twin of
  * `Retrieval.appendPosPostings`, closing the staleness asymmetry the
  * round-9 review flagged: the BM25 postings store had a streaming
  * ingest (StreamPostings) while the positional store had only batch
  * CRUD, so under streaming append keyword search stayed fresh but
  * phrase search (r8) served stale positions. Same discipline
  * throughout:
  *
  *  - each micro-batch of `(doc_id, text)` tokenizes ALONE into
  *    positional postings (term, doc_id, ps) — positions are pure
  *    per-document state, a deterministic function of the text — and
  *    lands as the batch's `delta_b<id>` dir (store contract:
  *    [[StoreSink]]);
  *  - read-time absorption: replay overlap by distinct() (rows are
  *    deterministic per doc), doc reissue by last-writer-wins on the
  *    batch id, and the per-doc MARKER row (term = '', ps = []) keeps
  *    the reissue visible even when the new text tokenizes to zero
  *    tokens (StreamPostings' tombstone discipline).
  *
  * SIMPLER than the BM25 twin in the same way the batch append is:
  * positions carry NO global statistic (df lives only in the scoring
  * index), so [[served]] is the filtered union itself — no df window.
  * Phrase serving over it is `Retrieval`'s r8 adjacency verify; the
  * StreamingSpec twin pins stream-append-then-serve == batch-rebuild
  * and checkpoint-restart idempotence.
  */
object StreamPosPostings {

  private val Positions = DeltaPostingsStore.family(StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("ps", ArrayType(IntegerType)), StructField("b", LongType))))

  /** The positional store under `dir`, folded as StreamPostings' is. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Positions)

  /** Positional postings the store currently holds: all COMPLETE
    * delta/fold dirs, replay overlap distinct()-deduplicated, per
    * doc_id only the LATEST batch's rows, markers dropped.
    * Empty-but-typed before the first commit.
    */
  def postings(spark: SparkSession, storeDir: String): DataFrame =
    DeltaPostingsStore.read(spark, storeDir, Positions)

  /** The servable positional index — no global statistic to refresh,
    * so this is [[postings]] minus the batch-id bookkeeping column.
    */
  def served(spark: SparkSession, storeDir: String): DataFrame =
    postings(spark, storeDir).drop("b")

  /** Start the ingest over a `(doc_id, text)` source. The STORE is the
    * output — readers serve phrase queries via [[served]]. `analyzer`
    * mirrors StreamPostings.start's parameter (one analyzer per store
    * for its whole life — a stemmed scoring index MUST pair with a
    * stemmed positional store, or phrase/snippet reads silently miss
    * the stemmed query literals the BM25 ranking matched).
    */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      analyzer: String = Retrieval.RawAnalyzerSql): StreamingQuery =
    StoreSink.start(docs, s"$checkpointDir/pospostings", Seq(store(storeDir)), trigger) {
      (_, batch, batchId) =>
        import org.apache.spark.sql.functions._
        // one partition, so no shuffle (STATIC PLANS in StoreSink)
        val one = batch.coalesce(1)
        val raw = Retrieval.rawPosPostings(one.select(col("doc_id"),
          expr(analyzer).as("toks")))
        val markers = one.select(col("doc_id")).distinct()
          .select(lit("").as("term"), col("doc_id"),
            expr("CAST(array() AS ARRAY<INT>)").as("ps"))
        raw.unionByName(markers)
          .withColumn("b", StoreSink.batchIdCol(batchId))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
    }
}
