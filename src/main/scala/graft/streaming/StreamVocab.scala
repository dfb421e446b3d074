package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.CorpusPrep

/** tok12's unigram-LM tokenizer report AT INGEST — the vocabulary kept
  * current while the corpus streams in, instead of at the next batch
  * sweep: every micro-batch lands its own word-count DELTAS in the
  * store's ledger in the trigger that admits them, and [[serve]] runs
  * the single-sourced seed → Viterbi E-step → M-step report
  * ([[CorpusPrep.unigramReport]]) over the SUMMED ledger — so "what
  * vocabulary would this corpus train, and what would each piece's EM
  * share be" is answerable after every cohort, which is when a feed
  * owner actually decides whether the tokenizer needs retraining.
  *
  * Batch-cut independence is ARITHMETIC here, not argued: word counts
  * are additive, so the summed ledger equals the batch word-frequency
  * pass on a once-ingested corpus no matter how the docs were cut into
  * micro-batches — and everything downstream of the word-frequency
  * frame is the same code path batch tok12 runs
  * ([[CorpusPrep.unigramWordCounts]] / [[CorpusPrep.unigramReport]],
  * both single-sourced so the twins can never drift). StreamingSpec
  * holds served == batch tok12 row-for-row across batch cuts, restart,
  * and fold.
  *
  * Per-batch word counts land in `wc_b<id>` (store contract:
  * [[StoreSink]]). The ledger's distinct runs WITH the batch column, so
  * a doc genuinely re-sent in a later batch adds its words again — the
  * serve-equals-batch claim carries the same once-ingested precondition
  * StreamImportance's does, and the spec states it.
  *
  * 100 TB shape: the per-batch cost is one map-side-combined groupBy
  * onto the BATCH's vocabulary (bounded by the cohort, not the
  * corpus) — the one exchange a count delta fundamentally needs;
  * serve's cost is the ledger scan summed onto the corpus vocabulary
  * plus tok12's own vocab-bounded stages. The corpus text is never
  * re-read: the ledger IS the word-frequency pass, amortized over
  * ingest.
  */
object StreamVocab {

  /** Start the at-ingest word-count ledger over a stream with
    * (doc_id, text) columns.
    */
  def start(source: DataFrame, storeDir: String, checkpointDir: String,
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(source, checkpointDir, Seq(storeDir), foldEvery = foldEvery,
      fold = fold(_, storeDir)) { (_, batch, batchId) =>
      CorpusPrep.unigramWordCounts(batch)
        .withColumn("b", StoreSink.batchIdCol(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/wc_b$batchId")
    }

  /** Compact per-batch ledger dirs into one `wc_fold_0_<hi>` range dir
    * — StreamDedup's fold machinery under the store's maintenance
    * lease; crash leaves overlap that the ledger's distinct absorbs.
    */
  def fold(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldSidecars(spark, storeDir, "wc")

  /** The accumulated (word, freq, b) delta ledger across all ingested
    * batches — replay overlap collapsed, genuine re-sends kept per
    * cohort (see the object scaladoc).
    */
  private def ledger(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.readInferred(spark, storeDir, StoreSink.sidecar("wc")).distinct()

  /** The unigram-LM tokenizer report over every ingested doc — on a
    * once-ingested corpus, the same 50 rows as batch tok12.
    */
  def serve(spark: SparkSession, storeDir: String): DataFrame =
    CorpusPrep.unigramReport(
      ledger(spark, storeDir)
        .groupBy("word").agg(sum("freq").as("freq"))
        .localCheckpoint())

  /** The per-cohort ingest dial: token mass and distinct-word count
    * per micro-batch — the vocabulary-feed signal (a cohort whose
    * distinct share spikes is sending novel or noisy vocabulary; the
    * arrival-NOVELTY question itself belongs to StreamNovelty).
    */
  def vocabLog(spark: SparkSession, storeDir: String): DataFrame =
    ledger(spark, storeDir)
      .groupBy("b")
      .agg(sum("freq").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct_words"))
      .orderBy("b")
}
