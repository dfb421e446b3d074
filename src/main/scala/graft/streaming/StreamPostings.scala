package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.operators.Retrieval

/** Streaming BM25 index ingest — the streaming twin of
  * `Retrieval.appendPostings`, built on StreamVec's discipline: each
  * micro-batch of `(doc_id, text)` rows tokenizes ALONE into raw
  * postings (term, doc_id, tf, dl — per-document state, a pure
  * function of the document) and lands as the batch's `delta_b<id>`
  * dir, so a document can never be double-indexed (store contract:
  * [[StoreSink]]).
  *
  * The design decision vs the batch append: df — the one GLOBAL
  * statistic — is deliberately NOT stored. Raw deltas hold only
  * per-doc state; [[served]] applies the df window AT READ TIME over
  * the union of complete deltas (posting-sized work). That keeps every
  * delta write idempotent (a stored df would depend on every earlier
  * batch, breaking replay-safety) and keeps served idf exact after
  * every micro-batch — the property OpsSpec pins for the batch append
  * and StreamingSpec pins here.
  *
  * Fold/crash overlap is absorbed in two layers at read time:
  * byte-identical replay overlap by distinct()
  * (postings are deterministic per doc, so a replayed delta is
  * row-identical), and a doc_id REissued in a later micro-batch with
  * different text (document update, upstream reprocessing) by
  * last-writer-wins — each delta row carries its batch id `b`, and the
  * reader keeps only each doc's max-b postings, so an updated doc is
  * re-indexed once instead of double-indexed with inflated df/tf.
  *
  * Every batch additionally writes one MARKER row per incoming doc_id
  * (term = '' — unreachable by the [a-z]+ tokenizer, and unreachable
  * under the stemmed analyzer too: the S-stemmer's length guard keeps
  * a lone 's' from stemming to the empty string (Retrieval.stemSql;
  * RetrievalSpec pins it) — tf = 0), so the
  * max-b computation sees EVERY reissue: a doc reissued with text that
  * tokenizes to zero tokens emits no postings, and without the marker
  * its older batch's rows would remain max-b and the doc would serve
  * from its OLD text, breaking the served-from-newest-text-only
  * contract. Markers are dropped after the last-writer filter.
  */
object StreamPostings {

  private def postingsSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", IntegerType),
    StructField("b", LongType)))

  /** Raw postings the store currently holds (with their writing batch
    * id `b`): all COMPLETE delta/fold dirs, replay overlap
    * distinct()-deduplicated, and per doc_id only the LATEST batch's
    * posting set (one posting-sized window — a doc updated upstream is
    * served from its newest text only). Empty-but-typed before the
    * first commit.
    */
  def postings(spark: SparkSession, storeDir: String): DataFrame =
    DeltaPostingsStore.read(spark, storeDir, postingsSchema)

  /** The servable index: df refreshed over the CURRENT store content —
    * exact idf after every micro-batch, never stale between segments.
    */
  def served(spark: SparkSession, storeDir: String): DataFrame =
    Retrieval.withDf(postings(spark, storeDir).drop("b"))

  /** Last-writer-aware compaction (see
    * [[DeltaPostingsStore.lastWriterShrink]]): physically drops
    * superseded reissue postings and tombstoned docs' payload rows —
    * the space-reclaim/erasure fold; served results are identical to
    * plain `StreamDedup.foldDeltas` (the read filter already hid those
    * rows), the disk just stops carrying them.
    */
  def foldPostings(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldDeltasWith(spark, storeDir)(
      DeltaPostingsStore.lastWriterShrink)

  /** The default analyzer: lowercase → [a-z]+ tokens — r1's chain,
    * the SAME definition the batch maintenance ops use.
    */
  val RawAnalyzer: String = Retrieval.RawAnalyzerSql

  /** The stemmed analyzer — the streaming twin of
    * `Retrieval.stemmedIndexArtifact`'s build-time chain, so a
    * stemmed-search deployment can keep ITS index fresh under
    * streaming append too (the same staleness symmetry argument that
    * brought the positional store its ingest). Query-side stemming
    * stays `Retrieval.stemScala` — analyzer parity is the operator's
    * contract, spec-pinned for the batch path and inherited verbatim
    * here because both paths interpolate the SAME stemSql.
    */
  def stemmedAnalyzer: String = Retrieval.stemmedAnalyzerSql

  /** Start the ingest over a `(doc_id, text)` source. The STORE is the
    * output — readers serve via [[served]] + `Retrieval.serveBm25`.
    * `analyzer` is the token-projection expression applied to `text`
    * per micro-batch (the ONE definition of the store's analyzer —
    * build-side only, queries must stem/normalize to match); it must
    * be deterministic, or replays stop being byte-identical.
    */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      analyzer: String = RawAnalyzer): StreamingQuery =
    StoreSink.start(docs, s"$checkpointDir/postings", Seq(storeDir), trigger) {
      (_, batch, batchId) =>
        import org.apache.spark.sql.functions._
        val raw = Retrieval.rawPostings(batch.select(col("doc_id"),
          expr(analyzer).as("toks")))
        // one marker per incoming doc_id — see the object scaladoc
        val markers = batch.select(col("doc_id")).distinct()
          .select(lit("").as("term"), col("doc_id"),
            lit(0L).as("tf"), lit(0).as("dl"))
        raw.unionByName(markers)
          .withColumn("b", StoreSink.batchIdCol(batchId))
          .write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
    }
}
