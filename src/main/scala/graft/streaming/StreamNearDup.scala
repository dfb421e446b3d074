package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.operators.MinHash

/** Streaming NEAR-duplicate screen — StreamDedup's MinHash sibling, and
  * the streaming half of the d15 batch twin: every micro-batch is
  * signatured (MinHash.K permutations, the exact constants of the batch
  * detector, so a pair matches at ingest iff it would match in d2/d15),
  * deduped within itself, then band-joined against the store of
  * ADMITTED signatures; survivors' signatures append to the store.
  *
  * Two outputs per batch (store contract: [[StoreSink]]):
  *
  *  - `delta_b<id>`: the admitted (doc_id, m0..m31) signature rows —
  *    the seen-set, ~33 longs per admitted doc, ~independent of doc
  *    size;
  *  - `matches_b<id>`: dedup PROVENANCE — (doc_id, matched_id,
  *    est_jaccard, stage) for every rejected doc: stage='batch' when it
  *    near-dupped a smaller-id batch-mate (the component-minimum winner
  *    d5's clustering would keep), stage='store' with EVERY admitted
  *    doc it collided with at est ≥ threshold. Provenance is what makes
  *    a production dedup auditable ("why was this page dropped, and
  *    against what") and is exactly what the recall gate grades.
  *
  * Scale shape: the per-batch cost is the batch's signature pass (one
  * hash-aggregate) plus a banded join of batch bands against store
  * bands — cost ∝ bucket collisions, never |store|·|batch|. The store
  * is signatures only (hashes, not text), read per batch like
  * StreamDedup's hash set; a production deployment materializes the
  * store band-keyed/bucketed so the screen prunes to colliding buckets
  * instead of re-banding the store (the same bucketing upgrade path as
  * d10's fingerprint store).
  */
object StreamNearDup {

  private def sigSchema: StructType = StructType(
    StructField("doc_id", LongType) +:
      (0 until MinHash.K).map(i => StructField(s"m$i", LongType)))

  private def matchesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("matched_id", LongType),
    StructField("est_jaccard", DoubleType), StructField("stage", StringType),
    StructField("b", LongType)))

  /** The admitted signature store visible to batch `boundExclusive`
    * (deltas + folds; a fold's id is the highest batch it covers).
    */
  def sigStore(spark: SparkSession, storeDir: String,
      boundExclusive: Long = Long.MaxValue): DataFrame =
    StoreSink.read(spark, storeDir, StoreSink.Delta, sigSchema, boundExclusive)

  /** Ids the screen has admitted so far. */
  def keptIds(spark: SparkSession, storeDir: String): DataFrame =
    sigStore(spark, storeDir).select("doc_id").distinct()

  /** The full dedup provenance: one row per (rejected doc, matching
    * doc) with the estimate and the stage that rejected it. Reads the
    * per-batch `matches_b*` dirs plus `matches_fold_0_*` compactions
    * ([[foldMatches]]); distinct on the internal batch-id column `b`
    * (dropped from the served rows) collapses exactly fold/crash
    * overlap while keeping a re-sent doc's later-batch rejection rows.
    *
    * Upgrade seam: dirs written before `b` existed read as b = NULL
    * under the explicit schema. Those rows get exactly the PRE-upgrade
    * collapse (distinct on the payload alone — the old code could not
    * distinguish cross-batch re-sends either, so this is no regression)
    * instead of joining the b-aware distinct, where a single NULL
    * b-value would collapse genuine re-send rows from DIFFERENT
    * pre-upgrade batches into one. Folds are content-agnostic, so a
    * pre-upgrade row keeps its NULL b through any later compaction and
    * fold-vs-leftover-delta overlap still cancels within its cohort.
    */
  def matches(spark: SparkSession, storeDir: String): DataFrame = {
    val raw = StoreSink.read(spark, storeDir, StoreSink.sidecar("matches"), matchesSchema)
    raw.filter(col("b").isNotNull).distinct().drop("b")
      .unionByName(raw.filter(col("b").isNull).drop("b").distinct())
  }

  /** Fold sig deltas into one `fold_0_<hi>` range dir — StreamDedup's
    * compaction verbatim (same dir naming, same write-then-delete crash
    * discipline, newest delta never folded); the `matches_b` provenance
    * dirs are history, not screen state — [[foldMatches]] compacts them
    * separately.
    */
  def foldDeltas(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldDeltas(spark, storeDir)

  /** Compact the `matches_b*` provenance dirs (one per micro-batch
    * forever otherwise — the small-file problem at ingest) into
    * `matches_fold_0_<hi>` under the store's maintenance lease.
    */
  def foldMatches(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldSidecars(spark, storeDir, "matches")

  /** Start the near-dup screen over a `(doc_id, text)` source. The
    * STORE is the output: [[keptIds]] is the deduped id set,
    * [[matches]] the rejection provenance.
    */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery =
    // the fold compacts both the signature deltas and the provenance
    StoreSink.start(docs, s"$checkpointDir/neardup", Seq(storeDir), trigger, foldEvery,
      s => foldDeltas(s, storeDir) + foldMatches(s, storeDir)) { (spark, batch, batchId) =>
      ingestBatch(spark, batch, batchId, storeDir, threshold); ()
    }

  /** One micro-batch of the near-dup screen — the foreachBatch body as
    * a reusable primitive (StreamPrep composes it into the chained
    * pipeline), returning the batch's ADMITTED doc_ids (read back from
    * the just-committed delta).
    */
  private[streaming] def ingestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String, threshold: Double): DataFrame = {
    val sig = MinHash.signatures(batch.select("doc_id", "text")).localCheckpoint()
    // stage 1: within-batch — drop any doc that near-dups a
    // smaller-id batch-mate (deterministic on replay)
    val inPairs = MinHash.nearDupPairsFromSignatures(sig, threshold)
      .localCheckpoint()
    val batchMatches = inPairs.select(col("doc2").as("doc_id"),
      col("doc1").as("matched_id"), col("est_jaccard"), lit("batch").as("stage"))
    val survivors = sig.join(
      inPairs.select(col("doc2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    // stage 2: band-screen survivors against the admitted store
    // (strictly earlier batches — replay-safe). Like StreamDedup's
    // screen, this READ races a concurrent fold's post-commit
    // input delete — retry with a fresh listing (sound: the fold
    // commits the same signature set before deleting its inputs,
    // and every write below is mode(overwrite)-idempotent)
    val written = StreamDedup.withStoreRetry {
      val seen = sigStore(spark, storeDir, boundExclusive = batchId)
      val storeMatches = MinHash.crossMatches(seen, survivors, threshold)
        .withColumn("stage", lit("store"))
        .localCheckpoint()
      batchMatches.unionByName(storeMatches)
        .withColumn("b", lit(batchId)) // fold-overlap vs re-send marker
        .write.mode("overwrite").parquet(s"$storeDir/matches_b$batchId")
      val admitted =
        survivors.join(storeMatches.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      admitted.write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
      admitted.schema
    }
    spark.read.schema(written).parquet(s"$storeDir/delta_b$batchId").select("doc_id")
  }
}
