package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.operators.{MinHash, TextOps}

/** Streaming NEAR-duplicate screen — StreamDedup's MinHash sibling, and
  * the streaming half of the d15 batch twin: every micro-batch is
  * signatured (MinHash.K permutations, the exact constants of the batch
  * detector, so a pair matches at ingest iff it would match in d2/d15),
  * deduped within itself, then band-matched against the store of
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
  * Scale shape: the per-batch cost is the batch's signature pass (per
  * doc, in place), one banding scan of the store probed against the
  * batch's buckets, and one group per touched bucket — cost ∝ bucket
  * collisions, never |store|·|batch|. The store
  * is signatures only (hashes, not text), read per batch like
  * StreamDedup's hash set; a production deployment materializes the
  * store band-keyed/bucketed so the screen prunes to colliding buckets
  * instead of re-banding the store (the same bucketing upgrade path as
  * d10's fingerprint store).
  */
object StreamNearDup {

  private[streaming] def sigSchema: StructType = StructType(
    StructField("doc_id", LongType) +:
      (0 until MinHash.K).map(i => StructField(s"m$i", LongType)))

  private val Sigs = StoreSink.delta(sigSchema)

  /** The `matches_b*` provenance dirs are history, not screen state, but
    * they fold with the signatures (one per micro-batch forever
    * otherwise — the small-file problem at ingest).
    */
  private val Matches = StoreSink.sidecar("matches", StructType(Seq(
    StructField("doc_id", LongType), StructField("matched_id", LongType),
    StructField("est_jaccard", DoubleType), StructField("stage", StringType),
    StructField("b", LongType))))

  /** The signature store under `dir`: sig deltas, then matches. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Sigs, Matches)

  /** The admitted signature store visible to batch `boundExclusive`
    * (deltas + folds; a fold's id is the highest batch it covers).
    */
  def sigStore(spark: SparkSession, storeDir: String,
      boundExclusive: Long = Long.MaxValue): DataFrame =
    StoreSink.read(spark, storeDir, Sigs, boundExclusive)

  /** Ids the screen has admitted so far. */
  def keptIds(spark: SparkSession, storeDir: String): DataFrame =
    sigStore(spark, storeDir).select("doc_id").distinct()

  /** The full dedup provenance: one row per (rejected doc, matching
    * doc) with the estimate and the stage that rejected it. Reads the
    * per-batch `matches_b*` dirs plus `matches_fold_0_*` compactions
    * (`StoreSink.fold`); distinct on the internal batch-id column `b`
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
    val raw = StoreSink.read(spark, storeDir, Matches)
    raw.filter(col("b").isNotNull).distinct().drop("b")
      .unionByName(raw.filter(col("b").isNull).drop("b").distinct())
  }

  /** Start the near-dup screen over a `(doc_id, text)` source. The
    * STORE is the output: [[keptIds]] is the deduped id set,
    * [[matches]] the rejection provenance.
    */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(docs, s"$checkpointDir/neardup", Seq(store(storeDir)), trigger,
      foldEvery) { (spark, batch, batchId) =>
      // like StreamDedup's screen, the store READ races a concurrent
      // fold's post-commit input delete — retry with a fresh listing
      // (sound: the fold commits the same signature set before deleting
      // its inputs, and both writes are mode(overwrite)-idempotent).
      // Both writes derive from one frozen evaluation of the screen.
      StreamDedup.withStoreRetry {
        val screened = screen(batch, sigStore(spark, storeDir, boundExclusive = batchId),
          threshold).localCheckpoint()
        writeMatches(screened, batchId, storeDir)
        writeDelta(screened, batchId, storeDir)
      }
    }

  /** One micro-batch of the near-dup screen, pure (no writes): `docs`
    * (doc_id, text, ...) with three columns added — `sig`, the doc's
    * MinHash signature as an array (NULL when it is not screened or has
    * no shingle); `near_ok`, true on the rows the store admits; and
    * `matches`, the rejection provenance (matched_id, est_jaccard, stage)
    * of a rejected row, NULL otherwise. `store` is the admitted
    * signatures below the batch ([[sigStore]]). Only rows where `on`
    * holds are screened. Stage 'batch': the doc near-dups a smaller-id batch-mate
    * (deterministic on replay); stage 'store': a survivor of that
    * near-dups admitted docs of strictly earlier batches (replay-safe).
    *
    * Each doc is signed in place. The store is banded and probed in its
    * own scan tasks against the batch's band buckets (broadcast: the
    * batch is the small side), so only store signatures that share a
    * bucket with a batch doc leave the scan. Those and the batch's band
    * rows meet in one group per bucket over one partition (no shuffle, as
    * in StreamDedup's screen); each batch doc of a bucket is paired with
    * the bucket's signed docs, batch and store — batch × (batch + store)
    * collisions per bucket — and its pairs fold back into the doc's row.
    * Same signatures, bands and estimate as the batch detector (MinHash).
    */
  private[streaming] def screen(docs: DataFrame, store: DataFrame, threshold: Double,
      on: Column = lit(true)): DataFrame = {
    val signed = docs.withColumn("toks", split(col("text"), " "))
      .withColumn("hps", when(on, MinHash.shingleHashes(TextOps.shingleArray)))
      .withColumn("sig", MinHash.signatureOf(col("hps")))
      .drop("toks", "hps")
    // a signed doc's band rows; an unsigned one keeps one NULL-band row
    def banded(df: DataFrame): DataFrame = df.select(col("*"),
      posexplode_outer(MinHash.bandValuesOf(col("sig"))).as(Seq("band", "band_val")))
    val buckets = banded(signed.filter(col("sig").isNotNull)).select("band", "band_val")
    val stored = banded(store.select(col("doc_id"),
          array((0 until MinHash.K).map(i => col(s"m$i")): _*).as("sig")))
      .join(broadcast(buckets), Seq("band", "band_val"), "left_semi")
      .withColumn("stored", lit(true))
      .repartition(1)
    // the mates of a doc meeting `mate`, with their estimates
    def found(mate: Column => Column): Column = filter(
      transform(filter(col("mates"), mate), m => struct(m("doc_id").as("matched_id"),
        MinHash.estimateOf(col("sig"), m("sig")).as("est_jaccard"))),
      m => m("est_jaccard") >= threshold)
    def staged(ms: String, stage: String): Column = transform(col(ms), m =>
      struct(m("matched_id").as("matched_id"), m("est_jaccard").as("est_jaccard"),
        lit(stage).as("stage")))
    val docCols = signed.columns.map(col).toSeq
    banded(signed).withColumn("stored", lit(false))
      .unionByName(stored, allowMissingColumns = true)
      .coalesce(1)
      .groupBy("band", "band_val")
      .agg(collect_list(when(!col("stored"), struct(docCols: _*))).as("docs"),
        collect_list(when(col("sig").isNotNull, struct("doc_id", "sig", "stored"))).as("mates"))
      .select(explode(col("docs")).as("d"), col("mates"))
      .select("d.*", "mates")
      .groupBy(docCols: _*)
      .agg(
        array_distinct(flatten(collect_list(
          found(m => !m("stored") && m("doc_id") < col("doc_id"))))).as("in_batch"),
        array_distinct(flatten(collect_list(found(m => m("stored"))))).as("in_store"))
      .withColumn("matches", when(size(col("in_batch")) > 0, staged("in_batch", "batch"))
        .when(size(col("in_store")) > 0, staged("in_store", "store")))
      .withColumn("near_ok", col("sig").isNotNull && col("matches").isNull)
      .drop("in_batch", "in_store")
  }

  /** The write step for the seen-set: the admitted signatures of a
    * [[screen]]ed frame as the batch's `delta_b<id>` (doc_id, m0..m31).
    */
  private[streaming] def writeDelta(screened: DataFrame, batchId: Long,
      storeDir: String): Unit =
    screened.filter(col("near_ok"))
      .select(col("doc_id") +: (0 until MinHash.K).map(i => col("sig").getItem(i).as(s"m$i")): _*)
      .write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")

  /** The write step for the provenance: the match rows of a [[screen]]ed
    * frame as `matches_b<id>`, every row carrying the batch id `b` (the
    * fold-overlap vs re-send marker).
    */
  private[streaming] def writeMatches(screened: DataFrame, batchId: Long,
      storeDir: String): Unit =
    screened.select(col("doc_id"), explode(col("matches")).as("r"))
      .select(col("doc_id"), col("r.matched_id"), col("r.est_jaccard"), col("r.stage"),
        StoreSink.batchIdCol(batchId).as("b"))
      .write.mode("overwrite").parquet(s"$storeDir/matches_b$batchId")
}
