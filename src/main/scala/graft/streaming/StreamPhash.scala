package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.Multimodal

/** Streaming perceptual-hash image dedup — m5's streaming twin, and the
  * multimodal member of the at-ingest screen family (StreamDedup screens
  * text by content hash, StreamNearDup by MinHash bands, StreamNovelty
  * scores window novelty; this screens IMAGES by dHash). Each micro-batch
  * of `(doc_id, media)` rows:
  *
  *  - REALLY decodes every payload and reduces it to m5's 64-bit dHash
  *    (two 32-bit halves) in the same batched narrow ImageIO hop the
  *    batch query uses — media bytes never reach a shuffle or the store;
  *  - resolves the IN-BATCH winner per hash (min doc_id — m5's canonical
  *    convention, deterministic on replay);
  *  - anti-joins the winners against the store of all previously seen
  *    hashes (strictly earlier batches — StreamDedup's screen shape)
  *    and lands the genuinely new `(h_hi, h_lo, doc_id)` keepers as the
  *    batch's `delta_b<id>` dir:
  *    each distinct image lives in the delta of its FIRST batch, owned
  *    by that batch's smallest doc_id;
  *  - lands the dedup verdict as a `media_b<id>` sidecar row
  *    `(b, n_docs, n_unique, n_admitted, dup_ppm)` — the duplicate-feed
  *    alarm (a crawl feed whose dup_ppm climbs toward 1e6 is re-sending
  *    images the corpus already holds), watched from [[mediaLog]] like
  *    StreamVec's drift log.
  *
  * Store contract: [[StoreSink]]. The keeper store is a SET keyed by
  * hash, so fold/crash overlap is absorbed by the anti-join and readers'
  * distinct(); the sidecars fold under the `media` prefix.
  *
  * Store bytes at 100 TB: three longs per DISTINCT image ever seen —
  * the corpus's image vocabulary, never its image stream; per-batch
  * cost is the batch's own decode pass (narrow, batched) plus one
  * hash-keyed anti-join (bucketable like d10's fingerprint store when
  * the set outgrows a broadcast).
  */
object StreamPhash {

  private val Keepers = StoreSink.delta(StructType(Seq(
    StructField("h_hi", LongType), StructField("h_lo", LongType),
    StructField("doc_id", LongType))))

  private val Log = StoreSink.sidecar("media", StructType(Seq(
    StructField("b", LongType), StructField("n_docs", LongType),
    StructField("n_unique", LongType), StructField("n_admitted", LongType),
    StructField("dup_ppm", LongType))))

  /** The image store under `dir`: keeper deltas and verdicts. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Keepers, Log)

  /** The batch's per-image hashes: m5's decode + dHash hop over the
    * raw `(doc_id, media)` rows — one DHashRow per input row, media
    * reduced to 2 longs before anything wider than a task sees it.
    */
  private def batchHashes(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(Multimodal.BatchSize).flatMap { g =>
        Multimodal.dhashBatch(g.map { case (id, m) =>
          Multimodal.PngRow(id, m, 1)
        })
      })
      .toDF()
  }

  /** Every `(h_hi, h_lo, doc_id)` keeper the store has admitted —
    * the canonical representative of each distinct image seen so far
    * (deltas + folds, set semantics).
    */
  def keepers(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Keepers).distinct()

  /** The per-batch dedup audit trail, ordered by batch. */
  def mediaLog(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Log)
      .distinct().orderBy("b")

  /** Start the image-dedup screen over a `(doc_id, media)` source. The
    * STORE is the output: [[keepers]] for the canonical image set,
    * [[mediaLog]] for the per-cohort dedup verdicts.
    */
  def start(media: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(media, s"$checkpointDir/phash", Seq(store(storeDir)), trigger,
      foldEvery) { (spark, batch, batchId) =>
      // one decode pass feeds the winner window, the screen, and
      // both counters
      val hashes = batchHashes(batch).localCheckpoint()
      val nDocs = hashes.count()
      // in-batch winner: min doc_id per hash (m5's canonical rule), in
      // one partition, so no shuffle (STATIC PLANS in StoreSink)
      val winners = hashes.coalesce(1)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("h_hi", "h_lo").orderBy("doc_id")))
        .filter(col("__rn") === 1).drop("__rn")
        .localCheckpoint()
      val nUnique = winners.count()
      // the screen READ races a concurrent fold's post-commit input
      // delete — retry with a fresh listing (the fold commits the
      // same keeper set first, so the retried screen sees a superset)
      StreamDedup.withStoreRetry {
        // the keeper set visible to this batch: strictly earlier parts
        val seen = StoreSink.read(spark, storeDir, Keepers, batchId)
        val admitted = winners.join(seen, Seq("h_hi", "h_lo"), "left_anti")
          .select("h_hi", "h_lo", "doc_id").localCheckpoint()
        val nAdmitted = admitted.count()
        val ppm = if (nDocs == 0) 0L else 1000000L * (nDocs - nAdmitted) / nDocs
        admitted.coalesce(1).write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
        import spark.implicits._
        Seq((batchId, nDocs, nUnique, nAdmitted, ppm))
          .toDF("b", "n_docs", "n_unique", "n_admitted", "dup_ppm")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/media_b$batchId")
      }
    }
}
