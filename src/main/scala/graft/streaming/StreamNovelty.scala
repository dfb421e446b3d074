package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.TextOps

/** Streaming arrival-order novelty — d21's streaming twin, at the
  * granularity ingest decisions are actually made: PER MICRO-BATCH
  * COHORT ("how much does this crawl snapshot add"), where d21's batch
  * query answers it per document after the fact. Each micro-batch of
  * `(doc_id, text)` rows:
  *
  *  - reduces to its DISTINCT 8-word window hashes (d18/d21's portable
  *    hash, computed IN the projection — document text never reaches a
  *    shuffle or the store);
  *  - anti-joins them against the store of ALL previously seen window
  *    hashes (strictly earlier batches — StreamDedup's screen shape);
  *  - lands the genuinely NEW hashes as a batchId-keyed `delta_b<id>`
  *    dir (the seen-set grows by exactly the novel mass — each hash
  *    lives in the delta of its FIRST batch, the streaming form of
  *    d21's min-doc_id first-occurrence convention);
  *  - lands the verdict as a `novelty_b<id>` sidecar row
  *    `(b, n_docs, n_windows, n_novel, novelty_ppm)`. A batch with no
  *    ≥ 8-token document reports 0 windows / 0 ppm (it adds nothing,
  *    same convention as d21 omitting short docs).
  *
  * The operational use is the NOVELTY-COLLAPSE alarm: a crawl feed
  * whose cohorts decay toward 0 ppm is re-crawling what the corpus
  * already holds — the signal to rotate seeds/frontiers, watched from
  * [[noveltyLog]] exactly like StreamVec's drift log.
  *
  * Store contract: [[StoreSink]]. The seen-set is a SET, so fold/crash
  * overlap is absorbed by the anti-join and by readers' distinct(); the
  * sidecars fold under the `novelty` prefix.
  *
  * Store bytes at 100 TB: one long per DISTINCT window hash ever seen —
  * the corpus's window vocabulary, not its window stream; the per-batch
  * cost is the batch's own window pass plus one anti-join against the
  * hash set (bucketable exactly like d10's fingerprint store when the
  * set outgrows a broadcast).
  */
object StreamNovelty {

  private val Seen = StoreSink.delta(StructType(Seq(StructField("h", LongType))))

  private val Log = StoreSink.sidecar("novelty", StructType(Seq(
    StructField("b", LongType), StructField("n_docs", LongType),
    StructField("n_windows", LongType), StructField("n_novel", LongType),
    StructField("novelty_ppm", LongType))))

  /** The novelty store under `dir`: seen-hash deltas and verdicts. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Seen, Log)

  /** The batch's distinct 8-word window hashes — d21's projection,
    * cohort-keyed: text reduces to `h` inside the scan's transform.
    */
  private def batchWindowHashes(batch: DataFrame): DataFrame =
    TextOps.windowHashes(batch.select(col("doc_id"), split(col("text"), " ").as("ws")), Nil)
      .distinct()

  /** Every window hash the store has seen (deltas + folds, set
    * semantics — fold/crash overlap collapsed). The corpus's window
    * vocabulary; [[noveltyLog]] is the per-cohort view.
    */
  def seenHashes(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Seen).distinct()

  /** The per-batch novelty audit trail, ordered by batch. */
  def noveltyLog(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Log)
      .distinct().orderBy("b")

  /** Start the novelty monitor over a `(doc_id, text)` source. The
    * STORE is the output: [[noveltyLog]] for the per-cohort verdicts,
    * [[seenHashes]] for the accumulated window vocabulary.
    */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(docs, s"$checkpointDir/novelty", Seq(store(storeDir)), trigger,
      foldEvery) { (spark, batch, batchId) =>
      // one window pass feeds the anti-join and both counters; one
      // partition, so no shuffle (STATIC PLANS in StoreSink)
      val one = batch.coalesce(1)
      val bh = batchWindowHashes(one).localCheckpoint()
      val nDocs = one.select("doc_id").distinct().count()
      val nWindows = bh.count()
      // the screen READ races a concurrent fold's post-commit input
      // delete — retry with a fresh listing (the fold commits the
      // same hash set first, so the retried screen sees a superset)
      StreamDedup.withStoreRetry {
        // the seen set visible to this batch: strictly earlier parts
        val seen = StoreSink.read(spark, storeDir, Seen, batchId)
        val novel = bh.join(seen, Seq("h"), "left_anti").localCheckpoint()
        val nNovel = novel.count()
        val ppm = if (nWindows == 0) 0L else 1000000L * nNovel / nWindows
        novel.coalesce(1).write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
        import spark.implicits._
        Seq((batchId, nDocs, nWindows, nNovel, ppm))
          .toDF("b", "n_docs", "n_windows", "n_novel", "novelty_ppm")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/novelty_b$batchId")
      }
    }
}
