package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming incremental exact dedup — d10's streaming twin, and the
  * 100 TB answer to the obvious-but-wrong alternative. Spark's own
  * `dropDuplicates` on a stream keeps every seen key in EXECUTOR STATE:
  * unbounded growth (a corpus-lifetime hash set pinned in the state
  * store), lost on checkpoint schema changes, and private to one query.
  * Here the seen-set lives in a STORE on disk instead:
  *
  *  - each micro-batch is hashed, deduped within itself (min doc_id per
  *    hash — deterministic on replay), and screened against the store:
  *    a hash the store holds is not admitted ([[screen]]);
  *  - the surviving (h, doc_id) rows land as the batch's `delta_b<id>`
  *    dir; deltas fold periodically (`StoreSink.fold`) into a range dir
  *    (`fold_0_<hi>`) — the store is a SET and the screen a membership
  *    test, so fold/crash overlap is benign.
  *
  * Idempotence, ownership, committed-only reads, folds and the fold
  * cadence are the store contract of [[StoreSink]]. This object also
  * holds the fold cadence every store shares ([[foldDue]]) and the
  * screen-read retry ([[withStoreRetry]]).
  *
  * Store bytes are hashes + ids (tens of bytes per doc), ~1000× smaller
  * than the corpus; the per-batch cost is one probe of the hash set
  * with the batch's hashes, never a rescan of corpus text.
  */
object StreamDedup {

  /** Every delta and fold holds (h, doc_id) rows. */
  private[streaming] val StoreSchema = StructType(Seq(
    StructField("h", StringType), StructField("doc_id", LongType)))

  private val Hashes = StoreSink.delta(StoreSchema)

  /** The hash-set store under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Hashes)

  /** Hash set visible to the screen of batch `boundExclusive`: all
    * deltas and folds whose batch id is strictly below it. Duplicate
    * hashes across fold/delta overlap are fine — consumers treat the
    * store as a set.
    */
  def storeBefore(spark: SparkSession, storeDir: String,
      boundExclusive: Long = Long.MaxValue): DataFrame =
    StoreSink.read(spark, storeDir, Hashes, boundExclusive)

  /** The deduped id set the store currently endorses (for readers). */
  def keptIds(spark: SparkSession, storeDir: String): DataFrame =
    storeBefore(spark, storeDir).select("doc_id").distinct()

  /** True when `e` (or a cause in its chain) is a missing-file failure —
    * the signature of a store snapshot invalidated by a concurrent
    * fold's post-commit input delete. Spark wraps the executor-side
    * FileNotFoundException in SparkException layers, so both the class
    * chain and the message are checked.
    */
  private[graft] def isMissingFileError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        c.getClass.getName.contains("FileNotFound") ||
        Option(c.getMessage).exists(m =>
          m.contains("FileNotFoundException") || m.contains("does not exist"))
    }

  /** Run a store read-then-act body, re-listing and retrying when a
    * concurrent fold's post-commit input delete invalidates the lazily
    * resolved snapshot mid-action. Sound because a fold COMMITS before
    * deleting its inputs (`StoreSink.fold`'s write-then-delete order): a
    * fresh listing after any delete sees a superset of the hashes the
    * vanished snapshot held, so the retried screen can only screen
    * MORE, never re-admit. `ignoreMissingFiles` would be the wrong fix
    * — it silently drops the vanished delta's hashes from the screen
    * (re-admission) instead of re-reading them from the fold.
    */
  private[graft] def withStoreRetry[T](body: => T): T = {
    val attempts = 3
    var last: Throwable = null
    for (attempt <- 1 to attempts) {
      try return body
      catch {
        case e: Throwable if isMissingFileError(e) =>
          last = e
          if (attempt < attempts) retries.incrementAndGet()
      }
    }
    throw last
  }

  private val retries = new java.util.concurrent.atomic.AtomicLong

  /** Screen re-runs [[withStoreRetry]] has made in this JVM: each one is a
    * store part deleted under a listed snapshot.
    */
  def storeReadRetries: Long = retries.get

  /** True on the batches where a `foldEvery`-cadence maintenance pass
    * should run — `StoreSink.step`'s cadence for every store. Fires
    * on batchId ≡ foldEvery−1 (mod foldEvery) so the FIRST fold waits
    * until foldEvery deltas exist; 0 disables. Running the fold inside
    * foreachBatch, beside the batch's own ingest (`StoreSink.FoldAt`),
    * is safe by construction: the fold takes only parts below the
    * batch, so it never reads or deletes a dir the ingest writes; it
    * deletes nothing until the ingest has returned, so the ingest's
    * screen never loses a part it listed; the next batch only starts
    * after this trigger returns (no same-query race); and a concurrent
    * OTHER maintainer is serialized by the lease. A replayed batch
    * re-runs the fold too — idempotent (nothing new to fold; the resume
    * path reclaims covered dirs).
    */
  private[streaming] def foldDue(foldEvery: Int, batchId: Long): Boolean =
    foldEvery > 0 && batchId % foldEvery == foldEvery - 1

  /** Start the dedup stream over a `(doc_id, text)` source. Emits
    * nothing downstream itself — the STORE is the output: `keptIds`
    * (or a join back to the corpus) is the deduped dataset.
    *
    * `foldEvery` (0 = off): compact the store IN the trigger after
    * every Nth batch commits — the production answer to the
    * one-dir-per-trigger small-file leak without a separate
    * maintenance scheduler. At a 30 s trigger, foldEvery = 120 holds
    * the store near one fold dir + ~2 hours of deltas forever.
    */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(docs, s"$checkpointDir/dedup", Seq(store(storeDir)), trigger,
      foldEvery) { (spark, batch, batchId) =>
      // the screen READ races a concurrent fold's post-commit input
      // delete (the fold is committed before its inputs go, so a
      // fresh listing always sees a superset) — retry with a fresh
      // snapshot instead of letting the FileNotFound kill the stream
      withStoreRetry(writeDelta(
        screen(batch, storeBefore(spark, storeDir, boundExclusive = batchId)), batchId, storeDir))
    }

  /** One micro-batch of the exact screen, pure (no writes): `docs`
    * (doc_id, text, ...) with two columns added — `h`, the text's md5,
    * and `exact_ok`, true on the rows the store admits: the in-batch
    * winner of each hash (min doc_id, replay-deterministic) whose hash
    * `store` (the (h, doc_id) parts below the batch, [[storeBefore]])
    * does not hold. Only rows where `on` holds are screened; the others
    * get a NULL `h` and `exact_ok` false.
    *
    * The store is probed in its own scan tasks against the batch's
    * hashes (broadcast: the batch is the small side), so only the store
    * rows holding a batch hash leave the scan; they meet the batch in one
    * window per hash over ONE partition, a few rows more than the batch,
    * and the result stays in that partition, so what follows needs no
    * shuffle. StreamPrep composes the screen into its one per-batch plan.
    */
  private[streaming] def screen(docs: DataFrame, store: DataFrame,
      on: Column = lit(true)): DataFrame = {
    val hashed = docs.withColumn("h", when(on, md5(col("text"))))
    val hits = store.select("h")
      .join(broadcast(hashed.select("h").filter(col("h").isNotNull)), Seq("h"), "left_semi")
      .repartition(1)
    val perHash = Window.partitionBy("h")
    hashed.withColumn("__seen", lit(false))
      .unionByName(hits.withColumn("__seen", lit(true)), allowMissingColumns = true)
      .coalesce(1)
      .withColumn("exact_ok", col("h").isNotNull && !max("__seen").over(perHash) &&
        col("doc_id") === min(when(!col("__seen"), col("doc_id"))).over(perHash))
      .filter(!col("__seen")).drop("__seen")
  }

  /** The write step: the admitted (h, doc_id) rows of a [[screen]]ed
    * frame as the batch's `delta_b<id>`.
    */
  private[streaming] def writeDelta(screened: DataFrame, batchId: Long,
      storeDir: String): Unit =
    screened.filter(col("exact_ok")).select("h", "doc_id")
      .write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
}
