package graft.streaming

import org.apache.hadoop.fs.Path
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
  *    dir; deltas fold periodically ([[foldDeltas]]) into a range dir
  *    (`fold_0_<hi>`) — the store is a SET and the screen a membership
  *    test, so fold/crash overlap is benign.
  *
  * Idempotence, ownership, committed-only reads and the fold cadence are
  * the store contract of [[StoreSink]]. This object also holds the fold
  * machinery every store shares ([[foldDeltas]], [[foldDeltasWith]],
  * [[foldSidecars]], [[foldDue]]) and the screen-read retry.
  *
  * Store bytes are hashes + ids (tens of bytes per doc), ~1000× smaller
  * than the corpus; the per-batch cost is one probe of the hash set
  * with the batch's hashes, never a rescan of corpus text.
  */
object StreamDedup {

  /** Every delta and fold holds (h, doc_id) rows. */
  private[streaming] val StoreSchema = StructType(Seq(
    StructField("h", StringType), StructField("doc_id", LongType)))

  /** Hash set visible to the screen of batch `boundExclusive`: all
    * deltas and folds whose batch id is strictly below it. Duplicate
    * hashes across fold/delta overlap are fine — consumers treat the
    * store as a set.
    */
  def storeBefore(spark: SparkSession, storeDir: String,
      boundExclusive: Long = Long.MaxValue): DataFrame =
    StoreSink.read(spark, storeDir, StoreSink.Delta, StoreSchema, boundExclusive)

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
    * deleting its inputs ([[foldDeltas]]' write-then-delete order): a
    * fresh listing after any delete sees a superset of the hashes the
    * vanished snapshot held, so the retried screen can only screen
    * MORE, never re-admit. `ignoreMissingFiles` would be the wrong fix
    * — it silently drops the vanished delta's hashes from the screen
    * (re-admission) instead of re-reading them from the fold.
    */
  private[graft] def withStoreRetry[T](body: => T): T = {
    val attempts = 3
    var last: Throwable = null
    for (_ <- 1 to attempts) {
      try return body
      catch { case e: Throwable if isMissingFileError(e) => last = e }
    }
    throw last
  }

  /** True on the batches where a `foldEvery`-cadence maintenance pass
    * should run — shared by every store's in-trigger fold hook. Fires
    * on batchId ≡ foldEvery−1 (mod foldEvery) so the FIRST fold waits
    * until foldEvery deltas exist; 0 disables. Running the fold inside
    * foreachBatch (after the batch's own writes) is safe by
    * construction: the fold excludes the newest delta, the next batch
    * only starts after this trigger returns (no same-query race), and
    * a concurrent OTHER maintainer is serialized by the lease. A
    * replayed batch re-runs the fold too — idempotent (nothing new to
    * fold; the resume path reclaims covered dirs).
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
    StoreSink.start(docs, s"$checkpointDir/dedup", Seq(storeDir), trigger, foldEvery,
      foldDeltas(_, storeDir)) { (spark, batch, batchId) =>
      // the screen READ races a concurrent fold's post-commit input
      // delete (the fold is committed before its inputs go, so a
      // fresh listing always sees a superset) — retry with a fresh
      // snapshot instead of letting the FileNotFound kill the stream
      withStoreRetry(writeDelta(screen(spark, batch, batchId, storeDir), batchId, storeDir))
    }

  /** One micro-batch of the exact screen, pure (no writes): `docs`
    * (doc_id, text, ...) with two columns added — `h`, the text's md5,
    * and `exact_ok`, true on the rows the store admits: the in-batch
    * winner of each hash (min doc_id, replay-deterministic) whose hash no
    * part below the batch holds. Only rows where `on` holds are screened;
    * the others get a NULL `h` and `exact_ok` false.
    *
    * The store is probed in its own scan tasks against the batch's
    * hashes (broadcast: the batch is the small side), so only the store
    * rows holding a batch hash leave the scan; they meet the batch in one
    * window per hash over ONE partition, a few rows more than the batch,
    * and the result stays in that partition, so what follows needs no
    * shuffle. StreamPrep composes the screen into its one per-batch plan.
    */
  private[streaming] def screen(spark: SparkSession, docs: DataFrame, batchId: Long,
      storeDir: String, on: Column = lit(true)): DataFrame = {
    val hashed = docs.withColumn("h", when(on, md5(col("text"))))
    val hits = storeBefore(spark, storeDir, boundExclusive = batchId).select("h")
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

  /** Fold deltas (and the previous fold) into one `fold_0_<hi>` range
    * dir — the small-files maintenance pass. Write-then-delete order
    * makes a crash leave overlap, never loss. Returns the number of
    * dirs folded.
    *
    * The NEWEST delta is never folded: only the last batch can be
    * uncommitted in the checkpoint (batch N+1 starts only after N
    * commits), and a replay of that batch screens with
    * `boundExclusive = its id` — a fold that swallowed the newest delta
    * would carry its id and be excluded from its own replay's screen,
    * re-admitting every previously-seen hash. Keeping the newest delta
    * out means every fold's hi is strictly below any replayable batch.
    *
    * Concurrency: the body runs under the store's MAINTENANCE LEASE
    * (VersionedStore.withMaintenanceLease — the same advisory lock
    * serializing the batch stores' CRUD). Two UNSERIALIZED folds can
    * lose data: the loser overwrites the winner's just-committed fold
    * dir while lazily reading input dirs the winner already deleted —
    * a fold missing rows that then masquerades as the store's history.
    * Racing the STREAMING ingest's WRITES needs no lock: the ingest
    * only ever creates new `delta_b<id>` dirs (which a fold snapshot
    * either sees or leaves for next time), replay rewrites target only
    * the newest delta (never an input — folds exclude it by
    * construction), and readers absorb fold/delta overlap by
    * distinct(). The ingest's per-batch screen READ, though, can race
    * a fold's post-commit input delete — its lazily resolved store
    * snapshot lists deltas the fold then removes mid-action; the
    * ingest handles that by re-listing and retrying
    * ([[withStoreRetry]]), sound because the fold commits before any
    * delete (the retried screen sees a superset, never fewer hashes).
    * StoreConcurrencySpec drives ingest and folds concurrently and
    * pins that neither loses a write, and pins the retry path on a
    * deterministically staged delete.
    *
    * `schema`: the family's declared schema, read under it without a
    * footer-inference job; `None` (a family that declares none) infers
    * it from the inputs' footers.
    */
  def foldDeltas(spark: SparkSession, storeDir: String,
      schema: Option[StructType] = None): Int =
    graft.sinks.VersionedStore.withMaintenanceLease(spark, storeDir) {
      foldDeltasExclusive(spark, storeDir, schema = schema)
    }

  /** [[foldDeltas]] with a per-fold SHRINK step applied to the folded
    * rows — the content-aware compaction the last-writer stores
    * (StreamVec, the postings stores) use to physically drop rows the
    * max-b read filter already hides (superseded reissues; a
    * tombstoned id's payload rows). Correctness envelope, reasoned
    * once here for every caller:
    *  - the shrink sees ONLY the fold's inputs, and the one excluded
    *    dir (the newest delta) has a strictly HIGHER batch id than
    *    every input row's `b` — so a max-b filter within the inputs
    *    can never drop a row the global max-b read would serve;
    *  - tombstone/marker rows must SURVIVE the shrink (drop only the
    *    payload rows they supersede): the crash contract is "overlap,
    *    never loss", and a crashed input delete can resurrect an old
    *    payload row from a leftover input dir — the committed fold's
    *    tombstone still beats it at read time, but only if it is
    *    still there;
    *  - replay safety is the fold's own (the newest delta is never an
    *    input, so a replayed batch never rewrites a folded dir).
    */
  private[streaming] def foldDeltasWith(spark: SparkSession, storeDir: String)(
      shrink: DataFrame => DataFrame): Int =
    graft.sinks.VersionedStore.withMaintenanceLease(spark, storeDir) {
      foldDeltasExclusive(spark, storeDir, shrink)
    }

  /** Fold a batchId-keyed SIDECAR family (`<prefix>_b<id>` — StreamPrep's
    * manifests, the verdict, drift and matches dirs, the ledgers) into
    * `<prefix>_fold_0_<hi>`: the same machinery and crash contract as
    * [[foldDeltas]]. They would otherwise accumulate one dir + one small
    * parquet file per micro-batch forever (~2,900 dirs/day at a 30 s
    * trigger). A replayed COVERED batch rewrites a `<prefix>_b<id>` dir
    * the newest fold already supersedes; the next fold's resume path
    * deletes it (`id <= hi`), and readers' distinct() collapses the
    * interim double-serve.
    */
  def foldSidecars(spark: SparkSession, storeDir: String, prefix: String,
      schema: Option[StructType] = None): Int =
    graft.sinks.VersionedStore.withMaintenanceLease(spark, storeDir) {
      foldDeltasExclusive(spark, storeDir, family = StoreSink.sidecar(prefix), schema = schema)
    }

  private def foldDeltasExclusive(spark: SparkSession, storeDir: String,
      shrink: DataFrame => DataFrame = identity,
      family: StoreSink.Family = StoreSink.Delta,
      schema: Option[StructType] = None): Int = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (folds, deltas) = StoreSink.parts(spark, storeDir, family).partition(_.isFold)
    // resume a crashed delete first: anything the newest fold already
    // covers (older folds, deltas with id <= its hi) is pure overlap
    val newest = folds.sortBy(_.id).lastOption
    newest.foreach { f =>
      (folds.filterNot(_ == f) ++ deltas.filter(_.id <= f.id))
        .foreach(p => fs.delete(p.path, true))
    }
    val live = deltas.filter(d => newest.forall(d.id > _.id)).sortBy(_.id)
    val foldable = live.dropRight(1) // newest delta: possibly uncommitted
    val inputs = newest.toSeq ++ foldable
    if (foldable.isEmpty || inputs.size < 2) return 0
    // hi comes from a FOLDABLE delta, strictly above any fold's hi, so
    // the destination is never one of the inputs. Written DIRECTLY (no
    // directory rename — the store discipline): a crash mid-write leaves
    // an incomplete dir without _SUCCESS that StoreSink.parts ignores,
    // and the inputs are still in place — at worst overlap, never loss.
    // Deletes run only after the fold (incl. _SUCCESS) is fully committed.
    val dst = new Path(storeDir, family.foldName(foldable.map(_.id).max))
    val reader = schema.fold(spark.read)(spark.read.schema(_))
    shrink(reader.parquet(inputs.map(_.path.toString): _*).distinct())
      .coalesce(1) // hash rows are tiny; one file per fold
      .write.mode("overwrite").parquet(dst.toString)
    inputs.foreach(p => fs.delete(p.path, true))
    inputs.size
  }
}
