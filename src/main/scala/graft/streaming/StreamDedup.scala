package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    hash — deterministic on replay), and screened against the store
  *    with a left-anti join;
  *  - the surviving (h, doc_id) rows are written as a batchId-keyed
  *    DELTA dir (`delta_b<id>`), `mode(overwrite)` — the classic
  *    foreachBatch idempotence idiom: a replayed batch rewrites the SAME
  *    dir with the SAME deterministic content, so at-least-once
  *    foreachBatch converges to exactly-once store contents;
  *  - the screen reads only deltas with id < the current batchId, so a
  *    half-written delta from a crashed attempt of THIS batch can never
  *    mask its own rows on replay;
  *  - deltas fold periodically ([[foldDeltas]]) into a range file
  *    (`fold_0_<hi>`), written BEFORE the covered deltas are deleted —
  *    a crash between the two leaves duplicate hashes across fold and
  *    deltas, which is benign: the store is a SET and the screen is an
  *    anti-join.
  *
  *  - the store is OWNED by one checkpoint: batch ids are only monotone
  *    within a checkpoint's lifetime, so the store records its owning
  *    query id (`_QUERY_ID`) and any run from a different checkpoint is
  *    refused before it can write ([[verifyStoreOwnership]]).
  *
  * Store bytes are hashes + ids (tens of bytes per doc), ~1000× smaller
  * than the corpus; the per-batch cost is one anti-join of a small batch
  * against the hash set, never a rescan of corpus text. Reference
  * streaming surface: spark-apps/weather_streaming.py:161-177 (the
  * foreachBatch/file-sink shape this extends).
  */
object StreamDedup {

  private val DeltaRe = "delta_b(\\d+)".r
  private val FoldRe = "fold_0_(\\d+)".r
  private val QueryIdMarker = "_QUERY_ID"

  /** Every delta and fold holds (h, doc_id) rows. */
  private val StoreSchema = StructType(Seq(
    StructField("h", StringType), StructField("doc_id", LongType)))

  /** The streaming query id Spark persisted into the checkpoint's
    * `metadata` file — stable across restarts FROM THAT CHECKPOINT, and
    * different for every new checkpoint. That is exactly the identity
    * the store must be keyed by: batch ids are only monotone within one
    * checkpoint's lifetime.
    */
  private[streaming] def checkpointQueryId(spark: SparkSession, cpDir: String): Option[String] = {
    val p = new Path(cpDir, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(content).map(_.group(1))
    }
  }

  /** Fail fast when a NEW checkpoint is pointed at an EXISTING store.
    * batchId keys both the delta dirs and the screen bound, and a fresh
    * checkpoint restarts batch ids at 0 — batch 0 would screen against
    * nothing (boundExclusive = 0) and `mode(overwrite)` would clobber
    * the old `delta_b0`: silent re-admission of every seen hash plus
    * loss of prior store content. The store records the query id of the
    * checkpoint that owns it ([[QueryIdMarker]], written BEFORE the
    * first delta so a crash between the two cannot leave an unclaimed
    * delta); any other query id is refused. For pre-marker stores the
    * fallback screen refuses when the store holds parts with id above
    * the current batch — ids a same-checkpoint run could not have left.
    */
  private[streaming] def verifyStoreOwnership(spark: SparkSession, storeDir: String,
      cpDir: String, batchId: Long): Unit = {
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qid = checkpointQueryId(spark, cpDir).getOrElse(
      // metadata is written at query start, before any batch runs
      throw new IllegalStateException(
        s"no streaming metadata at $cpDir — cannot establish store ownership"))
    val marker = new Path(base, QueryIdMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val owner =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (owner != qid) throw new IllegalStateException(
        s"dedup store $storeDir belongs to streaming query $owner, but this " +
          s"query is $qid (a different checkpoint): its batch ids restart at " +
          s"0, so batch $batchId would screen against nothing and overwrite " +
          "existing deltas — silently re-admitting seen hashes. Resume from " +
          "the original checkpoint, or point at a fresh store dir.")
    } else {
      val maxPart = listParts(spark, storeDir).map(_._2).maxOption
      if (maxPart.exists(_ > batchId)) throw new IllegalStateException(
        s"dedup store $storeDir has no ownership marker but holds parts up " +
          s"to batch ${maxPart.get} while this query is at batch $batchId — " +
          "it was written by a different checkpoint. Resume from the " +
          "original checkpoint, or point at a fresh store dir.")
      fs.mkdirs(base)
      val out = fs.create(marker, true)
      try out.write(qid.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Hash set visible to the screen of batch `boundExclusive`: all
    * deltas and folds whose batch id is strictly below it. Duplicate
    * hashes across fold/delta overlap are fine — consumers treat the
    * store as a set.
    */
  def storeBefore(spark: SparkSession, storeDir: String,
      boundExclusive: Long = Long.MaxValue): DataFrame = {
    val dirs = listParts(spark, storeDir).collect {
      case (p, id) if id < boundExclusive => p.toString
    }
    // the store's own schema, not a per-read footer inference (one
    // Spark job per call)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StoreSchema)
    else spark.read.schema(StoreSchema).parquet(dirs: _*)
  }

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

  /** A store's directory-naming scheme: which names are batch deltas,
    * which are folds, and what a new fold is called. The main delta
    * store uses `delta_b<id>` / `fold_0_<hi>`; batchId-keyed SIDECAR
    * families (StreamPrep's `manifest_b*`/`verdicts_b*`, StreamVec's
    * `drift_b*`, StreamNearDup's `matches_b*`) fold under their own
    * prefix (`<prefix>_fold_0_<hi>`) so the families never collide in
    * a shared store dir — `drift_fold_0_3` full-matches neither
    * `delta_b(\d+)` nor `fold_0_(\d+)`, so the code readers and the
    * delta fold are blind to it, and vice versa.
    */
  private[streaming] final case class NameScheme(
      deltaRe: scala.util.matching.Regex,
      foldRe: scala.util.matching.Regex,
      foldName: Long => String)

  private val DeltaScheme =
    NameScheme(DeltaRe, FoldRe, hi => s"fold_0_$hi")

  private[streaming] def sidecarScheme(prefix: String): NameScheme = NameScheme(
    s"${prefix}_b(\\d+)".r, s"${prefix}_fold_0_(\\d+)".r,
    hi => s"${prefix}_fold_0_$hi")

  private def listParts(spark: SparkSession, storeDir: String,
      scheme: NameScheme = DeltaScheme): Seq[(Path, Long)] = {
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    // COMPLETE parts only (_SUCCESS): a fold whose write crashed
    // mid-job-commit can hold a subset of its input rows — treating it
    // as real would let the resume step delete deltas whose rows the
    // partial fold lacks (loss, not overlap). Incomplete dirs are
    // invisible to readers and reclaimed by the next foldDeltas.
    val (dRe, fRe) = (scheme.deltaRe, scheme.foldRe)
    fs.listStatus(base).toSeq.flatMap { st =>
      val complete = st.isDirectory &&
        fs.exists(new Path(st.getPath, "_SUCCESS"))
      st.getPath.getName match {
        case dRe(id) if complete => Some((st.getPath, id.toLong))
        case fRe(hi) if complete => Some((st.getPath, hi.toLong))
        case _ => None
      }
    }
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
      foldEvery: Int = 0): StreamingQuery = {
    // one ownership check per run (driver-side closure state; a driver
    // restart just re-verifies once on its first batch)
    var ownershipVerified = false
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$checkpointDir/dedup")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (!ownershipVerified) {
          verifyStoreOwnership(spark, storeDir, s"$checkpointDir/dedup", batchId)
          ownershipVerified = true
        }
        ingestBatch(spark, batch, batchId, storeDir)
        if (foldDue(foldEvery, batchId)) { foldDeltas(spark, storeDir); () }
      }
      .start()
  }

  /** One micro-batch of the exact screen — the foreachBatch body as a
    * reusable primitive (StreamPrep composes it into the chained
    * pipeline), returning the batch's ADMITTED doc_ids (read back from
    * the just-committed delta, so caller and store can never disagree).
    */
  private[streaming] def ingestBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeDir: String): DataFrame = {
    val hashed = batch.select(col("doc_id"), md5(col("text")).as("h"))
    // in-batch winner: min doc_id per hash — replay-deterministic
    val first = hashed
      .withColumn("__rn", row_number().over(
        Window.partitionBy("h").orderBy(col("doc_id").asc)))
      .filter(col("__rn") === 1).drop("__rn")
    // the screen READ races a concurrent fold's post-commit input
    // delete (the fold is committed before its inputs go, so a
    // fresh listing always sees a superset) — retry with a fresh
    // snapshot instead of letting the FileNotFound kill the stream
    val written = withStoreRetry {
      val seen = storeBefore(spark, storeDir, boundExclusive = batchId)
      val admitted = first.join(seen.select("h").distinct(), Seq("h"), "left_anti")
        .select("h", "doc_id")
      admitted.write.mode("overwrite").parquet(s"$storeDir/delta_b$batchId")
      admitted.schema
    }
    spark.read.schema(written).parquet(s"$storeDir/delta_b$batchId").select("doc_id")
  }

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
    */
  def foldDeltas(spark: SparkSession, storeDir: String): Int =
    graft.sinks.VersionedStore.withMaintenanceLease(spark, storeDir) {
      foldDeltasExclusive(spark, storeDir)
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

  /** Fold a batchId-keyed SIDECAR family — pure per-batch outputs
    * (StreamPrep's `manifest_b<id>`/`verdicts_b<id>`, StreamVec's
    * `drift_b<id>`, StreamNearDup's `matches_b<id>`) whose rows are
    * deterministic functions of (batch content, fixed config, store
    * state strictly before the batch), never read back by any screen.
    * They accumulate one dir + one small parquet file per micro-batch
    * forever (~2,900 dirs/day at a 30 s trigger) — the small-file
    * problem the batch side plans for with cmp1, reintroduced at
    * ingest. Same machinery, same contract as [[foldDeltas]]:
    *  - `<prefix>_b*` dirs (minus the NEWEST — the only batch that can
    *    still be replayed) union+distinct into `<prefix>_fold_0_<hi>`,
    *    written before any input delete → a crash leaves overlap,
    *    never loss, and readers distinct() it away (sidecar rows are
    *    replay-deterministic, so overlap is always byte-identical);
    *  - a replayed COVERED batch rewrites a `<prefix>_b<id>` dir the
    *    newest fold already supersedes — the resume path deletes those
    *    on the next fold (`id <= hi`), and the interim double-serve is
    *    collapsed by the readers' distinct();
    *  - runs under the store's maintenance lease: two unserialized
    *    folds could interleave write/delete and lose rows.
    * Excluding the newest dir matters for REPLAY SAFETY here, not
    * screen bounds: a fold is never an overwrite target, so mode
    * (overwrite) on `<prefix>_b<id>` can never clobber folded history.
    */
  def foldSidecars(spark: SparkSession, storeDir: String, prefix: String): Int =
    graft.sinks.VersionedStore.withMaintenanceLease(spark, storeDir) {
      foldDeltasExclusive(spark, storeDir, scheme = sidecarScheme(prefix))
    }

  private def foldDeltasExclusive(spark: SparkSession, storeDir: String,
      shrink: DataFrame => DataFrame = identity,
      scheme: NameScheme = DeltaScheme): Int = {
    val fs = new Path(storeDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (folds, deltas) = listParts(spark, storeDir, scheme).partition(p =>
      scheme.foldRe.pattern.matcher(p._1.getName).matches())
    // resume a crashed delete first: anything the newest fold already
    // covers (older folds, deltas with id <= its hi) is pure overlap
    val newest = folds.sortBy(_._2).lastOption
    newest.foreach { case (fp, fhi) =>
      (folds.filterNot(_._1 == fp) ++ deltas.filter(_._2 <= fhi))
        .foreach(p => fs.delete(p._1, true))
    }
    val live = deltas.filter(d => newest.forall(d._2 > _._2)).sortBy(_._2)
    val foldable = live.dropRight(1) // newest delta: possibly uncommitted
    val inputs = newest.toSeq ++ foldable
    if (foldable.isEmpty || inputs.size < 2) return 0
    // hi comes from a FOLDABLE delta, strictly above any fold's hi, so
    // the destination is never one of the inputs. Written DIRECTLY (no
    // directory rename — the store discipline): a crash mid-write leaves
    // an incomplete dir without _SUCCESS that listParts ignores, and the
    // inputs are still in place — at worst overlap, never loss. Deletes
    // run only after the fold (incl. _SUCCESS) is fully committed.
    val dst = new Path(storeDir, scheme.foldName(foldable.map(_._2).max))
    shrink(spark.read.parquet(inputs.map(_._1.toString): _*).distinct())
      .coalesce(1) // hash rows are tiny; one file per fold
      .write.mode("overwrite").parquet(dst.toString)
    inputs.foreach { case (p, _) => fs.delete(p, true) }
    inputs.size
  }
}
