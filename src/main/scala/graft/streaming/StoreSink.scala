package graft.streaming

import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max, udf}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import scala.util.matching.Regex

/** The one store-backed streaming sink. Every at-ingest module in this
  * package (the exact, near-dup, novelty and image screens, the postings
  * and vector index ingests, the prep chain, and the ledger/log twins)
  * is [[start]] plus its own per-batch body, and every store reader goes
  * through [[parts]]/[[read]]. Reference streaming surface:
  * spark-apps/weather_streaming.py:161-177, the foreachBatch/file-sink
  * shape made exactly-once by checkpointing. The store contract, stated
  * once here for all of them:
  *
  *  - BATCH-KEYED OVERWRITE IDEMPOTENCE. A batch writes only
  *    `<prefix>_b<id>` dirs keyed by its batch id, `mode("overwrite")`,
  *    whose content is a deterministic function of (batch content, fixed
  *    config, store state strictly before the batch). A replayed batch
  *    rewrites the SAME dirs with the SAME bytes, so at-least-once
  *    foreachBatch converges to exactly-once store contents. Screens read
  *    only parts with id < the current batch, so a half-written attempt
  *    of THIS batch can never mask its own replay's rows. Families whose
  *    readers collapse overlap with distinct() carry the batch id `b` on
  *    every row: distinct then removes only replay/crash overlap, never a
  *    genuine re-send in a later batch.
  *  - OWNERSHIP. Batch ids are monotone only within one checkpoint's
  *    lifetime. A fresh checkpoint restarts at batch 0, screens against
  *    nothing and overwrites `<prefix>_b0`. So each store records the
  *    query id of the checkpoint that owns it (`_QUERY_ID`, written
  *    before the first part), and a run from any other checkpoint is
  *    refused on its first batch, before it can write
  *    ([[verifyStoreOwnership]]).
  *  - COMMITTED-ONLY PARTS. Readers see only dirs holding `_SUCCESS`. A
  *    write that crashed during job commit leaves a dir without it (a
  *    partial fold could hold a subset of its inputs); such dirs are
  *    invisible to readers and folds, and the next fold reclaims them.
  *  - FAMILIES. A store is its dir and the families it declares
  *    ([[Store]]), one [[Family]] per part family: its name prefix, the
  *    schema its rows are read and folded under, and, for a last-writer
  *    store, the shrink its folds apply. Readers ([[read]]), the fold
  *    ([[fold]]) and the ownership claim ([[start]]) all take that one
  *    declaration, so no module states its fold policy itself.
  *  - FOLD CADENCE. With `foldEvery` > 0 every declared family folds
  *    inside the trigger of every batch N where `StreamDedup.foldDue`
  *    fires, beside N's ingest ([[FoldAt]]). A fold unions the committed
  *    parts of a family below N (never N's own dirs, the one batch that
  *    can still replay) into `<prefix>_fold_0_<hi>` under the store's
  *    maintenance lease, and writes it before deleting its inputs: a
  *    crash leaves overlap, never loss, and readers absorb the overlap.
  *    Every delete waits until N's ingest has returned, so no screen of
  *    N loses a part it listed.
  *  - ONE EVALUATION PER BATCH, where a batch freezes. A store that
  *    writes several parts per batch from a `localCheckpoint`ed frame
  *    (StreamPrep, NearDup, Novelty, Phash) derives them all from that
  *    one evaluation, so they agree with each other even if a job of the
  *    batch is retried. StreamVec's `persist()`ed batch frame does not
  *    freeze: Spark may recompute it after an eviction.
  *  - CONCURRENT STEPS, ONE COMMIT. A batch's independent steps (its
  *    ingest and its fold; the part writes of one frozen frame; the
  *    folds of different stores) may run at the same time
  *    ([[concurrently]]). All of them finish before the batch returns,
  *    so before Spark commits it: a failed or replayed batch never races
  *    a write of its own earlier attempt. Folds of the same store run one
  *    after another under one acquisition of that store's maintenance
  *    lease, and a fold's deletes, held until the ingest has returned,
  *    still happen under that acquisition and before the commit.
  *  - STATIC PLANS. A batch plans each of its jobs once, with adaptive
  *    execution off in the batch's session (Spark's per-query clone, so
  *    the caller's session keeps its setting). A batch is trigger-sized,
  *    so every module keeps it in one partition by design and AQE has
  *    nothing to coalesce, convert or split: StreamPrep, Dedup and
  *    NearDup screen it with explicit broadcast hints and
  *    `repartition(1)` / `coalesce(1)`; the other modules coalesce it to
  *    one partition before they aggregate or window it (Profile, whose
  *    distinct counts shuffle again after an Expand, plans its shuffles
  *    at one partition instead); and every part and fold is written as
  *    one file. A static plan that shuffled a batch would run
  *    `spark.sql.shuffle.partitions` tasks and write a file for each.
  *    With AQE on, every query stage ran as a job of its own and the
  *    rest of the plan (~50 operators for StreamPrep's per-doc plan) was
  *    re-optimized and re-planned after it: a steady StreamPrep batch
  *    ran 11 jobs and a fold batch 21, against 9 and 14 planned
  *    statically.
  */
private[graft] object StoreSink {

  /** A batch-keyed family of parts: the batch dirs, the folds that
    * compact them, and the name of a new fold. Each family folds under
    * its own prefix, so families sharing a store dir never collide: the
    * main family is `delta_b<id>` / `fold_0_<hi>`, a sidecar family is
    * `<prefix>_b<id>` / `<prefix>_fold_0_<hi>`. Names match in full.
    *
    * `schema`: the rows' declared schema. [[read]] and [[fold]] read
    * under it, with no footer-inference job; a fold under it keeps only
    * its columns.
    *
    * `shrink`: applied to a fold's rows before it is written — the
    * content-aware compaction the last-writer stores (StreamVec, the
    * postings stores) use to physically drop rows their max-b read
    * filter already hides (superseded reissues; a tombstoned id's
    * payload rows). Sound for any max-b filter, because the shrink sees
    * only the fold's inputs and every part it leaves out (the newest
    * batch dir, or the batch beside whose ingest it runs) has a
    * strictly higher batch id than every input row's `b`, so it never
    * drops a row the global max-b read would serve. Replay safety is
    * the fold's own: a replayable batch dir is never an input.
    */
  final case class Family(batchRe: Regex, foldRe: Regex, foldName: Long => String,
      schema: StructType, shrink: DataFrame => DataFrame = identity)

  /** Each `key`'s rows of its newest batch only (the max `b`): the read
    * filter of the last-writer stores (StreamVec, the postings stores),
    * and the `shrink` of their folds.
    */
  def lastWriter(key: String)(df: DataFrame): DataFrame =
    df.withColumn("__bmax", max("b").over(Window.partitionBy(key)))
      .filter(col("b") === col("__bmax"))
      .drop("__bmax")

  /** The main family of a store, `delta_b<id>` / `fold_0_<hi>`. */
  def delta(schema: StructType, shrink: DataFrame => DataFrame = identity): Family =
    Family("delta_b(\\d+)".r, "fold_0_(\\d+)".r, hi => s"fold_0_$hi", schema, shrink)

  /** A sidecar family, `<prefix>_b<id>` / `<prefix>_fold_0_<hi>`. */
  def sidecar(prefix: String, schema: StructType): Family = Family(
    s"${prefix}_b(\\d+)".r, s"${prefix}_fold_0_(\\d+)".r, hi => s"${prefix}_fold_0_$hi", schema)

  /** A store: its dir and every family written under it, in fold order. */
  final case class Store(dir: String, families: Family*)

  /** Where a fold runs. [[Alone]]: outside any batch, so it leaves out
    * each family's newest batch dir (the one batch that can still
    * replay) and deletes its inputs once its output has committed.
    * Beside the ingest of batch `before` ([[start]]): it folds the parts
    * below that batch (the same set, since the batch's own dirs are the
    * newest), and every delete it makes, resume-path deletes included,
    * waits until `ingested` opens, when the ingest has returned.
    */
  final case class FoldAt(before: Option[Long], ingested: CountDownLatch)

  val Alone: FoldAt = FoldAt(None, new CountDownLatch(0))

  /** The batch id as a column for the `b`/`batch_id` rows every family
    * carries: a non-nullable long, as `lit(batchId)` was. It is a
    * deterministic zero-argument UDF rather than a literal because a
    * literal is inlined into the generated code as a Java constant, so
    * every micro-batch would compile its classes anew; the UDF is not
    * foldable, so the generated code is the same from batch to batch and
    * comes from the codegen cache.
    */
  def batchIdCol(batchId: Long): Column = udf(() => batchId).asNonNullable()()

  /** Run a micro-batch's independent store `steps` at the same time, one
    * short-lived thread per step, and return only once every step has
    * stopped; then rethrow the first failure (the others ride along as
    * suppressed). Each step runs with `spark` as its active session and
    * with a copy of the caller's Spark local properties (Spark's
    * inheritable thread-local), so its jobs carry the caller's
    * `streaming.sql.batchId` and query id, and stopping the query
    * cancels them. An interrupt of the caller is passed on to the steps,
    * still waited out, and restored on return.
    */
  def concurrently(spark: SparkSession)(steps: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = steps.zipWithIndex.map { case (step, i) =>
      val t = new Thread(() => {
        SparkSession.setActiveSession(spark)
        try step() catch { case e: Throwable => failures.add(e) }
      }, s"graft-store-step-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) {
        try t.join()
        catch {
          case _: InterruptedException =>
            if (!interrupted) threads.foreach(_.interrupt())
            interrupted = true
        }
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => first.addSuppressed(e))
      throw first
    }
  }

  /** A committed part: a batch dir (id = its batch) or a fold (id = the
    * highest batch it covers).
    */
  final case class Part(path: Path, id: Long, isFold: Boolean)

  /** The committed (`_SUCCESS`) parts of `family` under `storeDir` whose
    * id is below `before`.
    */
  def parts(spark: SparkSession, storeDir: String, family: Family,
      before: Long = Long.MaxValue): Seq[Part] =
    listParts(spark, storeDir, family.batchRe, family.foldRe, before)

  /** The committed parts under `storeDir` whose names match `batchRe` or
    * `foldRe` (one group each: the id) and whose id is below `before`.
    */
  private def listParts(spark: SparkSession, storeDir: String, batchRe: Regex,
      foldRe: Regex, before: Long = Long.MaxValue): Seq[Part] = {
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq.flatMap { st =>
      val part = st.getPath.getName match {
        case batchRe(id) => Some(Part(st.getPath, id.toLong, isFold = false))
        case foldRe(hi) => Some(Part(st.getPath, hi.toLong, isFold = true))
        case _ => None
      }
      part.filter(p => p.id < before && st.isDirectory &&
        fs.exists(new Path(p.path, "_SUCCESS")))
    }
  }

  /** The committed parts of `family` below `before`, read under the
    * family's declared schema: a column an older part lacks reads as
    * NULL, and an empty store is an empty-but-typed frame.
    */
  def read(spark: SparkSession, storeDir: String, family: Family,
      before: Long = Long.MaxValue): DataFrame = {
    val dirs = parts(spark, storeDir, family, before).map(_.path)
    if (dirs.nonEmpty) load(spark, family, dirs)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], family.schema)
  }

  private def load(spark: SparkSession, family: Family, dirs: Seq[Path]): DataFrame =
    spark.read.schema(family.schema).parquet(dirs.map(_.toString): _*)

  /** Compact every family of `stores` — the small-files maintenance pass
    * (one dir per family per batch otherwise: ~2,900 a day at a 30 s
    * trigger). Each store folds its families in declared order under
    * ONE acquisition of its maintenance lease
    * (`VersionedStore.withMaintenanceLease`), and distinct stores fold
    * at the same time ([[concurrently]]). Returns the number of dirs
    * folded away.
    *
    * Each family folds its committed parts into one
    * `<prefix>_fold_0_<hi>`, read under its schema, with replay/crash
    * overlap collapsed by distinct() and its `shrink` applied. The
    * order is write-then-delete: the fold commits (`_SUCCESS` included)
    * before any input is deleted, so a crash leaves overlap, never loss,
    * and the next fold's resume path deletes what the newest fold
    * covers. A replayed covered batch rewrites a `<prefix>_b<id>` its
    * fold already supersedes; that resume path reclaims it too, and
    * readers' distinct() collapses the interim double-serve.
    *
    * Alone, the NEWEST batch dir of a family is never folded: only the
    * last batch can be uncommitted in the checkpoint (batch N+1 starts
    * only after N commits), and its replay screens the parts below its
    * id — a fold that swallowed it would carry its id and be left out
    * of its own replay's screen, re-admitting every previously-seen
    * row. So every fold's hi is strictly below any replayable batch.
    * Beside batch N's ingest ([[FoldAt]]) the fold takes only parts
    * below N, which keeps N's dirs out whether or not the ingest has
    * written them yet.
    *
    * Concurrency: two UNSERIALIZED folds of one store can lose data —
    * the loser overwrites the winner's just-committed fold dir while
    * lazily reading inputs the winner already deleted, a fold missing
    * rows that then masquerades as the store's history; the lease
    * serializes them. Racing a streaming ingest's WRITES needs no lock:
    * the ingest only creates new batch dirs (a fold snapshot either sees
    * them or leaves them for next time), and a replay rewrites only the
    * newest batch, never an input. An ingest's screen READ, though, can
    * race a fold's deletes: its lazily resolved store snapshot lists
    * parts the fold then removes mid-action. The fold of its own batch
    * deletes only after the ingest has returned; against any other
    * maintainer the ingest re-lists and retries
    * (`StreamDedup.withStoreRetry`), sound because the fold commits
    * before any delete (the retried screen sees a superset). Both are
    * pinned by StoreConcurrencySpec.
    */
  def fold(spark: SparkSession, stores: Seq[Store], at: FoldAt = Alone): Int = {
    val folded = new java.util.concurrent.atomic.AtomicInteger
    concurrently(spark)(stores.map(s => () => { folded.addAndGet(foldStore(spark, s, at)); () }): _*)
    folded.get
  }

  /** One store's families folded under one acquisition of its lease,
    * then — once `at`'s ingest has returned, still under the lease —
    * every part they made redundant deleted.
    */
  private def foldStore(spark: SparkSession, store: Store, at: FoldAt): Int =
    graft.sinks.VersionedStore.withMaintenanceLease(spark, store.dir) {
      val done = store.families.map(foldFamily(spark, store.dir, at, _))
      val fs = new Path(store.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      at.ingested.await()
      done.flatMap(_._2).foreach(p => fs.delete(p, true))
      done.map(_._1).sum
    }

  /** One family's fold: writes `<prefix>_fold_0_<hi>` when there is
    * something to fold, and returns the number of dirs folded with the
    * parts the caller deletes afterwards — the fold's inputs, and what a
    * crashed earlier delete left behind.
    */
  private def foldFamily(spark: SparkSession, storeDir: String, at: FoldAt,
      family: Family): (Int, Seq[Path]) = {
    val (folds, deltas) = parts(spark, storeDir, family,
      at.before.getOrElse(Long.MaxValue)).partition(_.isFold)
    // resume a crashed delete: anything the newest fold already covers
    // (older folds, deltas with id <= its hi) is pure overlap
    val newest = folds.sortBy(_.id).lastOption
    val covered = newest.toSeq.flatMap(f => folds.filterNot(_ == f) ++ deltas.filter(_.id <= f.id))
    val live = deltas.filter(d => newest.forall(d.id > _.id)).sortBy(_.id)
    // outside a batch, the newest delta is possibly uncommitted
    val foldable = if (at.before.isDefined) live else live.dropRight(1)
    val inputs = newest.toSeq ++ foldable
    if (foldable.isEmpty || inputs.size < 2) return (0, covered.map(_.path))
    // hi comes from a FOLDABLE delta, strictly above any fold's hi, so
    // the destination is never one of the inputs. Written DIRECTLY (no
    // directory rename — the store discipline): a crash mid-write leaves
    // an incomplete dir without _SUCCESS that `parts` ignores, and the
    // inputs are still in place — at worst overlap, never loss.
    val dst = new Path(storeDir, family.foldName(foldable.map(_.id).max))
    family.shrink(load(spark, family, inputs.map(_.path)).distinct())
      .coalesce(1) // store rows are small; one file per fold
      .write.mode("overwrite").parquet(dst.toString)
    (inputs.size, (covered ++ inputs).map(_.path))
  }

  private val QueryIdMarker = "_QUERY_ID"

  /** The content of the small text file at `p`, if there is one. */
  private def readText(spark: SparkSession, p: Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }
  }

  /** The streaming query id Spark persisted into the checkpoint's
    * `metadata` file: stable across restarts from that checkpoint and
    * different for every new one — the identity a store is keyed by.
    */
  private def checkpointQueryId(spark: SparkSession, cpDir: String): Option[String] =
    readText(spark, new Path(cpDir, "metadata")).flatMap(
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(_).map(_.group(1)))

  /** Claim `storeDir` for the checkpoint at `cpDir`, or fail fast when a
    * different checkpoint owns it. A store without a marker (written
    * before markers existed) is refused when it holds parts of any family
    * above `batchId` — ids a same-checkpoint run could not have left. An
    * empty marker counts as none: the marker is written to a temp file
    * and renamed into place, so only a crash of an older writer between
    * its create and its write can leave one.
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
    val owner = readText(spark, marker).fold("")(_.trim)
    if (owner.nonEmpty) {
      if (owner != qid) throw new IllegalStateException(
        s"store $storeDir belongs to streaming query $owner, but this query " +
          s"is $qid (a different checkpoint): its batch ids restart at 0, so " +
          s"batch $batchId would screen against nothing and overwrite the " +
          "store's existing parts. Resume from the original checkpoint, or " +
          "point at a fresh store dir.")
    } else {
      // the parts of every family at once
      val maxPart = listParts(spark, storeDir, "[a-z]+_b(\\d+)".r,
        "(?:[a-z]+_)?fold_0_(\\d+)".r).map(_.id).maxOption
      if (maxPart.exists(_ > batchId)) throw new IllegalStateException(
        s"store $storeDir has no ownership marker but holds parts up to " +
          s"batch ${maxPart.get} while this query is at batch $batchId — it " +
          "was written by a different checkpoint. Resume from the original " +
          "checkpoint, or point at a fresh store dir.")
      val tmp = new Path(base, s".$QueryIdMarker.${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(qid.getBytes("UTF-8")) finally out.close()
      fs.delete(marker, false)
      if (!fs.rename(tmp, marker)) throw new java.io.IOException(s"cannot rename $tmp to $marker")
    }
  }

  /** Start `source` as a sink over `stores`, checkpointed at `checkpoint`
    * and fired on `trigger`. A run's first batch verifies (or claims)
    * every store; each batch then runs [[step]].
    */
  def start(source: DataFrame, checkpoint: String, stores: Seq[Store],
      trigger: Trigger = Trigger.ProcessingTime(0), foldEvery: Int = 0)(
      ingest: (SparkSession, DataFrame, Long) => Unit): StreamingQuery = {
    // one ownership check per run (driver-side closure state; a driver
    // restart just re-verifies once on its first batch)
    var ownershipVerified = false
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // the query's own session, not the caller's: one static plan per
        // batch (see STATIC PLANS in the object doc)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if (!ownershipVerified) {
          stores.foreach(s => verifyStoreOwnership(spark, s.dir, checkpoint, batchId))
          ownershipVerified = true
        }
        step(spark, stores, foldEvery, batchId)(ingest(spark, batch, batchId))
      }
      .start()
  }

  /** One batch of [[start]] once its stores are claimed: `ingest`, and,
    * when `StreamDedup.foldDue(foldEvery, batchId)` fires (0 = never),
    * the fold of every store beside it: the fold's writes overlap the
    * ingest, its deletes wait for it ([[FoldAt]]).
    */
  private[graft] def step(spark: SparkSession, stores: Seq[Store], foldEvery: Int,
      batchId: Long)(ingest: => Unit): Unit =
    if (StreamDedup.foldDue(foldEvery, batchId)) {
      val ingested = new CountDownLatch(1)
      concurrently(spark)(
        () => try ingest finally ingested.countDown(),
        () => { fold(spark, stores, FoldAt(Some(batchId), ingested)); () })
    } else ingest
}
