package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.udf
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
  *  - FOLD CADENCE. With `foldEvery` > 0 the module's fold runs inside
  *    the trigger, after the ingest of every batch where
  *    `StreamDedup.foldDue` fires. A fold unions the committed parts of a
  *    family (never the newest batch dir, the one batch that can still
  *    replay) into `<prefix>_fold_0_<hi>` under the store's maintenance
  *    lease, and writes it before deleting its inputs: a crash leaves
  *    overlap, never loss, and readers absorb the overlap.
  *  - ONE EVALUATION PER BATCH, where a batch freezes. A store that
  *    writes several parts per batch from a `localCheckpoint`ed frame
  *    (StreamPrep, NearDup, Novelty, Phash) derives them all from that
  *    one evaluation, so they agree with each other even if a job of the
  *    batch is retried. StreamVec's `persist()`ed batch frame does not
  *    freeze: Spark may recompute it after an eviction.
  */
private[streaming] object StoreSink {

  /** A batch-keyed family of parts: the batch dirs, the folds that
    * compact them, and the name of a new fold. Each family folds under
    * its own prefix, so families sharing a store dir never collide: the
    * main family is `delta_b<id>` / `fold_0_<hi>`, a sidecar family is
    * `<prefix>_b<id>` / `<prefix>_fold_0_<hi>`. Names match in full.
    */
  final case class Family(batchRe: Regex, foldRe: Regex, foldName: Long => String)

  val Delta: Family = Family("delta_b(\\d+)".r, "fold_0_(\\d+)".r, hi => s"fold_0_$hi")

  def sidecar(prefix: String): Family = Family(
    s"${prefix}_b(\\d+)".r, s"${prefix}_fold_0_(\\d+)".r, hi => s"${prefix}_fold_0_$hi")

  /** The batch id as a column for the `b`/`batch_id` rows every family
    * carries: a non-nullable long, as `lit(batchId)` was. It is a
    * deterministic zero-argument UDF rather than a literal because a
    * literal is inlined into the generated code as a Java constant, so
    * every micro-batch would compile its classes anew; the UDF is not
    * foldable, so the generated code is the same from batch to batch and
    * comes from the codegen cache.
    */
  def batchIdCol(batchId: Long): Column = udf(() => batchId).asNonNullable()()

  /** Every family at once — what the ownership fallback must see. */
  private val AnyFamily =
    Family("[a-z]+_b(\\d+)".r, "(?:[a-z]+_)?fold_0_(\\d+)".r, Delta.foldName)

  /** A committed part: a batch dir (id = its batch) or a fold (id = the
    * highest batch it covers).
    */
  final case class Part(path: Path, id: Long, isFold: Boolean)

  /** The committed (`_SUCCESS`) parts of `family` under `storeDir` whose
    * id is below `before`.
    */
  def parts(spark: SparkSession, storeDir: String, family: Family,
      before: Long = Long.MaxValue): Seq[Part] = {
    val base = new Path(storeDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq.flatMap { st =>
      val part = st.getPath.getName match {
        case family.batchRe(id) => Some(Part(st.getPath, id.toLong, isFold = false))
        case family.foldRe(hi) => Some(Part(st.getPath, hi.toLong, isFold = true))
        case _ => None
      }
      part.filter(p => p.id < before && st.isDirectory &&
        fs.exists(new Path(p.path, "_SUCCESS")))
    }
  }

  /** The committed parts of `family` below `before`, read under the
    * family's declared `schema`: no footer-inference job, a column an
    * older part lacks reads as NULL, and an empty store is an
    * empty-but-typed frame.
    */
  def read(spark: SparkSession, storeDir: String, family: Family, schema: StructType,
      before: Long = Long.MaxValue): DataFrame =
    parts(spark, storeDir, family, before).map(_.path.toString) match {
      case Seq() => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case dirs => spark.read.schema(schema).parquet(dirs: _*)
    }

  /** The committed parts of a family that declares no schema: footer
    * inferred, and an empty store fails loudly.
    */
  def readInferred(spark: SparkSession, storeDir: String, family: Family): DataFrame = {
    val dirs = parts(spark, storeDir, family).map(_.path.toString)
    require(dirs.nonEmpty, s"no committed ${family.batchRe} parts under $storeDir")
    spark.read.parquet(dirs: _*)
  }

  private val QueryIdMarker = "_QUERY_ID"

  /** The streaming query id Spark persisted into the checkpoint's
    * `metadata` file: stable across restarts from that checkpoint and
    * different for every new one — the identity a store is keyed by.
    */
  private def checkpointQueryId(spark: SparkSession, cpDir: String): Option[String] = {
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

  /** Claim `storeDir` for the checkpoint at `cpDir`, or fail fast when a
    * different checkpoint owns it. A store without a marker (written
    * before markers existed) is refused when it holds parts of any family
    * above `batchId` — ids a same-checkpoint run could not have left.
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
        s"store $storeDir belongs to streaming query $owner, but this query " +
          s"is $qid (a different checkpoint): its batch ids restart at 0, so " +
          s"batch $batchId would screen against nothing and overwrite the " +
          "store's existing parts. Resume from the original checkpoint, or " +
          "point at a fresh store dir.")
    } else {
      val maxPart = parts(spark, storeDir, AnyFamily).map(_.id).maxOption
      if (maxPart.exists(_ > batchId)) throw new IllegalStateException(
        s"store $storeDir has no ownership marker but holds parts up to " +
          s"batch ${maxPart.get} while this query is at batch $batchId — it " +
          "was written by a different checkpoint. Resume from the original " +
          "checkpoint, or point at a fresh store dir.")
      fs.mkdirs(base)
      val out = fs.create(marker, true)
      try out.write(qid.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Start `source` as a sink over `stores`, checkpointed at `checkpoint`
    * and fired on `trigger`. A run's first batch verifies (or claims)
    * every store; each batch then runs `ingest`, followed by `fold` when
    * `StreamDedup.foldDue(foldEvery, batchId)` fires (0 = never).
    */
  def start(source: DataFrame, checkpoint: String, stores: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime(0), foldEvery: Int = 0,
      fold: SparkSession => Int = _ => 0)(
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
        if (!ownershipVerified) {
          stores.foreach(verifyStoreOwnership(spark, _, checkpoint, batchId))
          ownershipVerified = true
        }
        ingest(spark, batch, batchId)
        if (StreamDedup.foldDue(foldEvery, batchId)) { fold(spark); () }
      }
      .start()
  }
}
