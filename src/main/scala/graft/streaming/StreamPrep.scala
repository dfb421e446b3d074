package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.operators.TextOps

/** e2e4: the training-prep chain AT INGEST — the four streaming twins
  * composed into ONE foreachBatch pipeline, per micro-batch:
  *
  *   quality gate (t3's formula, via [[TextOps.qualityScored]])
  *     → exact-dedup screen   (StreamDedup.ingestBatch — md5 store)
  *     → near-dup screen      (StreamNearDup.ingestBatch — MinHash store)
  *     → decontamination      (TextOps.d7bVerdicts vs the broadcast
  *                             bench fixture — StreamDecontam's core)
  *     → per-doc MANIFEST row (doc_id, stage, quality)
  *
  * `stage` records where each document exited: 'quality' (gated),
  * 'exact' (byte-identical to a seen doc), 'neardup' (MinHash-matched
  * a batch-mate or the admitted store), 'contaminated' (≥50%
  * window-overlap with a bench item), or 'kept' — the manifest the
  * trainer consumes, with full provenance living in the component
  * stores (the near-dup matches_b dirs, the decontam verdict dirs).
  *
  * This object deliberately contains NO new operator logic: each stage
  * is the same per-batch body its standalone streaming twin runs
  * (StreamDedup/StreamNearDup expose theirs as `ingestBatch`;
  * decontam's core is the oracled batch operator's `d7bVerdicts`), and
  * the quality gate is t3's one formula instance. What e2e4 adds — and
  * what StreamingSpec pins — is that the twins actually COMPOSE: the
  * manifest is row-for-row the batch chain's result on the same
  * replayed corpus (the StreamScd2-vs-cdc3 parity pattern).
  *
  * Store layout under `storeDir`: `exact/` and `sigs/` are the two
  * screens' ordinary delta stores, both claimed by the chain's
  * checkpoint; `decontam/verdicts_b<id>` and `manifest_b<id>` are pure
  * per-batch verdicts. The store contract ([[StoreSink]]) holds
  * chain-wide.
  *
  * 100 TB shape: unchanged from the standalone twins — the chain
  * ORDER is the cost order (cheap doc-level gate first, hash screen
  * before signature screen, the window-hash decontam only over final
  * survivors), each batch's text makes exactly one pass per surviving
  * stage, and the stores hold hashes/signatures/verdicts, never text.
  */
object StreamPrep {

  private def manifestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("stage", StringType),
    StructField("quality", DoubleType), StructField("b", LongType)))

  /** The per-doc manifest across all ingested batches: exactly one row
    * per incoming doc_id (re-sends of an already-screened doc_id get
    * their own verdict in their own batch — screens are content-keyed,
    * so a byte-identical re-send lands as 'exact'). Empty-but-typed
    * before the first commit. Reads per-batch `manifest_b*` dirs AND
    * `manifest_fold_0_*` compactions ([[fold]]); the distinct() is
    * load-bearing — a crashed fold's write-then-delete leaves the same
    * rows in fold and delta ("overlap, never loss"), and manifest rows
    * ride an internal batch-id column `b` (dropped here) precisely so
    * that overlap is byte-identical while a genuine cross-batch
    * re-send verdict (same doc, same stage, different batch) keeps its
    * multiplicity through the fold's own distinct.
    */
  def manifest(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, StoreSink.sidecar("manifest"), manifestSchema)
      .distinct().drop("b")

  /** Compact the chain's per-batch output dirs — the maintenance pass a
    * 30 s-trigger deployment schedules (one dir per family per batch is
    * ~2,900 dirs/day/family otherwise). Folds all four accumulating
    * families under their stores' maintenance leases: the two screens'
    * signature/hash deltas (the newest-delta screen-bound discipline,
    * as standalone), the near-dup `matches_b*` provenance, the decontam
    * `verdicts_b*` sidecars, and the `manifest_b*` rows. Returns the
    * number of dirs folded away.
    */
  def fold(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldDeltas(spark, s"$storeDir/exact") +
      StreamNearDup.foldDeltas(spark, s"$storeDir/sigs") +
      StreamNearDup.foldMatches(spark, s"$storeDir/sigs") +
      StreamDedup.foldSidecars(spark, s"$storeDir/decontam", "verdicts") +
      StreamDedup.foldSidecars(spark, storeDir, "manifest")

  /** The training-set ids the chain has admitted so far. */
  def keptIds(spark: SparkSession, storeDir: String): DataFrame =
    manifest(spark, storeDir).filter(col("stage") === "kept").select("doc_id")

  /** The decontamination verdicts across all ingested batches. */
  def verdicts(spark: SparkSession, storeDir: String): DataFrame =
    StreamDecontam.serve(spark, s"$storeDir/decontam")

  /** Start the chain over a `(doc_id, text)` source. `benchWindows` is
    * the bounded (bench_id, h) fixture (`TextOps.d7bBenchWindows`) —
    * callers materialize it once before starting. The STORE is the
    * output: [[manifest]] / [[keptIds]] serve readers.
    */
  def start(docs: DataFrame, benchWindows: DataFrame, storeDir: String,
      checkpointDir: String, threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery =
    StoreSink.start(docs, s"$checkpointDir/prep", Seq(s"$storeDir/exact", s"$storeDir/sigs"),
      trigger, foldEvery, fold(_, storeDir)) { (spark, batch, batchId) =>
      // stage 1: quality gate — frozen once (localCheckpoint): four
      // downstream consumers must see ONE evaluation of the batch
      val scored = TextOps.qualityScored(batch.select("doc_id", "text"))
        .localCheckpoint()
      val passed = scored.filter(col("quality") >= 0.5)
      // stage 2: exact screen (writes exact/delta_b<id>)
      val exactAdmitted = StreamDedup.ingestBatch(
        spark, passed, batchId, s"$storeDir/exact")
      val exactSurvivors = passed.join(exactAdmitted, Seq("doc_id"), "left_semi")
      // stage 3: near-dup screen (writes sigs/{delta,matches}_b<id>)
      val nearAdmitted = StreamNearDup.ingestBatch(
        spark, exactSurvivors, batchId, s"$storeDir/sigs", threshold)
      val nearSurvivors = exactSurvivors.join(nearAdmitted, Seq("doc_id"), "left_semi")
      // stage 4: decontamination over the final survivors only
      val verd = TextOps.d7bVerdicts(
        nearSurvivors.select(col("doc_id"), split(col("text"), " ").as("ws")),
        benchWindows)
        // b rides every sidecar row (fold-overlap vs re-send
        // disambiguation — see manifest()'s scaladoc)
        .withColumn("b", lit(batchId))
      verd.coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/decontam/verdicts_b$batchId")
      // deliberate read-back-after-write: the contaminated set (and
      // through it the manifest) derives from the COMMITTED verdicts
      // dir, not the in-flight plan — so the two artifacts can never
      // disagree if the verdict computation were nondeterministic or
      // the job retried mid-write. Do not "optimize" this into a
      // reuse of `verd` (its schema is reused only to skip the
      // footer-inference job).
      val contaminated = spark.read.schema(verd.schema)
        .parquet(s"$storeDir/decontam/verdicts_b$batchId")
        .select("doc_id").distinct()
      // the manifest: exactly one exit stage per incoming doc
      def staged(ids: DataFrame, stage: String): DataFrame =
        scored.join(ids, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), lit(stage).as("stage"),
            round(col("quality"), 6).as("quality"), lit(batchId).as("b"))
      val mQuality = scored.filter(col("quality") < 0.5 || col("quality").isNull)
        .select(col("doc_id"), lit("quality").as("stage"),
          round(col("quality"), 6).as("quality"), lit(batchId).as("b"))
      val mExact = staged(
        passed.select("doc_id").join(exactAdmitted, Seq("doc_id"), "left_anti"),
        "exact")
      val mNear = staged(
        exactSurvivors.select("doc_id").join(nearAdmitted, Seq("doc_id"), "left_anti"),
        "neardup")
      val mCont = staged(contaminated, "contaminated")
      val mKept = staged(
        nearSurvivors.select("doc_id").join(contaminated, Seq("doc_id"), "left_anti"),
        "kept")
      mQuality.unionByName(mExact).unionByName(mNear)
        .unionByName(mCont).unionByName(mKept)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/manifest_b$batchId")
    }
}
