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
  *     → exact-dedup screen   (StreamDedup.screen — md5 store)
  *     → near-dup screen      (StreamNearDup.screen — MinHash store)
  *     → decontamination      (TextOps.d7bVerdictsInPlace vs the
  *                             broadcast bench fixture — d7b's verdicts,
  *                             StreamDecontam's core)
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
  * is the same pure screen its standalone streaming twin runs
  * (StreamDedup/StreamNearDup expose theirs as `screen`; decontam's
  * core is the oracled batch operator's verdict body), and the quality
  * gate is t3's one formula instance. What e2e4 adds — and what
  * StreamingSpec pins — is that the twins actually COMPOSE: the
  * manifest is row-for-row the batch chain's result on the same
  * replayed corpus (the StreamScd2-vs-cdc3 parity pattern).
  *
  * One frozen frame per batch: each screen annotates the batch's rows
  * in place (its admitted hash, signature, match rows and verdict rows),
  * so the four compose into one per-doc plan with no join back to the
  * batch, and the exit `stage` is one CASE over those columns. The plan is
  * frozen ONCE with a localCheckpoint, and all five writes are map-only
  * projections of that one evaluation. So the delta, matches, verdict
  * and manifest parts of a batch can never disagree, even if a job is
  * retried mid-write — the consistency the chain once bought by reading
  * each committed part back before the next stage, at a round trip per
  * stage — and a micro-batch runs a fixed, small number of Spark jobs
  * (StreamPrepSpec pins the count, and that a replayed batch rewrites
  * every family row-identically). The freeze reads the two screen
  * stores, so it runs under StreamDedup's store-read retry.
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
  * The batch's rows stay in one partition (one task, no shuffle): at
  * trigger-sized batches the fixed cost of a shuffle stage outweighs its
  * parallelism. The stores, which grow without bound, are not pulled
  * into it: each screen probes its store in the store's own scan tasks
  * against the batch's broadcast keys, and only the hits join the
  * batch's partition.
  */
object StreamPrep {

  private def manifestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("stage", StringType),
    StructField("quality", DoubleType), StructField("b", LongType)))

  private def verdictSchema: StructType = StructType(
    Seq("doc_id", "bench_id", "n_item_windows", "n_present", "overlap_ppm", "b")
      .map(StructField(_, LongType)))

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
    * `verdicts_b*` sidecars, and the `manifest_b*` rows — each read
    * under its declared schema. Returns the number of dirs folded away.
    */
  def fold(spark: SparkSession, storeDir: String): Int =
    StreamDedup.foldDeltas(spark, s"$storeDir/exact", Some(StreamDedup.StoreSchema)) +
      StreamNearDup.foldDeltas(spark, s"$storeDir/sigs") +
      StreamNearDup.foldMatches(spark, s"$storeDir/sigs") +
      StreamDedup.foldSidecars(spark, s"$storeDir/decontam", "verdicts", Some(verdictSchema)) +
      StreamDedup.foldSidecars(spark, storeDir, "manifest", Some(manifestSchema))

  /** The training-set ids the chain has admitted so far. */
  def keptIds(spark: SparkSession, storeDir: String): DataFrame =
    manifest(spark, storeDir).filter(col("stage") === "kept").select("doc_id")

  /** The decontamination verdicts across all ingested batches. */
  def verdicts(spark: SparkSession, storeDir: String): DataFrame =
    StreamDecontam.serve(spark, s"$storeDir/decontam")

  /** Start the chain over a `(doc_id, text)` source. `benchWindows` is
    * the bounded (bench_id, h) fixture (`TextOps.d7bBenchWindows`) —
    * callers materialize it once before starting; its per-item window
    * totals are counted here, once per run. The STORE is the output:
    * [[manifest]] / [[keptIds]] serve readers.
    */
  def start(docs: DataFrame, benchWindows: DataFrame, storeDir: String,
      checkpointDir: String, threshold: Double = 0.5,
      trigger: Trigger = Trigger.ProcessingTime(0),
      foldEvery: Int = 0): StreamingQuery = {
    // the decontamination fixture with its per-item totals, built once
    val bench = benchWindows.join(TextOps.d7bBenchTotals(benchWindows), "bench_id")
      .localCheckpoint()
    StoreSink.start(docs, s"$checkpointDir/prep", Seq(s"$storeDir/exact", s"$storeDir/sigs"),
      trigger, foldEvery, fold(_, storeDir)) { (spark, batch, batchId) =>
      val frozen = StreamDedup.withStoreRetry(
        screened(spark, batch, batchId, bench, storeDir, threshold).localCheckpoint())
      write(frozen.coalesce(1), batchId, storeDir)
    }
  }

  /** The batch's one per-doc plan: every incoming row with its
    * `quality`, its exit `stage`, and what each store keeps of it — the
    * exact screen's `h`/`exact_ok`, the near-dup screen's
    * `sig`/`near_ok`/`matches` and its decontamination `verdicts`. Each
    * screen sees only the survivors of the one before it, and each
    * annotates the rows in place.
    */
  private def screened(spark: SparkSession, batch: DataFrame, batchId: Long,
      bench: DataFrame, storeDir: String, threshold: Double): DataFrame = {
    val scored = TextOps.qualityScored(batch.select("doc_id", "text"))
    val exact = StreamDedup.screen(spark, scored, batchId, s"$storeDir/exact",
      on = col("quality") >= 0.5)
    val near = StreamNearDup.screen(spark, exact, batchId, s"$storeDir/sigs", threshold,
      on = col("exact_ok"))
    TextOps.d7bVerdictsInPlace(near.withColumn("ws", split(col("text"), " ")),
        col("near_ok"), bench)
      .withColumn("stage",
        when(col("quality") < 0.5 || col("quality").isNull, "quality")
          .when(!col("exact_ok"), "exact")
          .when(!col("near_ok"), "neardup")
          .when(col("verdicts").isNotNull, "contaminated")
          .otherwise("kept"))
      .drop("text", "ws")
  }

  /** The batch's five parts, each a map-only projection of the frozen
    * per-doc frame; the rows of the sidecar families carry the batch id
    * `b` (fold-overlap vs re-send disambiguation — see [[manifest]]'s
    * scaladoc).
    */
  private def write(frozen: DataFrame, batchId: Long, storeDir: String): Unit = {
    val b = StoreSink.batchIdCol(batchId).as("b")
    StreamDedup.writeDelta(frozen, batchId, s"$storeDir/exact")
    StreamNearDup.writeDelta(frozen, batchId, s"$storeDir/sigs")
    StreamNearDup.writeMatches(frozen, batchId, s"$storeDir/sigs")
    frozen.select(col("doc_id"), explode(col("verdicts")).as("r"))
      .select(col("doc_id"), col("r.bench_id").cast(LongType).as("bench_id"),
        col("r.n_item_windows"), col("r.n_present"), col("r.overlap_ppm"), b)
      .write.mode("overwrite").parquet(s"$storeDir/decontam/verdicts_b$batchId")
    frozen.select(col("doc_id"), col("stage"), round(col("quality"), 6).as("quality"), b)
      .write.mode("overwrite").parquet(s"$storeDir/manifest_b$batchId")
  }
}
