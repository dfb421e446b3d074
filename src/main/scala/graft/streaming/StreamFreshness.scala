package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming twin of qa5's freshness/completeness audit — the SLA
  * gate run AT INGEST instead of in tomorrow's batch audit: every
  * micro-batch appends each source's row count and event-time
  * HIGH-WATER MARK to a store, so a source going dark surfaces as
  * soon as the batches ingested AROUND its silence land, not a day
  * later. [[report]] is the qa5-shaped verdict over the stored
  * history: per source, batches present/missing, the longest
  * consecutive silent run (one long outage is a different incident
  * than scattered blips — qa5's gaps-and-islands, over batch ids
  * instead of calendar days), and the freshness lag of its high-water
  * mark behind the stream's global one.
  *
  * One `fresh_b<id>` dir per batch (store contract: [[StoreSink]]).
  * Rows per batch = |sources|; the store grows with batches, never
  * with data volume, and the per-batch cost is one map-side-combined
  * rollup of rows already in memory for the sink.
  */
object StreamFreshness {

  private val Marks = StoreSink.sidecar("fresh", StructType(Seq(
    StructField("source", StringType), StructField("n_rows", LongType),
    StructField("max_ts_ms", LongType), StructField("batch_id", LongType))))

  /** The freshness history under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Marks)

  /** One batch's freshness rows: (source, n_rows, max_ts_ms). */
  def batchMarks(df: DataFrame): DataFrame =
    df.groupBy(col("event_type").as("source"))
      .agg(count(lit(1)).as("n_rows"),
        (unix_millis(max(col("ts")))).as("max_ts_ms"))

  def start(source: DataFrame, storeDir: String, checkpointDir: String): StreamingQuery =
    StoreSink.start(source, checkpointDir, Seq(store(storeDir))) { (_, batch, batchId) =>
      // one partition, so no shuffle (STATIC PLANS in StoreSink)
      batchMarks(batch.coalesce(1))
        .withColumn("batch_id", StoreSink.batchIdCol(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/fresh_b$batchId")
    }

  /** The committed per-batch freshness rows. */
  def history(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Marks)

  /** The qa5-shaped verdict over the stored history: per source,
    * batches present/missing, longest silent RUN of batch ids, and
    * high-water freshness lag (ms behind the stream's global mark).
    * Runs on the sources × batches history frame — bounded, never
    * data-sized.
    */
  def report(spark: SparkSession, storeDir: String): DataFrame = {
    val h = history(spark, storeDir)
    val batches = h.select("batch_id").distinct()
    val sources = h.select("source").distinct()
    val grid = sources.crossJoin(broadcast(batches))
      .join(h, Seq("source", "batch_id"), "left")
      .select(col("source"), col("batch_id"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("max_ts_ms"))
    val zeros = grid.filter(col("n_rows") === 0)
      .withColumn("grp", col("batch_id") - row_number().over(
        Window.partitionBy("source").orderBy("batch_id")))
    val maxGap = zeros.groupBy("source", "grp").agg(count(lit(1)).as("gap"))
      .groupBy("source").agg(max("gap").as("max_silent_run"))
    val hw = grid.agg(max("max_ts_ms").as("global_hw"))
    grid.groupBy("source")
      .agg(sum(when(col("n_rows") > 0, 1).otherwise(0)).cast("long").as("batches_present"),
        sum(when(col("n_rows") === 0, 1).otherwise(0)).cast("long").as("batches_missing"),
        max("max_ts_ms").as("hw_ms"))
      .join(maxGap, Seq("source"), "left")
      .crossJoin(broadcast(hw))
      .select(col("source"), col("batches_present"), col("batches_missing"),
        coalesce(col("max_silent_run"), lit(0L)).cast("long").as("max_silent_run"),
        (col("global_hw") - col("hw_ms")).as("freshness_lag_ms"),
        (col("batches_missing") > 0 || col("global_hw") > col("hw_ms")).as("flagged"))
      .orderBy("source")
  }
}
