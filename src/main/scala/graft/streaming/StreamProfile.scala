package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming data-quality profiling — qa2/qa3 run AT INGEST: every
  * micro-batch is profiled (per column: row count, null count, exact
  * distinct count) and the profile appended to a store, so a corrupt
  * upstream batch (a suddenly-nullable field, a cardinality collapse)
  * surfaces in the SAME trigger that ingested it, not in tomorrow's
  * batch audit. [[drift]] then classifies batch-over-batch movement —
  * the qa3 verdict over the stored history.
  *
  * Each batch writes its profile rows to `profile_b<id>` (store
  * contract: [[StoreSink]]). Profile rows are a handful of numbers per
  * column per batch — the store grows with batches, never with data
  * volume, and the per-batch cost is one wide aggregate over rows
  * already in memory for the sink.
  */
object StreamProfile {

  private val Profiles = StoreSink.sidecar("profile", StructType(Seq(
    StructField("col", StringType), StructField("n_rows", LongType),
    StructField("n_null", LongType), StructField("n_distinct", LongType),
    StructField("batch_id", LongType))))

  /** The profile history under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, Profiles)

  /** Profile one (batch) frame: (col, n_rows, n_null, n_distinct) per
    * profiled column, from ONE wide aggregate (the qa2 single-pass
    * shape — the frame is never rescanned per column).
    */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty)
    val exprs: Seq[Column] = columns.flatMap { c =>
      // coalesce: sum() over an EMPTY micro-batch is NULL while the
      // counts are 0 — an empty batch must profile as all-zeros, or a
      // NULL n_null poisons drift()'s null_delta for adjacent batches
      Seq(count(lit(1)).as(s"${c}_nr"),
        coalesce(sum(when(col(c).isNull, 1).otherwise(0)), lit(0L)).as(s"${c}_nn"),
        count_distinct(col(c)).as(s"${c}_nd"))
    }
    val stackArgs = columns
      .map(c => s"'$c', ${c}_nr, ${c}_nn, ${c}_nd").mkString(",\n  ")
    df.agg(exprs.head, exprs.tail: _*).selectExpr(
      s"stack(${columns.length},\n  $stackArgs\n) AS (col, n_rows, n_null, n_distinct)")
  }

  /** Start the profiling query: one profile row per column per
    * micro-batch, written idempotently to `storeDir/profile_b<id>`.
    */
  def start(source: DataFrame, columns: Seq[String], storeDir: String,
      checkpointDir: String): StreamingQuery =
    StoreSink.start(source, checkpointDir, Seq(store(storeDir))) { (spark, batch, batchId) =>
      // the distinct counts shuffle after an Expand, which no input
      // partitioning satisfies, so the query's own session plans its
      // shuffles at one partition, a trigger's worth (STATIC PLANS in
      // StoreSink)
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      profile(batch, columns)
        .withColumn("batch_id", StoreSink.batchIdCol(batchId))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/profile_b$batchId")
    }

  /** The stored profile history (all committed batches, all columns). */
  def history(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, Profiles)

  /** Batch-over-batch drift — qa3's verdict over the stored history:
    * per (column, batch), the deltas against the PREVIOUS batch's
    * profile of the same column, and a `drifted` flag on any movement.
    * The lag window runs over the profile store (columns × batches
    * rows), never over data.
    */
  def drift(spark: SparkSession, storeDir: String): DataFrame = {
    val w = Window.partitionBy("col").orderBy("batch_id")
    history(spark, storeDir)
      .withColumn("p_rows", lag("n_rows", 1).over(w))
      .withColumn("p_null", lag("n_null", 1).over(w))
      .withColumn("p_distinct", lag("n_distinct", 1).over(w))
      .filter(col("p_rows").isNotNull)
      .select(col("col"), col("batch_id"),
        (col("n_rows") - col("p_rows")).as("row_delta"),
        (col("n_null") - col("p_null")).as("null_delta"),
        (col("n_distinct") - col("p_distinct")).as("distinct_delta"))
      .withColumn("drifted",
        col("row_delta") =!= 0 || col("null_delta") =!= 0 ||
          col("distinct_delta") =!= 0)
  }
}
