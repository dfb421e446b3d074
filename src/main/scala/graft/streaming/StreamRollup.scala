package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType}
import graft.operators.Rollup

/** mv1's rollup maintenance run AT INGEST: every micro-batch folds its
  * events into per-(day, event_type) mergeable aggregate states (the
  * exact integer partials of [[Rollup.states]]) and appends them to a
  * store; serving merges the bounded state table — the metric is fresh
  * in the SAME trigger that ingested the events, and the event history
  * is never rescanned.
  *
  * Each batch writes its partials to `states_b<id>` (store contract:
  * [[StoreSink]]). A day split across micro-batches yields several partial rows for the
  * same (day, event_type); [[Rollup.merge]]'s algebra is insensitive to
  * how the partials were cut (OpsSpec pins split-independence), so the
  * served result is identical to the batch chain's.
  *
  * Scale shape: per-batch cost is one map-side-combined aggregate over
  * rows already in memory for the sink; the store grows with batches ×
  * groups, never with data volume.
  */
object StreamRollup {

  private val States = StoreSink.sidecar("states", StructType(Seq(
    StructField("day", DateType), StructField("event_type", StringType),
    StructField("n", LongType), StructField("s", LongType), StructField("sq", LongType),
    StructField("mn", LongType), StructField("mx", LongType))))

  /** The state history under `dir`. */
  def store(dir: String): StoreSink.Store = StoreSink.Store(dir, States)

  /** Start the maintenance query over a stream with (ts, event_type,
    * value) columns: one state row per (day, event_type) per
    * micro-batch, written idempotently to `storeDir/states_b<id>`.
    */
  def start(source: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    StoreSink.start(source, checkpointDir, Seq(store(storeDir))) { (_, batch, batchId) =>
      // one partition, so no shuffle (STATIC PLANS in StoreSink)
      Rollup.states(batch.coalesce(1))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$storeDir/states_b$batchId")
    }

  /** The stored state history (all committed batches' partials). */
  def history(spark: SparkSession, storeDir: String): DataFrame =
    StoreSink.read(spark, storeDir, States)

  /** Serve the rollup from the store: the same merge the batch chain
    * runs — aggregates (batches × days × groups) state rows, never
    * the events.
    */
  def serve(spark: SparkSession, storeDir: String): DataFrame =
    Rollup.merge(history(spark, storeDir))
}
