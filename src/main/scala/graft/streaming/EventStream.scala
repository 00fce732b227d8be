package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming views of the append-only event log
  * (SURVEY §2.1 S4, §2.6 T7/T8, §2.8 K3).
  *
  * The producer appends JSONL to a directory the engine watches; the
  * same explicit schema and corrupt-line tolerance as the batch reader
  * apply. Event time derives from the ISO-8601 `timestamp` string
  * (`input_habit_logger.lua:166-167`).
  */
object EventStream {

  /** Live tolerant scan over a growing JSONL directory — the same
    * recipe as the batch [[graft.io.EventLogReader.readJsonl]] (shared
    * schema/options/filter, so batch and streaming corrupt-line
    * semantics cannot drift). */
  def readJsonlStream(spark: SparkSession, dir: String): DataFrame =
    graft.io.EventLogReader.tolerantFilter(spark.readStream
      .schema(graft.io.EventLogReader.TolerantSchema)
      .options(graft.io.EventLogReader.TolerantOptions)
      .json(dir))

  /** Typed event-time column from the logged ISO-8601 string (T7). */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time",
      to_timestamp(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))

  /** Tumbling-window commit metrics: the fixed-bucket twin of
    * [[sessionMetrics]] (q33 is the batch form). Epoch-aligned
    * `window(event_time, size)` buckets per key; the watermark both
    * bounds state (only buckets newer than watermark−size stay open)
    * and drives append-mode emission (a bucket is final — and emitted
    * — once the watermark passes its end). Late events older than the
    * watermark are dropped, never resurrect a closed bucket
    * (spec-proven). */
  def tumblingMetrics(events: DataFrame, size: String = "1 hour",
                      watermark: String = "1 hour",
                      key: org.apache.spark.sql.Column = lit("all"))
      : DataFrame = {
    import graft.ops.EventOps._
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .filter(isCommit)
      .groupBy(key.as("window_key"),
        window(col("event_time"), size))
      .agg(
        count(lit(1)).as("commits"),
        count(when(isSelection, 1)).as("selections"),
        count(when(isMiss, 1)).as("misses"))
      .select(col("window_key"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("commits"), col("selections"), col("misses"))
  }

  /** Session metrics via the built-in session window (T1): per gap-based
    * session, commit/selection counts. Watermark bounds state size — at
    * scale the state store holds only open sessions. `key` identifies
    * the producer stream (device/user) and becomes the shuffle/state
    * key. Streaming session windows require a DATA-DERIVED grouping key
    * (a literal constant-folds away and Spark rejects the resulting
    * global session aggregation) — pass e.g. a device-id column; the
    * constant default only serves batch use. */
  def sessionMetrics(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "1 hour",
                     key: org.apache.spark.sql.Column = lit("all"))
      : DataFrame = {
    import graft.ops.EventOps._
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .filter(isCommit)
      .groupBy(key.as("session_key"),
        session_window(col("event_time"), gap))
      .agg(
        count(lit(1)).as("commits"),
        count(when(isSelection, 1)).as("selections"),
        count(when(isMiss, 1)).as("misses"))
      .select(col("session_key"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("commits"), col("selections"), col("misses"))
  }

  /** Live flagship metrics: the analyze aggregation over a commit
    * stream, updating each micro-batch (complete output mode — the
    * result is one row, so "complete" is O(1) state: the running
    * partial aggregates). Pair with a console/memory sink for a live
    * dashboard of the reference's §3.1 metrics. */
  def streamingAnalyzeMetrics(events: DataFrame): DataFrame = {
    import graft.ops.EventOps._
    graft.queries.AnalyzeQuery.metricsFrame(events.filter(isCommit))
  }

  /** Idempotent micro-batch parquet sink via foreachBatch: each batch
    * overwrites its own `batch_id=<n>` directory, so a replayed batch
    * (failure between write and checkpoint commit) lands on the same
    * path instead of duplicating — exactly-once at directory
    * granularity, the standard pattern for non-transactional stores. */
  def writeBatchedParquet(df: DataFrame, outDir: String,
                          checkpointDir: String): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Stream-stream interval join (the streaming analogue of
    * `ops/RangeJoin`): attach each purchase to the clicks of the same
    * user within `window` before it. Both sides carry watermarks and
    * the join condition bounds event time on both ends, so Spark can
    * evict click state older than watermark + window — state is
    * O(in-flight window), not stream history. Inputs need columns
    * (user_id, p_time, purchase_id) and (c_user_id, c_time, click_id). */
  def purchaseAttributionStream(purchases: DataFrame, clicks: DataFrame,
                                window: String = "30 minutes",
                                watermark: String = "1 hour"): DataFrame =
    purchases.withWatermark("p_time", watermark)
      .join(clicks.withWatermark("c_time", watermark),
        expr(s"""user_id = c_user_id AND
                |c_time BETWEEN p_time - INTERVAL $window AND p_time"""
          .stripMargin))
      .select(col("purchase_id"), col("click_id"), col("user_id"))

  /** Streaming exact dedup for an ingest pipeline (the streaming
    * analogue of the batch d1 operator): drop rows whose content hash
    * was already seen, with state bounded by the event-time watermark —
    * `dropDuplicatesWithinWatermark` evicts hash keys older than the
    * watermark, so state is O(distinct keys per watermark window), not
    * O(stream history). Duplicates arriving later than the watermark
    * re-admit (the batch dedup downstream catches them — the standard
    * streaming-dedup + batch-compaction split at 100 TB ingest).
    * `eventTimeCol` must already be a timestamp column. */
  def dedupStream(df: DataFrame, contentCol: String, eventTimeCol: String,
                  watermark: String = "1 hour"): DataFrame =
    df.withColumn("content_hash",
        sha2(col(contentCol).cast("binary"), 256))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** JSONL append sink (T8/K3): the producer's own on-disk format. */
  def writeJsonlStream(df: DataFrame, outDir: String,
                       checkpointDir: String): StreamingQuery =
    df.writeStream
      .format("json")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
}
