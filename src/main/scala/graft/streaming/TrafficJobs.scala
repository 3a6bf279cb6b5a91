package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.functions.{BitEvent, Dgim, DgimBitAggregator}

/** Structured Streaming equivalents of the reference's two Flink jobs.
  *
  * Input: the parsed traffic frame from `TrafficSource.parse`
  * (value, event_ts, ts_sec). Output mirrors the reference sinks:
  *  - tumble: (window_end, count_estimate) keyed by window_end
  *    (StreamingJob.java:60-100)
  *  - hop:    (window_start, window_end, count_estimate)
  *    (SlidingWindowStreamingJob.java:70-121)
  *
  * Scale: event-time windows + watermark bound the state store; DGIM
  * state itself is O(log² W) per window via the mergeable aggregator —
  * this is the constant-memory path for unbounded streams, exactly DGIM's
  * reason to exist. Works under both `append` (production: finalized
  * windows only, state evicted past the watermark) and `complete`
  * (test harness) output modes.
  */
object TrafficJobs {

  private def dgimAgg(windowSeconds: Long) =
    udaf(new DgimBitAggregator(windowSeconds))

  /** Tumbling-window DGIM estimate; reference Job 1 (60 s tumble). */
  def tumbleDgim(parsed: DataFrame, size: String = "60 seconds",
      windowSeconds: Long = 60L, watermark: String = "2 minutes"): DataFrame =
    parsed
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), size))
      .agg(dgimAgg(windowSeconds)(col("value"), col("ts_sec")).as("count_estimate"))
      .select(col("window.end").as("window_end"), col("count_estimate"))

  /** Processing-time twin of [[tumbleDgim]] — the reference's literal
    * window semantics: both Flink jobs window on `PROCTIME()`
    * (StreamingJob.java:53, :85-99), i.e. rows bucket by ARRIVAL time,
    * while the DGIM sketch inside still folds the payload's event
    * timestamps. In Structured Streaming `current_timestamp()` is the
    * micro-batch start time, logged in the offsets WAL — so a replay
    * reproduces the same assignment. No watermark (proctime windows
    * close by wall clock, not event progress); run in update/complete
    * mode. The event-time jobs supersede this for determinism — kept as
    * the reference-semantics variant.
    */
  def tumbleDgimProctime(parsed: DataFrame, size: String = "60 seconds",
      windowSeconds: Long = 60L): DataFrame =
    parsed
      .withColumn("proc_ts", current_timestamp())
      .groupBy(window(col("proc_ts"), size))
      .agg(dgimAgg(windowSeconds)(col("value"), col("ts_sec")).as("count_estimate"))
      .select(col("window.end").as("window_end"), col("count_estimate"))

  /** Hop-window DGIM estimate; reference Job 2 (60 s size / 10 s slide). */
  def hopDgim(parsed: DataFrame, size: String = "60 seconds",
      slide: String = "10 seconds", windowSeconds: Long = 60L,
      watermark: String = "2 minutes"): DataFrame =
    parsed
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), size, slide))
      .agg(dgimAgg(windowSeconds)(col("value"), col("ts_sec")).as("count_estimate"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("count_estimate"))

  /** One upsert emission per window per micro-batch. `finalized` flips to
    * true when the watermark passes the window (state evicted) — the
    * event-time-timeout emission, mirroring an upsert sink's last write
    * for the key.
    */
  case class TrafficUpdate(window_end: Timestamp, count_estimate: Long,
    finalized: Boolean)

  /** The reference's upsert-sink semantics made explicit with
    * `flatMapGroupsWithState`: DGIM state lives in the state store keyed
    * by window_end; every micro-batch folds its new bits in (arrival
    * order — the reference's accumulate semantics) and RE-EMITS the
    * key's current estimate (update mode == upsert keyed by window_end,
    * StreamingJob.java:60-83's `upsert-kafka` sink). An event-time
    * timeout finalizes and evicts the window once the watermark passes.
    *
    * vs the `udaf` jobs above: same O(log² W) per-window state, but with
    * direct control of emission timing and state lifecycle — the shape
    * to use when the sink needs per-batch upserts rather than
    * append-on-finalize.
    */
  def upsertDgim(parsed: DataFrame, size: String = "60 seconds",
      windowSeconds: Long = 60L,
      watermark: String = "2 minutes"): Dataset[TrafficUpdate] = {
    implicit val stateEnc = Encoders.product[Dgim.State]
    implicit val outEnc = Encoders.product[TrafficUpdate]
    implicit val keyEnc = Encoders.TIMESTAMP
    implicit val rowEnc = Encoders.tuple(Encoders.TIMESTAMP,
      Encoders.STRING, Encoders.scalaLong)
    parsed
      .select(window(col("event_ts"), size)("end").as("we"),
        col("value"), col("ts_sec"))
      // watermark on the window-end key itself: the event-time timeout
      // then fires exactly when the watermark passes the window
      .withWatermark("we", watermark)
      .as[(Timestamp, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Dgim.State, TrafficUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: Timestamp, rows: Iterator[(Timestamp, String, Long)],
            state: GroupState[Dgim.State]) =>
          if (state.hasTimedOut) {
            val est = state.getOption.map(_.estimate).getOrElse(0L)
            state.remove()
            Iterator.single(TrafficUpdate(key, est, finalized = true))
          } else {
            val b = new Dgim.Builder(windowSeconds)
            state.getOption.foreach(b.loadFrom)
            rows.foreach { case (_, v, ts) =>
              if (Dgim.isOneBit(v)) b.add(ts)
            }
            val s = b.state
            state.update(s)
            state.setTimeoutTimestamp(key.getTime)
            Iterator.single(TrafficUpdate(key, s.estimate, finalized = false))
          }
      }
  }

  /** Keyed-upsert materialization of [[upsertDgim]]'s update stream — the
    * reference's upsert-Kafka sink (StreamingJob.java:60-83) re-expressed
    * without a broker: `foreachBatch` appends each micro-batch's upserts
    * as (batch_id, window_end, count_estimate, finalized) rows — exactly
    * the changelog a compacted Kafka topic keyed by window_end would
    * hold. The write is a distributed parquet append (no driver
    * materialization); in production the batch body becomes a Kafka
    * produce with key = window_end, or a Delta/Iceberg MERGE.
    */
  def upsertToLog(updates: Dataset[TrafficUpdate], logDir: String,
      checkpoint: String): StreamingQuery =
    updates.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(logDir)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Last-write-wins read of the upsert log — what a consumer of the
    * compacted topic (or the keyed upsert table) observes: one row per
    * window_end, the latest batch's value winning. One shuffle on the
    * key; at scale this is the standard changelog→snapshot compaction.
    */
  def compactedView(spark: SparkSession, logDir: String): DataFrame = {
    val w = Window.partitionBy(col("window_end"))
      .orderBy(col("batch_id").desc, col("finalized").desc)
    spark.read.parquet(logDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("window_end", "count_estimate", "finalized")
  }
}
