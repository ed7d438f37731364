package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.Cdc

/** Structured Streaming materializer — the Spark-native re-architecture
  * of the reference's sink path (SURVEY.md §3.2; execution model per
  * "Structured Streaming: A Declarative API for Real-Time Applications
  * in Apache Spark", SIGMOD 2018):
  *
  * Kafka Connect sink (adx-sink-config.json)          → this engine
  *  - consume topic, 2 tasks, stored offsets          → readStream + checkpointLocation
  *  - unwrap SMT (ExtractNewRecordState)              → Cdc.decode + Cdc.unwrap
  *  - flush.interval.ms=30000 batching                → Trigger.ProcessingTime(30s)
  *  - at-least-once + ADX ingest                      → idempotent per-batch-id writes
  *                                                      (upgrades to exactly-once)
  *  - ADX ingestionbatching caps (README.md:128 —     → source rate limits bound each
  *    MaximumNumberOfItems=500, RawDataSizeMB=1024)     micro-batch: maxOffsetsPerTrigger
  *                                                      (kafka) / maxFilesPerTrigger (file
  *                                                      stand-in) — config, not code
  *
  * Ingress contract: any streaming DataFrame with a string `value` column
  * holding Debezium envelope JSON — `spark.readStream.format("kafka")` in
  * production, MemoryStream/file source in tests. The engine deliberately
  * starts at the topic (SURVEY.md §3.1): everything upstream (Postgres,
  * WAL, Debezium) is outside the engine boundary.
  *
  * Scale notes: the pipeline is stateless map-side work (parse, project,
  * cast) — parallelism equals source partitions, no shuffle at all unless
  * dedup/aggregation is enabled. Replay dedup uses event-time watermarks
  * so state is bounded at any ingest volume. The upsert pipeline
  * ([[startUpsert]]) keeps no streaming state either: the versioned sink
  * table holds the latest state per key, tombstones included, and each
  * micro-batch's only shuffle is the sink's keyed merge.
  */
object Materializer {

  /** Decode with at-least-once replay protection: duplicate envelopes
    * (same source LSN + op) are dropped within the event-time watermark —
    * bounded state, unbounded stream. `dropDuplicatesWithinWatermark`
    * evicts a key once the watermark passes it; plain `dropDuplicates`
    * evicts only when the event-time column is a dedup key, so its state
    * would grow with every event. */
  def dedupedEvents(envelopes: DataFrame, watermark: String = "10 minutes"): DataFrame =
    Cdc.decode(envelopes)
      .withColumn("event_ts", timestamp_millis(col("payload.ts_ms")))
      .withColumn("lsn", col("payload.source.lsn"))
      .withColumn("op", col("payload.op"))
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("lsn", "op")

  /** Start the materialization query: 30 s micro-batches (the reference's
    * flush.interval.ms), each batch appended to `outPath/batch=<id>` with
    * overwrite — re-delivered batches land on the same path, making the
    * sink idempotent and the pipeline exactly-once end-to-end. A
    * checkpoint written by the earlier `dropDuplicates` form of the
    * replay dedup holds a different state operator and cannot be
    * resumed; start such a stream on a fresh checkpoint. */
  def start(envelopes: DataFrame, outPath: String, checkpointPath: String,
            trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
            dropDeletes: Boolean = true): StreamingQuery =
    Cdc.sinkProjection(Cdc.unwrap(dedupedEvents(envelopes), dropDeletes))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** The full upsert pipeline, stateless: envelopes → one
    * [[StatefulLatestState.KeyState]]-shaped row per change event
    * (`deleted = op == "d"`) → MERGE-style versioned table
    * ([[Sinks.upsertByKey]], version = micro-batch id, so batch retries
    * overwrite their own output — exactly-once on at-least-once
    * delivery). The table is the only latest-state store: it keeps
    * tombstones, so a stale replay loses to a delete across batches and
    * restarts without a state store, and `readLatest(tablePath)` is
    * always a complete, queryable current-state snapshot.
    * Do not resume a checkpoint and table written by the earlier
    * stateful form of this pipeline: its versions hold no tombstones
    * (they lived in its state store), so a stale replay of a key deleted
    * before the switch would come back. Rebuild such a table from the
    * envelope log into a fresh table and checkpoint instead. */
  def startUpsert(envelopes: DataFrame, tablePath: String,
                  checkpointPath: String,
                  trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    Cdc.decode(envelopes)
      .select(
        coalesce(col("payload.after.orderid"), col("payload.before.orderid")).as("orderid"),
        col("payload.source.lsn").as("lsn"),
        (col("payload.op") === "d").as("deleted"),
        // a delete's `after` is null: its fields are placeholders
        // nothing reads, since readLatest hides tombstones
        coalesce(col("payload.after.custid"), lit(0)).as("custid"),
        coalesce(col("payload.after.amount"), lit(0)).as("amount"),
        coalesce(col("payload.after.city"), lit("")).as("city"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sinks.upsertByKey(batch.sparkSession, batch, tablePath,
          newVersion = batchId)
      }
      .start()

  /** Event-time tumbling-window aggregate over the change stream (the
    * streaming form of the reference's `summarize ... by city`): counts
    * and sums per city per window, watermarked so late data is bounded. */
  def windowedCityStats(envelopes: DataFrame,
                        window_ : String = "1 minute",
                        watermark: String = "5 minutes"): DataFrame =
    Cdc.decode(envelopes)
      .filter(col("payload.op") =!= "d")
      .select(
        timestamp_millis(col("payload.ts_ms")).as("event_ts"),
        col("payload.after.city").as("city"),
        col("payload.after.amount").as("amount"))
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("city"))
      .agg(count(lit(1)).as("orders"), sum(col("amount")).as("total"))
}
