package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

// Local sources for the wire-format event stream (SURVEY S5: the
// reference consumes Kinesis via `GetRecords`; the shard-store stream
// is `format("kinesis-sim")`). Each yields a streaming DataFrame with
// one string `value` column — one JSON event per record
// (functions.js:211) — which `MouseStream.parse` turns into typed events.

/** Replayable directory of JSON-lines files — the offline stand-in
  * for a stream; also the backfill path (the same pipeline replays
  * history by pointing at the archive). */
final class FileJsonSource(dir: String, maxFilesPerTrigger: Int = 10) {
  def load(spark: SparkSession): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
}

/** Synthetic load at a fixed rate (used by Demo). */
final class RateJsonSource(eventsPerSec: Long, users: Int = 1000) {
  def load(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.readStream.format("rate")
      .option("rowsPerSecond", eventsPerSec.toString)
      .load()
      .select(to_json(struct(
        concat(lit("u"), pmod(col("value"), lit(users))).as("user_id"),
        pmod(col("value"), lit(640)).cast("int").as("x"),
        pmod(col("value") * 7, lit(480)).cast("int").as("y"),
        unix_millis(col("timestamp")).as("time"))).as("value"))
  }
}

/** Adapter for the Kinesis connector's record schema: connectors
  * deliver `data: binary` (the PutRecords payload —
  * reference functions.js:211 writes UTF-8 JSON) plus
  * `partitionKey`, `sequenceNumber`, `approximateArrivalTimestamp`.
  * This projects that shape onto the engine's wire contract
  * (`value: string`), keeping the partition key for
  * ordering/diagnostics. Works on any DataFrame with those columns,
  * so tests exercise it with a synthetic frame and production plugs
  * in the real connector stream unchanged. */
object KinesisRecords {
  def toWire(records: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    records.select(
      col("data").cast("string").as("value"),
      col("partitionKey").as("partition_key"))
  }
}
