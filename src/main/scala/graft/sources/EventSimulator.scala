package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic POS event generator — the reference's data simulator
  * (pos-dlt `02_Data Generation.py`: replays inventory-change CSVs
  * as grouped JSON transaction documents into the event hub at
  * wall-clock pace) re-expressed on Spark's built-in `rate` source.
  *
  * The `rate` source produces (timestamp, value) at `rowsPerSecond`
  * with exactly-once offsets; every transaction attribute is derived
  * DETERMINISTICALLY from `value` (xxhash64-mixed), so a simulation
  * is reproducible across restarts and engines — the property the
  * reference gets by replaying recorded files. Output rows have the
  * reference's inventory-change shape and chain directly into
  * `PayloadParser`/`Transactionalize`/`Dedupe`/`StatsTableSink.runMerge` for
  * end-to-end pipeline rehearsal without external infrastructure.
  *
  * Scale: the rate source partitions generation across tasks
  * (`numPartitions`); everything downstream is per-row expression
  * work — no state, no shuffle.
  */
object EventSimulator {

  /** Streaming frame of synthetic inventory-change transactions:
    * trans_id, store_id (1..nStores), item_id (1..nItems),
    * date_time, quantity (1..5, occasionally negative returns),
    * change_type_id (0..3).
    */
  def stream(
      spark: SparkSession,
      rowsPerSecond: Int = 100,
      nStores: Int = 10,
      nItems: Int = 1000,
      numPartitions: Int = 1): DataFrame =
    shape(spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .option("numPartitions", numPartitions.toString)
      .load(), nStores, nItems)

  /** Bounded batch variant (ids 0 until n) for tests and backfills —
    * identical attribute derivation, so a backfill and a live stream
    * agree on every NON-TIME column for the same ids (the stream
    * stamps wall-clock arrival time; the batch stamps a
    * deterministic one-second-per-id clock from `baseEpochSeconds`,
    * making two backfills byte-identical, timestamps included).
    */
  def batch(spark: SparkSession, n: Long,
      nStores: Int = 10, nItems: Int = 1000,
      baseEpochSeconds: Long = 1704067200L /* 2024-01-01 UTC */): DataFrame =
    shape(spark.range(n).select(
      timestamp_seconds(lit(baseEpochSeconds) + col("id")).as("timestamp"),
      col("id").as("value")),
      nStores, nItems)

  private def shape(rate: DataFrame, nStores: Int, nItems: Int): DataFrame = {
    // pmod, not abs: abs(Long.MinValue) IS Long.MinValue, which
    // would put one-in-2^64 rows outside the documented ranges
    def mix(seed: Int): org.apache.spark.sql.Column =
      pmod(xxhash64(lit(seed), col("value")), lit(Long.MaxValue))
    rate.select(
      concat(lit("t"), col("value")).as("trans_id"),
      (mix(1) % nStores + 1).cast("int").as("store_id"),
      (mix(2) % nItems + 1).cast("int").as("item_id"),
      col("timestamp").as("date_time"),
      // mostly small sales; every ~8th record is a return (negative)
      when(mix(3) % 8 === 0, -(mix(4) % 3 + 1))
        .otherwise(mix(4) % 5 + 1).cast("int").as("quantity"),
      (mix(5) % 4).cast("int").as("change_type_id"))
  }
}
