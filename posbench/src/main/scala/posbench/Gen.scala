package posbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the POS data model (`store`,
  * `inventory_change_type`, `item` ids, `inventory_change`,
  * `inventory_snapshot`). Attributes are hash-mixed from the seed and a
  * row id, the way `graft.sources.EventSimulator` derives them: on the
  * JVM with [[Gen.mix]] for the files a stream receives, and with
  * Spark's `xxhash64` for bulk frames. The same seed gives the same
  * rows; the program under test receives only the generated files and
  * frames.
  */
final case class Gen(seed: Long, stores: Int = 20, items: Int = 1000) {
  /** The store whose BOPIS changes the gold query excludes. */
  val onlineStore: Int = stores
  /** Change types; id 1 is BOPIS. */
  val changeTypes: Seq[(Int, String)] =
    Seq(0 -> "sale", 1 -> "bopis", 2 -> "return", 3 -> "restock")

  /** 2024-01-01 00:00 UTC, in microseconds. */
  val epochMicros: Long = 1704067200L * 1000000L

  def mix(salt: Long, i: Long): Long = Gen.mix(seed, salt, i)

  def storeDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (1 to stores).map(s => (s, if (s == onlineStore) "online" else f"store-$s%03d"))
      .toDF("store_id", "name")
  }

  def changeTypeDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    changeTypes.toDF("change_type_id", "change_type")
  }

  /** Changes that count toward inventory: everything except BOPIS
    * orders of the online store (reference `04`, the NOT(online AND
    * bopis) exclusion), through the two dimension joins.
    */
  def countedChanges(spark: SparkSession, changes: DataFrame): DataFrame =
    changes
      .join(broadcast(storeDf(spark)), "store_id")
      .join(broadcast(changeTypeDf(spark)), "change_type_id")
      .filter(!(col("name") === "online" && col("change_type") === "bopis"))
      .select("store_id", "item_id", "date_time", "quantity")

  // ---- bulk frames (Spark-side mixing) ----

  private def h(salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(Long.MaxValue))

  /** `n` inventory-change rows, ids [from, from + n), spread over
    * `partitions` partitions in id order. Row i is line i % 3 of
    * transaction i / 3 and happens `stepMicros` after row i - 1, so
    * every partition covers one contiguous time range. `transId` maps
    * the transaction number to its id string.
    */
  def changes(spark: SparkSession, from: Long, n: Long, partitions: Int,
      stepMicros: Long, transId: Column => Column): DataFrame = {
    val id = col("id")
    val trans = floor(id / 3)
    val kind = pmod(h(3, id), lit(16))
    spark.range(from, from + n, 1, partitions).select(
      transId(trans).as("trans_id"),
      Gen.itemOf(trans, pmod(id, lit(3)), items).as("item_id"),
      (pmod(h(1, trans), lit(stores)) + 1).cast("int").as("store_id"),
      timestamp_micros(lit(epochMicros) + id * stepMicros).as("date_time"),
      // mostly sales; some BOPIS orders, returns and restocks
      when(kind < 11, -(pmod(h(4, id), lit(3)) + 1))
        .when(kind < 13, -lit(1))
        .when(kind < 14, lit(1))
        .otherwise(pmod(h(4, id), lit(40)) + 10).cast("int").as("quantity"),
      when(kind < 11, 0).when(kind < 13, 1).when(kind < 14, 2).otherwise(3)
        .cast("int").as("change_type_id"))
  }

  /** Snapshot counts for every (store, item), `copies` times, copy c
    * taken `c * stepMicros` after `atMicros`.
    */
  def snapshots(spark: SparkSession, copies: Int, atMicros: Long,
      stepMicros: Long, partitions: Int): DataFrame = {
    val keys = stores.toLong * items
    val id = col("id")
    val key = pmod(id, lit(keys))
    val copy = floor(id / keys)
    spark.range(0, keys * copies, 1, partitions).select(
      (floor(key / items) + 1).cast("int").as("store_id"),
      (pmod(key, lit(items)) + 1).cast("int").as("item_id"),
      (pmod(h(11, id), lit(900)) + 1).cast("int").as("employee_id"),
      timestamp_micros(lit(atMicros) + copy * stepMicros + pmod(h(12, id), lit(stepMicros / 2)))
        .as("date_time"),
      (pmod(h(13, id), lit(200)) + 20).cast("int").as("quantity"))
  }
}

object Gen {
  val changeSchema: StructType = StructType(Seq(
    StructField("trans_id", StringType),
    StructField("item_id", IntegerType),
    StructField("store_id", IntegerType),
    StructField("date_time", TimestampType),
    StructField("quantity", IntegerType),
    StructField("change_type_id", IntegerType)))

  val snapshotSchema: StructType = StructType(Seq(
    StructField("store_id", IntegerType),
    StructField("item_id", IntegerType),
    StructField("employee_id", IntegerType),
    StructField("date_time", TimestampType),
    StructField("quantity", IntegerType)))

  /** SplitMix64 finaliser over (seed, salt, i); non-negative. */
  def mix(seed: Long, salt: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  /** Item of line `line` in transaction `trans`: distinct per line. */
  def itemOf(trans: Column, line: Column, items: Int): Column =
    (pmod(trans * 7919 + line * 131, lit(items.toLong)) + 1).cast("int")

  def itemOf(trans: Long, line: Int, items: Int): Int =
    (Math.floorMod(trans * 7919 + line * 131, items.toLong) + 1).toInt

  /** Order-independent fingerprint of a frame: row count and the sum
    * of every row's 64-bit hash.
    */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }
}
