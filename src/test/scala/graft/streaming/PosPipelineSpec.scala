package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{Expectations, Inventory}
import org.apache.spark.sql.functions._

/** The full reference DAG expressed through the Pipeline DSL:
  * bronze (events) -> silver (typed, quality-gated) -> gold
  * (current inventory), with the gold output matching the flagship
  * query bit-for-bit. This is the "user of the reference could
  * switch" proof at the pipeline level, not just per-operator.
  */
class PosPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bronze->silver->gold DAG reproduces the flagship inventory query") {
    val s = spark
    val p = new Pipeline()
    p.table("bronze") { _ => Tables.events(s, sf) }
    p.tableWithExpectations("silver", Seq("bronze"),
      Seq(Expectations.ruleOrDrop("value_not_null", col("value").isNotNull),
        Expectations.rule("ts_recent", col("ts") >= lit("2024-01-01")))) { d =>
      d("bronze").select("event_id", "ts", "user_id", "event_type", "value")
    }
    p.table("gold", "silver") { d =>
      Inventory.currentInventoryOverEvents(s, d("silver"))
    }

    val built = p.run()
    val viaDsl = built("gold").collect().map(_.toString).sorted.toSeq
    val direct = Inventory.currentInventoryOverEvents(s, Tables.events(s, sf))
      .collect().map(_.toString).sorted.toSeq
    assert(viaDsl === direct)
    assert(viaDsl.nonEmpty)
  }

  test("streaming DSL: file-stream -> dedup -> CDC-upsert reproduces the flagship query") {
    val s = spark
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val events = Tables.events(s, sf).select(cols.head, cols.tail: _*)

    // drop the events as CSV files with ts as a micros long — no
    // timestamp-format round-trip to get wrong
    val dropDir = tmpDir("sp_drop")
    val toDrop = events.select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    toDrop.coalesce(1).write.mode("overwrite").option("header", "true").csv(dropDir)

    val state = tmpDir("sp_state") + "/t"

    val p = new StreamingPipeline(s, tmpDir("sp_root"))
    p.source("bronze")(FileIngest.stream(s, dropDir, toDrop.schema,
      format = "csv", options = Map("header" -> "true")))
    p.table("silver", "bronze") { d =>
      Dedupe.exactlyOnce(
        d("bronze").withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us"),
        keys = Seq("event_id"), eventTimeCol = "ts")
    }
    p.sink("state", "silver")((df, ckpt) => StatsTableSink.runMerge(df, state,
      keyCols = Seq("event_id"), seqCols = Seq("ts"), statsCols = Seq("event_id"),
      checkpointDir = ckpt))

    val built = p.runOnce()
    val silverCount = built("silver").count()
    assert(silverCount === events.count())

    def gold(df: org.apache.spark.sql.DataFrame) =
      Inventory.currentInventoryOverEvents(s, df.select(cols.head, cols.tail: _*))
        .collect().map(_.toString).sorted.toSeq
    val viaDsl = gold(StatsTableSink.readCurrent(s, state))
    val direct = gold(events)
    assert(viaDsl === direct)
    assert(viaDsl.nonEmpty)

    // retransmit the newest event (inside the watermark): a second
    // cascade must process ONLY the new file and dedup it away
    val newest = toDrop.orderBy(col("ts_us").desc).limit(1)
    newest.coalesce(1).write.mode("append").option("header", "true").csv(dropDir)
    p.runOnce()
    assert(p.readTable("silver").count() === silverCount)
    assert(gold(StatsTableSink.readCurrent(s, state)) === direct)
  }

  test("streaming DSL continuous mode: drop -> drain -> assert, twice, then stop") {
    val s = spark
    import s.implicits._
    val dropDir = tmpDir("spc_drop")
    def drop(name: String, rows: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dropDir, name),
        ("trans_id,item_id,date_time,quantity" +: rows).mkString("\n").getBytes)

    drop("b1.csv",
      "t1,100,2024-01-01 08:00:00,5",
      "t1,100,2024-01-01 08:00:00,5", // in-file duplicate
      "t2,200,2024-01-01 08:30:00,3")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("trans_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("item_id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("date_time",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("quantity",
        org.apache.spark.sql.types.IntegerType)))

    val state = tmpDir("spc_state") + "/t"

    val p = new StreamingPipeline(s, tmpDir("spc_root"))
    p.source("bronze")(FileIngest.stream(s, dropDir, schema,
      format = "csv", options = Map("header" -> "true")))
    p.table("silver", "bronze") { d =>
      Dedupe.exactlyOnce(d("bronze"),
        keys = Seq("trans_id", "item_id"), eventTimeCol = "date_time")
    }
    p.sink("state", "silver")((df, ckpt) => StatsTableSink.runMerge(df, state,
      keyCols = Seq("item_id"), seqCols = Seq("date_time"), statsCols = Seq("item_id"),
      checkpointDir = ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100)))

    val run = p.start()
    try {
      run.processAllAvailable()
      val v1 = StatsTableSink.readCurrent(s, state).collect()
        .map(r => r.getAs[Int]("item_id") -> r.getAs[Int]("quantity")).toMap
      assert(v1 === Map(100 -> 5, 200 -> 3))

      drop("b2.csv",
        "t1,100,2024-01-01 08:00:00,5", // retransmit, must dedup
        "t3,100,2024-01-01 09:00:00,-2")
      run.processAllAvailable()
      assert(p.readTable("silver").count() === 3) // t1, t2, t3 once each
      val v2 = StatsTableSink.readCurrent(s, state).collect()
        .map(r => r.getAs[Int]("item_id") -> r.getAs[Int]("quantity")).toMap
      assert(v2 === Map(100 -> -2, 200 -> 3))
    } finally run.stopAll()
  }
}
