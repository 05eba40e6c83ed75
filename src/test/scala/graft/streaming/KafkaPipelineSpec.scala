package graft.streaming

import graft.SparkSpec
import graft.operators.PayloadParser
import graft.sources.KafkaSource
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Bronze->silver Kafka chain as ONE pipeline, end to end.
  *
  * The environment has no broker or kafka connector jar, so the
  * broker boundary is replaced by a [[MemoryStream]] whose rows carry
  * the EXACT schema `spark.readStream.format("kafka")` produces —
  * (key, value, topic, partition, offset, timestamp, timestampType)
  * — and everything downstream of that boundary is the real
  * production chain: [[KafkaSource.parsePayload]] (payload decode +
  * item explode, pos-dlt `03_Bronze-to-Silver ETL.py:283-324`) ->
  * [[Dedupe.exactlyOnce]] -> [[StatsTableSink.runMerge]] into a
  * graft table (`03:375-384`), orchestrated by
  * [[StreamingPipeline]]. KafkaSourceSpec tests the option block and
  * the payload transform in isolation; this proves they compose.
  */
object KafkaPipelineSpec {
  /** One record of the Kafka source's fixed output schema (top-level
    * so the product encoder derives without an outer reference).
    */
  final case class KafkaRecord(
      key: Array[Byte], value: Array[Byte], topic: String,
      partition: Int, offset: Long, timestamp: Timestamp,
      timestampType: Int)
}

class KafkaPipelineSpec extends SparkSpec {
  import KafkaPipelineSpec.KafkaRecord

  private def txn(transId: String, storeId: Int, dateTime: String,
      items: (Int, Int)*): String =
    s"""{"trans_id":"$transId","store_id":$storeId,"date_time":"$dateTime",
       |"change_type_id":1,"items":[${items.map { case (i, q) =>
        s"""{"item_id":$i,"quantity":$q}"""
      }.mkString(",")}]}""".stripMargin.replace("\n", "")

  test("kafka-shaped MemoryStream -> parsePayload -> dedup -> CDC state, as one pipeline") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext

    val input = MemoryStream[KafkaRecord]
    var offset = -1L
    def publish(payloads: String*): Unit = payloads.foreach { p =>
      offset += 1
      input.addData(KafkaRecord(
        key = null, value = p.getBytes("UTF-8"), topic = "pos-txn",
        partition = 0, offset = offset,
        timestamp = Timestamp.valueOf("2024-01-01 10:00:01"),
        timestampType = 0))
    }

    // the harness frame must be indistinguishable from the real
    // source: same column names, same types, same order (nullability
    // is encoder detail and intentionally not compared)
    assert(input.toDF().schema.map(f => (f.name, f.dataType)) ===
      Seq("key" -> BinaryType, "value" -> BinaryType,
        "topic" -> StringType, "partition" -> IntegerType,
        "offset" -> LongType, "timestamp" -> TimestampType,
        "timestampType" -> IntegerType))

    val state = tmpDir("kp_state") + "/t"

    val p = new StreamingPipeline(s, tmpDir("kp_root"))
    p.source("bronze")(input.toDF())
    p.table("silver", "bronze") { d =>
      Dedupe.exactlyOnce(
        KafkaSource.parsePayload(d("bronze"), PayloadParser.txnSchema,
          itemsField = Some("items")),
        keys = Seq("trans_id", "item_id"), eventTimeCol = "date_time")
        .select("trans_id", "store_id", "date_time", "item_id", "quantity")
    }
    p.sink("state", "silver")((df, ckpt) => StatsTableSink.runMerge(df, state,
      keyCols = Seq("store_id", "item_id"), seqCols = Seq("date_time"),
      statsCols = Seq("store_id", "item_id"), checkpointDir = ckpt))

    // batch 1: two transactions, one retransmitted verbatim (the
    // at-least-once broker redelivery dedup must absorb)
    val t1 = txn("t1", 5, "2024-01-01 08:00:00", 11 -> 2, 12 -> 1)
    publish(t1, t1, txn("t2", 5, "2024-01-01 08:30:00", 11 -> 7))
    p.runOnce()

    // silver: item-level rows, duplicates gone — t1 explodes to items
    // 11+12, t2 to item 11; the redelivered t1 adds nothing
    val silver1 = p.readTable("silver")
    assert(silver1.count() === 3)
    assert(silver1.select("trans_id").distinct().count() === 2)
    // CDC state: latest quantity per (store, item) by event time
    val v1 = StatsTableSink.readCurrent(s, state).collect()
      .map(r => r.getAs[Int]("item_id") -> r.getAs[Int]("quantity")).toMap
    assert(v1 === Map(11 -> 7, 12 -> 1))

    // batch 2: another redelivery of t1 (still inside the watermark)
    // plus a genuinely new transaction updating item 12
    publish(t1, txn("t3", 5, "2024-01-01 09:00:00", 12 -> 9))
    p.runOnce()
    assert(p.readTable("silver").count() === 4) // only t3's row landed
    val v2 = StatsTableSink.readCurrent(s, state).collect()
      .map(r => r.getAs[Int]("item_id") -> r.getAs[Int]("quantity")).toMap
    assert(v2 === Map(11 -> 7, 12 -> 9))

    // the run history is on the event log: silver saw 4 inputs across
    // both cascades and emitted 4 deduped rows... input rows at the
    // SILVER flow are bronze's stored records (3 + 2 kafka messages)
    val silverEvents = p.eventLog.collect()
      .filter(_.getAs[String]("table_name") == "silver")
    assert(silverEvents.map(_.getAs[Long]("rows_in")).sum === 5)
  }
}
