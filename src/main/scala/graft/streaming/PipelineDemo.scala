package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Executable end-to-end example of the streaming surface — the
  * reference's bronze -> silver chain (pos-dlt `03_Bronze-to-Silver
  * ETL.py`) on local files:
  *
  *   file drop (CSV)  --FileIngest-->  bronze stream
  *   bronze           --Dedupe-------> exactly-once silver
  *   silver           --runMerge-----> latest-state graft table (upsert)
  *
  * Run: sbt "runMain graft.streaming.PipelineDemo"
  * Prints the deduped row count and the final per-key state.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = Files.createTempDirectory("graft_demo")
    val in = Files.createDirectories(root.resolve("incoming")).toString
    def drop(name: String, rows: String*): Unit =
      Files.write(Paths.get(in, name),
        ("trans_id,item_id,date_time,quantity" +: rows).mkString("\n")
          .getBytes(StandardCharsets.UTF_8))

    // two files, with a duplicated transaction line across them
    drop("batch1.csv",
      "t1,100,2024-01-01 08:00:00,5",
      "t1,100,2024-01-01 08:00:00,5", // in-file duplicate
      "t2,200,2024-01-01 08:30:00,3")
    drop("batch2.csv",
      "t1,100,2024-01-01 08:00:00,5", // retransmit of t1
      "t3,100,2024-01-01 09:00:00,-2")

    val schema = StructType(Seq(
      StructField("trans_id", StringType),
      StructField("item_id", IntegerType),
      StructField("date_time", TimestampType),
      StructField("quantity", IntegerType)))

    val bronze = FileIngest.stream(spark, in, schema,
      format = "csv", maxFilesPerTrigger = Some(1),
      options = Map("header" -> "true"))
    val silver = Dedupe.exactlyOnce(bronze,
      keys = Seq("trans_id", "item_id"), eventTimeCol = "date_time")

    val state = root.resolve("state").toString
    val q = StatsTableSink.runMerge(silver, state, keyCols = Seq("item_id"),
      seqCols = Seq("date_time"), statsCols = Seq("item_id"),
      checkpointDir = root.resolve("ckpt").toString)
    q.awaitTermination()

    println("=== latest state per item (expect item 100 -> t3/-2, item 200 -> t2/3) ===")
    StatsTableSink.readCurrent(spark, state).orderBy("item_id").show(truncate = false)
    spark.stop()
  }
}
