package graft.sources

import graft.SparkSpec
import graft.sources.MergeClause._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact Spark job counts for one op of each write kind on a tiny
  * table. A write gathers its manifest stats in its own write tasks
  * and derives its table schema from the frame, so a reintroduced
  * read-back of either (a stats re-scan, a footer schema inference)
  * shows up here as extra jobs.
  */
class JobCountSpec extends SparkSpec {

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private def batch(from: Long, n: Long): DataFrame =
    spark.range(from, from + n, 1, 2)
      .select(col("id"), (col("id") % 3).cast("int").as("p"),
        (col("id") * 2).as("v"))

  private def flatTable(name: String): String = {
    val t = tmpDir(name)
    DataSkipping.writeWithStats(batch(0, 20), t, Seq("id", "v"))
    t
  }

  test("write ops run a pinned number of Spark jobs") {
    val flat = flatTable("jc-flat")
    val counts = Seq(
      "fresh flat write" -> jobsOf(flatTable("jc-fresh")),
      "fresh partitioned write" -> jobsOf(DataSkipping.writeWithStats(
        batch(0, 20), tmpDir("jc-fresh-part"), Seq("id", "v"), Nil,
        partitionBy = Seq("p"))),
      "flat append" -> jobsOf(
        DataSkipping.appendWithStats(batch(100, 10), flat, Seq("id", "v"))),
      "partitioned append" -> {
        val t = tmpDir("jc-part")
        DataSkipping.writeWithStats(batch(0, 20), t, Seq("id", "v"), Nil,
          partitionBy = Seq("p"))
        jobsOf(DataSkipping.appendWithStats(batch(100, 10), t,
          Seq("id", "v")))
      },
      "live overwrite" -> {
        val t = flatTable("jc-overwrite")
        jobsOf(DataSkipping.writeWithStats(batch(500, 10), t, Seq("id", "v")))
      },
      "compactTable" -> {
        val t = flatTable("jc-compact")
        DataSkipping.appendWithStats(batch(100, 10), t, Seq("id", "v"))
        jobsOf(DataSkipping.compactTable(spark, t))
      },
      "zorder" -> {
        val t = flatTable("jc-zorder")
        jobsOf(DataSkipping.zorderTable(spark, t, Seq("id", "v"), 2))
      },
      "mergeInto" -> {
        val t = flatTable("jc-merge")
        jobsOf(DataSkipping.mergeInto(spark, t, batch(15, 10), Seq("id"),
          Seq(MatchedUpdate(None, Map("v" -> col("s.v"))),
            NotMatchedInsert(None))))
      })
    assert(counts.toMap == Map(
      "fresh flat write" -> 1,
      "fresh partitioned write" -> 1,
      "flat append" -> 1,
      "partitioned append" -> 1,
      "live overwrite" -> 5,
      "compactTable" -> 3,
      "zorder" -> 7,
      "mergeInto" -> 15), counts.mkString(", "))
  }
}
