package graft.streaming

import graft.SparkSpec
import graft.sources.DataSkipping
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

class StatsTableSinkSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  test("streamed batches land as named manifest commits; restart drains only new data; pruning works") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("stsink_src")
    val table = tmpDir("stsink_tbl") + "/t"
    val ckpt = tmpDir("stsink_ckpt")

    (0L until 500L).map(i => (i, i * 2)).toDF("id", "v")
      .coalesce(2).write.mode("append").parquet(srcDir)
    val q1 = StatsTableSink.run(
      FileIngest.stream(s, srcDir, schema, format = "parquet"),
      table, Seq("id"), ckpt)
    q1.awaitTermination()

    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 500)
    val manifests = new java.io.File(
        new java.net.URI(DataSkipping.manifestDir(s, table)).getPath)
      .listFiles().map(_.getName).filter(_.startsWith("commit-")).toSeq
    assert(manifests.nonEmpty, "batch must commit under its deterministic marker name")

    // restart with new source data: only the new files drain
    (500L until 800L).map(i => (i, i * 2)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = StatsTableSink.run(
      FileIngest.stream(s, srcDir, schema, format = "parquet"),
      table, Seq("id"), ckpt)
    q2.awaitTermination()

    val ids = DataSkipping.readSkipping(s, table, lit(true))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 800L).toSeq, "restart must not duplicate or drop")

    // the streamed table prunes like any stats table
    val (kept, all) = DataSkipping.prunedFiles(s, table, col("id") >= 600L)
    assert(kept.size < all.size, s"streamed manifest must prune: $kept of $all")
    assert(DataSkipping.readSkipping(s, table, col("id") >= 600L).count() === 200)
  }

  test("a replayed batch (same commit name) is skipped: exactly-once to manifest readers") {
    val s = spark
    import s.implicits._
    val table = tmpDir("stsink_replay") + "/t"
    StatsTableSink.ensureTable(s, table, schema, Seq("id"))

    val batch = (0L until 100L).map(i => (i, i)).toDF("id", "v")
    assert(DataSkipping.appendWithStats(batch, table, Seq("id"),
      commitName = Some("commit-batch7")))
    // at-least-once delivery replays the SAME batch id
    assert(!DataSkipping.appendWithStats(batch, table, Seq("id"),
      commitName = Some("commit-batch7")), "replay must be skipped, not re-applied")
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 100)
    // a genuinely new batch still commits
    assert(DataSkipping.appendWithStats(
      (100L until 150L).map(i => (i, i)).toDF("id", "v"), table, Seq("id"),
      commitName = Some("commit-batch8")))
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 150)
    // an EMPTY batch still writes its marker (the marker IS the
    // commit): the replay short-circuits
    assert(DataSkipping.appendWithStats(
      batch.limit(0), table, Seq("id"), commitName = Some("commit-batch9")))
    assert(!DataSkipping.appendWithStats(
      batch.limit(0), table, Seq("id"), commitName = Some("commit-batch9")))
    // mismatched statsCols are rejected before anything is written
    intercept[IllegalArgumentException] {
      DataSkipping.appendWithStats(batch, table, Seq("v"),
        commitName = Some("commit-batch10"))
    }
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 150)
  }

  test("two writers (distinct checkpoints) into one table never collide on batch ids") {
    val s = spark
    import s.implicits._
    val srcA = tmpDir("stsink_two_a")
    val srcB = tmpDir("stsink_two_b")
    val table = tmpDir("stsink_two_tbl") + "/t"
    (0L until 100L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcA)
    (1000L until 1100L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcB)
    // both streams drain batch id 0 — marker names must not collide
    StatsTableSink.run(FileIngest.stream(s, srcA, schema, format = "parquet"),
      table, Seq("id"), tmpDir("stsink_two_ca")).awaitTermination()
    StatsTableSink.run(FileIngest.stream(s, srcB, schema, format = "parquet"),
      table, Seq("id"), tmpDir("stsink_two_cb")).awaitTermination()
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 200,
      "the second writer's batch 0 must not be skipped as a replay")
  }

  test("ensureTable refuses a directory that holds data without a sidecar") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("stsink_refuse")
    (0L until 10L).map(i => (i, i)).toDF("id", "v").write.mode("append").parquet(dir)
    intercept[IllegalArgumentException] {
      StatsTableSink.ensureTable(s, dir, schema, Seq("id"))
    }
    assert(s.read.parquet(dir).count() === 10, "the existing data must be untouched")
  }

  test("bootstrap is sentinel-guarded: a rival (or crashed) bootstrap fails loudly") {
    val s = spark
    val table = tmpDir("stsink_sentinel") + "/t"
    // a rival's in-flight bootstrap (or a crashed one) left the
    // exclusive-create sentinel next to the table dir
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(new org.apache.hadoop.fs.Path(table))
    val sentinel = new org.apache.hadoop.fs.Path(
      qualified.getParent, s".${qualified.getName}.bootstrap-lock")
    fs.create(sentinel, false).close()
    val e = intercept[IllegalStateException] {
      StatsTableSink.ensureTable(s, table, schema, Seq("id"))
    }
    assert(e.getMessage.contains("bootstrap sentinel"))
    // clearing the sentinel lets bootstrap proceed, and success
    // releases it so later callers early-return on the sidecar
    fs.delete(sentinel, false)
    StatsTableSink.ensureTable(s, table, schema, Seq("id"))
    assert(!fs.exists(sentinel), "successful bootstrap must release the sentinel")
    StatsTableSink.ensureTable(s, table, schema, Seq("id")) // idempotent reopen
  }

  test("streaming into a PARTITIONED target: batches route to partition dirs, torn middle replays exactly-once") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("stsink_part_src")
    val table = tmpDir("stsink_part_tbl") + "/t"
    val ckpt = tmpDir("stsink_part_ckpt")
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", LongType),
      StructField("v", LongType)))
    // the partitioned table exists first (ensureTable short-circuits
    // on an existing stats table); the sink's appends must route
    // each micro-batch's rows into their `p=<k>` directories
    DataSkipping.writeWithStats(
      (0L until 30L).map(i => (i, i % 3, i)).toDF("id", "p", "v"),
      table, Seq("id"), bloomCols = Nil, partitionBy = Seq("p"))

    (30L until 330L).map(i => (i, i % 3, i)).toDF("id", "p", "v")
      .coalesce(2).write.mode("append").parquet(srcDir)
    StatsTableSink.run(
      FileIngest.stream(s, srcDir, pSchema, format = "parquet"),
      table, Seq("id"), ckpt).awaitTermination()

    val all = DataSkipping.readSkipping(s, table, lit(true))
    assert(all.count() === 330)
    assert(all.filter(col("p").isNull).count() === 0)
    (0L until 3L).foreach(k =>
      assert(DataSkipping.readSkipping(s, table, col("p") === k)
        .count() === 110))
    // streamed batches landed as named commits AND in partition dirs
    val manifests = new java.io.File(
        new java.net.URI(DataSkipping.manifestDir(s, table)).getPath)
      .listFiles().map(_.getName).filter(_.startsWith("commit-")).toSeq
    assert(manifests.nonEmpty)
    val (kept, files) = DataSkipping.prunedFiles(s, table, col("p") === 2L)
    assert(kept.nonEmpty && kept.forall(_.contains("p=2")), kept.mkString("\n"))
    assert(kept.size < files.size, "partition pruning must hold on streamed files")

    // TORN MIDDLE: a crashed batch leaves partition-routed data files
    // WITHOUT a marker — invisible to manifest readers; the streaming
    // replay (same commit name) repairs by re-writing and committing
    val torn = (1000L until 1060L).map(i => (i, i % 3, i)).toDF("id", "p", "v")
    torn.write.mode("append").partitionBy("p").parquet(table)
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 330,
      "uncommitted partition-routed files must stay invisible")
    assert(DataSkipping.appendWithStats(torn, table, Seq("id"),
      commitName = Some("commit-torn0")))
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 390)
    assert(DataSkipping.readSkipping(s, table,
      col("p") === 1L && col("id") >= 1000L).count() === 20)
    // the replay of the repaired batch short-circuits
    assert(!DataSkipping.appendWithStats(torn, table, Seq("id"),
      commitName = Some("commit-torn0")))
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 390)

    // restart with new source data: only the new wave drains, and it
    // routes to partitions too
    (330L until 390L).map(i => (i, i % 3, i)).toDF("id", "p", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    StatsTableSink.run(
      FileIngest.stream(s, srcDir, pSchema, format = "parquet"),
      table, Seq("id"), ckpt).awaitTermination()
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 450)
    assert(DataSkipping.readSkipping(s, table, col("p") === 0L)
      .filter(col("id").between(330L, 389L)).count() === 20)
  }

  test("a declared partitionBy that mismatches an existing target's layout refuses loudly") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("stsink_pmis_src")
    val flat = tmpDir("stsink_pmis_tbl") + "/t"
    // the target exists FLAT; a stream declaring partitionBy must not
    // silently ignore its declaration and append flat
    DataSkipping.writeWithStats(
      (0L until 10L).map(i => (i, i % 2, i)).toDF("id", "p", "v"),
      flat, Seq("id"))
    (10L until 20L).map(i => (i, i % 2, i)).toDF("id", "p", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val pSchema = StructType(Seq(
      StructField("id", LongType), StructField("p", LongType),
      StructField("v", LongType)))
    // the refusal is SYNCHRONOUS — before any query starts
    val e = intercept[IllegalArgumentException](StatsTableSink.run(
      FileIngest.stream(s, srcDir, pSchema, format = "parquet"),
      flat, Seq("id"), tmpDir("stsink_pmis_ckpt"),
      partitionBy = Seq("p")))
    assert(e.getMessage.contains("partition columns"), e.getMessage)
    assert(DataSkipping.readSkipping(s, flat, lit(true)).count() === 10L,
      "nothing may land under a mismatched declaration")
  }

  test("crash between data move and marker: orphans invisible to manifest readers, replay repairs") {
    val s = spark
    import s.implicits._
    val table = tmpDir("stsink_crash") + "/t"
    StatsTableSink.ensureTable(s, table, schema, Seq("id"))
    val batch = (0L until 100L).map(i => (i, i)).toDF("id", "v")

    // fake the crash: data files land WITHOUT a manifest commit
    // (plain unnamed append writes rows + manifest; strip the
    // manifest rows back out to model dying pre-marker)
    batch.coalesce(1).write.mode("append").parquet(table)
    assert(s.read.parquet(table).count() === 100, "plain readers see the orphan")
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 0,
      "manifest readers must not see uncommitted files")

    // the streaming replay re-writes the batch and commits
    assert(DataSkipping.appendWithStats(batch, table, Seq("id"),
      commitName = Some("commit-batch0")))
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 100,
      "exactly the replayed batch, orphan still invisible")
    assert(s.read.parquet(table).count() === 200,
      "the orphan remains on disk for compactTable to reclaim")

    // compaction (stream stopped) folds the committed snapshot,
    // vacuums EVERYTHING the new manifest doesn't claim (replaced
    // files AND the crash orphan — retention 0: reader-exclusive
    // maintenance), and preserves the commit marker so a very late
    // replay still short-circuits
    val n = DataSkipping.compactTable(s, table, targetFileBytes = 1L << 30,
      retentionMs = 0L)
    assert(n > 0, "fragmented table must compact")
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 100)
    assert(s.read.parquet(table).count() === 100,
      "vacuum must reclaim the orphan: plain and manifest readers now agree")
    assert(!DataSkipping.appendWithStats(batch, table, Seq("id"),
      commitName = Some("commit-batch0")),
      "the commit marker must survive compaction — a post-compact replay " +
        "would otherwise re-append an already-folded batch")
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 100)
  }

  test("a torn pre-generation manifest swap is refused and left on disk") {
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    val table = tmpDir("stsink_torn") + "/t"
    StatsTableSink.ensureTable(s, table, schema, Seq("id"))
    DataSkipping.appendWithStats((0L until 100L).map(i => (i, i)).toDF("id", "v"),
      table, Seq("id"), commitName = Some("commit-batchA"))
    // fake the torn swap of the pre-generation layout: the built
    // replacement dir sits under the hidden swap name, the live stats
    // dir is gone
    val statsDir = Paths.get(table, DataSkipping.StatsDir)
    val swap = Paths.get(table, ".stats-swap-torn")
    Files.move(statsDir, swap)
    // every manifest-touching entry refuses by name instead of
    // repairing, and moves nothing
    val read = intercept[IllegalStateException](
      DataSkipping.readSkipping(s, table, lit(true)).count())
    assert(read.getMessage.contains("torn stats swap"), read.getMessage)
    val append = intercept[IllegalStateException](
      DataSkipping.appendWithStats((0L until 100L).map(i => (i, i)).toDF("id", "v"),
        table, Seq("id"), commitName = Some("commit-batchA")))
    assert(append.getMessage.contains("torn stats swap"), append.getMessage)
    assert(!Files.exists(statsDir) && Files.exists(swap))
  }

  test("a no-op compact still vacuums orphans; hidden/illegal commit names are rejected") {
    val s = spark
    import s.implicits._
    val table = tmpDir("stsink_noop") + "/t"
    StatsTableSink.ensureTable(s, table, schema, Seq("id"))
    DataSkipping.appendWithStats((0L until 50L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), table, Seq("id"), commitName = Some("commit-b0"))
    // crash debris: an orphan data file + a stale staging dir
    (50L until 90L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(table)
    new java.io.File(s"$table/.append-stale").mkdirs()
    assert(s.read.parquet(table).count() === 90)
    // table is already compact (1 committed file >= target) -> the
    // compact is a no-op BUT the vacuum must still reclaim debris
    // (retention 0: reader-exclusive maintenance)
    assert(DataSkipping.compactTable(s, table, targetFileBytes = 1L << 30,
      retentionMs = 0L) === 0)
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 50)
    assert(s.read.parquet(table).count() === 50,
      "no-op compact must still reclaim the orphan")
    assert(!new java.io.File(s"$table/.append-stale").exists(),
      "stale staging dirs are debris and must be swept")
    // a '_'/'.'-prefixed marker would be HIDDEN from the manifest
    // reader (committed then vacuumed) — rejected up front
    intercept[IllegalArgumentException] {
      DataSkipping.appendWithStats((0L until 5L).map(i => (i, i)).toDF("id", "v"),
        table, Seq("id"), commitName = Some("_backfill"))
    }
    intercept[IllegalArgumentException] {
      DataSkipping.appendWithStats((0L until 5L).map(i => (i, i)).toDF("id", "v"),
        table, Seq("id"), commitName = Some(".hidden"))
    }
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 50)
  }

  test("writeStream.format(graft): the standard streaming write API drains, replays exactly-once, prunes") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("gsink_src")
    val table = tmpDir("gsink_tbl") + "/t"
    val ckpt = tmpDir("gsink_ckpt")

    (0L until 400L).map(i => (i, i * 3)).toDF("id", "v")
      .coalesce(2).write.mode("append").parquet(srcDir)
    val q1 = FileIngest.stream(s, srcDir, schema, format = "parquet")
      .writeStream.format("graft")
      .option("statsCols", "id")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(table)
    q1.awaitTermination()
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 400)

    // restart with new source files: exactly-once, no dups
    (400L until 600L).map(i => (i, i * 3)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = FileIngest.stream(s, srcDir, schema, format = "parquet")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(table)
    q2.awaitTermination()
    val ids = DataSkipping.readSkipping(s, table, lit(true))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until 600L).toSeq)

    // named markers exist (exactly-once machinery, not plain parts)
    val markers = new java.io.File(
        new java.net.URI(DataSkipping.manifestDir(s, table)).getPath)
      .listFiles().map(_.getName).filter(_.startsWith("commit-")).toSeq
    assert(markers.nonEmpty)
    // and the result is a first-class stats table: pruning + graft read
    val (kept, all) = DataSkipping.prunedFiles(s, table, col("id") >= 500L)
    assert(kept.size < all.size, s"$kept of $all")
    assert(s.read.format("graft").load(table).filter(col("id") >= 500L).count() === 100)
  }

  test("writeStream.format(graft): fresh target without statsCols, or non-append mode, is refused") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("gsink_bad_src")
    (0L until 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = FileIngest.stream(s, srcDir, schema, format = "parquet")
    val q = stream.writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsink_bad_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(tmpDir("gsink_bad_tbl") + "/t")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getCause.getMessage.contains("statsCols"), e.getCause.getMessage)
  }
}
