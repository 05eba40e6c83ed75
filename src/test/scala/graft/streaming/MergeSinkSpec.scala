package graft.streaming

import graft.SparkSpec
import graft.sources.DataSkipping
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming CDC MERGE sink ([[StatsTableSink.runMerge]]) and the
  * keyed-MERGE presets ([[DataSkipping.mergeDelete]],
  * [[DataSkipping.mergeUpsert]]).
  */
class MergeSinkSpec extends SparkSpec {

  private def state(table: String): Map[Long, (Long, String)] =
    DataSkipping.readSkipping(spark, table, lit(true))
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("seq"), r.getAs[String]("v")))).toMap

  test("mergeDelete drops exactly the keyed rows; absent keys no-op; untouched files carry") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("mds") + "/t"
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, s"p$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")),
      dir, Seq("id"), bloomCols = Nil, changeFeed = true)
    val before = DataSkipping.readManifest(s, dir)
      .select("file").collect().map(_.getString(0)).toSet

    val n = DataSkipping.mergeDelete(s, dir,
      Seq(10L, 11L, 5000L).toDF("id"), Seq("id"))
    assert(n === 2L, "only present keys delete")
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 998L)
    // band confined to one file: three files carry verbatim
    val after = DataSkipping.readManifest(s, dir)
      .select("file").collect().map(_.getString(0)).toSet
    assert(before.intersect(after).size === 3)
    // CDF typed rows
    val feed = DataSkipping.readChangeFeed(s, dir, 1L, Some(1L))
      .collect().map(r => (r.getAs[String](DataSkipping.ChangeTypeCol),
        r.getAs[Long]("id")))
    assert(feed.toSet === Set("delete" -> 10L, "delete" -> 11L))

    // txn replay: an already-stamped version skips the whole delete
    assert(DataSkipping.mergeDelete(s, dir, Seq(20L).toDF("id"),
      Seq("id"), txn = Some("app" -> 7L)) === 1L)
    assert(DataSkipping.mergeDelete(s, dir, Seq(21L).toDF("id"),
      Seq("id"), txn = Some("app" -> 7L)) === 0L,
      "replayed txn version must skip")
    assert(DataSkipping.readSkipping(s, dir, col("id") === 21L).count() === 1L)

    // a DV-dead key is logically absent: no-op
    DataSkipping.deleteWhereDV(s, dir, col("id") === 30L)
    assert(DataSkipping.mergeDelete(s, dir, Seq(30L).toDF("id"),
      Seq("id")) === 0L)
  }

  test("runMerge: upserts, stale rows, deletes and ties land exactly-once across restarts") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = tmpDir("msink")
    val table = s"$root/t"
    val ckpt = s"$root/ckpt"
    val in = MemoryStream[(Long, Long, String, String)]
    def drain(): Unit = {
      val q = StatsTableSink.runMerge(
        in.toDS.toDF("id", "seq", "v", "op"),
        table, keyCols = Seq("id"), seqCols = Seq("seq"),
        statsCols = Seq("id"), checkpointDir = ckpt,
        deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
      q.awaitTermination()
    }

    in.addData((1L, 1L, "a", "U"), (2L, 1L, "b", "U"), (3L, 1L, "c", "U"))
    drain()
    assert(state(table) === Map(1L -> ((1L, "a")), 2L -> ((1L, "b")),
      3L -> ((1L, "c"))))

    // batch 2: in-batch collapse (two updates for 1, latest wins),
    // a delete for 2, a STALE delete for 3 that loses the in-batch
    // tie... and a same-seq delete-vs-update tie for 4 where the
    // delete must win (so 4 never lands)
    in.addData(
      (1L, 2L, "a2", "U"), (1L, 3L, "a3", "U"),
      (2L, 2L, "", "D"),
      (3L, 2L, "c2", "U"), (3L, 1L, "", "D"),
      (4L, 5L, "x", "U"), (4L, 5L, "", "D"))
    drain()
    assert(state(table) === Map(1L -> ((3L, "a3")), 3L -> ((2L, "c2"))))

    // restart with nothing new: a re-drain must change nothing
    drain()
    assert(state(table) === Map(1L -> ((3L, "a3")), 3L -> ((2L, "c2"))))

    // the op column is not stored
    assert(DataSkipping.tableSchema(s, table).fieldNames.toSet ===
      Set("id", "seq", "v"))
  }

  test("runMerge into a PARTITIONED target: upserts route to partition dirs, updates migrate partitions, replays no-op") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = tmpDir("msink_part")
    val table = s"$root/t"
    val ckpt = s"$root/ckpt"
    // the partitioned target exists first; the streaming merge's
    // updates, deletes and inserts must route through the partition
    // layout
    DataSkipping.writeWithStats(
      (0L until 30L).map(i => (i, i % 3, 0L, s"v$i")).toDF("id", "p", "seq", "v"),
      table, Seq("id", "seq", "v"), bloomCols = Nil, partitionBy = Seq("p"))
    val in = MemoryStream[(Long, Long, Long, String, String)]
    def drain(): Unit = {
      val q = StatsTableSink.runMerge(
        in.toDS.toDF("id", "p", "seq", "v", "op"),
        table, keyCols = Seq("id"), seqCols = Seq("seq"),
        statsCols = Seq("id", "seq", "v"), checkpointDir = ckpt,
        deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
      q.awaitTermination()
    }
    in.addData(
      (1L, 1L, 1L, "a2", "U"),   // in-place update inside p=1
      (2L, 0L, 1L, "mig", "U"),  // PARTITION MIGRATION: p 2 -> 0
      (3L, 0L, 1L, "", "D"),     // keyed delete
      (100L, 2L, 1L, "new", "U")) // insert routes into p=2
    drain()
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 30L)
    val r1 = DataSkipping.readSkipping(s, table, col("id") === 1L).head
    assert(r1.getAs[Long]("p") === 1L && r1.getAs[String]("v") === "a2")
    val r2 = DataSkipping.readSkipping(s, table, col("id") === 2L).head
    assert(r2.getAs[Long]("p") === 0L && r2.getAs[String]("v") === "mig",
      "the update must migrate the row to its new partition directory")
    assert(DataSkipping.readSkipping(s, table, col("id") === 3L).count() === 0L)
    val r100 = DataSkipping.readSkipping(s, table, col("id") === 100L).head
    assert(r100.getAs[Long]("p") === 2L && r100.getAs[String]("v") === "new")
    // files really live in their partition dirs (no flat leakage)
    val (kept, files) = DataSkipping.prunedFiles(s, table, col("p") === 0L)
    assert(kept.nonEmpty && kept.forall(_.contains("p=0")), kept.mkString("\n"))
    assert(kept.size < files.size)
    assert(DataSkipping.readSkipping(s, table, col("p") === 0L)
      .count() === 10L) // 10 original (ids 0,3..27) - deleted 3 + migrated 2
    // an empty re-drain (restart, nothing new) changes nothing
    drain()
    assert(DataSkipping.readSkipping(s, table, lit(true)).count() === 30L)
    assert(DataSkipping.readSkipping(s, table, col("id") === 2L)
      .head.getAs[Long]("p") === 0L)
  }

  test("runMerge: each batch is one commit; a replayed batch is a detected no-op") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = tmpDir("msink_replay")
    val table = s"$root/t"
    DataSkipping.writeWithStats(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "v"),
      table, Seq("id"))
    def drain(in: MemoryStream[(Long, Long, String, String)], ckpt: String): Unit =
      StatsTableSink.runMerge(in.toDS.toDF("id", "seq", "v", "op"),
        table, keyCols = Seq("id"), seqCols = Seq("seq"),
        statsCols = Seq("id"), checkpointDir = ckpt,
        deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"),
        writerId = Some("w")).awaitTermination()
    val gens = DataSkipping.tableVersions(s, table).size
    val in = MemoryStream[(Long, Long, String, String)]
    in.addData((1L, 2L, "a2", "U"), (2L, 2L, "", "D"), (3L, 1L, "c", "U"))
    drain(in, s"$root/ckpt")
    assert(state(table) === Map(1L -> ((2L, "a2")), 3L -> ((1L, "c"))))
    // an update, a delete and an insert land in ONE generation commit
    // stamped with the writer's app id (the id the two-arm sink used
    // for its upsert arm, so its checkpoints still replay)
    assert(DataSkipping.tableVersions(s, table).size === gens + 1)
    assert(DataSkipping.txnVersion(s, table, "graft-merge-sink-ups:w") === Some(0L))
    // the foreachBatch replay (offset lost after the commit): a fresh
    // checkpoint under the same writer restarts at batch 0, whose
    // stamp is already on the table
    val replay = MemoryStream[(Long, Long, String, String)]
    replay.addData((1L, 9L, "boom", "U"), (3L, 9L, "", "D"))
    drain(replay, s"$root/ckpt2")
    assert(state(table) === Map(1L -> ((2L, "a2")), 3L -> ((1L, "c"))),
      "a replayed batch must be a detected no-op")
    assert(DataSkipping.tableVersions(s, table).size === gens + 1)
  }

  test("runMerge honours sequence order across batches: stale updates and deletes are no-ops") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = tmpDir("msink_seq")
    val table = s"$root/t"
    val in = MemoryStream[(Long, Long, String, String)]
    def drain(): Unit =
      StatsTableSink.runMerge(in.toDS.toDF("id", "seq", "v", "op"),
        table, keyCols = Seq("id"), seqCols = Seq("seq"),
        statsCols = Seq("id"), checkpointDir = s"$root/ckpt",
        deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"))
        .awaitTermination()
    in.addData((1L, 5L, "new", "U"), (2L, 5L, "keep", "U"), (3L, 5L, "tie", "U"))
    drain()
    // a later batch carries OLDER changes: an update of 1 and a delete
    // of 2 (both no-ops), and a delete of 3 at the stored row's own
    // sequence (a delete beats an update at equal sequence)
    in.addData((1L, 1L, "stale", "U"), (2L, 1L, "", "D"), (3L, 5L, "", "D"))
    drain()
    assert(state(table) === Map(1L -> ((5L, "new")), 2L -> ((5L, "keep"))))
    // genuinely newer changes still apply
    in.addData((1L, 6L, "newer", "U"), (2L, 6L, "", "D"))
    drain()
    assert(state(table) === Map(1L -> ((6L, "newer"))))
  }

  test("mergeUpsert updates every row of a target key stored more than once") {
    val s = spark
    import s.implicits._
    val table = tmpDir("mdup") + "/t"
    DataSkipping.writeWithStats(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "seq", "v"), table, Seq("id"))
    DataSkipping.appendWithStats(
      Seq((1L, 2L, "a-dup")).toDF("id", "seq", "v"), table, Seq("id"))
    // Delta MERGE semantics: each matched target row is updated (no
    // collapse to one row); the count is of target rows
    assert(DataSkipping.mergeUpsert(s, table,
      Seq((1L, 3L, "x"), (4L, 1L, "d")).toDF("id", "seq", "v"), Seq("id")) === ((2L, 1L)))
    val rows = DataSkipping.readSkipping(s, table, lit(true))
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(rows === Seq((1L, 3L, "x"), (1L, 3L, "x"), (2L, 1L, "b"), (4L, 1L, "d")))
  }
}
