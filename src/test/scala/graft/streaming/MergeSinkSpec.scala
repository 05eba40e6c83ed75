package graft.streaming

import graft.SparkSpec
import graft.operators.Cdc
import graft.sources.DataSkipping
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming CDC MERGE sink ([[StatsTableSink.runMerge]]) and the
  * keyed-MERGE presets ([[DataSkipping.mergeDelete]],
  * [[DataSkipping.mergeUpsert]]).
  */
class MergeSinkSpec extends SparkSpec {

  /** Live rows, tombstones hidden. */
  private def state(table: String): Map[Long, (Long, String)] =
    StatsTableSink.readCurrent(spark, table)
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

    // the op column is not stored; the tombstone column is
    assert(DataSkipping.tableSchema(s, table).fieldNames.toSet ===
      Set("id", "seq", "v", Cdc.DeletedCol))
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
      (0L until 30L).map(i => (i, i % 3, 0L, s"v$i", false))
        .toDF("id", "p", "seq", "v", Cdc.DeletedCol),
      table, Seq("id", "seq", "v"), bloomCols = Nil, partitionBy = Seq("p"))
    def live = StatsTableSink.readCurrent(s, table)
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
    assert(live.count() === 30L)
    // pruning reads: the rewritten files' stats must still find the
    // updated, migrated and inserted rows (none of them has a tombstone)
    def byId(k: Long) = DataSkipping.readSkipping(s, table, col("id") === k)
    val r1 = byId(1L).head
    assert(r1.getAs[Long]("p") === 1L && r1.getAs[String]("v") === "a2")
    val r2 = byId(2L).head
    assert(r2.getAs[Long]("p") === 0L && r2.getAs[String]("v") === "mig",
      "the update must migrate the row to its new partition directory")
    assert(live.filter(col("id") === 3L).count() === 0L)
    assert(byId(3L).collect().map(_.getAs[Boolean](Cdc.DeletedCol)).toSeq === Seq(true),
      "the delete is stored as one tombstone row")
    val r100 = byId(100L).head
    assert(r100.getAs[Long]("p") === 2L && r100.getAs[String]("v") === "new")
    // files really live in their partition dirs (no flat leakage)
    val (kept, files) = DataSkipping.prunedFiles(s, table, col("p") === 0L)
    assert(kept.nonEmpty && kept.forall(_.contains("p=0")), kept.mkString("\n"))
    assert(kept.size < files.size)
    assert(live.filter(col("p") === 0L)
      .count() === 10L) // 10 original (ids 0,3..27) - deleted 3 + migrated 2
    // an empty re-drain (restart, nothing new) changes nothing
    drain()
    assert(live.count() === 30L)
    assert(byId(2L).head.getAs[Long]("p") === 0L)
  }

  test("runMerge: each batch is one commit; a replayed batch is a detected no-op") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = tmpDir("msink_replay")
    val table = s"$root/t"
    DataSkipping.writeWithStats(
      Seq((1L, 1L, "a", false), (2L, 1L, "b", false))
        .toDF("id", "seq", "v", Cdc.DeletedCol),
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

  /** A runMerge over `in` with `op = "D"` rows as deletes. */
  private def drainWithDeletes(in: MemoryStream[(Long, Long, String, String)],
      table: String, ckpt: String, writerId: Option[String] = None): Unit =
    StatsTableSink.runMerge(in.toDS().toDF("id", "seq", "v", "op"),
      table, keyCols = Seq("id"), seqCols = Seq("seq"),
      statsCols = Seq("id"), checkpointDir = ckpt,
      deleteWhen = Some(col("op") === "D"), dropCols = Seq("op"),
      writerId = writerId).awaitTermination()

  test("runMerge: a late update older than a delete from an earlier batch does not resurrect the key") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_tomb")
    val table = s"$root/t"
    val in = MemoryStream[(Long, Long, String, String)]
    def drain(): Unit = drainWithDeletes(in, table, s"$root/ckpt")
    in.addData((1L, 1L, "a", "U"), (2L, 1L, "b", "U"))
    drain()
    in.addData((1L, 2L, "", "D"), (2L, 0L, "", "D"), (3L, 1L, "c", "U"))
    drain()
    // 1 deleted (newest change), 2's stale delete ignored, 3 inserted
    assert(state(table) === Map(2L -> ((1L, "b")), 3L -> ((1L, "c"))))
    // a LATE update older than 1's delete arrives in a later batch:
    // the stored tombstone wins
    in.addData((1L, 1L, "late", "U"))
    drain()
    assert(state(table) === Map(2L -> ((1L, "b")), 3L -> ((1L, "c"))),
      "late out-of-order update must not resurrect a deleted key")
    // a genuinely NEWER row re-inserts the key
    in.addData((1L, 3L, "back", "U"))
    drain()
    assert(state(table) === Map(1L -> ((3L, "back")), 2L -> ((1L, "b")),
      3L -> ((1L, "c"))))
  }

  test("runMerge keeps the winning delete as a tombstone row that stale and equal-sequence updates cannot beat") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_tombrow")
    val table = s"$root/t"
    val in = MemoryStream[(Long, Long, String, String)]
    def drain(): Unit = drainWithDeletes(in, table, s"$root/ckpt")
    def raw() = DataSkipping.readSkipping(s, table, lit(true))
      .select("id", "seq", "v", Cdc.DeletedCol).as[(Long, Long, String, Boolean)]
      .collect().toSet
    in.addData((1L, 2L, "a", "U"))
    drain()
    in.addData((1L, 5L, "gone", "D"))
    drain()
    // the delete's own row is stored, marked
    assert(raw() === Set((1L, 5L, "gone", true)))
    in.addData((1L, 3L, "stale", "U"))
    drain()
    assert(raw() === Set((1L, 5L, "gone", true)),
      "a stale update must lose to the retained tombstone")
    // equal sequence: the delete wins whatever the payloads
    in.addData((1L, 5L, "zzz", "U"))
    drain()
    assert(raw() === Set((1L, 5L, "gone", true)))
    // an unmatched delete is inserted as a tombstone
    in.addData((7L, 1L, "", "D"))
    drain()
    assert(raw() === Set((1L, 5L, "gone", true), (7L, 1L, "", true)))
    assert(state(table).isEmpty)
  }

  test("runMerge refuses a target whose tombstone column disagrees with deleteWhen, by name, before any write") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_refuse")
    // deleteWhen against a target without the tombstone column
    val plain = s"$root/plain"
    DataSkipping.writeWithStats(Seq((1L, 1L, "a")).toDF("id", "seq", "v"),
      plain, Seq("id"))
    val in = MemoryStream[(Long, Long, String, String)]
    in.addData((1L, 2L, "", "D"))
    val e1 = intercept[IllegalArgumentException] {
      drainWithDeletes(in, plain, s"$root/ck1")
    }
    assert(e1.getMessage.contains(Cdc.DeletedCol), e1.getMessage)
    assert(DataSkipping.tableVersions(s, plain) === Seq(0L))
    assert(!new java.io.File(s"$root/ck1").exists(), "the stream must not start")
    assert(DataSkipping.readSkipping(s, plain, lit(true)).count() === 1L)
    // a tombstone target fed by a runMerge without deleteWhen
    val tomb = s"$root/tomb"
    DataSkipping.writeWithStats(
      Seq((1L, 1L, "a", false)).toDF("id", "seq", "v", Cdc.DeletedCol),
      tomb, Seq("id"))
    val in2 = MemoryStream[(Long, Long, String)]
    in2.addData((1L, 2L, "b"))
    val e2 = intercept[IllegalArgumentException] {
      StatsTableSink.runMerge(in2.toDS().toDF("id", "seq", "v"), tomb,
        keyCols = Seq("id"), seqCols = Seq("seq"), statsCols = Seq("id"),
        checkpointDir = s"$root/ck2").awaitTermination()
    }
    assert(e2.getMessage.contains(Cdc.DeletedCol), e2.getMessage)
    assert(DataSkipping.tableVersions(s, tomb) === Seq(0L))
    assert(!new java.io.File(s"$root/ck2").exists(), "the stream must not start")
    assert(state(tomb) === Map(1L -> ((1L, "a"))))
  }

  test("runMerge keeps the latest row per key across batches (composite key, timestamp sequence)") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    import java.sql.Timestamp
    def ts(t: String) = Timestamp.valueOf(t)
    val root = tmpDir("msink_latest")
    val table = s"$root/t"
    val in = MemoryStream[(Int, Int, Timestamp, Int)]
    def drain(): Unit = StatsTableSink.runMerge(
      in.toDS().toDF("store_id", "item_id", "date_time", "quantity"), table,
      keyCols = Seq("store_id", "item_id"), seqCols = Seq("date_time"),
      statsCols = Seq("store_id", "item_id"), checkpointDir = s"$root/ckpt")
      .awaitTermination()
    def current() = StatsTableSink.readCurrent(s, table).collect()
      .map(r => (r.getAs[Int]("store_id"), r.getAs[Int]("item_id")) ->
        r.getAs[Int]("quantity")).toMap
    in.addData(
      (1, 100, ts("2024-01-01 08:00:00"), 50),
      (1, 100, ts("2024-01-01 09:00:00"), 40), // newer wins
      (2, 200, ts("2024-01-01 08:30:00"), 10))
    drain()
    assert(current() === Map((1, 100) -> 40, (2, 200) -> 10))
    // an older row must NOT overwrite, a newer one must
    in.addData(
      (1, 100, ts("2024-01-01 07:00:00"), 99),
      (2, 200, ts("2024-01-01 10:00:00"), 5))
    drain()
    assert(current() === Map((1, 100) -> 40, (2, 200) -> 5))
  }

  test("runMerge: re-applying an already-merged batch without its txn stamp changes nothing and commits nothing") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_idem")
    val table = s"$root/t"
    val rows = Seq((1L, 1L, "a", "U"), (2L, 1L, "b", "U"), (2L, 2L, "", "D"),
      (3L, 1L, "c", "U"))
    def apply(writer: String): Unit = {
      val in = MemoryStream[(Long, Long, String, String)]
      in.addData(rows: _*)
      drainWithDeletes(in, table, s"$root/ckpt-$writer", writerId = Some(writer))
    }
    apply("w1")
    val after = state(table)
    assert(after === Map(1L -> ((1L, "a")), 3L -> ((1L, "c"))))
    val versions = DataSkipping.tableVersions(s, table)
    // at-least-once delivery under ANOTHER writer identity (a lost or
    // relocated checkpoint): no stored row loses to its own change
    apply("w2")
    assert(state(table) === after)
    assert(DataSkipping.tableVersions(s, table) === versions,
      "a batch that changes nothing must not commit")
  }

  test("runMerge commits time-travel through readSkippingAt") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_tt")
    val table = s"$root/t"
    val in = MemoryStream[(Long, Long, String)]
    def drain(): Unit = StatsTableSink.runMerge(in.toDS().toDF("id", "seq", "v"),
      table, keyCols = Seq("id"), seqCols = Seq("seq"), statsCols = Seq("id"),
      checkpointDir = s"$root/ckpt").awaitTermination()
    def at(v: Long) = DataSkipping.readSkippingAt(s, table, v, lit(true))
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    in.addData((1L, 1L, "a"))
    drain()
    in.addData((1L, 2L, "b"), (2L, 1L, "x"))
    drain()
    in.addData((2L, 2L, "y"))
    drain()
    // v0 is the empty bootstrap; each batch is one generation
    assert(DataSkipping.tableVersions(s, table) === Seq(0L, 1L, 2L, 3L))
    assert(at(0L).isEmpty)
    assert(at(1L) === Map(1L -> "a"))
    assert(at(2L) === Map(1L -> "b", 2L -> "x"))
    assert(at(3L) === Map(1L -> "b", 2L -> "y"))
    assert(at(3L) === StatsTableSink.readCurrent(s, table)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap)
    val err = intercept[IllegalArgumentException](at(99L))
    assert(err.getMessage.contains("not retained"))
  }

  test("compactTable over a runMerge target keeps rows and tombstones identical") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_compact")
    val table = s"$root/t"
    val in = MemoryStream[(Long, Long, String, String)]
    def drain(): Unit = drainWithDeletes(in, table, s"$root/ckpt")
    (0 until 4).foreach { b =>
      in.addData((0 until 50).map(i => ((b * 50 + i).toLong, 1L, s"v$b", "U")): _*)
      drain()
    }
    in.addData((3L, 2L, "", "D"), (120L, 2L, "", "D"))
    drain()
    def raw() = DataSkipping.readSkipping(s, table, lit(true))
      .as[(Long, Long, String, Boolean)].collect().toSet
    val rows = raw()
    val live = state(table)
    assert(rows.size === 200 && live.size === 198)
    assert(DataSkipping.readManifest(s, table).count() > 1L)
    assert(DataSkipping.compactTable(s, table) === 1)
    assert(DataSkipping.readManifest(s, table).count() === 1L)
    assert(raw() === rows)
    assert(state(table) === live)
    // the compacted tombstones still beat late updates
    in.addData((3L, 1L, "late", "U"))
    drain()
    assert(state(table) === live)
  }

  test("runMerge change feed: inserts, updates, and a delete as the tombstone's update_postimage") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_cdf")
    val table = s"$root/t"
    DataSkipping.writeWithStats(
      Seq.empty[(Long, Long, Long, Boolean)].toDF("k", "seq", "v", Cdc.DeletedCol),
      table, Seq("k"), bloomCols = Nil, changeFeed = true)
    val in = MemoryStream[(Long, Long, Long)]
    def drain(): Unit = StatsTableSink.runMerge(in.toDS().toDF("k", "seq", "v"),
      table, keyCols = Seq("k"), seqCols = Seq("seq"), statsCols = Seq("k"),
      checkpointDir = s"$root/ckpt", deleteWhen = Some(col("v") < 0L))
      .awaitTermination()
    def feed(v: Long) = DataSkipping.readChangeFeed(s, table, v, Some(v))
      .select(col(DataSkipping.ChangeTypeCol), col("k"), col("seq"), col("v"),
        col(Cdc.DeletedCol))
      .as[(String, Long, Long, Long, Boolean)].collect().toSet
    in.addData((1L, 1L, 10L), (2L, 1L, 20L))
    drain()
    assert(feed(1L) === Set(("insert", 1L, 1L, 10L, false), ("insert", 2L, 1L, 20L, false)))
    in.addData((2L, 2L, 21L), (3L, 1L, 30L))
    drain()
    assert(feed(2L) === Set(
      ("update_preimage", 2L, 1L, 20L, false), ("update_postimage", 2L, 2L, 21L, false),
      ("insert", 3L, 1L, 30L, false)))
    // a delete is an UPDATE of the stored row into its tombstone: the
    // pre-image is the live row, the post-image the delete's own row
    in.addData((1L, 2L, -1L))
    drain()
    assert(feed(3L) === Set(
      ("update_preimage", 1L, 1L, 10L, false), ("update_postimage", 1L, 2L, -1L, true)))
    // a batch that changes nothing commits no generation
    in.addData((3L, 1L, 30L))
    drain()
    assert(DataSkipping.tableVersions(s, table).max === 3L)
  }

  test("runMerge: 4 concurrent writers all commit; no lost update; history is linear") {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val root = tmpDir("msink_many")
    val table = s"$root/t"
    // bootstrap first: concurrent first-time bootstraps are refused
    // by ensureTable's sentinel, not serialized
    StatsTableSink.ensureTable(s, table,
      Seq.empty[(Long, Long, String)].toDF("id", "seq", "v").schema, Seq("id"))
    val queries = (0 until 4).map { i =>
      val in = MemoryStream[(Long, Long, String)]
      in.addData((i.toLong, 1L, s"w$i"))
      StatsTableSink.runMerge(in.toDS().toDF("id", "seq", "v"), table,
        keyCols = Seq("id"), seqCols = Seq("seq"), statsCols = Seq("id"),
        checkpointDir = s"$root/ckpt$i", writerId = Some(s"w$i"))
    }
    queries.foreach(_.awaitTermination())
    assert(state(table) === (0 until 4).map(i => i.toLong -> ((1L, s"w$i"))).toMap)
    assert(DataSkipping.tableVersions(s, table) === Seq(0L, 1L, 2L, 3L, 4L),
      "4 commits must serialize into 4 consecutive generations")
    (0 until 4).foreach(i => assert(
      DataSkipping.txnVersion(s, table, s"graft-merge-sink-ups:w$i") === Some(0L)))
  }
}
