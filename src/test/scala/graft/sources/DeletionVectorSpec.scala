package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read DML via deletion vectors
  * ([[DataSkipping.deleteWhereDV]] / [[DataSkipping.updateWhereDV]]):
  * write cost O(changed rows), files untouched, vector applied on
  * every read path, materialized by compaction.
  */
class DeletionVectorSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dv").toString

  private def dvDir(s: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(
      DataSkipping.manifestDir(s, dir), DataSkipping.DvDir)

  private def fs(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  test("deleteWhereDV hides the band without touching a single data file") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 4000L).map(i => (i, s"row$i")).toDF("id", "payload")
        .repartitionByRange(8, col("id")),
      dir, Seq("id"))
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val dataBefore = fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(f => f.getPath.getName -> f.getModificationTime).toMap

    val deleted = DataSkipping.deleteWhereDV(s, dir,
      col("id") >= 1000L && col("id") < 1250L)
    assert(deleted === 250L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L))
    assert(fs(dir).exists(dvDir(s, dir)), "generation must carry a vector")

    // EVERY manifest row carried identically; EVERY data file
    // untouched (same name, same mtime — merge-on-read writes no data)
    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(after === before, "manifest rows must carry verbatim")
    val dataAfter = fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(f => f.getPath.getName -> f.getModificationTime).toMap
    assert(dataAfter === dataBefore, "no data file may be rewritten")

    // visible content: band gone, everything else intact — full and
    // pruned reads agree
    val ids = DataSkipping.readSkipping(s, dir, lit(true))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === ((0L until 1000L) ++ (1250L until 4000L)))
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 900L && col("id") < 1400L)
      .count() === 100 + 150)

    // time travel: v0 reads the pre-delete state through ITS vector
    // (none)
    assert(DataSkipping.readSkippingAt(s, dir, 0L, lit(true)).count() === 4000)

    // the vector probe is a BROADCAST hash anti join — the data side
    // never shuffles on (file, row_index)
    val plan = DataSkipping.readSkipping(s, dir, lit(true))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti join in:\n$plan")

    // merge-on-read caveat, pinned: PLAIN parquet readers see the
    // physical rows (they don't understand vectors) — same property
    // as Delta DVs; readSkipping is the read surface
    assert(s.read.parquet(dir).count() === 4000)
  }

  test("stacked DV deletes accumulate; already-dead rows cannot be re-deleted") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 2000L).map(i => (i, i % 7)).toDF("id", "k")
        .repartitionByRange(4, col("id")),
      dir, Seq("id"))
    assert(DataSkipping.deleteWhereDV(s, dir, col("id") < 300L) === 300L)
    // overlap: [200, 500) — only [300, 500) is still visible
    assert(DataSkipping.deleteWhereDV(s, dir,
      col("id") >= 200L && col("id") < 500L) === 200L)
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1500)
    // exact same predicate again: nothing visible matches — no-op,
    // no new generation
    assert(DataSkipping.deleteWhereDV(s, dir,
      col("id") >= 200L && col("id") < 500L) === 0L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L, 2L))
    // each version reads its own vector state
    assert(DataSkipping.readSkippingAt(s, dir, 0L, lit(true)).count() === 2000)
    assert(DataSkipping.readSkippingAt(s, dir, 1L, lit(true)).count() === 1700)
    assert(DataSkipping.readSkippingAt(s, dir, 2L, lit(true)).count() === 1500)
  }

  test("updateWhereDV: originals hidden, updated images appended, files untouched") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, i * 10)).toDF("id", "v")
        .repartitionByRange(4, col("id")),
      dir, Seq("id"))
    val filesBefore = fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(_.getPath.getName).toSet

    val n = DataSkipping.updateWhereDV(s, dir,
      col("id") >= 100L && col("id") < 150L,
      Map("v" -> (col("v") + 1L)))
    assert(n === 50L)
    // originals still on disk, updated images appended as NEW files
    val filesAfter = fs(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(_.getPath.getName).toSet
    assert(filesBefore.subsetOf(filesAfter))
    assert((filesAfter -- filesBefore).nonEmpty)

    val got = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 1000)
    (0L until 1000L).foreach { i =>
      val want = if (i >= 100L && i < 150L) i * 10 + 1 else i * 10
      assert(got(i) === want, s"id $i")
    }
    // pruned read across the updated band sees the new values exactly
    // once
    val band = DataSkipping.readSkipping(s, dir,
      col("id") >= 90L && col("id") < 160L).collect()
    assert(band.length === 70)
  }

  test("updateWhereDV accepts nested struct-path SET like the copy-on-write variant") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 600L).map { i =>
      (i, if (i % 113 == 0) None else Some((i % 20, i * 1.0)))
    }.toDF("id", "m0")
      .select(col("id"), when(col("m0").isNotNull,
        struct(col("m0._1").as("uid"), col("m0._2").as("v"))).as("m"))
    DataSkipping.writeWithStats(df.repartitionByRange(4, col("id")), dir,
      Seq("id", "m.uid", "m.v"))
    // the r16 advice gap: this refused with a misleading
    // 'not in the table schema' error on the DV variant
    val n = DataSkipping.updateWhereDV(s, dir,
      col("m.uid") === 7L, Map("m.v" -> lit(-1.0)), vacuum = false)
    assert(n === df.filter(col("m.uid") === 7L).count())
    val out = DataSkipping.readSkipping(s, dir, lit(true))
    assert(out.filter(col("m.uid") === 7L && col("m.v") =!= -1.0).count() === 0L)
    assert(out.filter(col("m.uid") =!= 7L && col("m.v") === -1.0).count() === 0L)
    assert(out.filter(col("m").isNull).count() ===
      df.filter(col("m").isNull).count())
    assert(out.count() === 600L)
    // ambiguity and unknown-path refusals hold on the DV variant too
    intercept[Exception] {
      DataSkipping.updateWhereDV(s, dir, lit(true),
        Map("m" -> col("m"), "m.v" -> lit(0.0)))
    }
    intercept[Exception] {
      DataSkipping.updateWhereDV(s, dir, lit(true), Map("m.nope" -> lit(1)))
    }
  }

  test("compaction materializes the vector: clean files, no _dv, history still travels") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 3000L).map(i => (i, s"p$i")).toDF("id", "payload")
        .repartitionByRange(6, col("id")),
      dir, Seq("id"))
    DataSkipping.deleteWhereDV(s, dir, col("id") % 3 === 0L)
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 2000)

    // a compact-file-count table with a DV still compacts (vector
    // resolution is a rewrite reason on its own)
    val written = DataSkipping.compactTable(s, dir,
      targetFileBytes = 1L << 30, vacuum = false)
    assert(written >= 1)
    assert(!fs(dir).exists(dvDir(s, dir)), "compaction must clear the vector")
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 2000)
    // the DV generation still reads ITS vector until vacuumed
    assert(DataSkipping.readSkippingAt(s, dir, 1L, lit(true)).count() === 2000)
    assert(DataSkipping.readSkippingAt(s, dir, 0L, lit(true)).count() === 3000)
    // retention-0 vacuum reclaims the superseded generations (and
    // their vectors); the live state is untouched — and with the
    // vector materialized, physical == visible: plain readers agree
    // again
    DataSkipping.vacuumTable(s, dir, retentionMs = 0L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(2L))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 2000)
    assert(s.read.parquet(dir).count() === 2000)
  }

  test("purgeDeletionVectors rewrites ONLY the vector's files; everything else verbatim") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 4000L).map(i => (i, s"row$i")).toDF("id", "payload")
        .repartitionByRange(8, col("id")),
      dir, Seq("id"))
    // two merge-on-read ops stack dead positions confined to the low band
    assert(DataSkipping.deleteWhereDV(s, dir,
      col("id") >= 100L && col("id") < 300L) === 200L)
    assert(DataSkipping.updateWhereDV(s, dir,
      col("id") >= 300L && col("id") < 350L,
      Map("payload" -> lit("upd"))) === 50L)
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val visBefore = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val purged = DataSkipping.purgeDeletionVectors(s, dir)
    assert(purged === 250L)
    // vector is gone; the read path needs no anti join anymore
    assert(!fs(dir).exists(dvDir(s, dir)), "vector must be resolved")
    val plan = DataSkipping.readSkipping(s, dir, lit(true))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), s"post-purge read must be probe-free:\n$plan")

    // logical content identical; untouched manifest rows verbatim
    val visAfter = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(visAfter === visBefore)
    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size >= 6,
      s"only the DV-carrying band files may be rewritten, not ${before.size - carried.size}")
    carried.foreach(f => assert(after(f) === before(f)))

    // time travel still reads the DV'd version under ITS vector
    assert(DataSkipping.readSkippingAt(s, dir, 1L, lit(true)).count() === 3800)
    // idempotent: purging a clean table is a no-op, no generation
    val versions = DataSkipping.tableVersions(s, dir)
    assert(DataSkipping.purgeDeletionVectors(s, dir) === 0L)
    assert(DataSkipping.tableVersions(s, dir) === versions)
    // history records the REORG
    assert(DataSkipping.describeHistory(s, dir)
      .select("operation").as[String].collect().contains("REORG"))
  }

  test("copy-on-write DML after a DV delete cannot resurrect dead rows") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(2, col("id")),
      dir, Seq("id"))
    DataSkipping.deleteWhereDV(s, dir, col("id") < 100L)
    // CoW UPDATE rewrites the file holding [0,500): its dead first
    // 100 rows must stay dead in the rewritten file
    val n = DataSkipping.updateWhere(s, dir,
      col("id") >= 100L && col("id") < 200L,
      Map("v" -> (col("v") + 1000000L)))
    assert(n === 100L)
    val ids = DataSkipping.readSkipping(s, dir, lit(true))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (100L until 1000L))
    // the rewritten file resolved its vector entries — after the
    // replaced file is reclaimed, physical == visible for the whole
    // table (file 2 never had entries)
    assert(!fs(dir).exists(dvDir(s, dir)),
      "every vector entry was resolved by the rewrite — no _dv may remain")
    DataSkipping.vacuumTable(s, dir, retentionMs = 0L)
    assert(s.read.parquet(dir).count() === 900)
  }

  test("mergeUpsert treats DV-dead keys as unmatched: the merge re-inserts them") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 100L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(2, col("id")),
      dir, Seq("id"))
    DataSkipping.deleteWhereDV(s, dir, col("id") === 7L || col("id") === 6L)
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 98)
    val (matched, inserted) = DataSkipping.mergeUpsert(s, dir,
      Seq((7L, 700L), (8L, 800L)).toDF("id", "v"), Seq("id"))
    assert(matched === 1L, "only the VISIBLE row 8 matches")
    assert(inserted === 1L, "dead row 7 is logically absent -> insert")
    val got = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 99)
    assert(got(7L) === 700L && got(8L) === 800L)
    // dead row 6 shares the rewritten file but not a source key: the
    // rewrite must not bring it back
    assert(!got.contains(6L), "a DV-dead row of a rewritten file must stay dead")
  }

  test("change feed records DV deletes and updates; restore diffs vector visibility") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 400L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(2, col("id")),
      dir, Seq("id"), bloomCols = Nil, changeFeed = true)
    DataSkipping.deleteWhereDV(s, dir, col("id") < 50L)                  // v1
    DataSkipping.updateWhereDV(s, dir, col("id") === 60L,
      Map("v" -> lit(999L)))                                             // v2
    val feed = DataSkipping.readChangeFeed(s, dir, 1L)
      .collect().map(r => (r.getAs[Long]("_commit_version"),
        r.getAs[String](DataSkipping.ChangeTypeCol), r.getAs[Long]("id")))
    assert(feed.count(c => c._1 == 1L && c._2 == "delete") === 50)
    assert(feed.filter(_._1 == 2L).map(c => c._2 -> c._3).sorted.toSeq ===
      Seq("update_postimage" -> 60L, "update_preimage" -> 60L))

    // restore to v0: the dropped positions come back; the feed
    // records the resurrection as inserts ON COMMON FILES (only the
    // update's appended file is dropped)
    DataSkipping.restoreTable(s, dir, 0L, vacuum = false)                // v3
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 400)
    assert(DataSkipping.readSkipping(s, dir, col("id") === 60L)
      .head().getLong(1) === 60L, "restore must undo the DV update")
    val restoreFeed = DataSkipping.readChangeFeed(s, dir, 3L, Some(3L))
      .collect().map(r => (r.getAs[String](DataSkipping.ChangeTypeCol),
        r.getAs[Long]("id")))
    val resurrectedIds = restoreFeed.filter(_._1 == "insert").map(_._2).sorted
    assert(resurrectedIds.toSeq === (0L until 50L) :+ 60L,
      s"restore must record every row the vector had hidden; got " +
        s"${resurrectedIds.length}")
    // the update's appended image file is dropped by the restore
    assert(restoreFeed.filter(_._1 == "delete").map(_._2).toSeq === Seq(60L))
  }

  test("append after a DV delete: new rows visible, dead rows stay dead") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 500L).map(i => (i, i)).toDF("id", "v")
        .repartitionByRange(2, col("id")),
      dir, Seq("id"))
    DataSkipping.deleteWhereDV(s, dir, col("id") < 100L)
    assert(DataSkipping.appendWithStats(
      (500L until 600L).map(i => (i, i)).toDF("id", "v"), dir, Seq("id")))
    val ids = DataSkipping.readSkipping(s, dir, lit(true))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (100L until 600L))
    // pruned read on the appended range unaffected by the vector
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 550L).count() === 50)
  }
}
