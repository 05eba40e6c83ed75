package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DataSkippingSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_skip").toString

  test("readSkipping scans fewer files and returns exactly the full-scan result") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // range-partitioned write -> disjoint id ranges per file
    val df = (0L until 10000L).map(i => (i, i % 97, s"row$i")).toDF("id", "bucket", "payload")
      .repartitionByRange(10, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id", "bucket"))

    val pred = col("id") >= 2000L && col("id") < 3000L
    val (kept, all) = DataSkipping.prunedFiles(s, dir, pred)
    assert(all.size === 10)
    assert(kept.size <= 3, s"pruning failed: kept ${kept.size} of ${all.size}")

    val viaSkip = DataSkipping.readSkipping(s, dir, pred)
      .select("id").collect().map(_.getLong(0)).sorted
    val viaFull = s.read.parquet(dir).filter(pred)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(viaSkip.toSeq === viaFull.toSeq)
    assert(viaSkip.length === 1000)
  }

  test("disjunctions prune; unsupported predicates fall back to keeping every file") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 1000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(10, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"))

    // OR of two narrow ranges: both sides rewritable -> prunes
    val orPred = (col("id") === 5L) || (col("id") === 905L)
    val (keptOr, all) = DataSkipping.prunedFiles(s, dir, orPred)
    assert(keptOr.size === 2, s"expected 2 files, kept $keptOr")

    // untracked column -> conservative: nothing pruned, result right
    val hard = col("payload") === "p42"
    val (keptHard, _) = DataSkipping.prunedFiles(s, dir, hard)
    assert(keptHard.size === all.size)
    assert(DataSkipping.readSkipping(s, dir, hard).count() === 1)

    // supported AND unsupported conjunct: the supported side prunes,
    // the full predicate still filters rows
    val mixed = (col("id") < 100L) && (col("payload") =!= "p7")
    val (keptMixed, _) = DataSkipping.prunedFiles(s, dir, mixed)
    assert(keptMixed.size <= 2, keptMixed.toString)
    assert(DataSkipping.readSkipping(s, dir, mixed).count() === 99)
  }

  test("per-file bloom filters prune point lookups where min/max ranges are useless") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // key is an UNCLUSTERED high-cardinality string: every file's
    // (min_key, max_key) spans nearly the whole lexicographic range,
    // so range stats keep everything — only the bloom can prune
    val df = (0L until 4000L)
      .map(i => (i, f"k${(i * 2654435761L) % 100000L}%05d"))
      .toDF("id", "key")
      .repartitionByRange(8, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id", "key"),
      bloomCols = Seq("key"), bloomBits = 1 << 14, bloomHashes = 7)

    val target = f"k${(123L * 2654435761L) % 100000L}%05d" // lives in exactly one file
    val (keptEq, all) = DataSkipping.prunedFiles(s, dir, col("key") === target)
    assert(all.size === 8)
    assert(keptEq.size <= 2, s"bloom must prune the point lookup: kept $keptEq")
    assert(DataSkipping.readSkipping(s, dir, col("key") === target)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(123L))
    // an absent key prunes everything (fpp aside) and returns empty
    val (keptMiss, _) = DataSkipping.prunedFiles(s, dir, col("key") === "nope")
    assert(keptMiss.size <= 1, s"absent key should prune to ~0 files: $keptMiss")
    assert(DataSkipping.readSkipping(s, dir, col("key") === "nope").count() === 0)
    // IN probes each value through the bloom
    val target2 = f"k${(3777L * 2654435761L) % 100000L}%05d"
    val (keptIn, _) = DataSkipping.prunedFiles(s, dir, col("key").isin(target, target2))
    assert(keptIn.size <= 3, s"IN bloom probes: kept $keptIn")
    assert(DataSkipping.readSkipping(s, dir, col("key").isin(target, target2))
      .count() === 2)

    // appends inherit the bloom configuration from the feature sidecar
    DataSkipping.appendWithStats(
      Seq((9001L, "zzz-appended")).toDF("id", "key"), dir, Seq("id", "key"))
    val (keptApp, all2) = DataSkipping.prunedFiles(s, dir, col("key") === "zzz-appended")
    assert(all2.size === 9)
    assert(keptApp.size <= 2, s"appended file must carry a probeable bloom: $keptApp")
    assert(DataSkipping.readSkipping(s, dir, col("key") === "zzz-appended").count() === 1)

    // compaction preserves the bloom config through the manifest swap
    assert(DataSkipping.compactTable(s, dir, targetFileBytes = 1L << 30) > 0)
    val (keptPost, allPost) = DataSkipping.prunedFiles(s, dir, col("key") === "nope")
    assert(allPost.size < 9)
    assert(keptPost.size <= 1, s"post-compact bloom must still prune: $keptPost")
    assert(DataSkipping.readSkipping(s, dir, col("key") === target)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(123L))
  }

  test("IN lists and ASCII prefix predicates prune; non-ASCII prefix falls back safely") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 1000L).map(i => (i, f"k$i%04d"))
      .toDF("id", "key").repartitionByRange(10, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id", "key"))

    // IN over two far-apart ids: exactly two files survive
    val inPred = col("id").isin(5L, 905L)
    val (keptIn, all) = DataSkipping.prunedFiles(s, dir, inPred)
    assert(all.size === 10)
    assert(keptIn.size === 2, s"IN must prune: kept $keptIn")
    assert(DataSkipping.readSkipping(s, dir, inPred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 905L))

    // ASCII prefix: k02xx lives in one id-range file
    val pre = col("key").startsWith("k02")
    val (keptPre, _) = DataSkipping.prunedFiles(s, dir, pre)
    assert(keptPre.size <= 2, s"prefix must prune: kept $keptPre")
    assert(DataSkipping.readSkipping(s, dir, pre).count() === 100)

    // non-ASCII prefix: UTF-8 vs UTF-16 ordering can disagree, so
    // pruning must decline (keep all) and the result stay exact
    val (keptUni, _) = DataSkipping.prunedFiles(s, dir, col("key").startsWith("ké"))
    assert(keptUni.size === all.size)
    assert(DataSkipping.readSkipping(s, dir, col("key").startsWith("ké")).count() === 0)

    // IN with a null element: conservative-correct, planted values kept
    val withNull = col("id").isin(5L, 905L) || col("id").isNull
    assert(DataSkipping.readSkipping(s, dir, withNull).count() === 2)
    // empty IN list: must fall back (an empty reduce would crash the
    // planner), and the result is correctly empty
    assert(DataSkipping.readSkipping(s, dir, col("id").isin()).count() === 0)
  }

  test("null-count stats prune IS NULL / IS NOT NULL") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // nulls clustered in the id range [0, 200): only those files can
    // answer IS NULL
    val df = (0L until 1000L)
      .map(i => (i, if (i < 200) None else Some(i * 2)))
      .toDF("id", "v")
      .repartitionByRange(10, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id", "v"))

    val (keptNull, all) = DataSkipping.prunedFiles(s, dir, col("v").isNull)
    assert(all.size === 10)
    assert(keptNull.size <= 3, s"IS NULL must prune to the null-bearing files: $keptNull")
    assert(DataSkipping.readSkipping(s, dir, col("v").isNull).count() === 200)
    // IS NOT NULL drops the all-null files
    val (keptNotNull, _) = DataSkipping.prunedFiles(s, dir, col("v").isNotNull)
    assert(keptNotNull.size < all.size,
      s"IS NOT NULL must drop all-null files: $keptNotNull")
    assert(DataSkipping.readSkipping(s, dir, col("v").isNotNull).count() === 800)
  }

  test("legacy layouts are refused by name and left untouched; an empty path still bootstraps") {
    val s = spark
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val fs = new Path(tmp()).getFileSystem(s.sparkContext.hadoopConfiguration)
    def put(p: Path, body: String): Unit = {
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def rows(lo: Long, hi: Long) = (lo until hi).map(i => (i, i)).toDF("id", "v")
    // pre-generation flat manifest parts written straight into `dir`
    def flatManifest(table: String, dir: String): Unit = {
      s.read.parquet(table).select(col("*"), col("_metadata"))
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min("id").as("min_id"), max("id").as("max_id"),
          count(lit(1)).as("n_rows"),
          max(col("_metadata.file_size")).as("file_size"),
          max(unix_millis(col("_metadata.file_modification_time"))).as("mod_time"))
        .coalesce(1).write.parquet(dir)
      put(new Path(dir, DataSkipping.SchemaFile), s.read.parquet(table).schema.json)
      put(new Path(dir, DataSkipping.StatsColsFile), "id")
    }
    def listing(root: String): Seq[(String, Long)] = {
      val it = fs.listFiles(new Path(root), true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += f.getPath.toString -> f.getLen }
      b.result().sorted
    }
    def refused(root: String, layout: String)(ops: (String, () => Any)*): Unit = {
      val before = listing(root)
      ops.foreach { case (name, op) =>
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains(layout), s"$name: ${e.getMessage}")
        assert(listing(root) === before, s"$name changed files under $root")
      }
    }
    def tableOps(t: String): Seq[(String, () => Any)] = Seq(
      "read" -> (() => DataSkipping.readSkipping(s, t, lit(true)).count()),
      "append" -> (() => DataSkipping.appendWithStats(rows(100L, 150L), t, Seq("id"))),
      "compactTable" -> (() => DataSkipping.compactTable(s, t, retentionMs = 0L)))

    // flat manifest parts under _graft_stats, no generation
    val flat = tmp()
    rows(0L, 100L).repartitionByRange(2, col("id")).write.mode("overwrite").parquet(flat)
    flatManifest(flat, s"$flat/${DataSkipping.StatsDir}")
    refused(flat, "flat manifest")(tableOps(flat): _*)

    // a torn pre-generation swap: the built swap dir, no stats dir
    val torn = tmp()
    rows(0L, 100L).repartitionByRange(2, col("id")).write.mode("overwrite").parquet(torn)
    flatManifest(torn, s"$torn/${DataSkipping.SwapPrefix}0")
    refused(torn, "torn stats swap")(tableOps(torn): _*)

    // a committed generation without its manifest-schema sidecar
    val noSchema = tmp()
    DataSkipping.writeWithStats(rows(0L, 100L), noSchema, Seq("id"))
    fs.delete(new Path(DataSkipping.manifestDir(s, noSchema),
      DataSkipping.ManifestSchemaFile), false)
    refused(noSchema, s"generation without a ${DataSkipping.ManifestSchemaFile} sidecar")(
      tableOps(noSchema): _*)

    // a committed generation without per-file null counts
    val noNulls = tmp()
    DataSkipping.writeWithStats(rows(0L, 100L), noNulls, Seq("id"))
    put(new Path(DataSkipping.manifestDir(s, noNulls), DataSkipping.FeaturesFile), "")
    refused(noNulls, "without per-file null counts")(tableOps(noNulls): _*)

    // a vector index whose model sits in the root-level file instead
    // of the generation sidecar
    val idx = s"${tmp()}/idx"
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    VectorIndex.build(s, corpus, "vec_id", "embedding", idx, nCenters = 2,
      m = 2, ksub = 4, coarseSeedIds = Some(Seq(0L, 1L)),
      pqSeedIds = Some(Seq(0L, 1L, 2L, 3L)))
    val model = new Path(DataSkipping.manifestDir(s, idx), DataSkipping.VIndexFile)
    val modelText = DataSkipping.readSidecarIn(fs, model.getParent.toString,
      DataSkipping.VIndexFile).get
    fs.delete(model, false)
    put(new Path(idx, VectorIndex.MetaFile), modelText)
    refused(idx, s"root-level ${VectorIndex.MetaFile}")(
      "read" -> (() => VectorIndex.search(s, corpus.limit(2), idx, k = 2, nProbe = 1)),
      "append" -> (() => VectorIndex.append(s, corpus.limit(2), idx)),
      "show indexes" -> (() => VectorIndex.metaOption(s, idx)))

    // a stats dir holding only an UNCOMMITTED generation is no table —
    // never read as a flat manifest
    val uncommitted = tmp()
    DataSkipping.writeWithStats(rows(0L, 100L), uncommitted, Seq("id"))
    fs.delete(new Path(DataSkipping.manifestDir(s, uncommitted),
      DataSkipping.CommitFile), false)
    val e = intercept[IllegalArgumentException](
      DataSkipping.readSkipping(s, uncommitted, lit(true)).count())
    assert(e.getMessage.contains("not a committed graft generation"), e.getMessage)

    // an empty path is "not a table yet": the streaming bootstrap
    // still creates v0
    val fresh = s"${tmp()}/fresh"
    graft.streaming.StatsTableSink.ensureTable(s, fresh, rows(0L, 0L).schema, Seq("id"))
    assert(DataSkipping.manifestDir(s, fresh).endsWith("/v0"))
    assert(DataSkipping.readSkipping(s, fresh, lit(true)).count() === 0L)
  }

  test("type-coerced literals (Cast-wrapped by the analyzer) still prune") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).toDF("id").repartitionByRange(10, col("id")), dir, Seq("id"))
    // Int literal against a BIGINT column: the analyzed condition is
    // GreaterThanOrEqual(id, cast(900 as bigint)) — pruning must see
    // through the Cast, not silently keep every file
    val (kept, all) = DataSkipping.prunedFiles(s, dir, col("id") >= 900 && col("id") < 950)
    assert(all.size === 10)
    assert(kept.size <= 2, s"coerced literal disabled pruning: kept ${kept.size}")
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 900 && col("id") < 950)
      .count() === 50)
  }

  test("all-null stats files are skipped for value predicates (no rows lost)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"))
      .toDF("id", "payload")
      .union(Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"))
        .toDF("id", "payload"))
      .repartition(2, coalesce(col("id"), lit(-1L)))
    DataSkipping.writeWithStats(df, dir, Seq("id"))
    val out = DataSkipping.readSkipping(s, dir, col("id") === 2L)
    assert(out.collect().map(_.getString(1)).toSeq === Seq("b"))
  }

  test("zValue matches a reference Morton interleave") {
    val s = spark
    import s.implicits._
    def refMorton(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1L) << (i * 2)
        z |= ((b >> i) & 1L) << (i * 2 + 1)
      }
      z
    }
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L), (12345L, 54321L))
      .toDF("a", "b")
    val out = df.select(col("a"), col("b"),
        DataSkipping.zValue(Seq(col("a"), col("b"))).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.foreach { case (a, b, z) =>
      assert(z === refMorton(a, b), s"morton($a,$b)")
    }
    // locality: close points interleave to close z-values
    assert(refMorton(3, 3) < refMorton(200, 200))
  }

  test("z-order prunes on BOTH columns; a linear sort only on the leading one") {
    val s = spark
    import s.implicits._
    // 100x100 grid, independent x/y
    val grid = (for (x <- 0L until 100L; y <- 0L until 100L) yield (x, y))
      .toDF("x", "y")

    val zDir = tmp()
    DataSkipping.writeZOrdered(grid, zDir,
      Seq(("x", 0L, 99L), ("y", 0L, 99L)), targetFiles = 16)

    val linDir = tmp()
    DataSkipping.writeWithStats(
      grid.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      linDir, Seq("x", "y"))

    val yPred = col("y") >= 10L && col("y") < 20L
    val (zKeptY, zAll) = DataSkipping.prunedFiles(s, zDir, yPred)
    val (linKeptY, linAll) = DataSkipping.prunedFiles(s, linDir, yPred)
    assert(zAll.size === 16 && linAll.size === 16)
    // linear x-sort: every file spans all y -> nothing prunable
    assert(linKeptY.size === 16)
    // z-order: files cover compact (x,y) regions -> y alone prunes
    assert(zKeptY.size <= 8, s"z-order kept ${zKeptY.size}/16 on a 10% y-range")

    // and x still prunes too (z-order trades a bit of x-pruning for y)
    val xPred = col("x") >= 10L && col("x") < 20L
    val (zKeptX, _) = DataSkipping.prunedFiles(s, zDir, xPred)
    assert(zKeptX.size <= 8, s"x pruning lost: ${zKeptX.size}/16")

    // correctness unchanged by layout
    val viaZ = DataSkipping.readSkipping(s, zDir, yPred)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val viaLin = DataSkipping.readSkipping(s, linDir, yPred)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(viaZ === viaLin)
    assert(viaZ.size === 1000)
  }

  test("10k-entry manifest: kept set computed distributively, no O(files) plan or listing") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // 16 real files, ids 0..999
    DataSkipping.writeWithStats(
      (0L until 1000L).toDF("id").repartitionByRange(16, col("id")), dir, Seq("id"))
    // inflate the manifest to 10k entries: 9,984 synthetic files with
    // id ranges the predicate provably excludes — never to be opened
    val manifest = DataSkipping.readManifest(s, dir)
    val fakes = s.range(9984).select(
      concat(lit(s"file:$dir/fake-"), col("id"), lit(".parquet")).as("file"),
      (col("id") + 1000000L).as("min_id"), (col("id") + 1000000L).as("max_id"),
      lit(0L).as("nulls_id"), lit(1L).as("n_rows"), lit(123L).as("file_size"),
      lit(0L).as("mod_time"))
    manifest.unionByName(fakes)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/__newstats")
    // swap the inflated part in for the committed generation's parts
    // (every sidecar stays)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val gen = new org.apache.hadoop.fs.Path(DataSkipping.manifestDir(s, dir))
    def parts(d: org.apache.hadoop.fs.Path) = fs.listStatus(d)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath)
    parts(gen).foreach(fs.delete(_, false))
    parts(new org.apache.hadoop.fs.Path(s"$dir/__newstats"))
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(gen, p.getName)))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/__newstats"), true)

    val df = DataSkipping.readSkipping(s, dir, col("id") >= 100L && col("id") < 300L)
    // none of the 9,984 synthetic paths may appear anywhere in the
    // plan — the scan holds ONE relation backed by the manifest index
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("fake-"), "plan embeds pruned file paths\n" + p.take(2000))
    assert(p.length < 100000, s"plan size ${p.length} grows with manifest size")
    // and the read is correct: only real files are opened
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (100L until 300L))
  }

  test("appendWithStats: O(batch) manifest growth, old rows untouched, pruning spans both") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val base = (0L until 5000L).map(i => (i, s"row$i")).toDF("id", "payload")
      .repartitionByRange(5, col("id"))
    DataSkipping.writeWithStats(base, dir, Seq("id"))
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(before.size === 5)

    val batch = (5000L until 8000L).map(i => (i, s"row$i")).toDF("id", "payload")
      .repartitionByRange(3, col("id"))
    DataSkipping.appendWithStats(batch, dir, Seq("id"))

    // old manifest rows are byte-identical (nothing re-scanned or
    // rewritten); exactly the batch's files were added
    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(after.size === 8)
    before.foreach { case (f, row) => assert(after(f) === row, s"old row $f changed") }

    // reads see the union, pruning works across old AND new files
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 8000)
    val (kept, all) = DataSkipping.prunedFiles(s, dir, col("id") >= 6000L)
    assert(all.size === 8)
    assert(kept.size <= 3, s"append files must prune: kept $kept")
    val viaSkip = DataSkipping.readSkipping(s, dir, col("id") >= 4000L && col("id") < 6000L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(viaSkip.toSeq === (4000L until 6000L).toSeq)

    // plain readers see the same table (no staging leftovers)
    assert(s.read.parquet(dir).count() === 8000)
    // schema mismatch is rejected loudly, table untouched
    intercept[IllegalArgumentException] {
      DataSkipping.appendWithStats(
        Seq((1L, 2L)).toDF("id", "other"), dir, Seq("id"))
    }
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 8000)
  }

  test("compactTable bin-packs the file tail; rows identical, pruning intact, old files vacuumed") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 4000L).map(i => (i, i % 13, s"row$i")).toDF("id", "bucket", "payload")
      .repartitionByRange(16, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id", "bucket"))
    // ingest-cadence tail: three small appends
    (0 until 3).foreach { b =>
      DataSkipping.appendWithStats(
        (4000L + b * 100L until 4100L + b * 100L).map(i => (i, i % 13, s"row$i"))
          .toDF("id", "bucket", "payload"),
        dir, Seq("id", "bucket"))
    }
    val preRows = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val preFiles = DataSkipping.readManifest(s, dir).count()
    assert(preFiles >= 19)

    // retention 0: reader-exclusive maintenance — vacuum reclaims
    // the replaced files immediately (the reader-overlap case is its
    // own test below)
    val n = DataSkipping.compactTable(s, dir, targetFileBytes = 512L * 1024,
      retentionMs = 0L)
    assert(n > 0 && n < preFiles, s"compacted to $n of $preFiles")

    // identical rows through BOTH read paths; manifest matches disk
    val post = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(post === preRows)
    assert(s.read.parquet(dir).count() === 4300)
    val manifest = DataSkipping.readManifest(s, dir)
    assert(manifest.count() === n.toLong, "manifest must describe exactly the new files")
    // vacuum removed the replaced files: every manifest path exists,
    // and the data dir holds nothing beyond the manifest's file set
    val live = manifest.select("file").collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    val onDisk = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(onDisk === live, s"orphans or missing files: ${onDisk.diff(live)} ${live.diff(onDisk)}")

    // stats still prune after the rewrite, results still exact
    val viaSkip = DataSkipping.readSkipping(s, dir, col("id") >= 4100L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(viaSkip.toSeq === (4100L until 4300L).toSeq)

    // already-compact table: no-op, manifest untouched
    assert(DataSkipping.compactTable(s, dir, targetFileBytes = 1L << 30,
      retentionMs = 0L) === 0)
    assert(DataSkipping.readManifest(s, dir).count() === n.toLong)
  }

  test("a reader planned before compaction survives a concurrent compact + vacuum (retention)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 4000L).map(i => (i, s"row$i")).toDF("id", "payload")
      .repartitionByRange(8, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"))
    (0 until 3).foreach { b =>
      DataSkipping.appendWithStats(
        (4000L + b * 100L until 4100L + b * 100L).map(i => (i, s"row$i"))
          .toDF("id", "payload").coalesce(1), dir, Seq("id"))
    }
    // the reader PLANS against generation v0's manifest: its file
    // statuses are resolved now, before maintenance runs
    val planned = DataSkipping.readSkipping(s, dir, col("id") >= 2000L && col("id") < 4200L)
    val plannedFiles = planned.queryExecution.analyzed
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
      .flatMap(_.relation.asInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation]
        .location.inputFiles)
    assert(plannedFiles.nonEmpty)

    // maintenance lands mid-flight: compact + vacuum at DEFAULT
    // retention — the files the reader resolved must survive
    val n = DataSkipping.compactTable(s, dir, targetFileBytes = 1L << 30)
    assert(n > 0)
    plannedFiles.foreach { f =>
      assert(new java.io.File(new java.net.URI(f).getPath).exists(),
        s"retention vacuum deleted $f out from under a planned reader")
    }
    // the in-flight read completes correctly against the OLD snapshot
    assert(planned.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (2000L until 4200L).toSeq)
    // new reads resolve the new generation and agree
    assert(DataSkipping.manifestDir(s, dir).contains("/v1"))
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 2000L && col("id") < 4200L)
      .count() === 2200)
    // after the reader is done, an exclusive retention-0 vacuum
    // reclaims the replaced generation and its files
    DataSkipping.vacuumTable(s, dir, retentionMs = 0L)
    assert(plannedFiles.exists(f => !new java.io.File(new java.net.URI(f).getPath).exists()),
      "retention-0 vacuum must reclaim the replaced files")
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 4300)
  }

  test("a crashed generation build needs no repair: readers unaffected, next compact proceeds") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, i)).toDF("id", "v").repartitionByRange(4, col("id")),
      dir, Seq("id"))
    DataSkipping.appendWithStats(
      (1000L until 1100L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir, Seq("id"))
    // fake a compaction that died mid-build: an UNCOMMITTED v1 dir
    // with partial junk (no _COMMIT marker)
    val deadGen = new java.io.File(s"$dir/${DataSkipping.StatsDir}", "v1")
    deadGen.mkdirs()
    java.nio.file.Files.write(deadGen.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    // readers keep resolving committed v0 — no repair step, no error
    assert(DataSkipping.manifestDir(s, dir).endsWith("/v0"))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1100)
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 1000L).count() === 100)
    // appends keep landing in the committed generation
    assert(DataSkipping.appendWithStats(
      (1100L until 1150L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir, Seq("id")))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1150)
    // the next compaction RECLAIMS the dead slot (strict observed+1
    // targeting: the occupant never produces a _COMMIT within the
    // grace window, so the slot is reclaimed and the retry commits
    // v1 itself — no version number is burned on debris)
    assert(DataSkipping.compactTable(s, dir, targetFileBytes = 1L << 30,
      retentionMs = 0L) > 0)
    assert(DataSkipping.manifestDir(s, dir).endsWith("/v1"))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1150)
    // the crashed build's junk did not survive into the committed slot
    assert(!new java.io.File(deadGen, "part-junk.parquet").exists,
      "crashed-build debris must be reclaimed, not committed")
  }

  test("schema evolution on append: new column tracked, old files backfill as nulls, pruning exact") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, i * 2)).toDF("id", "v")
        .repartitionByRange(5, col("id")),
      dir, Seq("id"))
    // widened batch: adds column w, tracks it — rejected without the
    // explicit evolution flag, accepted with it
    val wide = (1000L until 1500L).map(i => (i, i * 2, i % 7)).toDF("id", "v", "w")
      .repartitionByRange(2, col("id"))
    intercept[IllegalArgumentException] {
      DataSkipping.appendWithStats(wide, dir, Seq("id"))
    }
    assert(DataSkipping.appendWithStats(wide, dir, Seq("id", "w"), mergeSchema = true))

    // full read: widened schema, old files surface null w
    val all = DataSkipping.readSkipping(s, dir, lit(true))
    assert(all.columns.toSeq === Seq("id", "v", "w"))
    assert(all.count() === 1500)
    assert(all.filter(col("w").isNull).count() === 1000)

    // value predicates on the NEW column prune the old files (their
    // null min/max proves no non-null w) — and the result is exact
    val (keptW, allF) = DataSkipping.prunedFiles(s, dir, col("w") === 3L)
    assert(allF.size === 7)
    assert(keptW.size <= 2, s"old files must prune on the evolved column: $keptW")
    assert(DataSkipping.readSkipping(s, dir, col("w") === 3L).count()
      === (1000L until 1500L).count(_ % 7 == 3))

    // IS NULL keeps exactly the pre-evolution files (null-count
    // backfill); IS NOT NULL keeps exactly the appended ones
    val (keptNull, _) = DataSkipping.prunedFiles(s, dir, col("w").isNull)
    assert(keptNull.size === 5, s"IS NULL must keep the 5 old files: $keptNull")
    assert(DataSkipping.readSkipping(s, dir, col("w").isNull).count() === 1000)
    val (keptNotNull, _) = DataSkipping.prunedFiles(s, dir, col("w").isNotNull)
    assert(keptNotNull.size === 2, s"IS NOT NULL must keep the 2 new files: $keptNotNull")
    assert(DataSkipping.readSkipping(s, dir, col("w").isNotNull).count() === 500)

    // pruning on the ORIGINAL column still spans both generations
    val (keptId, _) = DataSkipping.prunedFiles(s, dir, col("id") >= 1200L)
    assert(keptId.size <= 2, s"id pruning lost after evolution: $keptId")

    // a later batch may OMIT a stored column under mergeSchema (its
    // files read back as nulls); retypes stay rejected
    assert(DataSkipping.appendWithStats(
      (1500L until 1550L).map(i => (i, i % 7)).toDF("id", "w").coalesce(1),
      dir, Seq("id", "w"), mergeSchema = true))
    assert(DataSkipping.readSkipping(s, dir, col("v").isNull).count() === 50)
    intercept[IllegalArgumentException] {
      DataSkipping.appendWithStats(
        Seq(("oops", 1L, 1L)).toDF("id", "v", "w"), dir, Seq("id", "w"),
        mergeSchema = true)
    }

    // compaction folds the evolved table into one uniform generation;
    // stats re-computed, pruning and results unchanged
    assert(DataSkipping.compactTable(s, dir, targetFileBytes = 1L << 30,
      retentionMs = 0L) > 0)
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1550)
    assert(DataSkipping.readSkipping(s, dir, col("w").isNull).count() === 1000)
    assert(DataSkipping.readSkipping(s, dir, col("w") === 3L).count()
      === (1000L until 1550L).count(_ % 7 == 3))
  }

  test("generation time travel: frozen versions read their own snapshot until vacuumed") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, i)).toDF("id", "v").repartitionByRange(4, col("id")),
      dir, Seq("id"))
    DataSkipping.appendWithStats(
      (1000L until 1200L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir, Seq("id"))
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L))
    // compaction freezes v0 (base + append) and commits v1
    assert(DataSkipping.compactTable(s, dir, targetFileBytes = 1L << 30) > 0)
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L))
    // a post-compaction append lands in v1 only
    DataSkipping.appendWithStats(
      (1200L until 1300L).map(i => (i, i)).toDF("id", "v").coalesce(1), dir, Seq("id"))

    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1300)
    assert(DataSkipping.readSkippingAt(s, dir, 0L, lit(true)).count() === 1200,
      "version 0 must read its frozen snapshot, not the live state")
    assert(DataSkipping.readSkippingAt(s, dir, 1L, lit(true)).count() === 1300)
    // pruning works against the old generation's manifest too
    assert(DataSkipping.readSkippingAt(s, dir, 0L, col("id") >= 1000L).count() === 200)
    // unknown version fails loudly with the retained range
    val e = intercept[IllegalArgumentException] {
      DataSkipping.readSkippingAt(s, dir, 7L, lit(true))
    }
    assert(e.getMessage.contains("not retained"))
    // the v0 reads above cached its manifest parts; evicting under a
    // `file:///`-qualified spelling of the generation dir drops them
    // however the reader spelled the dir
    val v0Dir = new org.apache.hadoop.fs.Path(s"$dir/${DataSkipping.StatsDir}/v0")
      .toUri.getPath
    def cachedUnderV0 = DataSkipping.manifestCacheDirs().filter(d =>
      new org.apache.hadoop.fs.Path(d).toUri.getPath.startsWith(v0Dir))
    assert(cachedUnderV0.nonEmpty, "the v0 reads cache their manifest parts")
    DataSkipping.dropManifestCacheUnder(s"file://$v0Dir")
    assert(cachedUnderV0.isEmpty, "a file:///-qualified dir must evict its entries")
    // retention-0 vacuum reclaims the superseded generation: it
    // leaves the version list and can no longer be read
    DataSkipping.vacuumTable(s, dir, retentionMs = 0L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(1L))
    intercept[IllegalArgumentException] {
      DataSkipping.readSkippingAt(s, dir, 0L, lit(true))
    }
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 1300)
  }

  test("deleteWhere rewrites only matching files; snapshot, retention and time travel hold") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 4000L).map(i => (i, s"row$i")).toDF("id", "payload")
        .repartitionByRange(8, col("id")),
      dir, Seq("id"))
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(before.size === 8)

    // delete a band confined to one 500-id file
    val deleted = DataSkipping.deleteWhere(s, dir,
      col("id") >= 1000L && col("id") < 1250L)
    assert(deleted === 250L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L))

    // untouched files carried byte-identically; exactly one replaced
    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size === 7, s"one file must be rewritten, not ${8 - carried.size}")
    carried.foreach(f => assert(after(f) === before(f), s"carried row $f changed"))

    // content: the band is gone, everything else intact
    val ids = DataSkipping.readSkipping(s, dir, lit(true))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === ((0L until 1000L) ++ (1250L until 4000L)))
    // pruned read across the rewritten boundary
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 900L && col("id") < 1400L)
      .count() === 100 + 150)

    // time travel: v0 still reads the pre-delete snapshot (retention
    // kept the replaced file)
    assert(DataSkipping.readSkippingAt(s, dir, 0L, lit(true)).count() === 4000)

    // a no-match delete is a no-op: no rewrite, no new generation
    assert(DataSkipping.deleteWhere(s, dir, col("id") > 1000000L) === 0L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L))

    // deleting every row of a file drops the file outright
    val dropped = DataSkipping.deleteWhere(s, dir, col("id") < 500L)
    assert(dropped === 500L)
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 3250)

    // retention-0 vacuum reclaims the replaced files and superseded
    // generations; the live state is untouched, v0/v1 are gone
    DataSkipping.vacuumTable(s, dir, retentionMs = 0L)
    assert(DataSkipping.tableVersions(s, dir) === Seq(2L))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 3250)
    assert(s.read.parquet(dir).count() === 3250,
      "plain readers must see the same post-delete state after vacuum")
  }

  test("updateWhere applies SET to exactly the matching rows; untouched files carried verbatim") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 2000L).map(i => (i, "ok", i.toDouble)).toDF("id", "flag", "value")
        .repartitionByRange(4, col("id")),
      dir, Seq("id"))
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap

    // SET references the pre-update value (value * 2), plus a literal
    val updated = DataSkipping.updateWhere(s, dir,
      col("id") >= 600L && col("id") < 700L,
      Map("flag" -> lit("patched"), "value" -> (col("value") * 2)))
    assert(updated === 100L)

    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size === 3, "only the one matching file is rewritten")
    carried.foreach(f => assert(after(f) === before(f)))

    val rows = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.length === 2000)
    rows.foreach { case (id, flag, v) =>
      if (id >= 600 && id < 700) {
        assert(flag === "patched" && v === id * 2.0, s"row $id not updated")
      } else {
        assert(flag === "ok" && v === id.toDouble, s"row $id must be untouched")
      }
    }
    // unknown SET column is rejected loudly, table untouched
    intercept[IllegalArgumentException] {
      DataSkipping.updateWhere(s, dir, col("id") === 0L, Map("nope" -> lit(1)))
    }
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 2000)
  }

  test("mergeUpsert: updates + inserts land atomically, untouched files carried, pruning bounds the rewrite") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "payload")
        .repartitionByRange(8, col("id")),
      dir, Seq("id"))
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap

    // source: 100 updates confined to one 500-id file + 50 inserts
    // past the key domain
    val source = ((3500L until 3600L).map(i => (i, s"upd$i")) ++
      (10000L until 10050L).map(i => (i, s"new$i"))).toDF("id", "payload")
    val (matched, inserted) = DataSkipping.mergeUpsert(s, dir, source, Seq("id"))
    assert(matched === 100L)
    assert(inserted === 50L)

    // the key envelope [3500, 10049] only overlaps the file(s)
    // holding the 3500-3600 band (range boundaries are sampled, so
    // the band may straddle one split) — everything below is carried
    // byte-identically
    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size >= 6, s"at most two files may be rewritten, not ${8 - carried.size}")
    carried.foreach(f => assert(after(f) === before(f)))

    val rows = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size === 4050)
    (0L until 4000L).foreach { i =>
      val want = if (i >= 3500 && i < 3600) s"upd$i" else s"v$i"
      assert(rows(i) === want, s"key $i")
    }
    (10000L until 10050L).foreach(i => assert(rows(i) === s"new$i"))

    // time travel reads the pre-merge state
    assert(DataSkipping.readSkippingAt(s, dir, 0L, lit(true)).count() === 4000)

    // duplicate source keys are rejected loudly (order-dependent
    // merge), table untouched
    intercept[IllegalArgumentException] {
      DataSkipping.mergeUpsert(s, dir,
        Seq((1L, "a"), (1L, "b")).toDF("id", "payload"), Seq("id"))
    }
    // a wrong-schema source is rejected loudly
    intercept[IllegalArgumentException] {
      DataSkipping.mergeUpsert(s, dir,
        Seq((1L, 2L)).toDF("id", "other"), Seq("id"))
    }
    // an empty source is a no-op: no generation, no rewrite
    assert(DataSkipping.mergeUpsert(s, dir,
      source.limit(0), Seq("id")) === ((0L, 0L)))
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 4050)
  }

  test("mergeUpsert schema evolution: source adds a column, untouched files carried, old rows null") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "payload")
        .repartitionByRange(8, col("id")),
      dir, Seq("id"))
    val before = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap

    val source = ((3500L until 3600L).map(i => (i, s"upd$i", "a")) ++
      (10000L until 10050L).map(i => (i, s"new$i", "b")))
      .toDF("id", "payload", "tag")
    // without mergeSchema the widened source is refused loudly
    intercept[IllegalArgumentException] {
      DataSkipping.mergeUpsert(s, dir, source, Seq("id"))
    }
    // a source missing a stored column is refused even WITH evolution
    intercept[IllegalArgumentException] {
      DataSkipping.mergeUpsert(s, dir,
        Seq((1L, "x")).toDF("id", "tag"), Seq("id"), mergeSchema = true)
    }
    // a retype is refused
    intercept[IllegalArgumentException] {
      DataSkipping.mergeUpsert(s, dir,
        Seq((1L, 2L)).toDF("id", "payload"), Seq("id"), mergeSchema = true)
    }
    assert(DataSkipping.mergeUpsert(s, dir, source, Seq("id"),
      mergeSchema = true) === ((100L, 50L)))

    // untouched files carried byte-identically — evolution rewrote
    // ZERO old data for the widening itself
    val after = DataSkipping.readManifest(s, dir)
      .collect().map(r => r.getString(0) -> r.toSeq).toMap
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size >= 6, s"at most two files may be rewritten, not ${8 - carried.size}")
    carried.foreach(f => assert(after(f) === before(f)))

    val rows = DataSkipping.readSkipping(s, dir, lit(true))
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(rows.size === 4050)
    assert(DataSkipping.tableSchema(s, dir).fieldNames.toSeq ===
      Seq("id", "payload", "tag"))
    (0L until 4000L).foreach { i =>
      val want =
        if (i >= 3500 && i < 3600) (s"upd$i", Some("a"))
        else (s"v$i", None) // untouched rows surface NULL for the new column
      assert(rows(i) === want, s"key $i")
    }
    (10000L until 10050L).foreach(i => assert(rows(i) === ((s"new$i", Some("b")))))

    // the widened schema is the table schema now: a follow-up merge
    // carrying all three columns needs no evolution flag
    assert(DataSkipping.mergeUpsert(s, dir,
      Seq((0L, "z", "c")).toDF("id", "payload", "tag"), Seq("id")) === ((1L, 0L)))

    // pruned reads on the ORIGINAL tracked column still work across
    // the evolution boundary
    assert(DataSkipping.readSkipping(s, dir, col("id") === 3550L)
      .select("tag").as[String].head() === "a")
  }

  test("autoCompact: small-file tail triggers exactly at the threshold; rows identical") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1),
      dir, Seq("id"))
    // appends below the threshold never compact
    (1 to 3).foreach { k =>
      assert(DataSkipping.appendWithStats(
        (100L * k until 100L * k + 100L).map(i => (i, s"v$i")).toDF("id", "payload")
          .coalesce(1),
        dir, Seq("id"), autoCompactSmallFiles = Some(5)))
    }
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L),
      "below threshold: no compaction generation")
    assert(DataSkipping.readManifest(s, dir).count() === 4)
    // the 5th small file crosses minSmallFiles = 5 -> one compaction
    assert(DataSkipping.appendWithStats(
      (400L until 500L).map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1),
      dir, Seq("id"), autoCompactSmallFiles = Some(5)))
    assert(DataSkipping.tableVersions(s, dir) === Seq(0L, 1L),
      "threshold crossed: exactly one compaction")
    assert(DataSkipping.readManifest(s, dir).count() === 1,
      "tail bin-packed into one file")
    val rows = DataSkipping.readSkipping(s, dir, lit(true))
      .select("id").as[Long].collect().sorted
    assert(rows.toSeq === (0L until 500L))
    // standalone trigger is a no-op below threshold
    assert(!DataSkipping.autoCompact(s, dir, minSmallFiles = 2))
  }

  test("manifest is invisible to plain readers") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 100L).toDF("id"), dir, Seq("id"))
    assert(s.read.parquet(dir).count() === 100)
    assert(s.read.parquet(dir).columns.toSeq === Seq("id"))
  }

  test("change data feed: DML records typed rows per version; compaction records nothing and keeps the flag") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 1000L).map(i => (i, i % 10, s"p$i"))
      .toDF("id", "grp", "payload").repartitionByRange(8, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"), bloomCols = Nil,
      changeFeed = true)
    assert(DataSkipping.deleteWhere(s, dir,
      col("id") >= 100L && col("id") < 200L) === 100L) // v1
    assert(DataSkipping.updateWhere(s, dir,
      col("id") >= 300L && col("id") < 350L,
      Map("payload" -> lit("upd"))) === 50L) // v2
    assert(DataSkipping.compactTable(s, dir) === 1) // v3, no change rows
    val srcUpd = (400L until 450L).map(i => (i, i % 10, "merged"))
    val srcIns = (2000L until 2010L).map(i => (i, i % 10, "fresh"))
    assert(DataSkipping.mergeUpsert(s, dir,
      (srcUpd ++ srcIns).toDF("id", "grp", "payload"),
      Seq("id")) === ((50L, 10L))) // v4

    val feed = DataSkipping.readChangeFeed(s, dir, 0L)
    assert(feed.columns.toSeq ===
      Seq("id", "grp", "payload", "_change_type", "_commit_version"))
    val byVt = feed.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVt === Map(
      (1L, "delete") -> 100L,
      (2L, "update_preimage") -> 50L, (2L, "update_postimage") -> 50L,
      (4L, "update_preimage") -> 50L, (4L, "update_postimage") -> 50L,
      (4L, "insert") -> 10L))
    // post-images carry the post-state, pre-images the pre-state
    assert(feed.filter(col("_commit_version") === 2L &&
      col("_change_type") === "update_postimage" &&
      col("payload") === "upd").count() === 50L)
    assert(feed.filter(col("_commit_version") === 2L &&
      col("_change_type") === "update_preimage" &&
      col("payload").startsWith("p")).count() === 50L)
    assert(feed.filter(col("_change_type") === "insert" &&
      col("id") >= 2000L).count() === 10L)
    // bounded window: [2,2] sees exactly v2's pair
    assert(DataSkipping.readChangeFeed(s, dir, 2L, Some(2L))
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("update_preimage" -> 50L, "update_postimage" -> 50L))
  }

  test("change feed: disabled tables record nothing and refuse the reader; enableChangeFeed starts mid-history") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 500L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"))
    DataSkipping.deleteWhere(s, dir, col("id") < 50L) // v1, no feed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${DataSkipping.StatsDir}/v1/${DataSkipping.ChangeDataDir}")))
    val e = intercept[IllegalArgumentException](
      DataSkipping.readChangeFeed(s, dir, 0L))
    assert(e.getMessage.contains("no change data feed"))
    // flipping the property starts the feed at the NEXT version —
    // v1 is not backfilled (Delta's semantics)
    DataSkipping.enableChangeFeed(s, dir)
    DataSkipping.updateWhere(s, dir, col("id") >= 400L,
      Map("payload" -> lit("late"))) // v2
    val vs = DataSkipping.readChangeFeed(s, dir, 0L)
      .select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(vs === Set(2L))
  }

  test("enableChangeFeed preserves the existing feature flags: bloom pruning and null counts survive the flip") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 1000L).map(i => (i, i * 37 % 1009, s"p$i"))
      .toDF("id", "k", "payload").repartitionByRange(8, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id", "k"),
      bloomCols = Seq("k"), bloomBits = 1 << 14)
    val (keptBefore, all) = DataSkipping.prunedFiles(s, dir, col("k") === 37L)
    assert(keptBefore.size < all.size, "bloom must prune before the flip")
    DataSkipping.enableChangeFeed(s, dir)
    // bloom config survived the sidecar rewrite
    val (keptAfter, _) = DataSkipping.prunedFiles(s, dir, col("k") === 37L)
    assert(keptAfter.size === keptBefore.size,
      "bloom pruning must survive enableChangeFeed")
    // the feed is on
    assert(DataSkipping.changeFeedEnabled(s, dir))
    DataSkipping.deleteWhere(s, dir, col("id") < 10L)
    assert(DataSkipping.readChangeFeed(s, dir, 1L).count() === 10L)
    // and IS NULL pruning (the "nulls" flag) still prunes everything
    // (no nulls anywhere -> zero kept files)
    val (keptNull, _) = DataSkipping.prunedFiles(s, dir, col("k").isNull)
    assert(keptNull.isEmpty, "null-count stats must survive enableChangeFeed")
  }

  test("change feed availability window IS the vacuum retention: vacuumed versions fail loudly") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 500L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"), bloomCols = Nil,
      changeFeed = true)
    DataSkipping.deleteWhere(s, dir, col("id") < 50L,
      retentionMs = 0L) // v1; v0 reclaimed
    DataSkipping.updateWhere(s, dir, col("id") >= 400L,
      Map("payload" -> lit("x")), retentionMs = 0L) // v2; v1 + its feed gone
    assert(DataSkipping.tableVersions(s, dir) === Seq(2L))
    val e = intercept[IllegalArgumentException](
      DataSkipping.readChangeFeed(s, dir, 1L))
    assert(e.getMessage.contains("not retained"))
    // the retained tail still reads
    assert(DataSkipping.readChangeFeed(s, dir, 2L)
      .filter(col("_change_type") === "update_postimage").count() === 100L)
  }

  test("restore round-trips DML, restores forward again, and describeHistory names every operation") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 1000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(8, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id")) // v0
    DataSkipping.deleteWhere(s, dir, col("id") >= 100L && col("id") < 200L) // v1
    DataSkipping.updateWhere(s, dir, col("id") >= 300L && col("id") < 350L,
      Map("payload" -> lit("upd"))) // v2
    assert(DataSkipping.restoreTable(s, dir, 0L) === 3L) // v3 == v0 state
    val back = DataSkipping.readSkipping(s, dir, col("id") >= 0L)
    assert(back.count() === 1000L)
    assert(back.filter(col("payload") === "upd").count() === 0L)
    // a restore is itself restorable: forward to the post-DML state
    assert(DataSkipping.restoreTable(s, dir, 2L) === 4L)
    val fwd = DataSkipping.readSkipping(s, dir, col("id") >= 0L)
    assert(fwd.count() === 900L)
    assert(fwd.filter(col("payload") === "upd").count() === 50L)
    // pruning still works against the restored manifest
    val (kept, all) = DataSkipping.prunedFiles(s, dir, col("id") < 100L)
    assert(kept.size < all.size)
    val hist = DataSkipping.describeHistory(s, dir)
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist === Seq(4L -> "RESTORE(v2)", 3L -> "RESTORE(v0)",
      2L -> "UPDATE", 1L -> "DELETE", 0L -> "WRITE"))
  }

  test("restore records file-level CDF diff rows; files common to both states record nothing") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 1000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(8, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"), bloomCols = Nil,
      changeFeed = true) // v0: 8 range-partitioned files
    DataSkipping.deleteWhere(s, dir, col("id") >= 100L && col("id") < 150L) // v1
    DataSkipping.restoreTable(s, dir, 0L) // v2
    val feed = DataSkipping.readChangeFeed(s, dir, 2L, Some(2L))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the delete rewrote the touched file(s); restore drops the
    // survivors (deletes) and re-adds the originals (inserts) — a
    // file-level diff, so insert − delete == the 50 restored rows
    // and files common to both manifests contribute NOTHING
    assert(byType.keySet === Set("delete", "insert"))
    assert(byType("insert") - byType("delete") === 50L)
    assert(feed.filter(col("_change_type") === "insert" &&
      col("id") >= 100L && col("id") < 150L).count() === 50L)
    // untouched files (far from the band under range partitioning)
    // must not appear in the diff at all
    assert(feed.filter(col("id") >= 600L).count() === 0L)
    // and the feed matches the manifest-level file diff exactly
    val restored = DataSkipping.readSkipping(s, dir, col("id") >= 0L)
    assert(restored.count() === 1000L)
  }

  test("restore to a version whose files are gone fails loudly; a fully vacuumed version is not retained") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 500L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"))
    DataSkipping.deleteWhere(s, dir, col("id") < 50L) // v1, originals retained
    // lose one of v0's replaced originals out-of-band (a premature
    // external cleanup): restore must refuse rather than commit a
    // manifest naming a missing file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val claimed = DataSkipping.readManifest(s, dir).select("file")
      .collect().map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    val orphan = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        !claimed(f.getPath.getName))
      .head.getPath
    fs.delete(orphan, false)
    val e = intercept[IllegalArgumentException](
      DataSkipping.restoreTable(s, dir, 0L))
    assert(e.getMessage.contains("already vacuumed"))
    // retention-0 DML instead reclaims the whole superseded
    // generation — the restore target itself is then not retained
    val dir2 = tmp()
    DataSkipping.writeWithStats(df, dir2, Seq("id"))
    DataSkipping.deleteWhere(s, dir2, col("id") < 50L, retentionMs = 0L)
    val e2 = intercept[IllegalArgumentException](
      DataSkipping.restoreTable(s, dir2, 0L))
    assert(e2.getMessage.contains("not retained"))
  }

  test("change feed spans schema evolution: pre-evolution change rows carry nulls for added columns") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 400L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id"))
    DataSkipping.writeWithStats(df, dir, Seq("id"), bloomCols = Nil,
      changeFeed = true)
    DataSkipping.deleteWhere(s, dir, col("id") < 40L) // v1, old schema
    DataSkipping.appendWithStats(
      (1000L until 1100L).map(i => (i, s"p$i", i * 2))
        .toDF("id", "payload", "score"),
      dir, Seq("id", "score"), mergeSchema = true)
    DataSkipping.deleteWhere(s, dir,
      col("id") >= 1000L && col("id") < 1010L) // v2, widened schema
    val feed = DataSkipping.readChangeFeed(s, dir, 0L)
    assert(feed.columns.contains("score"))
    assert(feed.filter(col("_commit_version") === 1L &&
      col("score").isNull).count() === 40L)
    assert(feed.filter(col("_commit_version") === 2L).count() === 10L)
    assert(feed.filter(col("_commit_version") === 2L &&
      col("score") === col("id") * 2).count() === 10L)
  }

  test("randomized DML sequences: table state equals a shadow model after every op, at every version") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    def df(rows: Seq[(Long, String)]) = rows.toDF("id", "payload")
    val init = (0L until 2000L).map(i => (i, s"p$i"))
    DataSkipping.writeWithStats(
      df(init).repartitionByRange(8, col("id")), dir, Seq("id"),
      bloomCols = Nil, changeFeed = true)

    var shadow: Map[Long, String] = init.toMap
    // version -> shadow snapshot, for restore targets (generation-
    // committing ops only; appends land inside the current one)
    val snapshots = scala.collection.mutable.Map[Long, Map[Long, String]]()
    def curVersion: Long = DataSkipping.tableVersions(s, dir).max
    snapshots(curVersion) = shadow

    def assertState(step: String): Unit = {
      val got = DataSkipping.readSkipping(s, dir, col("id") >= Long.MinValue)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === shadow, s"table diverged from shadow after $step")
    }

    val rnd = new scala.util.Random(987654321L)
    var nextId = 100000L
    (1 to 18).foreach { step =>
      val op = rnd.nextInt(8)
      val desc = op match {
        case 0 => // range delete (may hit nothing)
          val lo = rnd.nextInt(2200).toLong
          DataSkipping.deleteWhere(s, dir,
            col("id") >= lo && col("id") < lo + 120L)
          shadow = shadow.filter { case (k, _) => k < lo || k >= lo + 120L }
          s"delete [$lo, ${lo + 120})"
        case 6 => // merge-on-read delete (deletion vector)
          val lo = rnd.nextInt(2200).toLong
          DataSkipping.deleteWhereDV(s, dir,
            col("id") >= lo && col("id") < lo + 120L)
          shadow = shadow.filter { case (k, _) => k < lo || k >= lo + 120L }
          s"dv-delete [$lo, ${lo + 120})"
        case 7 => // merge-on-read update (vector + appended images)
          val lo = rnd.nextInt(2200).toLong
          DataSkipping.updateWhereDV(s, dir,
            col("id") >= lo && col("id") < lo + 150L,
            Map("payload" -> concat(lit(s"w$step-"), col("id"))))
          shadow = shadow.map { case (k, v) =>
            k -> (if (k >= lo && k < lo + 150L) s"w$step-$k" else v)
          }
          s"dv-update [$lo, ${lo + 150})"
        case 1 => // range update
          val lo = rnd.nextInt(2200).toLong
          DataSkipping.updateWhere(s, dir,
            col("id") >= lo && col("id") < lo + 150L,
            Map("payload" -> concat(lit(s"u$step-"), col("id"))))
          shadow = shadow.map { case (k, v) =>
            k -> (if (k >= lo && k < lo + 150L) s"u$step-$k" else v)
          }
          s"update [$lo, ${lo + 150})"
        case 2 => // merge: updates over a band + fresh inserts
          val lo = rnd.nextInt(2200).toLong
          val ins = (nextId until nextId + 40L).map(i => (i, s"i$step-$i"))
          nextId += 40L
          // mergeUpsert: matched keys update, unmatched insert — the
          // source carries BOTH bands (some upd keys may have been
          // deleted; they insert, same as the semantics require)
          val srcRows = (lo until lo + 60L).map(i => (i, s"m$step-$i")) ++ ins
          DataSkipping.mergeUpsert(s, dir, df(srcRows), Seq("id"))
          shadow = shadow ++ srcRows.toMap
          s"merge [$lo, ${lo + 60}) + ${ins.size} inserts"
        case 3 => // append fresh ids (no generation commit)
          val ins = (nextId until nextId + 80L).map(i => (i, s"a$step-$i"))
          nextId += 80L
          assert(DataSkipping.appendWithStats(df(ins).coalesce(1), dir, Seq("id")))
          shadow = shadow ++ ins.toMap
          s"append ${ins.size}"
        case 4 => // compact (no logical change)
          DataSkipping.compactTable(s, dir,
            targetFileBytes = 4L * 1024 * 1024)
          "compact"
        case 5 => // restore to a random retained snapshot
          val targets = DataSkipping.tableVersions(s, dir)
            .filter(snapshots.contains)
          val v = targets(rnd.nextInt(targets.size))
          DataSkipping.restoreTable(s, dir, v)
          shadow = snapshots(v)
          s"restore v$v"
      }
      snapshots(curVersion) = shadow
      assertState(s"step $step: $desc")
    }

    // pruning soundness on the churned manifest: random range
    // predicates read through stats pruning must equal the shadow
    (1 to 5).foreach { _ =>
      val lo = rnd.nextInt(2500).toLong
      val hi = lo + rnd.nextInt(400).toLong
      val got = DataSkipping.readSkipping(s, dir,
        col("id") >= lo && col("id") < hi)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === shadow.filter { case (k, _) => k >= lo && k < hi },
        s"pruned read [$lo,$hi) diverged")
    }
  }

  test("randomized DML sequences: the change feed alone reconstructs the final state") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    def df(rows: Seq[(Long, String)]) = rows.toDF("id", "payload")
    val init = (0L until 1500L).map(i => (i, s"p$i"))
    DataSkipping.writeWithStats(
      df(init).repartitionByRange(6, col("id")), dir, Seq("id"),
      bloomCols = Nil, changeFeed = true)
    var shadow: Map[Long, String] = init.toMap
    val snapshots = scala.collection.mutable.Map[Long, Map[Long, String]](
      0L -> shadow)

    // no appends here: appends stream through StatsTableSource by
    // design, so a feed-only reconstruction is exact for DML +
    // compaction + restore histories
    val rnd = new scala.util.Random(1357924680L)
    var nextId = 100000L
    (1 to 15).foreach { step =>
      rnd.nextInt(7) match {
        case 0 =>
          val lo = rnd.nextInt(1700).toLong
          DataSkipping.deleteWhere(s, dir,
            col("id") >= lo && col("id") < lo + 100L)
          shadow = shadow.filter { case (k, _) => k < lo || k >= lo + 100L }
        case 5 => // merge-on-read delete: feed rows must be identical
          // to the copy-on-write op's
          val lo = rnd.nextInt(1700).toLong
          DataSkipping.deleteWhereDV(s, dir,
            col("id") >= lo && col("id") < lo + 100L)
          shadow = shadow.filter { case (k, _) => k < lo || k >= lo + 100L }
        case 6 => // merge-on-read update
          val lo = rnd.nextInt(1700).toLong
          DataSkipping.updateWhereDV(s, dir,
            col("id") >= lo && col("id") < lo + 120L,
            Map("payload" -> concat(lit(s"w$step-"), col("id"))))
          shadow = shadow.map { case (k, v) =>
            k -> (if (k >= lo && k < lo + 120L) s"w$step-$k" else v)
          }
        case 1 =>
          val lo = rnd.nextInt(1700).toLong
          DataSkipping.updateWhere(s, dir,
            col("id") >= lo && col("id") < lo + 120L,
            Map("payload" -> concat(lit(s"u$step-"), col("id"))))
          shadow = shadow.map { case (k, v) =>
            k -> (if (k >= lo && k < lo + 120L) s"u$step-$k" else v)
          }
        case 2 =>
          val lo = rnd.nextInt(1700).toLong
          val srcRows = (lo until lo + 50L).map(i => (i, s"m$step-$i")) ++
            (nextId until nextId + 30L).map(i => (i, s"i$step-$i"))
          nextId += 30L
          DataSkipping.mergeUpsert(s, dir, df(srcRows), Seq("id"))
          shadow = shadow ++ srcRows.toMap
        case 3 =>
          DataSkipping.compactTable(s, dir,
            targetFileBytes = 4L * 1024 * 1024)
        case 4 =>
          val targets = DataSkipping.tableVersions(s, dir)
            .filter(snapshots.contains)
          val v = targets(rnd.nextInt(targets.size))
          DataSkipping.restoreTable(s, dir, v)
          shadow = snapshots(v)
      }
      snapshots(DataSkipping.tableVersions(s, dir).max) = shadow
    }

    // replay the WHOLE retained feed over the initial snapshot:
    // inserts add, deletes remove, postimages upsert (preimages are
    // informational). Every version's rows must compose to exactly
    // the final table state — a wrong sign, a missed file in a
    // restore diff, or a phantom change row diverges here.
    val feed = DataSkipping.readChangeFeed(s, dir, fromVersion = 1L)
      .select("id", "payload", DataSkipping.ChangeTypeCol,
        DataSkipping.CommitVersionCol)
      .collect()
      .groupBy(_.getLong(3)).toSeq.sortBy(_._1)
    var replayed: Map[Long, String] = init.toMap
    feed.foreach { case (_, rows) =>
      // within a version, deletes first: a restore diff can carry a
      // same-key delete (row's old file dropped) AND insert (row's
      // new file re-added) when a compaction sat between the two
      // states — the version's NET effect is keep-with-new-location
      val (dels, adds) = rows.partition(_.getString(2) == "delete")
      dels.foreach(r => replayed = replayed.removed(r.getLong(0)))
      adds.foreach { r =>
        if (r.getString(2) != "update_preimage")
          replayed = replayed.updated(r.getLong(0), r.getString(1))
      }
    }
    assert(replayed === shadow,
      "feed replay over the initial snapshot must reconstruct the final state")
    val live = DataSkipping.readSkipping(s, dir, col("id") >= 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live === shadow, "and the live table agrees")
  }

  test("idempotent merge txns: replays skip, stamps survive compaction, watermark is monotonic") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 400L).map(i => (i, s"p$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")),
      dir, Seq("id"))
    val app = "writer-a"
    def src(tag: String) = (100L until 150L).map(i => (i, s"$tag$i"))
      .toDF("id", "payload")
    assert(DataSkipping.txnVersion(s, dir, app).isEmpty)

    val (m1, i1) = DataSkipping.mergeUpsert(s, dir, src("v5-"), Seq("id"),
      txn = Some(app -> 5L))
    assert(m1 === 50L && i1 === 0L)
    assert(DataSkipping.txnVersion(s, dir, app) === Some(5L))

    // the classic crash window: the merge committed, the writer's own
    // offset didn't — the replay must be a detected no-op (no rows
    // changed, no new generation)
    val gens = DataSkipping.tableVersions(s, dir).size
    assert(DataSkipping.mergeUpsert(s, dir, src("replay-"), Seq("id"),
      txn = Some(app -> 5L)) === ((0L, 0L)))
    assert(DataSkipping.tableVersions(s, dir).size === gens,
      "a replayed txn must not commit a generation")
    assert(DataSkipping.readSkipping(s, dir, col("id") === 120L)
      .head().getString(1) === "v5-120", "replay must not overwrite rows")

    // the stamp is carried forward by unrelated generations
    // (compaction here) — vacuum of the stamping generation cannot
    // lose the watermark
    assert(DataSkipping.compactTable(s, dir, retentionMs = 0L) > 0)
    assert(DataSkipping.txnVersion(s, dir, app) === Some(5L))

    // a LOWER version than the watermark is also a replay (monotonic)
    assert(DataSkipping.mergeUpsert(s, dir, src("v4-"), Seq("id"),
      txn = Some(app -> 4L)) === ((0L, 0L)))
    // a new version applies, advances the watermark, and other app
    // ids are independent
    val (m6, _) = DataSkipping.mergeUpsert(s, dir, src("v6-"), Seq("id"),
      txn = Some(app -> 6L))
    assert(m6 === 50L)
    assert(DataSkipping.txnVersion(s, dir, app) === Some(6L))
    assert(DataSkipping.txnVersion(s, dir, "writer-b").isEmpty)
    assert(DataSkipping.readSkipping(s, dir, col("id") === 120L)
      .head().getString(1) === "v6-120")

    // RESTORE rewinds content, never replay protection: the
    // watermark survives a restore and the replay of the restored-
    // away merge is still detected
    val preMerge = DataSkipping.tableVersions(s, dir)
      .sorted.takeRight(2).head // the generation the v6 merge replaced
    DataSkipping.restoreTable(s, dir, preMerge)
    assert(DataSkipping.txnVersion(s, dir, app) === Some(6L),
      "restore must carry the txn watermark forward")
    assert(DataSkipping.mergeUpsert(s, dir, src("v6-replay-"), Seq("id"),
      txn = Some(app -> 6L)) === ((0L, 0L)),
      "a replay after restore must still be detected")
  }

  test("an unprunable whole-table MERGE plans its scans through ManifestFileIndex, never an O(files) path list") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // 16 files, keys interleaved so EVERY file is a candidate AND
    // touched — the worst case the DML scan path must survive at
    // 100 TB without materializing a per-file path list in any plan
    val df = (0L until 1600L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartition(16)
    DataSkipping.writeWithStats(df, dir, Seq("id"))

    val tableScans = new java.util.concurrent.CopyOnWriteArrayList[
      org.apache.spark.sql.execution.datasources.FileIndex]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // walk THROUGH adaptive wrappers, query stages and cached
      // relations — file scans hide inside all three
      private def locations(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.datasources.FileIndex] =
        p.flatMap {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f.relation.location)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            locations(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            locations(q.plan)
          case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            locations(c.relation.cachedPlan)
          case _ => Nil
        }.toSeq
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        locations(qe.executedPlan)
          // only scans of the TABLE's data files (manifest-dir reads
          // hold a handful of stats parts and stay path-listed)
          .filter(_.rootPaths.exists(p =>
            p.toString.contains(dir) &&
              !p.toString.contains(DataSkipping.StatsDir)))
          .foreach(tableScans.add)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      // every key matched: no file prunes, every file rewrites
      val (matchedK, insertedK) = DataSkipping.mergeUpsert(s, dir,
        (0L until 1600L).map(i => (i, s"m$i")).toDF("id", "payload"),
        Seq("id"))
      assert(matchedK === 1600L && insertedK === 0L)
      // listener delivery is async — poll until the candidate scan
      // (the 16-file one) has been observed
      val deadline = System.currentTimeMillis() + 15000
      def bigScans = tableScans.toArray.toSeq
        .map(_.asInstanceOf[org.apache.spark.sql.execution.datasources.FileIndex])
        .filter(_.inputFiles.length >= 16)
      while (bigScans.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(bigScans.nonEmpty, "expected at least one whole-table scan")
      bigScans.foreach { loc =>
        assert(loc.isInstanceOf[ManifestFileIndex],
          s"whole-table DML scan must plan through ManifestFileIndex, " +
            s"got ${loc.getClass.getSimpleName} over ${loc.inputFiles.length} files")
      }
    } finally s.listenerManager.unregister(listener)
    // and the merge is correct: every payload rewritten
    assert(DataSkipping.readSkipping(s, dir, col("id") >= 0L)
      .filter(col("payload").startsWith("m")).count() === 1600L)
  }

  test("nested-field stats: struct paths prune, count, and stay exact") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // m.v carries real nulls; every 97th row has a NULL struct
    // entirely (field access through a null struct reads null)
    val df = (0L until 4000L).map { i =>
      (i, if (i % 97 == 0) None
          else Some((i % 500, if (i % 7 == 0) None else Some(i * 2.0))))
    }.toDF("id", "m0")
      .select(col("id"), when(col("m0").isNotNull,
        struct(col("m0._1").as("uid"), col("m0._2").as("v"))).as("m"))
    DataSkipping.writeWithStats(df.repartitionByRange(8, col("m.uid")), dir,
      Seq("id", "m.uid", "m.v"))
    val pred = col("m.uid") >= 100L && col("m.uid") < 200L
    val (kept, files) = DataSkipping.prunedFiles(s, dir, pred)
    assert(files.size === 8)
    assert(kept.size < files.size,
      s"nested-path stats must prune: ${kept.size}/${files.size}")
    // pruning never changes results
    val viaSkip = DataSkipping.readSkipping(s, dir, pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val viaFull = s.read.parquet(dir).filter(pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSkip === viaFull && viaSkip.nonEmpty)
    // IS NULL / IS NOT NULL prune from the nested null counts (a
    // null struct reads as a null field — both engines agree)
    val nullCnt = DataSkipping.countWhere(s, dir, col("m.v").isNull)
    assert(nullCnt === df.filter(col("m.v").isNull).count())
    // metadata min/max on a struct path
    val (lo, hi) = DataSkipping.minMaxWhere(s, dir, "m.uid", lit(true))
    assert(lo.contains(0L) && hi.contains(499L))
    // metadata count with a nested predicate
    assert(DataSkipping.countWhere(s, dir, pred) ===
      df.filter(pred).count())
    // DML through a nested predicate rewrites exactly
    DataSkipping.deleteWhere(s, dir, col("m.uid") === 123L, vacuum = false)
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() ===
      df.filter(!(col("m.uid") <=> 123L)).count())
  }

  test("nested-field DML: UPDATE SET on a struct path rewrites only that field") {
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
    val n = DataSkipping.updateWhere(s, dir,
      col("m.uid") === 7L, Map("m.v" -> lit(-1.0)), vacuum = false)
    assert(n === df.filter(col("m.uid") === 7L).count())
    val out = DataSkipping.readSkipping(s, dir, lit(true))
    // addressed field updated, sibling field untouched, other rows
    // and NULL structs byte-identical
    assert(out.filter(col("m.uid") === 7L && col("m.v") =!= -1.0).count() === 0L)
    assert(out.filter(col("m.uid") =!= 7L && col("m.v") === -1.0).count() === 0L)
    assert(out.filter(col("m").isNull).count() ===
      df.filter(col("m").isNull).count())
    assert(out.agg(sum(when(col("m.uid") === 7L, 1L).otherwise(0L))).head.getLong(0) === n)
    // the SQL face: UPDATE '<t>' SET m.v = m.v + 1 WHERE m.uid = 8
    GraftSql.sql(s, s"UPDATE '$dir' SET m.v = m.v + 1 WHERE m.uid = 8")
    val after = DataSkipping.readSkipping(s, dir, col("m.uid") === 8L)
      .select("id", "m.v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    df.filter(col("m.uid") === 8L).select("id", "m.v").collect().foreach { r =>
      assert(after(r.getLong(0)) === r.getDouble(1) + 1.0)
    }
    // head-segment case-insensitivity: a mismatched-case head must
    // UPDATE (not silently rewrite files unchanged)
    val n2 = DataSkipping.updateWhere(s, dir,
      col("m.uid") === 9L, Map("M.v" -> lit(-2.0)), vacuum = false)
    assert(n2 > 0L)
    assert(DataSkipping.readSkipping(s, dir, col("m.uid") === 9L)
      .filter(col("m.v") =!= -2.0).count() === 0L,
      "case-mismatched nested SET head must still apply")
    // assigning a struct AND one of its fields together is ambiguous
    intercept[Exception] {
      DataSkipping.updateWhere(s, dir, lit(true),
        Map("m" -> col("m"), "m.v" -> lit(0.0)))
    }
    // a path that resolves nowhere refuses loudly
    intercept[Exception] {
      DataSkipping.updateWhere(s, dir, lit(true), Map("m.nope" -> lit(1)))
    }
    // overlapping nested paths (a subtree and a field inside it)
    // would apply in Map order — refused
    val dir2 = tmp()
    val df2 = Seq((1L, 2L, 3L, 4L)).toDF("id", "x", "y", "z")
      .select(col("id"), struct(
        struct(col("x"), col("y")).as("in"), col("z")).as("m"))
    DataSkipping.writeWithStats(df2, dir2, Seq("id"))
    intercept[Exception] {
      DataSkipping.updateWhere(s, dir2, lit(true),
        Map("m.in" -> col("m.in"), "m.in.x" -> lit(9L)))
    }
  }

  test("nested-field stats: bloom point lookup on a struct path prunes") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    // unclustered high-cardinality nested key: every file's min/max
    // spans the domain, only the per-file bloom can prune
    val df = (0L until 4000L).map(i => (i, ((i * 2654435761L) % 99991L, s"p$i")))
      .toDF("id", "m0")
      .select(col("id"),
        struct(col("m0._1").as("key"), col("m0._2").as("tag")).as("m"))
    DataSkipping.writeWithStats(df.repartition(8), dir, Seq("id", "m.key"),
      bloomCols = Seq("m.key"))
    val target = (1234L * 2654435761L) % 99991L
    val (kept, files) = DataSkipping.prunedFiles(s, dir, col("m.key") === target)
    assert(files.size === 8)
    assert(kept.size < files.size,
      s"nested bloom must prune: ${kept.size}/${files.size}")
    val got = DataSkipping.readSkipping(s, dir, col("m.key") === target)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1234L))
  }

  test("nested-field stats on a PARTITIONED table: paths track, prune, and append") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val df = (0L until 900L).map(i => (i, i % 3, (i % 90, i * 1.0)))
      .toDF("id", "p", "m0")
      .select(col("id"), col("p"),
        struct(col("m0._1").as("uid"), col("m0._2").as("v")).as("m"))
    DataSkipping.writeWithStats(df.repartitionByRange(4, col("m.uid")), dir,
      Seq("id", "m.uid"), bloomCols = Nil, partitionBy = Seq("p"))
    val pred = col("m.uid") >= 30L && col("m.uid") < 60L
    val (kept, files) = DataSkipping.prunedFiles(s, dir, pred)
    assert(kept.size < files.size,
      s"nested stats must prune inside partitions: ${kept.size}/${files.size}")
    assert(DataSkipping.readSkipping(s, dir, pred).count() ===
      df.filter(pred).count())
    // appends route by partition and keep tracking the path
    DataSkipping.appendWithStats(
      (900L until 960L).map(i => (i, i % 3, (i % 90, i * 1.0)))
        .toDF("id", "p", "m0")
        .select(col("id"), col("p"),
          struct(col("m0._1").as("uid"), col("m0._2").as("v")).as("m")),
      dir, Seq("id", "m.uid"))
    assert(DataSkipping.countWhere(s, dir, pred) ===
      (0L until 960L).count(i => i % 90 >= 30 && i % 90 < 60))
    // combined partition + nested predicate
    val both = col("p") === 1L && pred
    assert(DataSkipping.readSkipping(s, dir, both).count() ===
      (0L until 960L).count(i => i % 3 == 1 && i % 90 >= 30 && i % 90 < 60))
  }

  test("nested-field stats: evolution adds a struct column; old files stay correct") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 1000L).map(i => (i, i % 10)).toDF("id", "k")
        .repartitionByRange(4, col("id")), dir, Seq("id"))
    // evolve: a NEW struct column `meta` arrives, with stats tracked
    // on its `q` field — old files' manifest rows carry NULL nested
    // stats (the column didn't exist: every row reads NULL there)
    val batch = (1000L until 1400L).map(i => (i, i % 10, i * 3))
      .toDF("id", "k", "q0")
      .select(col("id"), col("k"), struct(col("q0").as("q")).as("meta"))
    DataSkipping.appendWithStats(batch.repartitionByRange(2, col("id")), dir,
      Seq("id", "meta.q"), mergeSchema = true)
    // a value predicate on meta.q PRUNES the pre-evolution files
    // (all-null there — dropping them is exact) and answers right
    val pred = col("meta.q") >= 3300L && col("meta.q") < 3600L
    val (kept, files) = DataSkipping.prunedFiles(s, dir, pred)
    assert(kept.size < files.size, s"${kept.size}/${files.size}")
    val got = DataSkipping.readSkipping(s, dir, pred)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (1100L until 1200L).toSeq)
    // IS NULL keeps the old files (null backfill in the rewriter)
    assert(DataSkipping.countWhere(s, dir, col("meta.q").isNull) === 1000L)
    assert(DataSkipping.readSkipping(s, dir, col("meta.q").isNull).count() === 1000L)
  }

  test("staged overwrite: a self-reading overwrite never destroys its own source") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 400L).map(i => (i, i % 4)).toDF("id", "k")
        .repartitionByRange(4, col("id")), dir, Seq("id"))
    // a deletion vector on the source exercises the vector-aware read
    // inside the overwrite's input plan
    DataSkipping.deleteWhereDV(s, dir, col("id") % 10 === 9L)
    // INSERT OVERWRITE t SELECT … FROM t — the input plan READS the
    // table being overwritten; the staged write must complete the
    // read before anything is deleted (the eager-delete shape
    // destroyed the source mid-plan)
    val input = DataSkipping.readSkipping(s, dir, col("id") < 300L)
      .withColumn("k", col("k") + 100L)
    DataSkipping.writeWithStats(input, dir, Seq("id"))
    val out = DataSkipping.readSkipping(s, dir, lit(true))
    assert(out.count() === (0L until 300L).count(_ % 10 != 9))
    assert(out.agg(min("k")).head.getLong(0) === 100L)
    // overwriting a LIVE graft table is a GENERATION COMMIT (r17):
    // history grows, the op is recorded, and the replaced state stays
    // time-travelable for the retention window
    assert(DataSkipping.tableVersions(s, dir).size >= 2,
      "overwrite must commit a new generation, not reset history")
    assert(DataSkipping.describeHistory(s, dir)
      .filter(col("operation") === "OVERWRITE").count() >= 1L)
    // no staging residue in the table root
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith(".overwrite-staging-")))
  }

  test("staged overwrite: partitioned self-overwrite and write-failure atomicity") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    DataSkipping.writeWithStats(
      (0L until 300L).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v"),
      dir, Seq("id"), bloomCols = Nil, partitionBy = Seq("p"))
    // partitioned overwrite whose input reads the target
    val input = DataSkipping.readSkipping(s, dir, col("p") < 2L)
    DataSkipping.writeWithStats(input, dir, Seq("id"),
      bloomCols = Nil, partitionBy = Seq("p"))
    assert(DataSkipping.readSkipping(s, dir, lit(true)).count() === 200L)
    // a FAILING overwrite job must leave the old table byte-identical
    // (the old shape deleted the root before the job ran: a failure
    // left no table and no _stats history at all)
    val before = DataSkipping.readSkipping(s, dir, lit(true))
      .orderBy("id").collect().toSeq
    val boom = udf((i: Long) =>
      if (i >= 0) throw new RuntimeException("boom") else i)
    intercept[Exception] {
      DataSkipping.writeWithStats(
        s.range(10).select(boom(col("id")).as("id"), col("id").as("p")),
        dir, Seq("id"), bloomCols = Nil, partitionBy = Seq("p"))
    }
    assert(DataSkipping.readSkipping(s, dir, lit(true))
      .orderBy("id").collect().toSeq === before,
      "failed overwrite must leave the old table intact")
  }
}
