package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The WRITE surface: writeWithStats (fresh v0 + the generation-commit overwrite), CONVERT TO GRAFT, appendWithStats with schema evolution and named commit markers, per-file stats computation, sidecars, staging move-in and the manifest-file commit primitives.
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait StorageWrite { this: DataSkipping.type =>

  // -----------------------------------------------------------------
  // Write / append
  // -----------------------------------------------------------------

  /** Write `df` as parquet at `path` plus a per-file manifest for
    * `statsCols`: min/max per column, row count, and the file's SIZE
    * and MODIFICATION TIME (from the scan's `_metadata` struct — no
    * extra filesystem listing), so a pruned read can build its file
    * index purely from the manifest. The table schema is persisted
    * alongside (`_table_schema.json`) so planning never touches a
    * data-file footer. Stats are computed in ONE extra scan of the
    * written files, grouped by file (partial-agg shuffle keyed on
    * file path — one row per file crosses the wire).
    */
  def writeWithStats(df: DataFrame, path: String, statsCols: Seq[String]): Unit =
    writeWithStats(df, path, statsCols, Nil)

  /** As above, plus per-file BLOOM filters for `bloomCols` — the
    * Delta bloom-filter-index analog for point lookups on
    * high-cardinality columns where min/max ranges are useless (an
    * unclustered id spans every file's range, so range stats keep
    * everything; a per-file Bloom keeps ~1 file + fpp stragglers).
    * Costs `bloomBits/8` bytes per file per column in the manifest
    * (8 KB at the 64 Ki default) — opt in for the tables you point-
    * look-up, not everywhere.
    *
    * `changeFeed = true` enables the table's CHANGE DATA FEED (the
    * Delta `enableChangeDataFeed` analog, a manifest feature flag):
    * every row-level DML generation additionally materializes its
    * changed rows under `_change_data/v<N>` for [[readChangeFeed]].
    * Appends need no change files — they stream as inserts through
    * [[graft.streaming.StatsTableSource]] (exactly Delta's
    * insert-only-commit optimization); compaction changes nothing
    * logically and records nothing.
    *
    * `partitionBy` non-empty writes a NATIVE HIVE-PARTITIONED graft
    * table (the Delta `partitionBy` writer analog): rows route into
    * `col=value` directories, each partition column is tracked
    * implicitly (per-file min = max = the directory value — exact
    * file-level partition pruning straight from the manifest), and
    * the result is byte-for-byte the table [[convertToStats]]'s
    * PARTITIONED BY form produces — every partitioned capability
    * (appends, DML, merges, OPTIMIZE, Z-order, restore, feed)
    * applies. Partition column TYPES are the DataFrame's own (the
    * sidecar schema is authoritative; directory strings cast back to
    * it at read time), so a `bigint` partition column stays `bigint`
    * even where bare directory discovery would narrow it.
    */
  /** Overwrite a NON-graft target by STAGING: run the write job into
    * a hidden dir under the target first, then clear the old entries
    * and move the staged children up. Reached only when `path` holds
    * no committed graft table (fresh dir, plain parquet, crashed
    * first-write debris) — an existing graft table overwrites through
    * [[overwriteGeneration]] instead (one atomic generation commit,
    * old files on the removal log). Ordering still matters here: the
    * write job (which may READ the target) completes against the
    * intact old files before anything is deleted, so a self-reading
    * overwrite is simply correct, and a write-job failure leaves the
    * old dir byte-identical. The swap itself is NOT atomic — new
    * files move in first (flat names can't collide: UUID part names;
    * a colliding old entry, e.g. a partition dir of the same
    * `col=value` name or a stale _SUCCESS, is deleted just-in-time
    * inside the move loop), then the remaining old entries clear — so
    * a crash inside the move/delete phase can leave a MIX of old and
    * new files in a plain directory. That is the accepted contract
    * for a target that was never a graft table (no manifest existed,
    * so no manifest can be lost); graft tables never take this path.
    * The staging dir is dot-prefixed so listing-based readers never
    * see it.
    */
  private[sources] def stagedOverwrite(spark: SparkSession, path: String,
      write: String => Unit): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root,
      s".overwrite-staging-${java.util.UUID.randomUUID}")
    try write(staging.toString)
    catch {
      case e: Throwable =>
        // failed write job: the old table is untouched — remove the
        // partial staging dir and surface the failure
        try fs.delete(staging, true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    // swap, NEW FILES FIRST: snapshot the old entries, move the
    // staged children up (UUID part names can't collide; a stale
    // same-named marker like _SUCCESS is itself an old entry —
    // cleared just-in-time), THEN delete the old entries (old data
    // files, old _graft_stats generations). Ordering shrinks the
    // crash exposure: up to the deletes, the old manifest still
    // references only intact old files (a crash strands the new
    // files as manifest-invisible orphans, never a missing table);
    // only the delete phase itself — pure metadata ops, no job — can
    // leave a torn state, and the caller's fresh v0 commit is the
    // reader-visible switch.
    val old = fs.listStatus(root)
      .filterNot(_.getPath.getName == staging.getName)
    val movedNames = fs.listStatus(staging).map { e =>
      val dest = new Path(root, e.getPath.getName)
      if (fs.exists(dest)) fs.delete(dest, true)
      require(fs.rename(e.getPath, dest),
        s"staged overwrite of $path: rename ${e.getPath} -> $dest failed")
      e.getPath.getName
    }.toSet
    fs.delete(staging, true)
    // a replaced-in-place name (e.g. _SUCCESS) now IS the new file —
    // the old-entry sweep must not delete it
    old.filterNot(e => movedNames(e.getPath.getName))
      .foreach(e => fs.delete(e.getPath, true))
  }

  /** Does `path` hold a COMMITTED graft table (a committed
    * generation; an older layout is refused by [[manifestDirOf]],
    * never overwritten)? Decides whether an overwrite must commit
    * through the generation machinery ([[overwriteGeneration]]) or
    * may build a fresh v0 ([[stagedOverwrite]] — nothing committed
    * exists to protect).
    */
  private[sources] def committedTableAt(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Boolean =
    obsVersionOf(manifestDirOf(fs, path)).isDefined

  /** Overwrite an EXISTING graft table as ONE atomic generation
    * commit — the Delta overwrite contract: stage the new files, then
    * publish generation v(N+1) whose manifest references ONLY them,
    * with every old data file on the new generation's removal log for
    * retention vacuum (never deleted inline). Consequences, all
    * load-bearing at 100 TB:
    *
    *  - ATOMIC to concurrent readers: the table flips old→new at the
    *    single `_COMMIT` create; there is no window where a reader
    *    resolves no manifest (the pre-r17 swap deleted the old
    *    generations before the fresh v0 committed — minutes of
    *    O(files) object-store deletes with the table unreadable).
    *  - CRASH-SAFE: a failure at ANY point before the commit leaves
    *    the old generation current and every old file intact; the
    *    staged/moved new files are manifest-invisible orphans,
    *    reclaimed by [[vacuumTable]]'s orphan pass.
    *  - IN-FLIGHT-READER-SAFE: a reader pinned to the old generation
    *    keeps its files for the retention window, like after any
    *    compaction or DML.
    *  - TIME-TRAVELABLE: the pre-overwrite state stays readable via
    *    `versionAsOf` and restorable via [[restoreTable]] until
    *    retention expires; `describeHistory` records the OVERWRITE.
    *
    * Semantics are CREATE OR REPLACE: the batch defines the new
    * schema, tracked columns, partitioning and feature flags;
    * declarations (CHECK constraints, column mapping, generated /
    * identity columns, clustering state) reset rather than riding
    * forward — exactly what the pre-r17 delete-everything swap
    * produced, now without its torn-table windows. The old
    * declarations remain in the superseded generations for time
    * travel. Old commit markers fold to zero-row (their batches are
    * no longer replayable — the compaction caveat, table-wide), which
    * still short-circuits an at-least-once writer's replays.
    *
    * The write job runs against the INTACT old table, so a
    * self-reading overwrite (`INSERT OVERWRITE t SELECT … FROM t`)
    * stays correct. Optimistic concurrency is the standard contract:
    * strict observed+1 commit targeting, whole-op retry on a lost
    * race; a concurrent APPEND beyond the observed pin rides into the
    * new generation verbatim (serialized after the overwrite).
    */
  private[sources] def overwriteGeneration(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, df: DataFrame,
      statsCols: Seq[String], bloom: Option[(Seq[String], Int, Int)],
      changeFeed: Boolean, partitionBy: Seq[String],
      extraSidecars: Map[String, String] = Map.empty): Unit =
      withConcurrentRetry("overwrite") {
    val opStart = System.currentTimeMillis()
    val dir = manifestDirOf(fs, path)
    // observed pin BEFORE the manifest read — the optimistic-commit
    // contract (anything landing later rides forward verbatim)
    val observed = listManifestNames(fs, dir)
    // every old data file → the removal log (bounded manifest-rows
    // collect, like every maintenance op); a partless manifest
    // (freshly bootstrapped empty table) removes nothing
    val removed =
      if (observed.isEmpty) Seq.empty[String]
      else readManifestPinned(spark, dir, observed)
        .select("file").distinct().collect()
        .map(r => rootRelativeOrName(fs, path, r.getString(0))).toSeq
    val staging = new Path(path,
      s".overwrite-staging-${java.util.UUID.randomUUID}")
    // per-file manifest stats gathered in the write tasks (guide §6)
    // — the statsFor read-back below then never executes
    val writeStats = try {
      stagedWriteTracked(df, staging, partitionBy,
        statsCols ++ partitionBy, bloom)
    } catch {
      case e: Throwable =>
        try fs.delete(staging, true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    val moved =
      if (partitionBy.isEmpty) moveIn(fs, staging, new Path(path))
      else moveInPartitioned(fs, staging, new Path(path))
    require(moved.nonEmpty,
      s"overwrite of $path wrote no data files (empty input) — " +
        "an empty overwrite is refused, like the fresh-table write path")
    val (schema, tracked, written) =
      if (partitionBy.isEmpty) {
        // read-back schema like the fresh flat write (nullable)
        val w = spark.read.parquet(moved: _*)
        (w.schema, statsCols, w)
      } else {
        // same schema construction + part-aware stats scan as the
        // fresh partitioned write — but restricted to the MOVED
        // files (the root still holds the old generation's files)
        val sch = StructType(
          (df.schema.filterNot(f => partitionBy.contains(f.name)) ++
            partitionBy.map(c => df.schema(df.schema.fieldIndex(c))))
            .map(_.copy(nullable = true)))
        (sch, statsCols ++ partitionBy,
          partAwareStatusScanCols(spark, path, partitionBy, sch,
            statusesFor(fs, moved)))
      }
    val stats = statsFor(written, tracked, bloom)
    val statsLocal: Option[(StructType, Seq[Row])] =
      if (moved.size > 10000) None
      else writeStats.flatMap(ws => statsRowsFromWrite(fs, path, moved,
          tracked, partitionBy, bloom.map(_._1).getOrElse(Nil), ws,
          stats.schema))
        .map(rows => (stats.schema, rows))
    val feats = Set("nulls") ++
      (if (partitionBy.nonEmpty) Set(PartitionedFeature)
       else Set.empty[String]) ++
      bloom.map(b => bloomFeatureLine(b)).toSet ++
      (if (changeFeed) Set(CdfFeature) else Set.empty[String])
    publishGeneration(spark, fs, path, dir, stats, schema, tracked,
      feats, stats.schema,
      removedData = removed,
      markerRetentionMs = RetentionDefaultMs, opStartMs = opStart,
      verbatimMarkers = Set.empty,
      changeData = None, op = "OVERWRITE", txn = None, dv = None,
      clustered = None, observedParts = Some(observed),
      resetDeclarations = true,
      partitionColsNew = Some(partitionBy).filter(_.nonEmpty),
      extraSidecars = extraSidecars,
      manifestRowsLocal = statsLocal)
    vacuumTable(spark, path, RetentionDefaultMs)
  }

  def writeWithStats(df0: DataFrame, path: String, statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int = 1 << 16,
      bloomHashes: Int = 7, changeFeed: Boolean = false,
      partitionBy: Seq[String] = Nil,
      optimizeWrite: Boolean = false,
      extraSidecars: Map[String, String] = Map.empty): Unit = {
    require(statsCols.nonEmpty, "at least one stats column")
    val opStart = System.currentTimeMillis()
    // OPTIMIZED WRITE (the Delta optimizeWrite analog): shuffle rows
    // onto their partition values BEFORE the write job, so each
    // partition directory gets ONE file per write instead of one per
    // (task × value) — at ingest cadence the difference between
    // O(writes) and O(writes × tasks) files for every later plan to
    // list, stat and open. Splitting a genuinely huge partition value
    // into well-sized files remains OPTIMIZE's job (post-hoc, size-
    // aware); this knob only stops the small-file fan-out at birth.
    val df = if (optimizeWrite && partitionBy.nonEmpty)
      df0.repartition(partitionBy.map(col): _*) else df0
    val spark = df.sparkSession
    val bloom = if (bloomCols.isEmpty) None
      else Some((bloomCols, bloomBits, bloomHashes))
    if (partitionBy.nonEmpty) {
      partitionBy.foreach(c => require(df.columns.contains(c),
        s"partition column $c is not in the DataFrame ${df.schema.simpleString}"))
      require(statsCols.intersect(partitionBy).isEmpty &&
          bloomCols.intersect(partitionBy).isEmpty,
        "partition columns are tracked implicitly (min=max=directory " +
          "value); statsCols / bloomCols must name data columns")
      requireVisiblePartitionNames(partitionBy)
    }
    val tfs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (committedTableAt(tfs, path)) {
      // replacing a LIVE graft table: one atomic generation commit,
      // old files on the removal log — never the delete-then-recommit
      // swap (see overwriteGeneration)
      overwriteGeneration(spark, tfs, path, df, statsCols, bloom,
        changeFeed, partitionBy, extraSidecars)
    } else if (partitionBy.isEmpty) {
      // per-file manifest stats gathered in the write tasks (guide §6)
      // — the statsFor read-back below then never executes
      var writeStats: Option[Seq[org.apache.spark.sql.graft.FileWriteStats]] =
        None
      stagedOverwrite(spark, path, s =>
        writeStats = stagedWriteTracked(df, new Path(s), Nil, statsCols, bloom))
      val written = spark.read.parquet(path)
      val stats = statsFor(written, statsCols, bloom)
      val moved = tfs.listStatus(new Path(path)).filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")
      }.map(_.getPath.toString).toSeq
      val statsLocal: Option[Seq[Row]] =
        if (moved.size > 10000) None
        else writeStats.flatMap(ws => statsRowsFromWrite(tfs, path, moved,
          statsCols, Nil, bloomCols, ws, stats.schema))
      // v0, committed by its marker — the overwrite above cleared the
      // table dir, so this is always the first generation
      val gen = s"$path/$StatsDir/v0"
      statsLocal match {
        case Some(rows) =>
          tfs.mkdirs(new Path(gen))
          writeLocalParquetFile(spark, stats.schema, rows,
            new Path(gen, s"part-${java.util.UUID.randomUUID}.parquet"))
        case None => stats.write.mode("overwrite").parquet(gen)
      }
      writeSidecars(spark, gen, written.schema, statsCols,
        Set("nulls") ++ bloom.map(b => bloomFeatureLine(b)).toSet ++
          (if (changeFeed) Set(CdfFeature) else Set.empty),
        manifestSchema = Some(stats.schema))
      writeExtraSidecars(spark, gen, extraSidecars)
      writeOpFile(tfs, new Path(gen), "WRITE", opStart)
      commitGen(spark, new Path(gen))
    } else {
      // Staged like the flat branch (write job first, destructive
      // clear after) — and the explicit clear also keeps "this is
      // always the first generation" under spark.sql.sources
      // .partitionOverwriteMode=dynamic, where a direct partitioned
      // overwrite replaces only the partitions the batch touches and
      // stale UNCOMMITTED `_stats` debris would otherwise survive
      // under the fresh v0 below. Staging into a fresh empty dir
      // neutralizes dynamic mode for the write itself (every
      // partition is "touched" in an empty target).
      // per-file manifest stats gathered in the write tasks (guide §6)
      // — the part-aware statsFor read-back below then never executes
      var writeStats: Option[Seq[org.apache.spark.sql.graft.FileWriteStats]] =
        None
      stagedOverwrite(spark, path, s =>
        writeStats = stagedWriteTracked(df, new Path(s), partitionBy,
          statsCols ++ partitionBy, bloom))
      // NULLABLE sidecar, matching the flat path's read-back schemas:
      // a later evolution batch may omit a column, and a REQUIRED
      // column missing from a file fails the parquet reader
      val schema = StructType(
        (df.schema.filterNot(f => partitionBy.contains(f.name)) ++
          partitionBy.map(c => df.schema(df.schema.fieldIndex(c))))
          .map(_.copy(nullable = true)))
      // v0 stats run through the SAME part-aware scan every append and
      // read uses (partition values cast from the raw directory
      // segments via castPartValue), NOT through spark.read.parquet
      // discovery: for a STRING partition column holding a
      // numeric-looking, non-canonical value ('01'), discovery narrows
      // to int 1 and the cast back yields '1', while the read path
      // serves the raw '01' — a `= '01'` predicate would then prune
      // the file against its own manifest and silently drop rows.
      val fs = new Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val listed = listPartitionedDataFiles(fs, new Path(path))
      val written = partAwareStatusScanCols(spark, path, partitionBy, schema,
        listed)
      val tracked = statsCols ++ partitionBy
      val stats = statsFor(written, tracked, bloom)
      val statsLocal: Option[Seq[Row]] =
        if (listed.size > 10000) None
        else writeStats.flatMap(ws => statsRowsFromWrite(fs, path,
          listed.map(_.getPath.toString), tracked, partitionBy, bloomCols,
          ws, stats.schema))
      val gen = s"$path/$StatsDir/v0"
      statsLocal match {
        case Some(rows) =>
          fs.mkdirs(new Path(gen))
          writeLocalParquetFile(spark, stats.schema, rows,
            new Path(gen, s"part-${java.util.UUID.randomUUID}.parquet"))
        case None => stats.write.mode("overwrite").parquet(gen)
      }
      writeSidecars(spark, gen, schema, tracked,
        Set("nulls", PartitionedFeature) ++
          bloom.map(b => bloomFeatureLine(b)).toSet ++
          (if (changeFeed) Set(CdfFeature) else Set.empty),
        manifestSchema = Some(stats.schema))
      val out = fs.create(new Path(gen, PartitionColsFile), true)
      try out.write(partitionBy.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      writeExtraSidecars(spark, gen, extraSidecars)
      writeOpFile(fs, new Path(gen), "WRITE", opStart)
      commitGen(spark, new Path(gen))
    }
  }

  /** Caller-supplied generation sidecars for the FRESH-table write
    * branches (the overwrite branch routes through
    * [[publishGeneration]]'s own handling). Written before the
    * `_COMMIT`, so they are atomic with the generation.
    */
  private def writeExtraSidecars(spark: SparkSession, gen: String,
      extras: Map[String, String]): Unit =
    extras.foreach { case (n, body) =>
      val fs = new Path(gen).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new Path(gen, n), true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** CONVERT TO GRAFT (the Delta `CONVERT TO DELTA` analog): build a
    * stats-table manifest OVER an existing plain parquet directory —
    * ZERO data bytes rewritten, so converting a 100 TB dataset costs
    * one stats scan (the same per-file grouped aggregate every write
    * runs), not a rewrite. After conversion the directory is a
    * first-class graft table: pruned reads, appends, DML, time
    * travel, OPTIMIZE — everything. The original files simply become
    * generation v0's data files; `describeHistory` records CONVERT.
    *
    * Refused on a directory that already has a stats dir (already a
    * graft table) or holds no parquet files.
    *
    * PARTITIONED LAYOUTS (`partitionBy` non-empty — Delta's
    * `CONVERT TO DELTA ... PARTITIONED BY` analog): the source is a
    * Hive-partitioned dataset (`path/a=1/b=x/part-*.parquet`).
    * Partition values come from DIRECTORY NAMES, never data bytes —
    * still zero rewrite. Each partition column becomes a tracked
    * stats column (its per-file min = max = the directory value), so
    * partition-predicate pruning is exact FILE-level manifest
    * pruning: no directory listing at plan time, strictly better
    * than Hive-style partition enumeration at 10^5 partitions. The
    * names land in the [[PartitionColsFile]] sidecar and the
    * [[PartitionedFeature]] flag, and reads serve the values through
    * the relation's partition schema (see [[readSkippingIn]]). A
    * partition-converted table is FULLY MUTABLE: appends
    * ([[appendPartitioned]] routes each batch into the partition
    * layout), copy-on-write and deletion-vector DELETE/UPDATE +
    * PURGE with the change feed, keyed merges (partition migration
    * included), within-partition OPTIMIZE/Z-order/incremental
    * recluster, RESTORE, streaming reads and writes, and metadata
    * DDL (RENAME of data AND partition columns, DROP of data
    * columns, generated and identity columns; partition-column DROP
    * and identity-on-partition-column are refused with narrow
    * rules) and mergeSchema SCHEMA EVOLUTION (new nullable data
    * columns, omitted data columns; the partition frame itself is
    * fixed — a batch always carries every partition column and can
    * never add one). `partitionBy` must name
    * the directory levels in nesting order; partition column types
    * are inferred exactly as `spark.read.parquet` infers them.
    *
    * With `partitionBy` empty, the source must be a plain FLAT
    * parquet dataset; a directory holding `col=value` subdirectories
    * is refused with a pointer at the partitioned form — only
    * layouts that are neither flat nor Hive-partitioned (arbitrary
    * nested dirs, mixed flat+partitioned) are genuinely
    * unconvertible.
    *
    * Returns the number of data files the manifest now tracks.
    */
  def convertToStats(spark: SparkSession, path: String, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, bloomBits: Int = 1 << 16,
      bloomHashes: Int = 7, changeFeed: Boolean = false,
      partitionBy: Seq[String] = Nil): Long = {
    require(statsCols.nonEmpty, "at least one stats column")
    requireVisiblePartitionNames(partitionBy)
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(s"$path/$StatsDir")),
      s"$path already has a stats dir — it is already a graft table")
    val entries = fs.listStatus(new Path(path))
    val nested = entries.filter(f =>
      f.isDirectory && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    val topFiles = entries.filter { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
    val bloom = if (bloomCols.isEmpty) None
      else Some((bloomCols, bloomBits, bloomHashes))

    if (partitionBy.isEmpty) {
      require(nested.isEmpty,
        s"$path holds subdirectories (${nested.map(_.getPath.getName).take(3).mkString(",")}" +
          ") — pass partitionBy (SQL: CONVERT ... PARTITIONED BY) for a " +
          "Hive-partitioned layout; other nested layouts are not convertible")
      require(topFiles.nonEmpty, s"no top-level parquet data files at $path to convert")
      val existing = spark.read.parquet(path)
      val stats = statsFor(existing, statsCols, bloom)
      val gen = s"$path/$StatsDir/v0"
      stats.write.mode("overwrite").parquet(gen)
      writeSidecars(spark, gen, existing.schema, statsCols,
        Set("nulls") ++ bloom.map(b => bloomFeatureLine(b)).toSet ++
          (if (changeFeed) Set(CdfFeature) else Set.empty),
        manifestSchema = Some(stats.schema))
      writeOpFile(fs, new Path(gen), "CONVERT", opStart)
      commitGen(spark, new Path(gen))
      topFiles.length.toLong
    } else {
      require(topFiles.isEmpty,
        s"$path mixes top-level parquet files with partition directories " +
          "— a mixed flat+partitioned layout is not convertible")
      require(nested.nonEmpty, s"no partition directories at $path to convert")
      val notPart = nested.filterNot(
        _.getPath.getName.startsWith(partitionBy.head + "="))
      require(notPart.isEmpty,
        s"subdirectories (${notPart.map(_.getPath.getName).take(3).mkString(",")}) " +
          s"are not '${partitionBy.head}=' partition dirs — the layout does not " +
          s"match PARTITIONED BY (${partitionBy.mkString(", ")})")
      require(statsCols.intersect(partitionBy).isEmpty &&
          bloomCols.intersect(partitionBy).isEmpty,
        "partition columns are tracked implicitly (min=max=directory value); " +
          "STATS BY / bloom columns must name data columns")
      // row-level DML commits on partition-converted tables, so the
      // feed has real rows to record — the change files materialize
      // the partition columns from the part-aware touched scan, and
      // feed readers serve them flat.
      // Spark's own partition discovery parses the directory keys and
      // infers their types; the discovered columns land LAST in the
      // schema, which is the canonical order the sidecar keeps.
      val existing = spark.read.parquet(path)
      val discovered = existing.schema.fieldNames.toSeq
      require(discovered.takeRight(partitionBy.size) == partitionBy,
        s"discovered partition columns ${discovered.takeRight(partitionBy.size)
          .mkString("(", ", ", ")")} do not match PARTITIONED BY " +
          s"(${partitionBy.mkString(", ")}) — names must be given in " +
          "directory-nesting order")
      val tracked = statsCols ++ partitionBy
      val stats = statsFor(existing, tracked, bloom)
      val gen = s"$path/$StatsDir/v0"
      stats.write.mode("overwrite").parquet(gen)
      writeSidecars(spark, gen, existing.schema, tracked,
        Set("nulls", PartitionedFeature) ++
          bloom.map(b => bloomFeatureLine(b)).toSet ++
          (if (changeFeed) Set(CdfFeature) else Set.empty),
        manifestSchema = Some(stats.schema))
      val out = fs.create(new Path(gen, PartitionColsFile), true)
      try out.write(partitionBy.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      writeOpFile(fs, new Path(gen), "CONVERT", opStart)
      commitGen(spark, new Path(gen))
      spark.read.parquet(gen).count()
    }
  }

  /** Partition column names of a partition-converted table (empty
    * for ordinary flat graft tables). Directory-nesting order.
    */
  def tablePartitionColumns(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitionColsIn(fs, manifestDirOf(fs, path))
  }

  /** The partition columns under their CURRENT LOGICAL names (the
    * sidecar stores PHYSICAL names — stable directory keys that a
    * RENAME never moves; users declare partitioning in logical
    * names, so comparisons against a declaration must translate).
    */
  def tablePartitionColumnsLogical(spark: SparkSession,
      path: String): Seq[String] = {
    val phys = tablePartitionColumns(spark, path)
    if (phys.isEmpty) phys
    else {
      val inverse = columnMapping(spark, path).map(_.swap)
      phys.map(p => inverse.getOrElse(p, p))
    }
  }

  /** Shared writer-entry guard: a caller-declared `partitionBy` must
    * either be empty (appends always route by the table's OWN
    * layout) or name exactly the table's partition columns — in
    * LOGICAL names, so the check survives a partition-column
    * rename. Silently ignoring a mismatched declaration would leave
    * the user believing a layout that does not exist.
    */
  private[graft] def requireDeclaredPartitioning(spark: SparkSession,
      path: String, declared: Seq[String], what: String): Unit =
    if (declared.nonEmpty) {
      val logical = tablePartitionColumnsLogical(spark, path)
      require(declared == logical,
        s"$what: partitionBy(${declared.mkString(",")}) does not match the " +
          s"table's partition columns (${logical.mkString(",")}) — writes " +
          "route by the table's own layout; omit partitionBy or match it")
    }

  private[sources] def partitionColsIn(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[String] =
    readSidecarIn(fs, dir, PartitionColsFile)
      .map(_.linesIterator.filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** A partition column named with a leading '_' or '.' would
    * produce `_col=value` directories that Spark's OWN hidden-path
    * convention (and every walker in this file) skips — the batch
    * would be written and then silently invisible to stats, moves
    * and reads. Refuse loudly at every partitioned write entry.
    */
  private[sources] def requireVisiblePartitionNames(partCols: Seq[String]): Unit =
    partCols.foreach(c => require(
      !c.startsWith("_") && !c.startsWith("."),
      s"partition column name '$c' starts with '_' or '.' — its " +
        s"'$c=value' directories would be treated as HIDDEN paths by " +
        "Spark's listing convention (silent data loss); rename the " +
        "column before partitioning by it"))

  /** Every data file under a partitioned table root: walks the
    * `col=value` tree, skipping hidden ('_'/'.'-prefixed) dirs and
    * files — the manifest dir, crash-staging dirs, _SUCCESS. One
    * driver-side recursive listing, O(partition dirs + files), used
    * only by the v0 write (append/DML paths track their own moved
    * files and never re-list).
    */
  private[sources] def listPartitionedDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[FileStatusWithMetadata] = {
    def walk(d: Path): Seq[FileStatusWithMetadata] =
      fs.listStatus(d).toSeq.flatMap { f =>
        val n = f.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (f.isDirectory) walk(f.getPath)
        else if (n.endsWith(".parquet")) Seq(FileStatusWithMetadata(f))
        else Nil
      }
    walk(root)
  }

  /** `col=value` partition values for one data file, parsed from its
    * path — raw (still-escaped-string) form; [[castPartValue]] turns
    * them into typed partition-row values. Only segments BELOW the
    * table root are considered: a root directory that itself looks
    * like `col=value` (e.g. `/data/shard=5/tbl`) must not silently
    * supply a partition value when the real per-file segment is
    * missing — that case keeps the loud error below. Both paths are
    * qualified through the table's filesystem before relativizing, so
    * a RELATIVE or differently-qualified root (`tmp/t` handed to a
    * table whose manifest stores `file:/cwd/tmp/t/...`) aligns by URI
    * prefix instead of tripping a misaligned segment count. A file
    * that does not resolve under the root at all (a shallow CLONE's
    * manifest names the SOURCE table's files) parses the partition
    * dirs nesting immediately above the file instead — contiguous
    * `col=value` segments of tracked columns only, so a source root
    * that itself looks like `col=value` still cannot supply a phantom
    * value past a non-partition segment.
    */
  private[sources] def parsePartValues(fs: org.apache.hadoop.fs.FileSystem,
      tableRoot: String, filePath: String, partCols: Seq[String]): Seq[String] = {
    val rootUri = fs.makeQualified(new Path(tableRoot)).toUri.getPath
      .stripSuffix("/") + "/"
    val fileUri = fs.makeQualified(new Path(filePath)).toUri.getPath
    def colOf(seg: String): Option[String] = {
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(ExternalCatalogUtils.unescapePathName(seg.substring(0, i)))
    }
    val segs: Seq[String] =
      if (fileUri.startsWith(rootUri))
        fileUri.substring(rootUri.length)
          .split('/').toSeq.filter(_.nonEmpty)
      else fileUri.split('/').filter(_.nonEmpty)
        .dropRight(1).reverseIterator
        .takeWhile(seg => colOf(seg).exists(partCols.contains))
        .toSeq.reverse
    val kv = segs.flatMap(seg =>
      colOf(seg).map(_ -> seg.substring(seg.indexOf('=') + 1))).toMap
    partCols.map(c => kv.getOrElse(c, sys.error(
      s"data file $filePath carries no '$c=' partition segment — the " +
        "manifest names a file outside the table's partition layout")))
  }

  /** One raw directory value → the typed value a partition row
    * carries, via the SAME cast Spark's partition discovery uses
    * conceptually: unescape, null for the Hive default-partition
    * marker, then a UTC string cast to the sidecar type.
    */
  private[sources] def castPartValue(raw: String, dt: DataType): Any =
    if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else org.apache.spark.sql.catalyst.expressions.Cast(
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        ExternalCatalogUtils.unescapePathName(raw)),
        org.apache.spark.sql.types.StringType), dt, Some("UTC"))
      .eval(InternalRow.empty)

  /** Turn on the change data feed for an EXISTING stats table (the
    * `ALTER TABLE ... SET TBLPROPERTIES (enableChangeDataFeed=true)`
    * analog): stamps [[CdfFeature]] into the current generation's
    * feature sidecar. Takes effect for row-level DML committed AFTER
    * this call — history is not backfilled (same as Delta: the feed
    * starts at the version where the property landed). The sidecar is
    * replaced via write-aside + atomic overwrite-rename: a crash at
    * any point leaves either the old or the new flag set, never a
    * truncated file (an empty features file would silently drop the
    * "nulls"/bloom flags and make the next compaction rebuild the
    * manifest without them). Single-writer like all maintenance ops.
    */
  def enableChangeFeed(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    require(fs.exists(new Path(dir, SchemaFile)),
      s"$path is not a stats table with a schema sidecar; use writeWithStats first")
    val feats = manifestFeatures(fs, dir) + CdfFeature
    val tmp = new Path(dir, s".features-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(feats.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(dir, FeaturesFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The atomic generation commit: one `_COMMIT` file create. The
    * file CONTAINS the commit instant (epoch millis, IN-COMMIT
    * timestamps — Delta's fix for the same problem): an object-store
    * migration or a plain `cp -r` rewrites file mtimes, and a
    * TIMESTAMP AS OF keyed on mtime would silently resolve to wrong
    * versions on the copied table.
    */
  private[sources] def commitGen(spark: SparkSession, gen: Path): Unit = {
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Monotonicity clamp (Delta enforces the same invariant): a clock
    // regression between two commits (NTP step, VM migration) must
    // not record v(n+1) with an instant earlier than v(n) — a
    // TIMESTAMP AS OF keyed on `filter(_ <= ts).max` would then
    // resolve an instant to a version that did not yet exist at that
    // wall clock. Write max(prevInstant + 1, now).
    val prev: Long = """v(\d+)$""".r.findFirstMatchIn(gen.getName)
      .map(_.group(1).toLong).filter(_ > 0L)
      .map(n => new Path(gen.getParent, s"v${n - 1}"))
      .filter(p => fs.exists(new Path(p, CommitFile)))
      .map(p => commitInstant(fs, p))
      .getOrElse(Long.MinValue)
    val instant = math.max(
      if (prev == Long.MinValue) Long.MinValue else prev + 1L,
      System.currentTimeMillis())
    val out = fs.create(new Path(gen, CommitFile), false)
    try out.write(instant.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A generation's commit instant: the in-commit timestamp written
    * by [[commitGen]].
    */
  private[sources] def commitInstant(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Long = {
    val in = fs.open(new Path(gen, CommitFile))
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim
    finally in.close()
    txt.toLongOption.getOrElse(refuseLegacyLayout(gen.toString,
      s"$CommitFile without an in-commit timestamp"))
  }

  private[sources] def bloomFeatureLine(b: (Seq[String], Int, Int)): String =
    s"bloom:${b._2}:${b._3}:${b._1.mkString(",")}"

  private[sources] def ndvFeatureLine(n: (Seq[String], Int)): String =
    s"ndv:${n._2}:${n._1.mkString(",")}"

  /** Parse the `ndv:<p>:<cols>` feature line — per-file HLL register
    * sets at precision p for those columns.
    */
  private[sources] def ndvFeature(features: Set[String]): Option[(Seq[String], Int)] =
    features.collectFirst { case f if f.startsWith("ndv:") =>
      val parts = f.split(":", 3)
      (parts(2).split(",").toSeq, parts(1).toInt)
    }

  /** Parse the `bloom:<bits>:<hashes>:<cols>` feature line. */
  private[sources] def bloomFeature(features: Set[String]): Option[(Seq[String], Int, Int)] =
    features.collectFirst { case f if f.startsWith("bloom:") =>
      val parts = f.split(":", 4)
      (parts(3).split(",").toSeq, parts(1).toInt, parts(2).toInt)
    }

  /** col -> probe count for the bloom-indexed columns actually
    * present in the manifest (the feature line and the `bloom_`
    * column must both agree before the rewriter may probe).
    */
  private[sources] def bloomIndex(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, statsColumns: Array[String]): Map[String, Int] =
    bloomFeature(manifestFeatures(fs, dir)) match {
      case Some((cols, _, hashes)) =>
        cols.filter(c => statsColumns.contains(s"bloom_$c"))
          .map(_ -> hashes).toMap
      case None => Map.empty
    }

  /** Per-file stats rows (one output row per input file) for a scan
    * that carries `_metadata`: min/max per stats column, row count,
    * file size and mtime. Partial-agg shuffle keyed on file path —
    * one row per file crosses the wire.
    */
  private[sources] def statsFor(scan: DataFrame, statsCols: Seq[String],
      bloom: Option[(Seq[String], Int, Int)] = None,
      ndv: Option[(Seq[String], Int)] = None): DataFrame = {
    if (bloom.isDefined) graft.plans.GraftFunctions.register(scan.sparkSession)
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        // per-file null counts (Delta's nullCount analog) enable
        // IS [NOT] NULL pruning
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))) ++
      // per-file Bloom filters over xxhash64 of the column value
      bloom.toSeq.flatMap { case (cols, bits, hashes) =>
        cols.map(c => call_function("graft_bloom_agg",
          xxhash64(col(c)), lit(bits), lit(hashes)).as(s"bloom_$c"))
      } ++ Seq(
      count(lit(1)).as("n_rows"),
      max(col("_metadata.file_size")).as("file_size"),
      max(unix_millis(col("_metadata.file_modification_time"))).as("mod_time"))
    val base = scan.select(col("*"), col("_metadata"))
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
    // per-file HLL register sets (`ndv_<col>`: sorted sparse
    // (bucket, rho) structs, ≤ 2^p entries) — the column behind
    // [[approxDistinctMeta]]. Registers use EXACTLY the
    // [[graft.operators.Sketches.registerColumns]] hash chain, so a
    // fold over file registers is bit-identical to sketching the
    // rows. Needs its own per-(file, bucket) aggregate, hence the
    // extra write-time pass per column — opt in for columns you ask
    // distinct-count questions about. An all-null file (or a file
    // predating the column) joins to a NULL register set = the empty
    // sketch, exact because COUNT(DISTINCT) ignores nulls too.
    val withNdv = ndv.fold(base) { case (cols, p) =>
      cols.foldLeft(base) { (acc, c) =>
        val (bucket, rho) = graft.operators.Sketches.registerColumns(col(c), p)
        val regs = scan.select(col("_metadata.file_path").as("file"), col(c))
          .filter(col(c).isNotNull)
          .groupBy(col("file"), bucket.cast("int").as("b"))
          .agg(max(rho).cast("int").as("r"))
          .groupBy(col("file"))
          .agg(sort_array(collect_list(struct(col("b"), col("r"))))
            .as(s"ndv_$c"))
        acc.join(regs, Seq("file"), "left")
      }
    }
    withNdv.coalesce(1)
  }

  /** O(1) read of a small text/JSON sidecar in a manifest dir. */
  private[sources] def readSidecarIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String): Option[String] = {
    val p = new Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private[sources] def readSidecar(spark: SparkSession, dir: String,
      name: String): Option[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSidecarIn(fs, dir, name)
  }

  /** O(1) manifest feature flags ("nulls" = per-file null counts
    * present).
    */
  private[sources] def manifestFeatures(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Set[String] =
    readSidecarIn(fs, dir, FeaturesFile)
      .map(_.linesIterator.filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Schema + tracked-columns + feature (+ manifest-schema) sidecars
    * into `dir` — the generation dir being built or appended to.
    */
  private[sources] def writeSidecars(spark: SparkSession, dir: String,
      schema: StructType, statsCols: Seq[String],
      features: Set[String] = Set("nulls"),
      manifestSchema: Option[StructType] = None): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(name: String, content: String): Unit = {
      val out = fs.create(new Path(dir, name), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    put(SchemaFile, schema.json)
    put(StatsColsFile, statsCols.mkString("\n"))
    put(FeaturesFile, features.toSeq.sorted.mkString("\n"))
    manifestSchema.foreach(ms => put(ManifestSchemaFile, ms.json))
  }

  /** Tracked stats columns from the sidecar (O(1)). */
  private[sources] def trackedCols(spark: SparkSession, dir: String): Set[String] =
    statsColsInOrderOf(spark, dir).toSet

  /** Append a batch to an existing stats table WITHOUT touching what
    * is already there: data files are written to a hidden staging dir
    * and moved into the table root, then the manifest GAINS rows for
    * exactly those files (parquet append into the CURRENT generation
    * — appends never create generations). Nothing lists or re-scans
    * the existing table — the writer knows its own files, the same
    * reason Delta's commit can be O(batch): at ingest cadence on a
    * 100 TB table, the alternative (writeWithStats over everything)
    * re-reads and re-writes the world per batch. Driver memory is
    * O(files in this batch) — bounded by the batch itself.
    *
    * Snapshot order: data files move first (manifest readers still
    * see the old file set — complete and consistent), the manifest
    * rows land second and are the visibility point. A crash in
    * between leaves orphan data files that manifest readers never
    * see; plain-path readers see them as extra rows until the next
    * [[vacuumTable]] pass reclaims them (after retention).
    *
    * SCHEMA: by default the batch schema must equal the stored
    * sidecar schema (name + type, nullability ignored). With
    * `mergeSchema = true` the batch may ADD columns (the Auto-Loader
    * addNewColumns analog; see class doc for why every crash point
    * stays consistent): the widened schema + tracked-column sidecars
    * are rewritten FIRST, old data files read through the widened
    * schema yield nulls, and old manifest rows yield null stats that
    * the rewriter backfills correctly. Dropping or retyping columns
    * is still rejected loudly.
    *
    * NAMED COMMITS (`commitName`) — the exactly-once hook for
    * at-least-once writers (Structured Streaming's foreachBatch): the
    * batch's manifest rows land as ONE parquet file named
    * `<commitName>.parquet` inside the manifest dir, and that file IS
    * the commit marker (an empty batch still writes a zero-row
    * marker — the marker's existence is the commit, unconditionally).
    * A replayed batch whose marker already exists is skipped up front
    * (returns false, nothing written); a crash after the data-file
    * move but before the marker leaves orphan data files that
    * manifest readers never see — the replay re-writes the batch and
    * commits, and the orphans are reclaimed by [[vacuumTable]] after
    * retention. Manifest-reader-visible state is therefore
    * exactly-once per commit name; names must not start with `part-`
    * (reserved for plain manifest parts, and how compaction tells
    * markers apart to preserve them).
    *
    * `statsCols` must match the table's tracked column set (with
    * `mergeSchema = true`: contain it — new columns extend it) — a
    * mixed-schema manifest would silently mis-prune.
    *
    * @return true if the batch committed; false if `commitName` was
    *         already present (idempotent replay skip)
    */
  /** AUTO-COMPACTION (the Delta autoOptimize/autoCompact analog,
    * opt-in): after an append lands, count the manifest's small
    * files (one aggregate over the manifest table — never a data
    * read or file listing) and trigger [[compactTable]] when the
    * small-file tail reaches `minSmallFiles`. The ingest-cadence
    * maintenance loop, automated: streaming appends stop degrading
    * read planning without an external OPTIMIZE scheduler, and the
    * threshold makes the compaction cost amortized — one rewrite
    * per `minSmallFiles` appends, not one per append.
    *
    * @param smallFileBytes files strictly below this are "small"
    * @param minSmallFiles  compact once at least this many exist
    * @return whether a compaction ran
    */
  def autoCompact(spark: SparkSession, path: String,
      smallFileBytes: Long = 32L * 1024 * 1024,
      minSmallFiles: Int = 16,
      targetFileBytes: Long = 128L * 1024 * 1024): Boolean = {
    require(smallFileBytes > 0 && minSmallFiles > 0)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val small = readManifestIn(spark, dir)
      .filter(col("file_size") < smallFileBytes)
      .limit(minSmallFiles).count()
    if (small < minSmallFiles) false
    else { compactTable(spark, path, targetFileBytes); true }
  }

  /** Opt-in CHECKPOINT CADENCE (the Delta every-N-commits analog,
    * wired as `appendWithStats(checkpointEveryCommits = Some(n))`):
    * after an append, if the manifest dir holds >= `everyCommits`
    * FOLDABLE part files (unnamed-commit parts + prior fold output
    * — each unnamed append leaves one), run [[checkpointManifest]]
    * so planning cost stays bounded by the cadence instead of
    * growing O(commits) until the next OPTIMIZE (BASELINE r18
    * `storage_commit_*`: 3.5 s/plan at 10k un-folded commits vs
    * 0.165 s folded). NAMED commit markers deliberately do NOT count:
    * a fold must keep them (zero-row) for replay protection, so they
    * are unfoldable until `markerRetentionMs` expires — counting them
    * would re-checkpoint on every append forever once the named
    * backlog passes the cadence (their expiry rides along with
    * whatever fold the part cadence triggers). The probe is ONE
    * directory listing; a lost maintenance race must never fail the
    * append that already committed, so sustained contention logs and
    * moves on (the next cadence hit retries). Returns true iff a
    * checkpoint ran.
    */
  def autoCheckpoint(spark: SparkSession, path: String,
      everyCommits: Int): Boolean = {
    require(everyCommits > 0, "everyCommits must be positive")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val foldable = listManifestNames(fs, dir).count(_.startsWith("part-"))
    if (foldable < everyCommits) false
    else {
      try { checkpointManifest(spark, path); true }
      catch {
        case e: ConcurrentWriteException =>
          logWarning(s"auto-checkpoint of $path lost sustained " +
            s"maintenance races and will retry at the next cadence hit: " +
            s"${e.getMessage}")
          false
      }
    }
  }

  /** Column-mapping translation for an append batch: LOGICAL names
    * in, PHYSICAL names out. Mapped columns translate to their
    * physical names; NEW logical columns (mergeSchema evolution)
    * keep their names but must be fresh against the table's whole
    * physical history — a re-added dropped/renamed-away name binding
    * to the old physical column would resurrect dropped values. The
    * identity entries for new columns land BEFORE the data (the
    * sidecars-first crash-consistency order schema evolution uses).
    */
  private[sources] def translateBatchForAppend(path: String,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, df0: DataFrame,
      statsCols0: Seq[String], mergeSchema: Boolean): (DataFrame, Seq[String]) =
    colMapIn(fs, dir) match {
      case None => (df0, statsCols0)
      case Some(m) =>
        val stored0 = tableSchemaIn(df0.sparkSession, path, dir)
        val physTaken = stored0.fieldNames.toSet ++ m.values
        val fresh = df0.columns.filterNot(m.contains).toSeq
        val alloc = fresh.map { n =>
          if (!physTaken(n)) n -> n
          else {
            // the logical name was used before (dropped or renamed
            // away): bind it to a FRESH physical column so the old
            // values can never resurrect
            var i = 1
            while (physTaken(s"${n}__p$i")) i += 1
            n -> s"${n}__p$i"
          }
        }.toMap
        val m2 = m ++ alloc
        if (mergeSchema && fresh.nonEmpty) writeColMap(fs, dir, m2)
        (toPhysicalInput(df0, m2), statsCols0.map(mapStatsKey(m2, _)))
    }

  /** A generation's tracked stats columns in FILE order (manifest
    * part columns are keyed to it).
    */
  private[sources] def statsColsInOrderOf(spark: SparkSession, dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    requiredSidecarIn(fs, dir, StatsColsFile).linesIterator.filter(_.nonEmpty).toSeq
  }

  def appendWithStats(
      df0raw: DataFrame, path: String, statsCols0: Seq[String],
      commitName: Option[String] = None,
      mergeSchema: Boolean = false,
      autoCompactSmallFiles: Option[Int] = None,
      checkpointEveryCommits: Option[Int] = None,
      optimizeWrite: Boolean = false): Boolean = {
    val s0 = df0raw.sparkSession
    val f0 = new Path(path).getFileSystem(s0.sparkContext.hadoopConfiguration)
    val d0 = manifestDirOf(f0, path)
    val partCols0 = partitionColsIn(f0, d0)
    // optimized write, same contract as [[writeWithStats]]: route the
    // batch onto its partition values so each touched directory gains
    // ONE file per append, not one per (task × value)
    val df0in = if (optimizeWrite && partCols0.nonEmpty)
      df0raw.repartition(partCols0.map(col): _*) else df0raw
    // idempotent-replay check FIRST: a replayed named commit must not
    // re-run the identity hook below (the watermark would advance and
    // burn a batch-sized id gap on every replay)
    if (commitName.exists(n => n.matches("[A-Za-z0-9][A-Za-z0-9._-]*") &&
        f0.exists(new Path(d0, s"$n.parquet")))) return false
    // GENERATED COLUMNS: a batch omitting a generated column gets it
    // computed here, on the LOGICAL batch, before any schema check
    // or column-mapping translation (expressions are stored logical
    // — see [[GeneratedFile]]). Columns are then re-ordered to the
    // stored schema so the strict shape check still compares equal.
    // A batch that SUPPLIES the column is left alone — the paired
    // _gen_ CHECK constraint verifies it at the staged choke point.
    // values computed (or supplied and checked) under THIS session's
    // timezone: a drift from the recorded one must poison the record
    // so temporal read-side derivation turns off instead of pruning
    // against mixed-epoch stored values — but only once the batch is
    // actually GOING IN (after validation/staging), so a failed
    // append never disables derivation for a table it didn't touch
    val poisonTzOnCommit = generatedIn(f0, d0).nonEmpty
    val dfGen = {
      val missing = generatedIn(f0, d0)
        .filterNot { case (n, _) => df0in.columns.contains(n) }
      if (missing.isEmpty) df0in
      else missing.toSeq.sortBy(_._1).foldLeft(df0in) {
        case (acc, (n, e)) => acc.withColumn(n, expr(e))
      }
    }
    // IDENTITY COLUMNS: the batch must omit them; the engine assigns
    // fresh ids and advances the watermark sidecar-first (see
    // [[IdentityFile]]). Both hooks may append columns out of stored
    // order — one reorder restores the strict shape check's frame.
    val (dfIds, idPinned) = assignIdentity(s0, d0, dfGen)
    val df0 =
      if (dfIds eq df0in) df0in
      else {
        val storedNames = tableSchemaIn(s0, path, d0).fieldNames
        val ordered = storedNames.filter(dfIds.columns.contains) ++
          dfIds.columns.filterNot(storedNames.contains)
        dfIds.select(ordered.map(col): _*)
      }
    try {
    // Column mapping: the batch and statsCols arrive in LOGICAL
    // names; [[translateBatchForAppend]] turns them physical (fresh
    // physical allocation for mergeSchema-new columns included).
    val (df, statsCols) =
      translateBatchForAppend(path, f0, d0, df0, statsCols0, mergeSchema)
    // PARTITIONED tables take the partition-routing path. The
    // generated/identity hooks above already ran (they are
    // layout-independent — a generated PARTITION column computes
    // before routing, exactly Delta's generated-partition shape), and
    // the batch is already physical-named.
    if (partCols0.nonEmpty)
      return appendPartitioned(df, path, statsCols, commitName,
        mergeSchema, autoCompactSmallFiles, f0, d0, partCols0,
        poisonTzOnCommit, checkpointEveryCommits)
    require(statsCols.nonEmpty, "at least one stats column")
    commitName.foreach(n => require(
      n.matches("[A-Za-z0-9][A-Za-z0-9._-]*") && !n.startsWith("part-"),
      s"commitName '$n' must start with an alphanumeric and use only " +
        "[A-Za-z0-9._-] (a '_'/'.' prefix would HIDE the marker from the " +
        "manifest reader — a committed-then-vacuumed batch; 'part-' is " +
        "reserved for plain manifest parts)"))
    val spark = df.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val marker = commitName.map(n => new Path(dir, s"$n.parquet"))
    if (marker.exists(fs.exists)) return false
    // appends write manifest rows without reading the manifest, so
    // the protocol gate must run explicitly — appending
    // feature-ignorant rows to a newer writer's manifest would
    // corrupt whatever the feature encodes
    val feats = manifestFeatures(fs, dir)
    requireManifestProtocol(fs, dir, feats,
      readSidecarIn(fs, dir, ManifestSchemaFile))
    val tracked = trackedCols(spark, dir)
    val stored = tableSchemaIn(spark, path, dir)
    val storedByName = stored.map(f => f.name -> f.dataType).toMap
    val batchTypes = df.schema.map(f => (f.name, f.dataType))
    val newFields = df.schema.filterNot(f => storedByName.contains(f.name))

    val schema: StructType =
      if (!mergeSchema) {
        require(statsCols.toSet == tracked,
          s"statsCols [${statsCols.sorted.mkString(",")}] must equal the table's " +
            s"tracked columns [${tracked.toSeq.sorted.mkString(",")}] — a mixed-schema " +
            "manifest silently drops files from pruned reads")
        require(batchTypes == stored.map(f => (f.name, f.dataType)),
          s"append schema ${df.schema.simpleString} must match stored " +
            s"${stored.simpleString}; pass mergeSchema = true to add columns")
        stored
      } else {
        // shared columns must keep their types — evolution adds (or
        // omits: a missing stored column simply isn't in this batch's
        // files, nulls at read time), it never retypes
        stored.foreach { f =>
          df.schema.find(_.name == f.name).foreach(b =>
            require(b.dataType == f.dataType,
              s"column ${f.name}: batch type ${b.dataType.simpleString} must match " +
                s"stored ${f.dataType.simpleString} — evolution adds columns, never retypes"))
        }
        if (newFields.isEmpty) {
          require(statsCols.toSet == tracked,
            s"statsCols [${statsCols.sorted.mkString(",")}] must equal the table's " +
              s"tracked columns [${tracked.toSeq.sorted.mkString(",")}] unless the " +
              "batch carries new columns to track")
          stored
        } else {
          require(tracked.subsetOf(statsCols.toSet),
            s"statsCols [${statsCols.sorted.mkString(",")}] must contain the tracked " +
              s"columns [${tracked.toSeq.sorted.mkString(",")}] — evolution extends " +
              "the tracked set, never shrinks it")
          val newNames = newFields.map(_.name).toSet
          val extraTracked = statsCols.toSet -- tracked
          // a nested stats path (`meta.b`) counts as new when its
          // HEAD column is one of the batch's new columns
          extraTracked.foreach(c => require(newNames(c.takeWhile(_ != '.')),
            s"newly tracked column $c must be one of the batch's NEW columns " +
              s"[${newNames.toSeq.sorted.mkString(",")}] — tracking an existing " +
              "column needs a stats rewrite (compactTable), not an append"))
          // added columns are NULLABLE by construction — files written
          // before the evolution have no values for them, and a
          // required (non-null) missing column fails the parquet read
          val widened = StructType(stored.fields ++ newFields.map(_.copy(nullable = true)))
          // SIDECARS FIRST: a crash after this point leaves a widened
          // table whose old files read as nulls for the new columns —
          // consistent and correct (see class doc)
          val widenedManifest = widenedManifestSchema(spark, dir, statsCols,
            newFields)
          writeSidecars(spark, dir, widened, statsCols, feats,
            manifestSchema = Some(widenedManifest))
          widened
        }
      }

    val staging = new Path(path, s".append-${java.util.UUID.randomUUID}")
    // match the table's bloom configuration (a mixed-schema manifest
    // mis-prunes). Resolved BEFORE the write so the batch's manifest
    // stats ride the write tasks (guide §6 — no re-scan of
    // just-written output).
    val bloomCfg = bloomFeature(feats)
    val writeStats = stagedWriteTracked(df, staging, Nil, statsCols, bloomCfg)
    // validated under the TABLE schema (already widened if this batch
    // evolves it): a batch omitting a constrained column reads as
    // nulls — NULL passes CHECK, SQL semantics
    enforceConstraintsOnStaged(spark, fs, dir, staging, schema, "append")
    if (poisonTzOnCommit) poisonGeneratedTzOnDrift(spark, fs, dir)
    val moved = moveIn(fs, staging, new Path(path))
    val batchStats =
      if (moved.nonEmpty)
        statsFor(statusScan(spark, path, schema, statusesFor(fs, moved)),
          statsCols, bloom = bloomCfg)
      else readManifestIn(spark, dir).limit(0) // zero-row marker
    // write-task stats registered driver-side (bounded batches): the
    // statsFor frame above then never executes — its schema is the
    // parity anchor for the assembled rows
    val batchLocal: Option[(StructType, Seq[Row])] =
      if (moved.isEmpty) Some((batchStats.schema, Nil))
      else if (moved.size > 10000) None
      else writeStats.flatMap(ws => statsRowsFromWrite(fs, path, moved,
          statsCols, Nil, bloomCfg.map(_._1).getOrElse(Nil), ws,
          batchStats.schema))
        .map(rows => (batchStats.schema, rows))
    marker match {
      case None if moved.isEmpty => ()
      case None => batchLocal match {
        case Some((s, rows)) => writeLocalParquetFile(spark, s, rows,
          new Path(dir, s"part-${java.util.UUID.randomUUID}.parquet"))
        case None => batchStats.write.mode("append").parquet(dir)
      }
      case Some(dest) => batchLocal match {
        case Some((s, rows)) => writeManifestFileLocal(spark, fs, path,
          s, rows, dest)
        case None => writeManifestFile(spark, fs, path, batchStats, dest)
      }
    }
    // OPTIMISTIC RE-REGISTRATION: a maintenance op may have committed
    // a new generation while this append was in flight; its publisher
    // rides forward every manifest file it can SEE, but this batch's
    // rows may have landed after its final listing. Re-resolve the
    // current generation: if it moved, verify the batch is claimed
    // there and re-register if not. Named commits re-register under
    // their marker NAME (a collision with the publisher's own repair
    // collapses to one file — exactly-once); unnamed batches
    // re-register after a data-file claim check and are at-least-once
    // in the millisecond overlap window — the documented concurrency
    // contract (pass commitName for exactly-once under concurrency).
    if (moved.nonEmpty) {
      var registeredIn = dir
      var cur = manifestDirOf(fs, path)
      var hops = 0
      while (cur != registeredIn && hops < ConcurrentRetries) {
        hops += 1
        // a mergeSchema evolution's widened sidecars were written into
        // the OLD generation; a racing publisher that built from
        // pre-evolution sidecars must not silently narrow the table.
        // MERGE with cur's view rather than installing our own
        // stored++newFields — a CONCURRENT evolution's columns in cur
        // would otherwise be clobbered (their data silently stops
        // projecting).
        if (mergeSchema && newFields.nonEmpty) {
          val curSchema = tableSchemaIn(spark, path, cur)
          val missing = newFields
            .filterNot(f => curSchema.fieldNames.contains(f.name))
          if (missing.nonEmpty) {
            val mergedSchema = StructType(
              curSchema.fields ++ missing.map(_.copy(nullable = true)))
            val curTracked = statsColsInOrderOf(spark, cur)
            val mergedTracked =
              curTracked ++ statsCols.filterNot(curTracked.contains)
            writeSidecars(spark, cur, mergedSchema, mergedTracked,
              manifestFeatures(fs, cur),
              manifestSchema = Some(widenedManifestSchema(spark, cur,
                statsCols, missing.toSeq)))
          }
        }
        val claimed = commitName match {
          case Some(n) => fs.exists(new Path(cur, s"$n.parquet"))
          case None =>
            // compare by (unique) file NAME — the manifest records
            // `_metadata.file_path` URIs, moveIn records plain paths
            readManifestIn(spark, cur)
              .filter(element_at(split(col("file"), "/"), -1) ===
                new Path(moved.head).getName)
              .limit(1).count() > 0
        }
        if (!claimed) commitName match {
          case Some(n) =>
            // the publisher's reconcile may land the same marker name
            // concurrently — its exclusive rename makes one winner
            try batchLocal match {
              case Some((s, rows)) => writeManifestFileLocal(spark, fs,
                path, s, rows, new Path(cur, s"$n.parquet"))
              case None => writeManifestFile(spark, fs, path, batchStats,
                new Path(cur, s"$n.parquet"))
            }
            catch { case _: IllegalArgumentException => () }
          case None => batchLocal match {
            case Some((s, rows)) => writeLocalParquetFile(spark, s, rows,
              new Path(cur, s"part-${java.util.UUID.randomUUID}.parquet"))
            case None => batchStats.write.mode("append").parquet(cur)
          }
        }
        registeredIn = cur
        cur = manifestDirOf(fs, path)
      }
    }
    // opt-in ingest-cadence maintenance: see [[autoCompact]]
    autoCompactSmallFiles.foreach(n =>
      autoCompact(spark, path, minSmallFiles = n))
    checkpointEveryCommits.foreach(n => autoCheckpoint(spark, path, n))
    true
    } finally idPinned.foreach(_.unpersist())
  }

  /** The manifest schema after tracking `statsCols` over a table that
    * gained `newFields`: existing manifest columns keep their
    * positions, new stat columns append. Derived from the persisted
    * manifest schema (no footer reads).
    */
  private[sources] def widenedManifestSchema(spark: SparkSession, dir: String,
      statsCols: Seq[String], newFields: Seq[StructField]): StructType = {
    val existing = manifestSchemaIn(
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    val typesByName = newFields.map(f => f.name -> f.dataType).toMap
    // a stats key may be a NESTED path rooted at a new struct column
    // (`meta.b`) — resolve its leaf type through the struct
    def typeOfPath(c: String): Option[DataType] = {
      def walk(dt: DataType, rest: List[String]): Option[DataType] = rest match {
        case Nil => Some(dt)
        case head :: tail => dt match {
          case st: StructType =>
            st.fields.find(_.name == head).flatMap(f => walk(f.dataType, tail))
          case _ => None
        }
      }
      val parts = c.split("\\.").toList
      typesByName.get(parts.head).flatMap(walk(_, parts.tail))
    }
    val have = existing.fieldNames.toSet
    val added = statsCols.flatMap(c => typeOfPath(c).toSeq.flatMap { dt =>
      Seq(StructField(s"min_$c", dt), StructField(s"max_$c", dt),
        StructField(s"nulls_$c", org.apache.spark.sql.types.LongType))
    }).filterNot(f => have(f.name))
    StructType(existing.fields ++ added)
  }

  /** [[appendWithStats]] for a PARTITION-CONVERTED table — the batch
    * is staged `partitionBy` the table's partition columns, each
    * staged file moved into (creating as needed) its `col=value`
    * directory under the table root, and the manifest gains one row
    * per file with the partition columns' min = max = the directory
    * value — exactly the shape CONVERT wrote (see [[convertToStats]]),
    * so pruned reads treat appended files identically to converted
    * ones. Delta's CONVERT output is mutable; this closes the first
    * mutation a converting user hits. SCHEMA EVOLUTION works too
    * (r14, `mergeSchema = true`): new DATA columns append with the
    * flat path's exact contract (sidecars-first widening, nullable
    * by construction, shared columns never retype, newly-tracked
    * columns must be new) — partition columns are the one hard
    * frame: every batch must carry ALL of them (their values route
    * rows to directories) and a batch can never ADD a partition
    * column. Named-commit idempotency, CHECK constraints and opt-in
    * auto-compaction work exactly as on flat tables. The flat path's
    * optimistic re-registration loop applies unchanged below —
    * partitioned tables now take DML/OPTIMIZE/RESTORE generations,
    * so a racing publisher can strand a batch exactly as on flat
    * tables.
    */
  private[sources] def appendPartitioned(df0: DataFrame, path: String,
      statsCols0: Seq[String], commitName: Option[String],
      mergeSchema: Boolean, autoCompactSmallFiles: Option[Int],
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      partCols: Seq[String], poisonTzOnCommit: Boolean = false,
      checkpointEveryCommits: Option[Int] = None): Boolean = {
    val spark = df0.sparkSession
    if (commitName.exists(n => n.matches("[A-Za-z0-9][A-Za-z0-9._-]*") &&
        fs.exists(new Path(dir, s"$n.parquet")))) return false
    commitName.foreach(n => require(
      n.matches("[A-Za-z0-9][A-Za-z0-9._-]*") && !n.startsWith("part-"),
      s"commitName '$n' must start with an alphanumeric and use only " +
        "[A-Za-z0-9._-] (a '_'/'.' prefix would HIDE the marker; 'part-' " +
        "is reserved for plain manifest parts)"))
    val feats = manifestFeatures(fs, dir)
    requireManifestProtocol(fs, dir, feats,
      readSidecarIn(fs, dir, ManifestSchemaFile))
    val stored = tableSchemaIn(spark, path, dir)
    val tracked = trackedCols(spark, dir)
    partCols.foreach(c => require(df0.columns.contains(c),
      s"append batch must carry partition column $c — its values route " +
        "each row to its directory; partition columns can never be omitted"))
    val storedByName = stored.map(f => f.name -> f.dataType).toMap
    val newFields = df0.schema.filterNot(f => storedByName.contains(f.name))
    // callers may pass the table's full tracked set (the
    // tableStatsCols convention) — partition columns are tracked
    // implicitly, so strip them rather than refusing the synonym
    val statsData = statsCols0.filterNot(partCols.contains)
    val schema: StructType =
      if (!mergeSchema) {
        require(df0.schema.map(f => (f.name, f.dataType)).toSet ==
            stored.map(f => (f.name, f.dataType)).toSet,
          s"append schema ${df0.schema.simpleString} must carry exactly the " +
            s"stored columns ${stored.simpleString} — partition columns " +
            "included (their values route each row to its directory); pass " +
            "mergeSchema = true to add or omit data columns")
        require(statsData.toSet == tracked -- partCols,
          s"statsCols [${statsData.sorted.mkString(",")}] must equal the " +
            s"table's tracked DATA columns [${(tracked -- partCols).toSeq.sorted
              .mkString(",")}] — partition columns are tracked implicitly " +
            "(min=max=directory value)")
        stored
      } else {
        // the flat path's evolution contract, partition-framed:
        // shared columns keep their types, new DATA columns append
        // nullable, a missing stored column simply isn't in this
        // batch's files (nulls at read time)
        stored.foreach { f =>
          df0.schema.find(_.name == f.name).foreach(b =>
            require(b.dataType == f.dataType,
              s"column ${f.name}: batch type ${b.dataType.simpleString} must " +
                s"match stored ${f.dataType.simpleString} — evolution adds " +
                "columns, never retypes"))
        }
        if (newFields.isEmpty) {
          require(statsData.toSet == tracked -- partCols,
            s"statsCols [${statsData.sorted.mkString(",")}] must equal the " +
              s"table's tracked DATA columns [${(tracked -- partCols).toSeq
                .sorted.mkString(",")}] unless the batch carries new columns")
          stored
        } else {
          require((tracked -- partCols).subsetOf(statsData.toSet),
            s"statsCols [${statsData.sorted.mkString(",")}] must contain the " +
              s"tracked DATA columns [${(tracked -- partCols).toSeq.sorted
                .mkString(",")}] — evolution extends the tracked set, never " +
              "shrinks it")
          val newNames = newFields.map(_.name).toSet
          val extraTracked = statsData.toSet -- (tracked -- partCols)
          extraTracked.foreach(c => require(newNames(c),
            s"newly tracked column $c must be one of the batch's NEW columns " +
              s"[${newNames.toSeq.sorted.mkString(",")}] — tracking an " +
              "existing column needs a stats rewrite (compactTable), not an " +
              "append"))
          val widened = StructType(
            stored.fields ++ newFields.map(_.copy(nullable = true)))
          // SIDECARS FIRST, exactly the flat path's crash order
          val widenedManifest = widenedManifestSchema(spark, dir,
            statsData, newFields.toSeq)
          writeSidecars(spark, dir, widened,
            statsData ++ partCols, feats,
            manifestSchema = Some(widenedManifest))
          widened
        }
      }
    // stage exactly the batch's columns, stored-schema order (a
    // mergeSchema batch may omit stored data columns — those simply
    // are not in this batch's files)
    val df = df0.select(
      schema.fieldNames.filter(df0.columns.contains).map(col).toSeq: _*)
    val staging = new Path(path, s".append-${java.util.UUID.randomUUID}")
    // stats shape resolved BEFORE the write: per-file manifest stats
    // (partition values included — min=max=directory value) ride the
    // write tasks, so the part-aware statsFor below usually never
    // executes (guide §6 — no re-scan of just-written output)
    val bloomCfg = bloomFeature(feats)
    val writeStats = stagedWriteTracked(df, staging, partCols,
      statsData ++ partCols, bloomCfg)
    enforceConstraintsOnStaged(spark, fs, dir, staging, schema, "append")
    if (poisonTzOnCommit) poisonGeneratedTzOnDrift(spark, fs, dir)
    val moved = moveInPartitioned(fs, staging, new Path(path))
    val batchStats =
      if (moved.nonEmpty)
        statsFor(partAwareStatusScanCols(spark, path, partCols, schema,
            statusesFor(fs, moved)),
          statsData ++ partCols, bloom = bloomCfg)
      else readManifestIn(spark, dir).limit(0) // zero-row marker
    val batchLocal: Option[(StructType, Seq[Row])] =
      if (moved.isEmpty) Some((batchStats.schema, Nil))
      else if (moved.size > 10000) None
      else writeStats.flatMap(ws => statsRowsFromWrite(fs, path, moved,
          statsData ++ partCols, partCols,
          bloomCfg.map(_._1).getOrElse(Nil), ws, batchStats.schema))
        .map(rows => (batchStats.schema, rows))
    commitName.map(n => new Path(dir, s"$n.parquet")) match {
      case None if moved.isEmpty => ()
      case None => batchLocal match {
        case Some((s, rows)) => writeLocalParquetFile(spark, s, rows,
          new Path(dir, s"part-${java.util.UUID.randomUUID}.parquet"))
        case None => batchStats.write.mode("append").parquet(dir)
      }
      case Some(dest) => batchLocal match {
        case Some((s, rows)) => writeManifestFileLocal(spark, fs, path,
          s, rows, dest)
        case None => writeManifestFile(spark, fs, path, batchStats, dest)
      }
    }
    // OPTIMISTIC RE-REGISTRATION, same as the flat path: a racing
    // compaction/DML/restore may have committed a new generation
    // while this append was in flight and missed this batch's rows —
    // re-resolve the current generation and re-register until the
    // batch is claimed there (named commits exactly-once under the
    // marker's exclusive create; unnamed at-least-once in the
    // overlap window — the documented concurrency contract).
    if (moved.nonEmpty) {
      var registeredIn = dir
      var cur = manifestDirOf(fs, path)
      var hops = 0
      while (cur != registeredIn && hops < ConcurrentRetries) {
        hops += 1
        // a mergeSchema evolution's widened sidecars were written into
        // the OLD generation; a racing publisher that built from
        // pre-evolution sidecars must not silently narrow the table —
        // MERGED with cur's view, same reasoning as the flat path
        if (mergeSchema && newFields.nonEmpty) {
          val curSchema = tableSchemaIn(spark, path, cur)
          val missing = newFields
            .filterNot(f => curSchema.fieldNames.contains(f.name))
          if (missing.nonEmpty) {
            val mergedSchema = StructType(
              curSchema.fields ++ missing.map(_.copy(nullable = true)))
            val curTracked = statsColsInOrderOf(spark, cur)
            val mergedTracked = curTracked ++
              (statsData ++ partCols).filterNot(curTracked.contains)
            writeSidecars(spark, cur, mergedSchema, mergedTracked,
              manifestFeatures(fs, cur),
              manifestSchema = Some(widenedManifestSchema(spark, cur,
                statsData, missing.toSeq)))
          }
        }
        val claimed = commitName match {
          case Some(n) => fs.exists(new Path(cur, s"$n.parquet"))
          case None =>
            readManifestIn(spark, cur)
              .filter(element_at(split(col("file"), "/"), -1) ===
                new Path(moved.head).getName)
              .limit(1).count() > 0
        }
        if (!claimed) commitName match {
          case Some(n) =>
            try batchLocal match {
              case Some((s, rows)) => writeManifestFileLocal(spark, fs,
                path, s, rows, new Path(cur, s"$n.parquet"))
              case None => writeManifestFile(spark, fs, path, batchStats,
                new Path(cur, s"$n.parquet"))
            }
            catch { case _: IllegalArgumentException => () }
          case None => batchLocal match {
            case Some((s, rows)) => writeLocalParquetFile(spark, s, rows,
              new Path(cur, s"part-${java.util.UUID.randomUUID}.parquet"))
            case None => batchStats.write.mode("append").parquet(cur)
          }
        }
        registeredIn = cur
        cur = manifestDirOf(fs, path)
      }
    }
    // opt-in ingest-cadence maintenance, same as the flat path (the
    // partitioned compact collapses the tail within partitions)
    autoCompactSmallFiles.foreach(n =>
      autoCompact(spark, path, minSmallFiles = n))
    checkpointEveryCommits.foreach(n => autoCheckpoint(spark, path, n))
    true
  }

  /** [[moveIn]] for a partition-staged batch: walks the staging dir's
    * `col=value` tree, re-creating each partition directory under the
    * table root and renaming the (job-UUID-unique) data files into
    * it. Returns the destination paths.
    */
  private[sources] def moveInPartitioned(fs: org.apache.hadoop.fs.FileSystem,
      staging: Path, table: Path): Seq[String] = {
    def walk(d: Path, rel: Seq[String]): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { f =>
        val n = f.getPath.getName
        if (f.isDirectory && !n.startsWith(".")) walk(f.getPath, rel :+ n)
        else if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) {
          val destDir = rel.foldLeft(table)((p, seg) => new Path(p, seg))
          fs.mkdirs(destDir)
          val dest = new Path(destDir, n)
          require(fs.rename(f.getPath, dest),
            s"rename ${f.getPath} -> $dest failed")
          Seq(dest.toString)
        } else Nil
      }
    val moved = walk(staging, Nil)
    fs.delete(staging, true)
    moved
  }

  /** Move a staging dir's data files into the table root under their
    * (job-UUID-unique) names; deletes the staging dir, returns the
    * destination paths.
    */
  private[sources] def moveIn(fs: org.apache.hadoop.fs.FileSystem,
      staging: Path, table: Path): Seq[String] = {
    val moved = fs.listStatus(staging)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map { f =>
        val dest = new Path(table, f.getPath.getName)
        require(fs.rename(f.getPath, dest), s"rename ${f.getPath} -> $dest failed")
        dest.toString
      }.toSeq
    fs.delete(staging, true)
    moved
  }

  /** Write `rows` as ONE parquet file at exactly `dest` (staged,
    * then renamed into place) — the single-file manifest commit
    * primitive behind named appends and preserved markers.
    */
  private[sources] def writeManifestFile(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, table: String,
      rows: DataFrame, dest: Path): Unit = {
    val tmp = new Path(table, s".stats-${java.util.UUID.randomUUID}")
    rows.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one stats part, got ${part.length}")
    require(fs.rename(part.head.getPath, dest),
      s"stats commit rename to $dest failed")
    fs.delete(tmp, true)
  }

  /** Write `rows` as ONE parquet file at exactly `dest`, entirely on
    * the DRIVER — the manifest commit primitive for rows that are
    * already local (cache-served carries, zero-row markers): no Spark
    * job, no staging dir, no commit protocol. Uses Spark's own
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
    * under the session's parquet conf, so the file is byte-compatible
    * with executor-written manifest parts (same logical types, codec,
    * timestamp encoding). Only for BOUNDED frames — manifests,
    * markers, templates — never data.
    */
  private[sources] def writeLocalParquetFile(spark: SparkSession,
      schema: StructType, rows: Seq[Row], dest: Path): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val hconf = spark.sessionState.newHadoopConf()
    val sqlConf = spark.sessionState.conf
    ParquetWriteSupport.setSchema(schema, hconf)
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    // the schema converter's Configuration ctor reads these with no
    // default — mirror ParquetUtils.prepareWrite exactly
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
      .fromConf(sqlConf.parquetCompressionCodec.toUpperCase(
        java.util.Locale.ROOT) match {
        case "UNCOMPRESSED" => "UNCOMPRESSED"
        case c => c
      })
    class LocalBuilder(f: org.apache.parquet.io.OutputFile)
        extends org.apache.parquet.hadoop.ParquetWriter.Builder[InternalRow, LocalBuilder](f) {
      override def self(): LocalBuilder = this
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
          : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    val writer = new LocalBuilder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dest, hconf))
      .withConf(hconf)
      .withCompressionCodec(codec)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE)
      .build()
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  /** [[writeManifestFile]] for rows already LOCAL on the driver:
    * writes the single part driver-side ([[writeLocalParquetFile]])
    * and renames it into place — zero Spark jobs. Same exclusive-
    * rename collision contract (require → IllegalArgumentException).
    */
  private[sources] def writeManifestFileLocal(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, table: String,
      schema: StructType, rows: Seq[Row], dest: Path): Unit = {
    val tmp = new Path(table, s".stats-${java.util.UUID.randomUUID}.parquet")
    writeLocalParquetFile(spark, schema, rows, tmp)
    require(fs.rename(tmp, dest), s"stats commit rename to $dest failed")
  }

  /** Stage `df` into `staging` gathering per-file manifest stats IN
    * the write tasks (guide §6: a write must not re-scan its own
    * output; the Delta statistics-tracker shape via
    * [[org.apache.spark.sql.graft.TrackedParquetWrite]]). Falls back
    * to the plain staged writer — identical machinery, no tracker —
    * when the stats shape is unsupported, returning None; the caller
    * then keeps its read-back `statsFor` route.
    */
  private[sources] def stagedWriteTracked(df: DataFrame, staging: Path,
      partCols: Seq[String], statsCols: Seq[String],
      bloom: Option[(Seq[String], Int, Int)])
      : Option[Seq[org.apache.spark.sql.graft.FileWriteStats]] = {
    val statsData = statsCols.filterNot(partCols.contains)
    val tracked = org.apache.spark.sql.graft.TrackedParquetWrite.write(
      df, staging.toString, partCols, statsData,
      bloom.map(_._1).getOrElse(Nil),
      bloom.map(_._2).getOrElse(64), bloom.map(_._3).getOrElse(1))
    if (tracked.isEmpty) {
      if (partCols.isEmpty) df.write.parquet(staging.toString)
      else df.write.partitionBy(partCols: _*).parquet(staging.toString)
    }
    tracked
  }

  /** Manifest rows for the `moved` files assembled from write-task
    * stats — the LOCAL replacement for a `statsFor` re-scan of
    * just-written bytes. `statsSchema` is the schema the `statsFor`
    * frame WOULD have produced (built lazily by the caller — analysis
    * only, no action), so type/order/nullability parity is by
    * construction. Returns None when any moved file lacks a tracker
    * entry, two entries share one relative path, or the schema
    * carries a column the tracker cannot fill (ndv registers) — the
    * caller then runs the distributed scan.
    * Zero-row files are dropped exactly like the grouped aggregate
    * drops them (no input rows → no group).
    */
  private[sources] def statsRowsFromWrite(
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      moved: Seq[String], tracked: Seq[String], partCols: Seq[String],
      bloomCols: Seq[String],
      files: Seq[org.apache.spark.sql.graft.FileWriteStats],
      statsSchema: StructType): Option[Seq[Row]] = {
    // `moved` strings arrive raw (moveIn: table-root relative Path
    // concatenation) or fs-qualified (status listings) — match both
    // against the tracker's raw task-path segments, no URI decoding
    // (the on-disk names ARE the escaped forms)
    val roots = Seq(new Path(path).toString + "/",
      fs.makeQualified(new Path(path)).toString + "/").distinct
    val byRel = files.map(f => f.relPath -> f).toMap
    if (byRel.size != files.size) return None // colliding keys — re-scan
    val statsData = tracked.filterNot(partCols.contains)
    val dataIdx = statsData.zipWithIndex.toMap
    val partIdx = partCols.zipWithIndex.toMap
    val bloomIdx = bloomCols.zipWithIndex.toMap
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    for (m <- moved) {
      val rel = roots.collectFirst {
        case r if m.startsWith(r) => m.stripPrefix(r)
      }
      val entry = rel.flatMap(byRel.get) match {
        case None => return None // coverage gap — re-scan instead
        case Some(e) => e
      }
      if (entry.nRows > 0L) {
        val st = fs.getFileStatus(new Path(m))
        def partVal(c: String): Any = entry.partValues(partIdx(c))
        val vals = statsSchema.fields.map { f =>
          val n = f.name
          // the `_metadata.file_path` form a scan over these statuses
          // serves (WriteStatsParitySpec pins it): single-slash scheme
          // (empty authority dropped, a real one kept) + URL-encoded
          // path — java.net.URI's multi-arg constructor quotes the
          // decoded fs path exactly like the scan's SparkPath does
          if (n == "file") {
            val u = st.getPath.toUri
            val auth = Option(u.getAuthority).filter(_.nonEmpty).orNull
            new java.net.URI(u.getScheme, auth, u.getPath, null, null).toString
          }
          else if (n == "n_rows") entry.nRows
          else if (n == "file_size") st.getLen
          else if (n == "mod_time") st.getModificationTime
          else if (n.startsWith("min_")) {
            val c = n.stripPrefix("min_")
            if (partIdx.contains(c)) partVal(c)
            else dataIdx.get(c) match {
              case Some(i) => entry.mins(i)
              case None => return None
            }
          } else if (n.startsWith("max_")) {
            val c = n.stripPrefix("max_")
            if (partIdx.contains(c)) partVal(c)
            else dataIdx.get(c) match {
              case Some(i) => entry.maxs(i)
              case None => return None
            }
          } else if (n.startsWith("nulls_")) {
            val c = n.stripPrefix("nulls_")
            if (partIdx.contains(c)) {
              if (partVal(c) == null) entry.nRows else 0L
            } else dataIdx.get(c) match {
              case Some(i) => entry.nulls(i)
              case None => return None
            }
          } else if (n.startsWith("bloom_")) {
            val c = n.stripPrefix("bloom_")
            bloomIdx.get(c) match {
              case Some(i) => entry.blooms(i).toSeq
              case None => return None
            }
          } else return None // a column the tracker cannot fill (ndv)
        }
        rows += Row.fromSeq(vals.toSeq)
      }
    }
    Some(rows.toSeq)
  }

}
