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

/** Maintenance COMMITS: OPTIMIZE bin-packing compaction, publishGeneration (the one choke point every new generation goes through - strict observed+1 targeting, sidecar carry/reset, marker fold, removal log), and the atomic build-dir commit.
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait StorageCommit { this: DataSkipping.type =>

  // -----------------------------------------------------------------
  // Maintenance: compaction + retention vacuum
  // -----------------------------------------------------------------

  /** OPTIMIZE-style bin-packing: rewrite the table's CURRENT file set
    * (as the manifest defines it) into ~ceil(bytes/targetFileBytes)
    * files, commit the NEXT manifest generation, then vacuum
    * retention-expired debris. Ingest-cadence appends leave a long
    * tail of small files; at scale the per-file costs (open, footer,
    * task schedule, manifest row) dominate a scan of many small
    * files — this is the maintenance pass that pays that debt down,
    * the role OPTIMIZE plays for Delta.
    *
    * The GENERATION COMMIT is the snapshot point: the complete
    * replacement manifest — parts, sidecars, preserved markers,
    * removal log — is built inside the next `v<N+1>` dir (invisible:
    * readers only trust generations carrying `_COMMIT`), then made
    * visible by ONE atomic file create. Readers see the
    * pre-compaction file set until that instant and the
    * post-compaction one after — never a mix, with no
    * delete-then-rename window and no repair path. A crash mid-build
    * leaves an uncommitted generation dir readers never see
    * (vacuumed later). Named commit markers (see [[appendWithStats]])
    * SURVIVE compaction: their rows are folded into the rewritten
    * files, but each marker name is re-created as a zero-row manifest
    * file in the new generation, so a streaming replay after
    * compaction still short-circuits instead of re-appending an
    * already-folded batch — EXCEPT markers older than
    * `markerRetentionMs` (default 7 days), which are dropped (the
    * Delta txn-retention analog: without expiry, manifest listings
    * and [[graft.streaming.StatsTableSource]] offsets grow one entry
    * per commit forever). The driver materializes the file list
    * being replaced ((path) rows — the same O(snapshot files) any
    * OPTIMIZE planner holds).
    *
    * VACUUM (`vacuum = true`, default) runs [[vacuumTable]] with
    * `retentionMs`: replaced data files, superseded generations and
    * crash debris are deleted only after the retention window — a
    * reader that planned against the previous generation keeps every
    * file it resolved (see class doc). Vacuum runs EVEN when the
    * table already meets the size target (a no-op compact is still
    * the documented reclamation path). `vacuum = false` keeps
    * everything on disk (manifest-invisible) for manual rollback.
    * Compaction remains a single-WRITER maintenance op (concurrent
    * appends would race the snapshot); concurrent READERS are safe at
    * any retention ≥ their runtime.
    *
    * Returns the number of files after compaction, or 0 if the table
    * already meets the target (no rewrite — vacuum still runs).
    */
  def compactTable(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Int =
      withConcurrentRetry("compactTable") {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(retentionMs >= 0, "retentionMs must be >= 0")
    require(markerRetentionMs >= 0, "markerRetentionMs must be >= 0")
    val opStart = System.currentTimeMillis()
    val statsDir = new Path(s"$path/$StatsDir")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val partCols = partitionColsIn(fs, dir)
    val observed = listManifestNames(fs, dir)
    val stats = readManifestPinned(spark, dir, observed)
    val statsCols = trackedCols(spark, dir).toSeq.sorted
    val old = stats.select(col("file"), col("file_size")).collect()
    val totalBytes = old.map(_.getLong(1)).sum
    val target = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val dv = readDvIn(spark, dir)
    if (target >= old.length && dv.isEmpty) {
      // no rewrite, but vacuum is still the reclamation path. (With a
      // deletion vector present compaction ALWAYS rewrites — resolving
      // the vector into clean files is one of its two jobs, and the
      // read path's broadcast bound depends on it.)
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0
    }
    val schema = tableSchemaIn(spark, path, dir)
    // rewrite the current snapshot: coalesce (no shuffle) into the
    // target file count, staged hidden, then moved in — invisible to
    // manifest readers until the generation commit below. DV-dead
    // rows are filtered here — compaction MATERIALIZES the deletion
    // vector (the new generation carries none). A PARTITION-CONVERTED
    // table compacts WITHIN partitions: the snapshot hash-shuffles on
    // the partition columns (each partition value lands whole in one
    // task, so one task writes one file per partition it holds) and
    // stages `partitionBy` — the small-file tail collapses to one
    // file per partition value, Delta's per-partition bin-pack
    // reduced to its dominant case.
    val staging = new Path(path, s".compact-${java.util.UUID.randomUUID}")
    val snapshot = applyDv(partAwareStatusScan(spark, path, dir, schema,
      statusesOf(stats)), dv)
    // the rewrite preserves the table's bloom configuration; per-file
    // stats ride the write tasks (guide §6 — the statsFor read-back
    // below then never executes)
    val bloomCfg = bloomFeature(manifestFeatures(fs, dir))
    val writeStats =
      if (partCols.isEmpty) stagedWriteTracked(snapshot.coalesce(target),
        staging, Nil, statsCols, bloomCfg)
      else stagedWriteTracked(
        snapshot.repartition(target, partCols.map(col): _*),
        staging, partCols, statsCols, bloomCfg)
    val moved =
      if (partCols.isEmpty) moveIn(fs, staging, new Path(path))
      else moveInPartitioned(fs, staging, new Path(path))
    val newStats = statsFor(
      partAwareStatusScan(spark, path, dir, schema, statusesFor(fs, moved)),
      statsCols, bloom = bloomCfg)
    val statsLocal: Option[(StructType, Seq[Row])] =
      if (moved.size > 10000) None
      else writeStats.flatMap(ws => statsRowsFromWrite(fs, path, moved,
          statsCols, partCols, bloomCfg.map(_._1).getOrElse(Nil), ws,
          newStats.schema))
        .map(rows => (newStats.schema, rows))
    val movedNames = moved.map(p => new Path(p).getName).toSet
    val replacedData = old.map(r => rootRelativeOrName(fs, path, r.getString(0)))
      .filterNot(rel => movedNames(new Path(rel).getName)).toSeq
    // compaction changes nothing logically, so it records NO change
    // data — but the feed feature flag must survive the rebuilt
    // feature set or the next DML would silently stop recording
    publishGeneration(spark, fs, path, dir, newStats, schema, statsCols,
      Set("nulls") ++ bloomCfg.map(bloomFeatureLine).toSet ++
        manifestFeatures(fs, dir).filter(_ == CdfFeature),
      manifestSchema = newStats.schema, removedData = replacedData,
      markerRetentionMs = markerRetentionMs, opStartMs = opStart,
      op = "OPTIMIZE", observedParts = Some(observed),
      manifestRowsLocal = statsLocal)
    if (vacuum) vacuumTable(spark, path, retentionMs)
    moved.size
  }

  /** Predicate-SCOPED compaction — Delta's `OPTIMIZE tbl WHERE
    * <partition predicate>`: bin-pack ONLY the files the predicate
    * touches, carry every other file verbatim. THE maintenance shape
    * at 100 TB: an hourly job compacts today's hot partition's
    * small-file tail in O(partition), while full [[compactTable]]
    * would rewrite the table. Selection is FILE-granular through the
    * same prune+touch probe row-level DML uses (for a partition
    * predicate, min=max stats make it exactly the partition's
    * files; a non-partition predicate simply compacts every file
    * holding a matching row — whole files rewrite, so the operation
    * is content-invisible either way). Deletion-vector entries on
    * the touched files MATERIALIZE (their rewrite scans DV-filtered
    * rows); entries on untouched files carry forward. Same
    * optimistic-commit, marker-verbatim, removal-log and retention
    * contract as every [[rewriteFiles]] op. Returns the number of
    * files compacted away (0 = nothing worth rewriting).
    */
  def compactWhere(spark: SparkSession, path: String, predicate: Column,
      targetFileBytes: Long = 128L * 1024 * 1024,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Int =
      withConcurrentRetry("compactWhere") {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val pred = mapPred(spark, path, predicate)
    val (manifest, schema, _, touched, touchedScan, observed, _) =
      pruneAndTouch(spark, path, dir, pred, "compactWhere")
    val files = touched.map(_._1)
    if (files.isEmpty) {
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0
    }
    val filesDf = spark.createDataset(files)(
      org.apache.spark.sql.Encoders.STRING).toDF("__f")
    val bytes = manifest.join(broadcast(filesDf),
        col("file") === col("__f"), "left_semi")
      .agg(sum(col("file_size"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val target = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val dvTouches = readDvIn(spark, dir).exists { d =>
      !d.join(broadcast(filesDf), col("file") === col("__f"), "left_semi")
        .isEmpty
    }
    if (target >= files.size && !dvTouches) {
      // already at or under the bin target and no vector to resolve
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0
    }
    val partCols = partitionColsIn(fs, dir)
    // whole-file rewrite: the touched scan is DV-filtered but NOT
    // predicate-filtered — boundary files' non-matching rows ride
    // into the compacted output (content-invisible by construction)
    val replacement =
      if (partCols.isEmpty) touchedScan.coalesce(target)
      else touchedScan.repartition(target, partCols.map(col): _*)
    rewriteFiles(spark, fs, path, dir, manifest, schema, files,
      Some(replacement), vacuum, retentionMs, markerRetentionMs, opStart,
      op = "OPTIMIZE WHERE", observedParts = Some(observed),
      // bin-packing is content-invisible: its output depends only on
      // the touched files (the dependency set), never on rows a
      // concurrent winner added — the added-file test is vacuous
      readSkip = Some(lit(false)))
    files.size
  }

  /** MANIFEST CHECKPOINT (the Delta checkpoint analog): fold the
    * current generation's manifest PARTS into one compact part in a
    * new generation, touching NO data files. Every plan lists the
    * manifest dir and opens every part's footer, and an
    * ingest-cadence table gains one part per commit — so between
    * data compactions, planning cost grows O(commits since OPTIMIZE).
    * This pays that debt down at manifest cost only: read the pinned
    * parts, write them back as one file, commit the generation.
    * Data files, the deletion vector, change data, declarations and
    * the txn map all carry unchanged; named commit markers within
    * `markerRetentionMs` survive as zero-row re-creations (their rows
    * fold into the compact part), so streaming replay and
    * exactly-once named appends keep working across the checkpoint —
    * the same contract OPTIMIZE gives, minus the data rewrite.
    * Run it every N commits (Delta defaults to 10) or whenever
    * `DESCRIBE DETAIL`'s commit count is large; OPTIMIZE subsumes it
    * (a data compaction also folds the manifest).
    *
    * Returns the committed generation version.
    */
  def checkpointManifest(spark: SparkSession, path: String,
      markerRetentionMs: Long = RetentionDefaultMs,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs): Long =
      withConcurrentRetry("checkpointManifest") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val observed = listManifestNames(fs, dir)
    val rows = readManifestPinned(spark, dir, observed)
    val schema = tableSchemaIn(spark, path, dir)
    val statsCols = trackedCols(spark, dir).toSeq.sorted
    val manifestSchema = manifestSchemaIn(fs, dir)
    // one compact part: manifest rows are tens of bytes per file, so
    // even a million-file table folds to a single modest parquet
    // (multi-part folding would only matter far beyond that). When the
    // manifest is cache-served the fold is pure driver work — zero
    // Spark jobs for a CHECKPOINT.
    val local = localManifestRowsPinned(spark, dir, observed)
      .map { case (ms, rs) => (ms, rs.map(_._1)) }
    val v = publishGeneration(spark, fs, path, dir, rows.coalesce(1),
      schema, statsCols, manifestFeatures(fs, dir), manifestSchema,
      removedData = Nil, markerRetentionMs = markerRetentionMs,
      opStartMs = opStart, op = "CHECKPOINT",
      dv = readDvIn(spark, dir), observedParts = Some(observed),
      manifestRowsLocal = local)
    if (vacuum) vacuumTable(spark, path, retentionMs)
    v
  }

  /** Build the COMPLETE next manifest generation in a hidden dir and
    * publish it with ONE atomic `_COMMIT` create — the shared commit
    * path behind [[compactTable]], [[deleteWhere]], [[updateWhere]]
    * and [[mergeUpsert]]. Writes `manifestRows` as the generation's
    * parts, carries the table sidecars, re-creates the current
    * manifest's named commit markers as zero-row files (their data
    * rows are folded into `manifestRows`) — but only markers younger
    * than `markerRetentionMs` (the Delta txn-retention analog,
    * deliberately SEPARATE from the data retention — a
    * reader-exclusive retention-0 vacuum must not void replay
    * protection): a marker's only job after its rows are folded is
    * replay short-circuiting, and writers/consumers more than the
    * window behind are already outside the table's replay
    * guarantees; expiring them here keeps manifest listings and
    * streaming offsets bounded by the window's commit count instead
    * of growing forever. Records `removedData` (table-root-relative
    * names) plus the superseded generation in the removal log that
    * [[vacuumTable]]'s retention window runs against. Readers never
    * look at the uncommitted build dir. Returns the committed version
    * number.
    */
  /** The OPTIMISTIC generation commit: stamp a writer token into the
    * build dir, rename it to the target version, verify the token
    * survived, then create `_COMMIT` exclusively. A rename onto an
    * EXISTING directory does not fail — it NESTS the build inside
    * the winner's dir — so the token check is what detects the lost
    * race; the stray nested build is removed (dot-prefixed, so even
    * a crash between detection and cleanup leaves it invisible to
    * manifest reads) and [[ConcurrentWriteException]] signals the
    * caller's retry loop. Exactly one writer's token can sit at
    * `gen/<token>`, so exactly one writer ever creates the version's
    * `_COMMIT` — the single-committer invariant every reader trusts.
    */
  private[sources] def commitBuildAs(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, build: Path, gen: Path): Unit = {
    val token = s"_writer-${java.util.UUID.randomUUID}"
    fs.create(new Path(build, token), false).close()
    val renamed = fs.rename(build, gen)
    if (!renamed || !fs.exists(new Path(gen, token))) {
      if (renamed) fs.delete(new Path(gen, build.getName), true)
      else fs.delete(build, true)
      // An UNCOMMITTED occupant is either a live writer inside its
      // millisecond-wide rename→_COMMIT window, or debris (a crash
      // inside exactly that window, or foreign junk). Poll through
      // the live window: a `_COMMIT` appearing means a real winner
      // (retry against its state); an occupant that never commits is
      // reclaimed so strict version targeting cannot wedge on a slot
      // a crashed writer claimed but never committed. The re-check
      // immediately before the delete narrows the TOCTOU against a
      // writer committing at the last instant; the writer side's
      // post-commit token verification below closes it.
      if (fs.exists(gen) && !isCommittedGen(fs, gen)) {
        val deadline = System.currentTimeMillis() + OccupantGraceMs
        while (System.currentTimeMillis() < deadline &&
            fs.exists(gen) && !isCommittedGen(fs, gen))
          Thread.sleep(50)
        // Reclaim by RENAME-ASIDE, not delete: the occupant's writer
        // can stamp `_COMMIT` in the instant between our last check
        // and the reclaim, and a delete there would destroy a
        // just-committed generation a reader may already have
        // resolved. The rename is atomic, so we can re-check the
        // marker AFTER winning the move: committed after all → put
        // it back via [[restoreCommitted]] (which survives a third
        // writer stealing the slot in the rename-back instant); still
        // uncommitted → crash debris, delete the dot-prefixed
        // quarantine (invisible to readers even if we crash before
        // this line).
        if (fs.exists(gen) && !isCommittedGen(fs, gen)) {
          val aside = new Path(gen.getParent,
            s".reclaim-${gen.getName}-${java.util.UUID.randomUUID}")
          if (fs.rename(gen, aside)) {
            if (isCommittedGen(fs, aside)) restoreCommitted(fs, gen, aside)
            else fs.delete(aside, true)
          }
        }
      }
      throw new ConcurrentWriteException(
        s"generation ${gen.getName} was created by a concurrent writer")
    }
    commitGen(spark, gen)
    // Reclaim-race guard: a contender that deemed this dir debris may
    // have deleted it between our token check and the `_COMMIT`
    // create (which would silently re-create the dir with ONLY the
    // commit file — a corrupt committed generation). The token is
    // the witness: if it vanished, the generation was reclaimed —
    // undo the orphan commit and report the lost race so the retry
    // loop re-runs the whole op.
    if (!fs.exists(new Path(gen, token))) {
      // Undo EXACTLY the orphan marker, not the whole dir: by now a
      // contender may have reclaimed the slot and renamed its OWN
      // build in, so a wholesale delete could destroy another
      // writer's in-flight generation. Removing the marker restores
      // whatever occupies the slot to its uncommitted state; if the
      // dir is left empty (the pure delete-then-recreate corruption)
      // remove the husk too.
      fs.delete(new Path(gen, CommitFile), false)
      if (fs.exists(gen) && fs.listStatus(gen).isEmpty) fs.delete(gen, true)
      throw new ConcurrentWriteException(
        s"generation ${gen.getName} was reclaimed mid-commit")
    }
  }

  /** How long an uncommitted version-dir occupant is given to produce
    * its `_COMMIT` before contenders reclaim the slot as crash debris
    * (see [[commitBuildAs]] — live writers occupy a version number
    * for milliseconds; this is 100× that with margin).
    */
  private[sources] val OccupantGraceMs = 3000L

  /** Put a generation that turned out to be COMMITTED back into the
    * slot it was reclaimed out of. The hazard the plain rename-back
    * had: a rename onto an EXISTING directory does not fail, it
    * NESTS — a third writer renaming its own build into the freed
    * slot during the rename-back instant left the committed
    * generation dot-prefixed INSIDE the winner's dir, its writer
    * already returned success, its data silently absent. This
    * restore verifies placement after every rename and un-nests a
    * lost rename back to parent level; an uncommitted occupant is
    * waited out through its commit window; a slot re-held by a
    * COMMITTED competitor (or an occupant that never resolves) parks
    * the displaced generation at parent level under a VISIBLE
    * `_displaced-` name and logs an error with the recovery path —
    * loudly quarantined, never silently gone.
    */
  private[sources] def restoreCommitted(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path, aside: Path): Unit = {
    var src = aside
    val deadline = System.currentTimeMillis() + OccupantGraceMs
    while (System.currentTimeMillis() < deadline) {
      if (!fs.exists(gen)) {
        if (fs.rename(src, gen)) {
          val nested = new Path(gen, src.getName)
          if (!fs.exists(nested)) return // clean restore — slot was free
          // a third writer won the slot inside the rename instant and
          // the restore NESTED into its dir — pull it straight back
          // out to parent level and re-assess the slot
          val out = new Path(gen.getParent,
            s".reclaim-${gen.getName}-${java.util.UUID.randomUUID}")
          src = if (fs.rename(nested, out)) out else nested
        }
      } else if (isCommittedGen(fs, gen)) {
        quarantineDisplaced(fs, gen, src)
        return
      } else Thread.sleep(50) // occupant mid-commit: wait its window out
    }
    quarantineDisplaced(fs, gen, src)
  }

  /** Park a committed-but-displaced generation at parent level under
    * a visible name and say so LOUDLY — the recovery surface for the
    * only reachable end-state of a lost [[restoreCommitted]] race.
    */
  private[sources] def quarantineDisplaced(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path, src: Path): Unit = {
    val parked = new Path(gen.getParent,
      s"_displaced-${gen.getName}-${java.util.UUID.randomUUID}")
    val at = if (fs.rename(src, parked)) parked else src
    logError(s"generation slot ${gen.getName} was re-won by another " +
      s"writer while a COMMITTED generation was mid-reclaim; the " +
      s"displaced generation's files are preserved at $at (its writer " +
      "observed a successful commit, but the slot now holds a " +
      "competitor's commit — reconcile by replaying the displaced " +
      "operation or merging the parked files by hand)")
  }

  private[sources] def publishGeneration(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, dir: String,
      manifestRows: DataFrame, schema: StructType, statsCols: Seq[String],
      features: Set[String], manifestSchema: StructType,
      removedData: Seq[String], markerRetentionMs: Long,
      opStartMs: Long, verbatimMarkers: Set[String] = Set.empty,
      changeData: Option[DataFrame] = None,
      op: String,
      txn: Option[(String, Long)] = None,
      dv: Option[DataFrame] = None,
      clustered: Option[String] = None,
      observedParts: Option[Set[String]] = None,
      resetDeclarations: Boolean = false,
      partitionColsNew: Option[Seq[String]] = None,
      extraSidecars: Map[String, String] = Map.empty,
      manifestRowsLocal: Option[(StructType, Seq[Row])] = None,
      changeDataFrom: Option[Path] = None,
      dvLocal: Option[(StructType, Seq[Row])] = None): Long = {
    val statsDir = new Path(s"$path/$StatsDir")
    // STRICT version targeting: commit exactly (observed generation
    // + 1). Targeting last+1 instead would let a loser leapfrog a
    // winner it never saw — commit vN+2 built from vN while the
    // winner's vN+1 holds changes vN+2 would silently revert. With
    // observed+1, a racing winner makes the rename NEST and the
    // token check turns the lost race into a retry against the
    // winner's state.
    val obsV = obsVersionOf(dir).getOrElse(
      sys.error(s"publish needs a committed generation, got $dir"))
    val nextV = obsV + 1
    // marker age is measured from the op's ENTRY time, not from
    // whenever the heavy rewrite before this call finished — a marker
    // must not expire merely because the maintenance op that should
    // preserve it ran long
    val markerCutoff = opStartMs - markerRetentionMs
    val markers = fs.listStatus(new Path(dir))
      .filter(f => f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("part-") &&
        f.getModificationTime >= markerCutoff)
      .map(_.getPath.getName).toSeq
    val build = new Path(statsDir, s".genbuild-${java.util.UUID.randomUUID}")
    // rows already known on the driver (cache-served carry) write as
    // ONE part directly — no Spark job, no commit protocol; everything
    // else keeps the distributed write
    manifestRowsLocal match {
      case Some((ms, rows)) =>
        fs.mkdirs(build)
        writeLocalParquetFile(spark, ms, rows,
          new Path(build, s"part-${java.util.UUID.randomUUID}.parquet"))
      case None =>
        manifestRows.write.parquet(build.toString)
    }
    writeSidecars(spark, build.toString, schema, statsCols, features,
      manifestSchema = Some(manifestSchema))
    // change-data files land inside the build dir: the single _COMMIT
    // create below makes them exactly as atomic as the generation, and
    // the `_` prefix hides them from the generation's manifest read
    changeData.foreach(cd =>
      cd.write.parquet(new Path(build, ChangeDataDir).toString))
    // already-materialized change data (rewriteFiles' one-job temp
    // write) publishes as a driver-side COPY of its parts — no Spark
    // job per publish attempt
    changeDataFrom.foreach { src =>
      val dst = new Path(build, ChangeDataDir)
      fs.mkdirs(dst)
      fs.listStatus(src)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .foreach(f => org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath,
          fs, new Path(dst, f.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration))
    }
    // the deletion vector is generation state like change data: the
    // single _COMMIT create below makes it exactly as atomic as the
    // manifest rows, and the `_` prefix hides it from manifest reads
    dv.foreach(d =>
      d.write.parquet(new Path(build, DvDir).toString))
    // a cache-served carry writes the next vector driver-side
    dvLocal.foreach { case (s, rows) =>
      fs.mkdirs(new Path(build, DvDir))
      writeLocalParquetFile(spark, s, rows,
        new Path(new Path(build, DvDir),
          s"part-${java.util.UUID.randomUUID}.parquet"))
    }
    writeOpFile(fs, build, op, opStartMs)
    writeTxnFile(fs, dir, build, txn)
    // CHECK constraints, the column mapping, generated-column
    // declarations and the partition-column list ride every
    // generation forward like the txn map (dropping the partition
    // sidecar would silently flip a partitioned table to flat reads
    // — null partition values — after its first DML generation).
    // An OVERWRITE generation (`resetDeclarations`) instead starts
    // its declarations from scratch — CREATE OR REPLACE semantics:
    // the replacing batch defines the table's shape, and the old
    // declarations live on in the REPLACED generations for time
    // travel / RESTORE, never in the new one.
    if (!resetDeclarations)
      Seq(ConstraintsFile, ColMapFile, GeneratedFile, IdentityFile,
          PartitionColsFile, VIndexFile).foreach { n =>
        readSidecarIn(fs, dir, n).foreach { j =>
          val out = fs.create(new Path(build, n), true)
          try out.write(j.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
      }
    // caller-supplied generation sidecars (the vector-index model on
    // a rebuild) override whatever the carry above brought forward —
    // they land in the build dir, so the single _COMMIT create below
    // makes them exactly as atomic as the manifest rows
    extraSidecars.foreach { case (n, body) =>
      val out = fs.create(new Path(build, n), true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    partitionColsNew.filter(_.nonEmpty).foreach { cols =>
      val out = fs.create(new Path(build, PartitionColsFile), true)
      try out.write(cols.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // clustering state: the op either rewrote it (full/incremental
    // OPTIMIZE ZORDER pass the fresh content) or it rides forward
    // verbatim like the declarations above (an overwrite resets it —
    // the old layout says nothing about the new files)
    clustered.map(Some(_))
      .getOrElse(if (resetDeclarations) None
                 else readSidecarIn(fs, dir, ClusteredFile))
      .foreach { c =>
        val out = fs.create(new Path(build, ClusteredFile), true)
        try out.write(c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    // retained markers either survive VERBATIM (caller proved none of
    // their rows reference a rewritten file — their data rows stay in
    // the copied marker, excluded from `manifestRows`, so an
    // in-flight stream consumer replays the commit unchanged) or fold
    // to a zero-row re-creation (rows moved into `manifestRows`)
    val (keepVerbatim, folded) = markers.partition(n =>
      verbatimMarkers(n) || observedParts.exists(o => !o(n)))
    keepVerbatim.foreach { n =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir, n),
        fs, new Path(build, n), false,
        spark.sparkContext.hadoopConfiguration)
    }
    if (folded.nonEmpty) {
      // zero-row re-creations are schema-only — written driver-side
      // (no Spark job per generation just to mint an empty template)
      val templateSchema =
        manifestRowsLocal.map(_._1).getOrElse(manifestRows.schema)
      folded.foreach { n =>
        writeLocalParquetFile(spark, templateSchema, Nil, new Path(build, n))
      }
    }
    // CONCURRENT APPENDS (pinned callers): manifest files that landed
    // after the caller pinned its carried-rows read are a concurrent
    // append — the op is serialized BEFORE it, so its file rides into
    // the new generation VERBATIM (rows + marker identity intact; its
    // data files live in the table root untouched by this op). Late
    // MARKERS were already diverted to keepVerbatim above; late
    // part-files are copied here.
    val lateParts: Set[String] = observedParts.fold(Set.empty[String]) { o =>
      fs.listStatus(new Path(dir))
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && n.startsWith("part-") && !o(n))
        .toSet
    }
    lateParts.foreach { n =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir, n),
        fs, new Path(build, n), false,
        spark.sparkContext.hadoopConfiguration)
    }
    val now = System.currentTimeMillis()
    // the superseded generation: the observed one — if a rival
    // committed past it, the commit below fails the race and retries
    writeRemovalLog(fs, build,
      (removedData :+ s"$StatsDir/v$obsV").map(_ -> now))
    val gen = new Path(statsDir, s"v$nextV")
    commitBuildAs(spark, fs, build, gen)
    // post-commit reconciliation: an append that landed between the
    // late-parts listing above and the commit is copied into the NOW
    // CURRENT generation (appends to the current generation are legal
    // at any time, and this generation is current). Appenders racing
    // the same window independently re-register against the new
    // generation after a claim check, and NAMED commits collide on
    // the marker name, so the two repairs never double-deliver a
    // named batch (unnamed appends in this millisecond window are
    // at-least-once — the documented concurrency contract).
    observedParts.foreach { o =>
      val placed = keepVerbatim.toSet ++ folded ++ lateParts
      fs.listStatus(new Path(dir))
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !o(n) && !placed(n))
        .foreach { n =>
          val dst = new Path(gen, n)
          if (!fs.exists(dst))
            org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir, n),
              fs, dst, false, spark.sparkContext.hadoopConfiguration)
        }
    }
    nextV
  }

}
