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

/** ROW-LEVEL DML: copy-on-write DELETE/UPDATE/MERGE, merge-on-read deletion-vector variants + PURGE, keyed REPLACE, the full conditional MERGE INTO, CHECK constraints, and the shared prune-touch-rewrite kernel.
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait StorageDml { this: DataSkipping.type =>

  // -----------------------------------------------------------------
  // Row-level DML: DELETE / UPDATE / MERGE (copy-on-write)
  // -----------------------------------------------------------------

  /** (path, size, mtime) statuses of the manifest rows in `rows` —
    * the only driver-side materialization in the DML path (the
    * Delta-snapshot pattern: O(selected files) triples, never the
    * all-files list unless the op itself is unprunable).
    */
  private[sources] def statusesOf(rows: DataFrame): Seq[FileStatusWithMetadata] =
    rows.select(col("file"), col("file_size"), col("mod_time"))
      .collect().map { r =>
        FileStatusWithMetadata(new FileStatus(
          r.getLong(1), false, 1, 128L * 1024 * 1024, r.getLong(2),
          new Path(r.getString(0))))
      }.toSeq

  /** Statuses for files this op just WROTE (staged + moved in): one
    * driver-side stat per file — the same calls a path-list read's
    * InMemoryFileIndex would make, without also baking an O(files)
    * path list into the relation.
    */
  private[sources] def statusesFor(fs: org.apache.hadoop.fs.FileSystem,
      paths: Seq[String]): Seq[FileStatusWithMetadata] =
    paths.map(p => FileStatusWithMetadata(fs.getFileStatus(new Path(p))))

  /** Scan exactly `statuses` of `path`'s data files through a
    * [[ManifestFileIndex]]: planning serves the recorded statuses
    * straight to the parquet reader — no per-file path list in the
    * plan, no listing, no footer reads. Every DML-internal scan
    * (candidate probe, touched-row rewrite, CDF images, compaction
    * snapshot) goes through here, so an UNPRUNABLE op (whole-table
    * MERGE) plans one relation, not an O(files)-ary path literal —
    * the same rebuild the read path ([[readSkippingIn]]) got.
    */
  private[sources] def statusScan(spark: SparkSession, path: String,
      schema: StructType, statuses: Seq[FileStatusWithMetadata]): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(new Path(path), statuses),
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(classic))
  }

  /** [[statusScan]] for paths that may be PARTITION-CONVERTED: the
    * partition columns live in directory names, not file bytes, so a
    * flat relation would read them as null and silently fail every
    * predicate touching them (dropped boundary rows → wrong counts /
    * min-max). Splits the sidecar schema into data columns (read from
    * bytes) and partition columns (served per PartitionDirectory by
    * the file index — zero bytes read), exactly like the read path.
    * Falls through to the flat [[statusScan]] when unpartitioned.
    */
  private[sources] def partAwareStatusScan(spark: SparkSession, path: String,
      dir: String, schema: StructType,
      statuses: Seq[FileStatusWithMetadata]): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    partAwareStatusScanCols(spark, path, partitionColsIn(fs, dir),
      schema, statuses)
  }

  /** [[partAwareStatusScan]] with the partition columns given
    * EXPLICITLY — for call sites where the sidecar is not written
    * yet (the v0 stats pass of a partitioned [[writeWithStats]]).
    */
  private[sources] def partAwareStatusScanCols(spark: SparkSession, path: String,
      partCols: Seq[String], schema: StructType,
      statuses: Seq[FileStatusWithMetadata]): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(
      partAwareRelation(spark, path, partCols, schema, statuses))
  }

  /** The HadoopFsRelation behind [[partAwareStatusScan]], exposed for
    * the STREAMING read path ([[graft.streaming.StatsTableSource]]),
    * which must wrap the SAME part-aware relation in an
    * `isStreaming` LogicalRelation: partition columns live only in
    * directory names, so a flat relation over a partitioned table's
    * files would serve them as silent NULLs to every consumer.
    */
  private[graft] def partAwareRelation(spark: SparkSession, path: String,
      partCols: Seq[String], schema0: StructType,
      statuses: Seq[FileStatusWithMetadata]): HadoopFsRelation = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the scan schema is NULLABLE: a native partitioned write's
    // sidecar can carry the frame's nullable=false (flat sidecars
    // come from read-backs, always nullable), and a REQUIRED column
    // missing from an evolution-era file fails the vectorized reader
    // instead of reading null
    val schema = StructType(schema0.fields.map(_.copy(nullable = true)))
    if (partCols.isEmpty) HadoopFsRelation(
      new ManifestFileIndex(new Path(path), statuses),
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(classic)
    else {
      val partSchema = StructType(partCols.map(c => schema(schema.fieldIndex(c))))
      val dataSchema = StructType(
        schema.filterNot(f => partCols.contains(f.name)))
      HadoopFsRelation(
        manifestIndexFor(spark, path, partCols, partSchema, statuses),
        partitionSchema = partSchema,
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(classic)
    }
  }

  /** A [[ManifestFileIndex]] over exactly `statuses`, grouped by the
    * directory-encoded partition values (partition tuples cast
    * through the sidecar types, like every part-aware scan).
    */
  private[sources] def manifestIndexFor(spark: SparkSession, path: String,
      partCols: Seq[String], partSchema: StructType,
      statuses: Seq[FileStatusWithMetadata]): ManifestFileIndex = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val groups = statuses
      .groupBy(st => parsePartValues(fs, path, st.getPath.toString, partCols))
      .toSeq.map { case (raw, sts) =>
        (InternalRow.fromSeq(raw.zip(partSchema.fields).map {
          case (v, f) => castPartValue(v, f.dataType)
        }), sts)
      }
    new ManifestFileIndex(new Path(path), statuses, partSchema, groups)
  }

  /** Kept file statuses for the LAZY read path ([[SkippingFileIndex]]):
    * re-anchor the RESOLVED catalyst `filters` on names and run the
    * same skip planning every eager read uses — stats range rewrite,
    * null counts, blooms, nested paths, generated-column derivation.
    * Subquery-bearing or non-deterministic conjuncts are dropped
    * (conservative: more files kept, never fewer).
    */
  private[sources] def lazySkipStatuses(spark: SparkSession, path: String,
      dir: String, filters: Seq[Expression]): Seq[FileStatusWithMetadata] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val usable = filters.filter(f => f.deterministic &&
      !f.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    val pred =
      if (usable.isEmpty) lit(true)
      else org.apache.spark.sql.graft.ColumnBridge.column(
        usable.reduce(And).transform {
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        })
    val (stats, _, skip) = planSkip(spark, path, dir, pred)
    statusesOf(stats.filter(skip))
  }

  /** The LAZY read plan for the catalog/`format("graft")` surface —
    * the Delta OSS architecture (TahoeFileIndex): a standard
    * `HadoopFsRelation` whose [[SkippingFileIndex]] evaluates the
    * manifest UNDER THE QUERY'S OWN FILTERS at listing time, so the
    * whole Catalyst file-scan stack applies — nested-predicate and
    * parquet row-group pushdown, whole-stage codegen, nested schema
    * pruning, and native dynamic partition pruning on name-addressed
    * joins (`FileSourceScanExec` re-filters the listed partition
    * directories with the runtime subquery values). The deletion
    * vector applies as the usual broadcast anti-join above the scan;
    * a column mapping projects physical→logical on top. `None` for a
    * version that is not a committed generation — the caller keeps
    * the eager V1 route, which fails it loudly with the retained
    * range.
    */
  private[sources] def lazyScanPlan(spark: SparkSession, path: String,
      version: Option[Long]): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = version match {
      case Some(v) => s"$path/$StatsDir/v$v"
      case None => manifestDirOf(fs, path)
    }
    if (version.exists(v => !isCommittedGen(fs, new Path(dir)))) return None
    // the size hint's manifest read is also the protocol gate
    val sizeHint = tableSizeInBytes(spark, path, version)
    val phys = tableSchemaIn(spark, path, dir)
    val schema = StructType(phys.fields.map(_.copy(nullable = true)))
    val partCols = partitionColsIn(fs, dir)
    val idx = new SkippingFileIndex(spark, path, dir, schema, partCols, sizeHint)
    val partSchema = StructType(partCols.map(c => schema(schema.fieldIndex(c))))
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = HadoopFsRelation(idx, partSchema, dataSchema,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(classic)
    val scan = applyDv(classic.baseRelationToDataFrame(rel), readDvIn(spark, dir))
    Some(colMapIn(fs, dir) match {
      case None => scan
      case Some(mm) => toLogicalScan(scan, phys, mm)
    })
  }

  /** The generation's deletion vector, if any (see [[DvDir]]):
    * `(file: string, row_index: long)` rows of dead positions.
    */
  private[sources] def readDvIn(spark: SparkSession,
      dir: String): Option[DataFrame] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dv = new Path(dir, DvDir)
    if (!fs.exists(dv)) None
    else {
      val schema = StructType(Seq(
        StructField("file", org.apache.spark.sql.types.StringType),
        StructField("row_index", org.apache.spark.sql.types.LongType)))
      // size-gated driver-side row cache, like the manifest read: the
      // vector is probed by EVERY plan/DML over a vector-carrying
      // generation, and its broadcast build was the one remaining
      // always-distributed metadata scan (r18 verdict #4). The dir is
      // per-generation write-once; keys carry name+len+mtime, so an
      // out-of-band rewrite re-reads. Over-budget vectors keep the
      // distributed scan.
      val parts = fs.listStatus(dv).filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")
      }.toSeq
      localPartRows(spark, dv.toString, parts, schema) match {
        case Some(rows) => Some(spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema))
        case None => Some(spark.read.schema(schema).parquet(dv.toString))
      }
    }
  }

  /** Filter DV-dead rows out of a data-file scan: broadcast-hash
    * LEFT ANTI on (file path, row index) — the stream side never
    * shuffles, each row pays one hash probe. No-op when the
    * generation has no vector.
    */
  private[sources] def applyDv(scan: DataFrame, dv: Option[DataFrame]): DataFrame =
    dv.fold(scan) { d =>
      // the vector read is itself a file scan with its own _metadata
      // — qualify the probe side's pseudo-column through the Dataset
      scan.join(broadcast(d),
        scan("_metadata.file_path") === d("file") &&
          scan("_metadata.row_index") === d("row_index"),
        "left_anti")
    }

  /** Candidate files that actually contain rows where `cond` is TRUE,
    * with their match counts: ONE distributed scan of just the
    * candidate subset; only a (file, count) row per touched file
    * reaches the driver.
    */
  private[sources] def touchedFiles(candScan: Option[DataFrame],
      cond: Column): Seq[(String, Long)] =
    candScan.fold(Seq.empty[(String, Long)])(
      _.select(col("_metadata.file_path").as("__file"), cond.as("__hit"))
        .filter(col("__hit"))
        .groupBy("__file").agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)

  /** Shared DELETE/UPDATE preamble: plan the skip, require a
    * status-carrying manifest, materialize the candidate statuses,
    * and find the actually-touched files under TRUE-only hit
    * semantics (NULL neither deletes nor updates). Returns the
    * already-loaded manifest frame, table schema, coalesced hit
    * predicate, the touched (file, matches) pairs, and a scan of
    * exactly the touched files for the rewrite.
    */
  private[sources] def pruneAndTouch(spark: SparkSession, path: String,
      dir: String, predicate: Column, op: String)
      : (DataFrame, StructType, Column, Seq[(String, Long)], DataFrame,
         Set[String], Column) = {
    val fsPin = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // OBSERVED SET pinned before the manifest read: the optimistic-
    // commit contract (publishGeneration treats anything beyond it as
    // a concurrent append to ride forward verbatim)
    val pin = listManifestNames(fsPin, dir)
    val (stats, schema, skip) = planSkip(spark, path, dir, predicate, Some(pin))
    // DML sees the LOGICAL table: DV-dead rows are invisible to the
    // candidate probe, the rewrite and the CDF images — a rewritten
    // file drops its dead rows physically (the rewrite IS their
    // materialization), and they can be neither re-deleted nor
    // resurrected. Partition-converted tables scan part-aware, so the
    // probe/rewrite frames carry the directory-encoded columns and
    // predicates over them evaluate correctly.
    val dv = readDvIn(spark, dir)
    val candStatuses = statusesOf(stats.filter(skip))
    val candScan =
      if (candStatuses.isEmpty) None
      else Some(applyDv(partAwareStatusScan(spark, path, dir, schema,
        candStatuses), dv))
    val hit = coalesce(predicate, lit(false))
    val touched = touchedFiles(candScan, hit)
    val touchedSet = touched.map(_._1).toSet
    val touchedScan = applyDv(partAwareStatusScan(spark, path, dir, schema,
      candStatuses.filter(s => touchedSet(s.getPath.toString))), dv)
    (stats, schema, hit, touched, touchedScan, pin, skip)
  }

  /** The copy-on-write commit shared by the row-level DML ops: stage
    * `replacement` into the table root, carry every row of the
    * (caller-loaded) `manifest` EXCEPT the `touched` files into the
    * next generation together with fresh stats for the replacement
    * files, publish the generation, optionally vacuum. The table
    * schema, tracked columns, features and manifest schema are all
    * unchanged — DML rewrites rows, never shape.
    *
    * CONFLICT-CHECKED COMMIT (the Delta ConflictChecker analog): a
    * lost optimistic race no longer always re-runs the whole op.
    * When the caller supplies `readSkip` — the stats-prune predicate
    * its candidate read was scoped by — and [[rebaseSafe]] proves the
    * winner's commit DISJOINT from this op's read/write set (shape
    * sidecars unchanged, every rewritten/DV-target file still present,
    * no winner-added file's stats can match the read predicate, the
    * deletion vector unchanged on this op's files), the prepared
    * result REBASES: carried rows are re-derived from the winner's
    * manifest, this op's already-staged replacement files and their
    * stats rows ride in unchanged, and the publish retries against
    * the winner's generation — O(manifest) instead of O(op). A race
    * that fails any check falls back to [[withConcurrentRetry]]'s
    * full re-run (the always-correct serial order). At 100 TB this
    * is the difference between continuous ingest-cadence DML
    * coexisting with OPTIMIZE-cadence maintenance and every such
    * race costing a full DML recompute.
    */
  private[sources] def rewriteFiles(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, dir: String,
      manifest: DataFrame, schema: StructType,
      touched: Seq[String], replacement: Option[DataFrame],
      vacuum: Boolean, retentionMs: Long, markerRetentionMs: Long,
      opStartMs: Long, changeData: Option[DataFrame] = None,
      op: String,
      txn: Option[(String, Long)] = None,
      extraDv: Option[DataFrame] = None,
      clusteredOf: Seq[String] => Option[String] = _ => None,
      observedParts: Option[Set[String]] = None,
      readSkip: Option[Column] = None): Unit = {
    // observability counters are per-path and would otherwise grow
    // with every table a long-lived session ever touches
    if (opRewriteRuns.size > 4096) opRewriteRuns.clear()
    if (rebaseCommits.size > 4096) rebaseCommits.clear()
    opRewriteRuns.computeIfAbsent(path,
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
    // None = the op writes no data files at all (merge-on-read DML:
    // its entire output is the deletion vector) — not even an empty
    // staged part. A PARTITION-CONVERTED table stages `partitionBy`
    // its partition columns and moves each file INTO its `col=value`
    // dir — the replacement rows carry the directory-encoded values
    // (served by the part-aware touched scan), so the write routes
    // them back (or, for an UPDATE that changes a partition value,
    // forward to the row's new directory).
    val partCols = partitionColsIn(fs, dir)
    // stats shape resolved BEFORE the write: the staged replacement
    // gathers its per-file manifest stats IN the write tasks (guide
    // §6 — a write must not re-scan its own output), so the statsFor
    // action below usually never runs
    val baseFeats = manifestFeatures(fs, dir)
    val baseStatsCols = trackedCols(spark, dir).toSeq.sorted
    val bloomFeat = bloomFeature(baseFeats)
    var writeStats: Option[Seq[org.apache.spark.sql.graft.FileWriteStats]] = None
    val moved = replacement.fold(Seq.empty[String]) { r =>
      val staging = new Path(path, s".append-${java.util.UUID.randomUUID}")
      writeStats = stagedWriteTracked(r, staging, partCols, baseStatsCols,
        bloomFeat)
      enforceConstraintsOnStaged(spark, fs, dir, staging, schema, op)
      // copy-on-write rewrites re-verify (and an UPDATE SET may
      // recompute) generated values under the CURRENT session tz —
      // same drift hazard as an append, so the same poison applies
      // (otherwise read-side temporal derivation keeps pruning over
      // mixed-epoch stored values)
      if (generatedIn(fs, dir).nonEmpty) poisonGeneratedTzOnDrift(spark, fs, dir)
      if (partCols.isEmpty) moveIn(fs, staging, new Path(path))
      else moveInPartitioned(fs, staging, new Path(path))
    }
    // Op-derived frames are MATERIALIZED once (localCheckpoint), so a
    // rebase attempt re-reads computed blocks instead of re-scanning
    // the op's data: the added-file stats would otherwise re-read
    // every rewritten file's bytes per publish attempt and the change
    // data would re-scan the touched files — turning the "O(manifest)
    // rebase" into O(op) again. Shape sidecars are proven identical
    // across a rebase (rebaseSafe), so stats computed under the base
    // dir's tracked set/features stay exact under the winner's.
    //
    // Added-file stats land on the DRIVER when the op wrote a bounded
    // number of files (every row-level DML does): the rows usually
    // arrive straight from the WRITE TASKS (stagedWriteTracked above —
    // zero extra actions), else the one statsFor action replaces the
    // checkpoint; the whole generation carry below becomes driver
    // work. Ops that wrote an unbounded file set keep the
    // checkpointed-frame route (same rebase rationale).
    // The gate is a BYTE budget, not a row count: one stats row can
    // carry kilobytes of bloom bits plus HLL registers per tracked
    // column, so 10k rows of narrow min/max is fine where 10k rows of
    // multi-bloom stats would be hundreds of driver-heap MB (r18
    // advice). Reuses the manifest local-serve budget — the carried
    // generation these rows union into is gated by the same number.
    val addedLocalMax = 10000
    val estStatRowBytes: Long = {
      val base = 64L + 48L * baseStatsCols.size
      val bloomB = bloomFeat.fold(0L) { case (cols, bits, _) =>
        cols.size.toLong * (bits / 8L + 64L) }
      base + bloomB
    }
    val localGate: Boolean = moved.size <= addedLocalMax &&
      moved.size * estStatRowBytes <= maxLocalManifestBytes(spark)
    val addedStatsFrame: Option[DataFrame] =
      if (moved.isEmpty) None
      else Some(statsFor(
        partAwareStatusScan(spark, path, dir, schema, statusesFor(fs, moved)),
        baseStatsCols,
        bloom = bloomFeat))
    val addedLocal: Option[(StructType, Seq[Row])] =
      addedStatsFrame.filter(_ => localGate).flatMap { f =>
        writeStats
          .flatMap(ws => statsRowsFromWrite(fs, path, moved, baseStatsCols,
            partCols, bloomFeat.map(_._1).getOrElse(Nil), ws, f.schema))
          .map(rows => (f.schema, rows))
          // coverage gap / tracker off → the old one-action collect
          .orElse(Some((f.schema, f.collect().toSeq)))
      }
    val addedStats: Option[DataFrame] = addedLocal match {
      case Some((s, rs)) => Some(spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rs).asJava), s))
      case None => addedStatsFrame.map(_.localCheckpoint(true))
    }
    // change data materializes ONCE as a hidden parquet temp (one
    // write job); every publish attempt — happy path or rebase —
    // COPIES the parts into its build dir driver-side. Replaces the
    // localCheckpoint(job) + per-attempt write(job) pair with one job
    // + metadata copies (guide §1.2); crash debris is `.changes-`
    // prefixed and swept by vacuum's staging pass like any staging.
    val changeTmp: Option[Path] = changeData
      .filter(_ => baseFeats.contains(CdfFeature))
      .map { cd =>
        val tmp = new Path(path, s".changes-${java.util.UUID.randomUUID}")
        cd.write.parquet(tmp.toString)
        tmp
      }
    try {
    // Build the next generation's rows against `aDir` and publish.
    // Runs once on the happy path; a rebase (lost race proven
    // disjoint) re-invokes it against the winner's generation dir —
    // the staged `moved` files and this op's change data / DV delta
    // are reused as-is, only the carried rows re-derive.
    def buildAndPublish(aDir: String, aManifest: DataFrame,
        aPin: Option[Set[String]]): Unit = {
      val feats = manifestFeatures(fs, aDir)
      val statsCols = trackedCols(spark, aDir).toSeq.sorted
      // Manifest rows tagged with their SOURCE manifest file: a named
      // commit marker none of whose rows reference a rewritten data
      // file survives the generation VERBATIM — an in-flight stream
      // consumer ([[graft.streaming.StatsTableSource]]) replaying that
      // commit across this DML op still reads its exact rows. Only
      // markers actually referencing touched files fold to zero-row
      // (their batch is no longer replayable as written — compaction's
      // documented caveat, here scoped to the affected commits). A
      // marker past the retention cutoff is NOT preserved verbatim:
      // publishGeneration drops it, so its surviving rows must travel
      // in the carried parts instead.
      val touchedSet = touched.toSet
      val markerCutoff = opStartMs - markerRetentionMs
      def verbatimOf(dirtyNames: Set[String]): Set[String] =
        fs.listStatus(new Path(aDir))
          .filter { f =>
            val n = f.getPath.getName
            n.endsWith(".parquet") && !n.startsWith("part-") &&
              f.getModificationTime >= markerCutoff && !dirtyNames(n)
          }
          .map(_.getPath.getName).toSet
      val manifestSchema = manifestSchemaIn(fs, aDir)
      // DRIVER-SIDE CARRY: with the manifest cache-served and the
      // added stats already local, the whole next-generation row set
      // is plain Scala — dirty-marker detection, the carried filter,
      // the union with the added rows, and the part write all cost
      // zero Spark jobs. The DataFrame route below stays for large
      // manifests / unbounded writes.
      val localPairs: Option[(StructType, Seq[(Row, String)])] =
        if (moved.nonEmpty && addedLocal.isEmpty) None
        else aPin.flatMap(p => localManifestRowsPinned(spark, aDir, p))
      val localBuilt: Option[(DataFrame, Option[(StructType, Seq[Row])],
          Set[String])] = localPairs.flatMap { case (mSchema, pairs) =>
        val fileIdx = mSchema.fieldIndex("file")
        val dirtyNames: Set[String] =
          if (touched.isEmpty) Set.empty
          else pairs.collect {
            case (r, src) if !r.isNullAt(fileIdx) &&
              touchedSet(r.getString(fileIdx)) => src
          }.toSet
        val verb = verbatimOf(dirtyNames)
        val carriedRows = pairs.collect {
          case (r, src) if !verb(src) &&
            !(touchedSet.nonEmpty && !r.isNullAt(fileIdx) &&
              touchedSet(r.getString(fileIdx))) => r
        }
        // None (a carried/added stat-column TYPE divergence) falls
        // back to the DataFrame route below, whose unionByName
        // coerces instead of aborting
        val merged: Option[(StructType, Seq[Row])] = addedLocal match {
          case None => Some((mSchema, carriedRows))
          case Some((aSchema, aRows)) =>
            unionRowsByName(mSchema, carriedRows, aSchema, aRows)
        }
        merged.map { case (outSchema, outRows) =>
          (spark.createDataFrame(new java.util.ArrayList[Row](), outSchema),
            Some((outSchema, outRows)): Option[(StructType, Seq[Row])], verb)
        }
      }
      val (rows, rowsLocal, verbatim) = localBuilt match {
        case Some(t) => t
        case None =>
          // the touched list rides as a broadcast local relation, not
          // an O(touched) IN literal — a whole-table MERGE would
          // otherwise bake every file path into this plan's tree
          val tagged = manifestScan(spark, aDir, aPin, tagged = true)
          val touchedDf = spark.createDataset(touched)(
            org.apache.spark.sql.Encoders.STRING).toDF("__touched_file")
          val dirtyNames: Set[String] =
            if (touched.isEmpty) Set.empty
            else tagged.join(broadcast(touchedDf),
                col("file") === col("__touched_file"), "left_semi")
              .select("__mfile").distinct().collect()
              .map(r => new Path(r.getString(0)).getName).toSet
          val verb = verbatimOf(dirtyNames)
          val carried = {
            val minusTouched =
              if (touched.isEmpty) tagged
              else tagged.join(broadcast(touchedDf),
                col("file") === col("__touched_file"), "left_anti")
            val minusVerbatim =
              if (verb.isEmpty) minusTouched
              else minusTouched.filter(
                !element_at(split(col("__mfile"), "/"), -1)
                  .isin(verb.toSeq: _*))
            minusVerbatim.drop("__mfile")
          }
          (addedStats.fold(carried)(
            carried.unionByName(_, allowMissingColumns = true)), None, verb)
      }
      // deletion-vector carry: entries for files this op rewrote or
      // removed are RESOLVED (the rewrite scanned DV-filtered rows, so
      // the new files hold no dead positions); everything else rides
      // into the next generation, plus this op's own new dead
      // positions (merge-on-read DELETE/UPDATE). When the op adds NO
      // new entries and the vector is cache-served, the carry is
      // plain Scala and the next vector writes DRIVER-side — zero
      // jobs (the same shape as the manifest carry above); any other
      // case keeps the DataFrame route.
      val dvSchemaLocal = StructType(Seq(
        StructField("file", org.apache.spark.sql.types.StringType),
        StructField("row_index", org.apache.spark.sql.types.LongType)))
      val dvDirPath = new Path(aDir, DvDir)
      val dvLocalCarry: Option[Seq[Row]] =
        if (extraDv.isDefined || !fs.exists(dvDirPath)) None
        else {
          val parts = fs.listStatus(dvDirPath).filter { f =>
            val n = f.getPath.getName
            f.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
              !n.startsWith(".")
          }.toSeq
          localPartRows(spark, dvDirPath.toString, parts, dvSchemaLocal)
            .map { rows =>
              if (touched.isEmpty) rows
              else rows.filter(r => r.isNullAt(0) || !touchedSet(r.getString(0)))
            }
        }
      val (dvNext, dvNextLocal) = dvLocalCarry match {
        case Some(kept) =>
          (None, Some((dvSchemaLocal, kept)).filter(_._2.nonEmpty))
        case None =>
          val carriedDv = readDvIn(spark, aDir).map { d =>
            if (touched.isEmpty) d
            else d.join(broadcast(spark.createDataset(touched)(
                org.apache.spark.sql.Encoders.STRING).toDF("__t")),
              col("file") === col("__t"), "left_anti")
          }
          ((carriedDv.toSeq ++ extraDv.toSeq)
            .reduceOption(_.unionByName(_))
            // a rewrite that resolved every entry carries no vector
            .filter(!_.isEmpty), None)
      }
      publishGeneration(spark, fs, path, aDir, rows, schema, statsCols,
        feats, manifestSchema,
        removedData = touched.map(p => rootRelativeOrName(fs, path, p)),
        markerRetentionMs = markerRetentionMs, opStartMs = opStartMs,
        verbatimMarkers = verbatim,
        changeData = None, changeDataFrom = changeTmp,
        op = op, txn = txn, dv = dvNext, dvLocal = dvNextLocal,
        clustered = clusteredOf(moved), observedParts = aPin,
        manifestRowsLocal = rowsLocal)
    }
    var curDir = dir
    var curManifest = manifest
    var curPin = observedParts
    var rebasesLeft = ConcurrentRetries
    var committed = false
    while (!committed) {
      prePublishHook(op, path)
      try { buildAndPublish(curDir, curManifest, curPin); committed = true }
      catch {
        case e: ConcurrentWriteException =>
          val newDir = manifestDirOf(fs, path)
          // same dir = the contender hasn't committed (mid-window or
          // reclaimed debris) — nothing to rebase onto; a caller-level
          // re-run is the only correct wait
          if (newDir == curDir || rebasesLeft <= 0) throw e
          rebasesLeft -= 1
          // pin BEFORE reading: anything landing in the winner's dir
          // after this listing is a concurrent append the publish
          // rides forward verbatim, same as the first attempt
          val newPin = listManifestNames(fs, newDir)
          val newManifest = readManifestPinned(spark, newDir, newPin)
          if (!rebaseSafe(spark, fs, curDir, newDir, curManifest,
              newManifest, touched, extraDv, readSkip,
              hasClusterState = clusteredOf(moved).isDefined))
            throw e
          rebaseCommits.computeIfAbsent(path,
            _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
          logInfo(s"$op at $path lost a generation race to " +
            s"${new Path(newDir).getName} but the winner's commit is " +
            "disjoint from this op's read/write set — rebasing the " +
            "prepared generation instead of re-running the op")
          curDir = newDir
          curManifest = newManifest
          curPin = Some(newPin)
      }
    }
    } finally changeTmp.foreach(t =>
      try fs.delete(t, true)
      catch { case scala.util.control.NonFatal(_) => () })
    if (vacuum) vacuumTable(spark, path, retentionMs)
  }

  /** Per-table counts of heavy op-body executions ([[rewriteFiles]]
    * invocations) and of lost races absorbed by a commit-point rebase
    * instead of a re-run — observability seams the concurrency gates
    * assert against (a disjoint race must cost ZERO extra body runs).
    */
  private[graft] val opRewriteRuns =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private[graft] val rebaseCommits =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]

  /** Test seam: invoked with (op, table path) immediately before every
    * generation-publish attempt in [[rewriteFiles]] — lets the
    * concurrency gates engineer a DETERMINISTIC lost race (block one
    * writer here while another commits) instead of relying on thread
    * timing. No-op in production.
    */
  private[graft] var prePublishHook: (String, String) => Unit = (_, _) => ()

  /** Whether a lost optimistic race can REBASE onto the winner's
    * generation instead of re-running the op — the Delta
    * ConflictChecker test, expressed over this engine's artifacts:
    *
    *  1. the caller expressed its read scope as a stats predicate
    *     (`readSkip`; ops that can't — MERGE's join read, clustering
    *     passes — never rebase);
    *  2. every table-shape sidecar is byte-identical between the base
    *     and winner generations (an OVERWRITE resets declarations, a
    *     DDL rewrites them — both conflict);
    *  3. every file this op rewrote or DV-targeted is still present
    *     in the winner's manifest (parquet files are immutable, so
    *     name-presence proves content-identity; a winner that
    *     rewrote one of our files invalidates our replacement);
    *  4. no file the winner ADDED has stats that could match our read
    *     predicate (serial order loser-after-winner would have had to
    *     process those rows — `lit(false)` for content-invisible ops
    *     like OPTIMIZE WHERE / PURGE whose output is read-scope-free);
    *  5. the winner's deletion vector, restricted to this op's files,
    *     is unchanged (a DV delta there logically edits rows our
    *     rewrite already materialized).
    *
    * All probes are small broadcast joins against the two manifests —
    * O(manifest) on the race path only, never O(data).
    */
  private[sources] def rebaseSafe(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, baseDir: String, winDir: String,
      baseManifest: DataFrame, winManifest: DataFrame,
      touched: Seq[String], extraDv: Option[DataFrame],
      readSkip: Option[Column], hasClusterState: Boolean): Boolean = {
    if (readSkip.isEmpty) return false
    // an op carrying fresh cluster state would stomp the winner's —
    // clustering passes re-run (they are rare, whole-op maintenance)
    if (hasClusterState) return false
    val shapeSidecars = Seq(SchemaFile, ManifestSchemaFile, StatsColsFile,
      FeaturesFile, ConstraintsFile, ColMapFile, GeneratedFile,
      IdentityFile, PartitionColsFile, ClusteredFile, VIndexFile)
    if (shapeSidecars.exists(n =>
        readSidecarIn(fs, baseDir, n) != readSidecarIn(fs, winDir, n)))
      return false
    val dvTargets: Seq[String] = extraDv.fold(Seq.empty[String])(
      _.select(col("file")).distinct().collect().map(_.getString(0)).toSeq)
    val dep = (touched ++ dvTargets).distinct
    if (dep.nonEmpty) {
      val depDf = spark.createDataset(dep)(
        org.apache.spark.sql.Encoders.STRING).toDF("__dep")
      val missing = depDf.join(winManifest.select(col("file")),
        col("__dep") === col("file"), "left_anti")
      if (!missing.isEmpty) return false
    }
    val added = winManifest.join(
      broadcast(baseManifest.select(col("file").as("__basef"))),
      col("file") === col("__basef"), "left_anti")
    if (!added.filter(readSkip.get).isEmpty) return false
    if (dep.nonEmpty) {
      val depDf = spark.createDataset(dep)(
        org.apache.spark.sql.Encoders.STRING).toDF("__dep")
      def onDep(d: Option[DataFrame]): Option[DataFrame] = d.map(
        _.join(broadcast(depDf), col("file") === col("__dep"), "left_semi"))
      (onDep(readDvIn(spark, baseDir)), onDep(readDvIn(spark, winDir))) match {
        case (None, None) => ()
        case (Some(a), None) => if (!a.isEmpty) return false
        case (None, Some(b)) => if (!b.isEmpty) return false
        case (Some(a), Some(b)) =>
          if (!a.exceptAll(b).isEmpty || !b.exceptAll(a).isEmpty) return false
      }
    }
    true
  }

  /** `filePath` relative to the (qualified) table root — the form
    * the removal log stores so vacuum can resolve a replaced file in
    * a PARTITION subdirectory (`p=1/part-x.parquet`; a bare name only
    * resolves top-level files). Files outside the root — a shallow
    * clone's source-rooted files — fall back to the bare name, which
    * deliberately resolves to nothing under this root: a clone's
    * vacuum must never delete source state.
    */
  private[sources] def rootRelativeOrName(fs: org.apache.hadoop.fs.FileSystem,
      tableRoot: String, filePath: String): String = {
    val rootUri = fs.makeQualified(new Path(tableRoot)).toUri.getPath
      .stripSuffix("/") + "/"
    val fileUri = fs.makeQualified(new Path(filePath)).toUri.getPath
    if (fileUri.startsWith(rootUri)) fileUri.substring(rootUri.length)
    else new Path(filePath).getName
  }

  /** Whether DML against the manifest at `dir` must record change
    * data (feature flag check — O(1) sidecar read).
    */
  private[sources] def cdfEnabled(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Boolean =
    manifestFeatures(fs, dir).contains(CdfFeature)

  /** Whether the table's change data feed is on (O(1) sidecar read of
    * the current generation's feature flags).
    */
  def changeFeedEnabled(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cdfEnabled(fs, manifestDirOf(fs, path))
  }

  /** Row-level DELETE (the Delta `DELETE FROM ... WHERE` analog),
    * copy-on-write: the manifest's min/max/bloom stats prune the
    * candidate file set at PLANNING time, one distributed scan of
    * just the candidates finds the files that actually hold matching
    * rows, and only THOSE files are rewritten without their matching
    * rows (a file whose every row matches is simply dropped); every
    * other file is carried into the next manifest generation
    * verbatim — at 100 TB a selective delete rewrites a handful of
    * files, never the table. The generation commit is the snapshot
    * point (a concurrent reader sees all-old or all-new, never a
    * mix), replaced files enter the removal log, and retention
    * vacuum / [[readSkippingAt]] time travel apply exactly as after
    * [[compactTable]].
    *
    * SQL DELETE semantics: only rows where the predicate is TRUE are
    * deleted — NULL keeps the row. Single-writer like all
    * maintenance ops; concurrent readers are safe at any retention
    * >= their runtime. Returns the number of rows deleted.
    */
  private[sources] def deleteWherePhys(spark: SparkSession, path: String, predicate: Column,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long =
      withConcurrentRetry("deleteWhere") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (manifest, schema, hit, touched, touchedScan, observed, skip) =
      pruneAndTouch(spark, path, dir, predicate, "deleteWhere")
    if (touched.isEmpty) {
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0L
    }
    val files = touched.map(_._1)
    // With the feed on, the touched rows feed BOTH the rewrite and the
    // change images — persist so the files are scanned once, not twice
    // (storage is O(touched rows), the same bound the change images'
    // checkpoint already had)
    val cdf = cdfEnabled(fs, dir)
    val src = if (cdf)
      touchedScan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else touchedScan
    try {
      val keep = src.filter(!hit)
      // CDF: the deleted rows themselves — read from the shared
      // persisted scan (bounded by the delete's selectivity, not the
      // table)
      val changes =
        if (!cdf) None
        else Some(src.filter(hit)
          .withColumn(ChangeTypeCol, lit("delete")))
      rewriteFiles(spark, fs, path, dir, manifest, schema, files, Some(keep),
        vacuum, retentionMs, markerRetentionMs, opStart, changes, op = "DELETE",
        observedParts = Some(observed), readSkip = Some(skip))
    } finally if (cdf) touchedScan.unpersist()
    touched.map(_._2).sum
  }

  /** Row-level `UPDATE ... SET` (copy-on-write, the same
    * prune-then-touch shape as [[deleteWhere]]): only files holding
    * rows where the predicate is TRUE are rewritten, with each `set`
    * expression applied to exactly those rows (cast back to the
    * column's stored type — updates change values, never the
    * schema); FALSE/NULL rows and untouched files are preserved
    * verbatim. Set expressions may reference any table column (the
    * pre-update value, as in SQL UPDATE). Returns the number of rows
    * updated.
    */
  /** Validate UPDATE SET keys against `schema` and build the ONE
    * projection both UPDATE variants (copy-on-write and
    * deletion-vector) apply — a second hand-written copy would have
    * to track SET/cast changes in lockstep. SET keys may be NESTED
    * struct-field paths (`m.uid` — the Delta UPDATE-nested-field
    * shape); a path must resolve through the schema, and setting
    * both a struct and one of its fields (or overlapping paths) in
    * the same statement is ambiguous and refused. The returned
    * projector takes `(frame, onlyWhere)`: guarded per-row for the
    * copy-on-write rewrite, unconditional (`None`) for
    * already-filtered hit rows.
    */
  private[sources] def setProjector(schema: StructType, set: Map[String, Column])
      : (DataFrame, Option[Column]) => DataFrame = {
    val unknown = set.keySet.filterNot(k =>
      if (k.contains('.')) fieldTypeOfPath(schema, k).isDefined
      else schema.fieldNames.contains(k))
    require(unknown.isEmpty,
      s"SET columns [${unknown.toSeq.sorted.mkString(",")}] are not in the " +
        s"table schema ${schema.simpleString}")
    // canonicalize the head segment to the SCHEMA's field name —
    // validation above is case-insensitive, and application must
    // match it or a case-mismatched head would silently update
    // nothing while reporting touched rows
    def canonHead(h: String): String =
      schema.fieldNames.find(_.equalsIgnoreCase(h)).getOrElse(h)
    val nestedByHead: Map[String, Seq[(String, Column)]] = set.toSeq
      .filter(_._1.contains('.'))
      .map { case (k, e) =>
        val i = k.indexOf('.')
        (canonHead(k.substring(0, i)), (k.substring(i + 1), e)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    nestedByHead.keys.foreach(h => require(
      !set.keys.exists(_.equalsIgnoreCase(h)),
      s"SET assigns both $h and a nested field of it — pick one"))
    // overlapping nested paths (m.a and m.a.b) would apply in Map
    // iteration order — ambiguous, refuse
    val nestedPaths = set.keys.filter(_.contains('.'))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSeq
    require(!nestedPaths.exists(p =>
        nestedPaths.exists(q => q != p && p.startsWith(q + "."))),
      s"SET assigns overlapping nested paths " +
        s"[${nestedPaths.sorted.mkString(",")}] — pick one per subtree")
    (frame: DataFrame, onlyWhere: Option[Column]) =>
      frame.select(schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(e) =>
            val applied = e.cast(f.dataType)
            onlyWhere.fold(applied)(c =>
              when(c, applied).otherwise(col(f.name))).as(f.name)
          case None if nestedByHead.contains(f.name) =>
            // rebuild only the addressed fields via withField; a NULL
            // struct stays NULL (no row gains a struct it never had)
            val applied = nestedByHead(f.name).foldLeft(col(f.name)) {
              case (acc, (sub, e)) =>
                acc.withField(sub, fieldTypeOfPath(schema, s"${f.name}.$sub")
                  .fold(e)(t => e.cast(t)))
            }
            onlyWhere.fold(applied)(c =>
              when(c, applied).otherwise(col(f.name))).as(f.name)
          case None => col(f.name)
        }
      }: _*)
  }

  private[sources] def updateWherePhys(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    withConcurrentRetry("updateWhere") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (manifest, schema, hit, touched, touchedScan, observed, skip) =
      pruneAndTouch(spark, path, dir, predicate, "updateWhere")
    val applySet = setProjector(schema, set)
    if (touched.isEmpty) {
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0L
    }
    val files = touched.map(_._1)
    // the touched rows feed the rewrite AND (with the feed on) the
    // pre/post images — persist so the files are scanned once, not
    // three times (storage O(touched rows), the change checkpoint's
    // existing bound)
    val cdf = cdfEnabled(fs, dir)
    val src = if (cdf)
      touchedScan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else touchedScan
    try {
      val updated = applySet(src, Some(hit))
      // CDF: pre- and post-image of exactly the TRUE-predicate rows
      // (Delta's update_preimage/update_postimage pair), both read
      // from the shared persisted scan
      val changes =
        if (!cdf) None
        else {
          val hitRows = src.filter(hit)
          Some(hitRows.withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(applySet(hitRows, None)
              .withColumn(ChangeTypeCol, lit("update_postimage"))))
        }
      rewriteFiles(spark, fs, path, dir, manifest, schema, files, Some(updated),
        vacuum, retentionMs, markerRetentionMs, opStart, changes, op = "UPDATE",
        observedParts = Some(observed), readSkip = Some(skip))
    } finally if (cdf) touchedScan.unpersist()
    touched.map(_._2).sum
    }
  }

  /** Merge-on-read DELETE via deletion vectors (the Delta
    * deletion-vector DELETE analog — see [[DvDir]]): instead of
    * rewriting every touched file ([[deleteWhere]]'s copy-on-write),
    * record the matching rows' `(file, row_index)` positions in the
    * next generation's vector and carry every data file AND manifest
    * row verbatim. Write cost is O(deleted rows), independent of how
    * many bytes the touched files hold — the right trade when
    * deletes are small and frequent (CDC, GDPR erasure) against
    * 100 TB of large files; [[compactTable]] later materializes the
    * vector into clean files and resets the read path's broadcast
    * bound.
    *
    * Everything else behaves exactly like [[deleteWhere]]: SQL TRUE-
    * only semantics, stats-pruned candidate scan, atomic generation
    * commit, CDF `delete` rows when the feed is on, time travel reads
    * each version under its own vector, retention vacuum. Rows
    * already dead in the current vector are invisible to the scan and
    * cannot be re-deleted (the count never double-counts). Named
    * commit markers survive verbatim — no data file was rewritten —
    * so an in-flight [[graft.streaming.StatsTableSource]] consumer
    * replaying a pre-delete batch still reads its ORIGINAL rows (the
    * Delta streaming contract: appends stream; later deletes don't
    * retro-edit a delivered batch — the skipChangeCommits shape).
    * Single-writer like all maintenance ops. Returns the number of
    * rows deleted.
    */
  private[sources] def deleteWhereDVPhys(spark: SparkSession, path: String, predicate: Column,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long =
      withConcurrentRetry("deleteWhereDV") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (manifest, schema, hit, touched, touchedScan, observed, skip) =
      pruneAndTouch(spark, path, dir, predicate, "deleteWhereDV")
    if (touched.isEmpty) {
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0L
    }
    // hit rows of the (already DV-filtered) touched-file scan are the
    // new dead positions — bounded by the delete's selectivity. The
    // vector frame is consumed more than once downstream (emptiness
    // probe + generation write, plus the CDF images), so the hit rows
    // persist and the files scan once.
    val hitRows = touchedScan.filter(hit)
      .select(schema.fieldNames.map(col) ++ Seq(
        col("_metadata.file_path").as("__dv_file"),
        col("_metadata.row_index").as("__dv_idx")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newDead = hitRows.select(
        col("__dv_file").as("file"), col("__dv_idx").as("row_index"))
      val changes =
        if (!cdfEnabled(fs, dir)) None
        else Some(hitRows
          .select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn(ChangeTypeCol, lit("delete")))
      // no files touched: manifest carried whole, replacement empty —
      // the op's entire output is the vector (+ change data)
      rewriteFiles(spark, fs, path, dir, manifest, schema,
        touched = Nil, replacement = None,
        vacuum, retentionMs, markerRetentionMs, opStart, changes,
        op = "DELETE", extraDv = Some(newDead),
        observedParts = Some(observed), readSkip = Some(skip))
    } finally hitRows.unpersist()
    touched.map(_._2).sum
  }

  /** REORG / PURGE (the Delta `REORG TABLE ... APPLY (PURGE)`
    * analog): materialize the current deletion vector by rewriting
    * ONLY the files it names — each rewritten file's live rows land
    * in clean files, its vector entries resolve, and every other
    * file (manifest row, commit marker, data bytes) carries into the
    * next generation verbatim. The targeted counterpart to
    * [[compactTable]]'s whole-tail materialization: after a burst of
    * merge-on-read DML the vector's broadcast probe has a cost on
    * every read, and purging pays O(DV-carrying file bytes) once to
    * reset it — never O(table). No logical rows change, so a CDF
    * table records nothing (the compaction rule) and time travel
    * still reads each old version under its own vector. Returns the
    * number of dead positions purged; no-op (no generation) when the
    * vector is empty.
    */
  def purgeDeletionVectors(spark: SparkSession, path: String,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long =
      withConcurrentRetry("purgeDeletionVectors") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    // partition-converted tables purge too: the part-aware scan
    // carries the directory values and the rewrite routes clean rows
    // back through partitionBy (see rewriteFiles)
    val dvOpt = readDvIn(spark, dir)
    if (dvOpt.isEmpty) return 0L
    val dv = dvOpt.get
    // O(DV-carrying files) driver rows — the touched-files pattern
    // (bounded by past merge-on-read DML, not by the table)
    val perFile = dv.groupBy(col("file")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    if (perFile.isEmpty) return 0L
    val files = perFile.map(_._1)
    val schema = tableSchemaIn(spark, path, dir)
    val observed = listManifestNames(fs, dir)
    val stats = readManifestPinned(spark, dir, observed)
    // manifest narrowed by a broadcast semi-join against the
    // (DV-bounded) touched list BEFORE the driver collect — only the
    // rewritten files' statuses ever leave the cluster
    val touchedDf = spark.createDataset(files)(
      org.apache.spark.sql.Encoders.STRING).toDF("__t")
    val statuses = statusesOf(stats.join(broadcast(touchedDf),
      col("file") === col("__t"), "left_semi"))
    val live = applyDv(partAwareStatusScan(spark, path, dir, schema,
      statuses), Some(dv))
      .select(schema.fieldNames.map(col).toSeq: _*)
    rewriteFiles(spark, fs, path, dir, stats, schema,
      touched = files, replacement = Some(live),
      vacuum, retentionMs, markerRetentionMs, opStart,
      changeData = None, op = "REORG",
      observedParts = Some(observed),
      // PURGE's read scope is exactly the DV'd files (the dependency
      // set): no winner-ADDED file can concern it, so the added-file
      // conflict test is vacuously false
      readSkip = Some(lit(false)))
    perFile.map(_._2).sum
  }

  /** Merge-on-read UPDATE via deletion vectors: the matching rows'
    * positions join the vector (their files stay untouched) and the
    * updated row images are APPENDED as new files — write cost
    * O(updated rows), not O(touched file bytes). Same SET semantics,
    * CDF pre/post images, and maintenance contract as [[updateWhere]];
    * same vector lifecycle as [[deleteWhereDV]]. Returns the number
    * of rows updated.
    */
  private[sources] def updateWhereDVPhys(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long = {
    require(set.nonEmpty, "updateWhereDV needs at least one SET column")
    withConcurrentRetry("updateWhereDV") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (manifest, schema, hit, touched, touchedScan, observed, skip) =
      pruneAndTouch(spark, path, dir, predicate, "updateWhereDV")
    // same SET surface as the copy-on-write variant, nested paths
    // included (the r16 advice gap: DV UPDATE rejected `m.uid` with
    // a misleading not-in-schema error)
    val applySet = setProjector(schema, set)
    if (touched.isEmpty) {
      if (vacuum) vacuumTable(spark, path, retentionMs)
      return 0L
    }
    // the hit rows feed the vector, the rewrite AND the CDF images —
    // persist so the touched files scan once (see deleteWhereDVPhys)
    val hitRows = touchedScan.filter(hit)
      .select(schema.fieldNames.map(col) ++ Seq(
        col("_metadata.file_path").as("__dv_file"),
        col("_metadata.row_index").as("__dv_idx")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hitData = hitRows.select(schema.fieldNames.map(col).toSeq: _*)
      val newDead = hitRows.select(
        col("__dv_file").as("file"), col("__dv_idx").as("row_index"))
      val changes =
        if (!cdfEnabled(fs, dir)) None
        else Some(hitData
          .withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(applySet(hitData, None)
            .withColumn(ChangeTypeCol, lit("update_postimage"))))
      rewriteFiles(spark, fs, path, dir, manifest, schema,
        touched = Nil, replacement = Some(applySet(hitData, None)),
        vacuum, retentionMs, markerRetentionMs, opStart, changes,
        op = "UPDATE", extraDv = Some(newDead),
        observedParts = Some(observed), readSkip = Some(skip))
    } finally hitRows.unpersist()
    touched.map(_._2).sum
    }
  }

  /** Keyed REPLACE (one atomic commit): drop EVERY target row whose
    * key appears in the source, then write EVERY source row — the
    * multi-row-per-key sibling of [[mergeUpsert]] (which this
    * generalizes by removing the unique-source-keys restriction:
    * replace semantics are well-defined at any source cardinality,
    * update-all upserts are not). The op the continuously-maintained
    * SCD2 history needs: a batch re-derives its affected keys' whole
    * version sets, and swapping them in must be ONE generation commit
    * — a delete-then-insert pair has a torn middle no replay can
    * repair, while a single `txn`-stamped commit replays as a
    * detected no-op. Same prune→touch→rewrite shape and costs as
    * [[mergeUpsert]]; CDF records matched target rows as `delete`
    * and all source rows as `insert` (cardinality may legitimately
    * change, so update pre/post pairing does not apply). Returns
    * (target rows dropped, source rows written).
    */
  private[sources] def replaceKeyedPhys(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      txn: Option[(String, Long)] = None): (Long, Long) =
      withConcurrentRetry("replaceKeyed") {
    require(keyCols.nonEmpty, "replaceKeyed needs at least one key column")
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    // partitioned tables replace too: part-aware scans + the
    // partitionBy rewrite in rewriteFiles keep directory values
    val replayed = txn.exists { case (app, v) =>
      readSidecarIn(fs, dir, TxnFile)
        .flatMap(j => txnMapFromJson(j).get(app)).exists(_ >= v)
    }
    if (replayed) return (0L, 0L)
    val schema = tableSchemaIn(spark, path, dir)
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column $k is not in the table schema ${schema.simpleString}"))
    require(
      source.schema.map(f => (f.name, f.dataType)).toSet ==
        schema.map(f => (f.name, f.dataType)).toSet,
      s"source schema ${source.schema.simpleString} must carry exactly the " +
        s"table's columns ${schema.simpleString} (any order)")
    val observed = listManifestNames(fs, dir)
    val stats = readManifestPinned(spark, dir, observed)
    val src = source.select(schema.fieldNames.map(col).toSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one action: source count + per-key envelope (guide §1.2)
      val tracked = trackedCols(spark, dir)
      val prunable = keyCols.filter(tracked)
      val envAggs = Seq(count(lit(1)).as("__total")) ++
        prunable.flatMap(k =>
          Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
      val env = src.agg(envAggs.head, envAggs.tail: _*).head()
      val srcCount = env.getLong(0)
      if (srcCount == 0L) return (0L, 0L)
      val srcKeys = src.select(keyCols.map(col): _*).distinct()
      val skip: Column =
        if (prunable.isEmpty) lit(true)
        else prunable.zipWithIndex.map { case (k, i) =>
          val lo = env.get(1 + 2 * i); val hi = env.get(1 + 2 * i + 1)
          if (lo == null) lit(false)
          else minC(k) <= lit(hi) && maxC(k) >= lit(lo)
        }.reduce(_ && _)
      val candStatuses = statusesOf(stats.filter(skip))
      val dv = readDvIn(spark, dir)
      val matched: Option[DataFrame] =
        if (candStatuses.isEmpty) None
        else Some(applyDv(partAwareStatusScan(spark, path, dir, schema, candStatuses), dv)
          .select(keyCols.map(col) :+ col("_metadata.file_path").as("__file"): _*)
          .join(srcKeys, keyCols)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
        val touched: Seq[(String, Long)] = matched.fold(Seq.empty[(String, Long)])(
          _.groupBy("__file").agg(count(lit(1)).as("__n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)
        val files = touched.map(_._1)
        val touchedSet = files.toSet
        val cdf = cdfEnabled(fs, dir)
        // shared persisted scan: rewrite + delete images read the
        // touched files once
        val touchedScan = {
          val base = applyDv(partAwareStatusScan(spark, path, dir, schema,
            candStatuses.filter(s => touchedSet(s.getPath.toString))), dv)
          if (cdf && files.nonEmpty)
            base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else base
        }
        try {
        val replacement =
          if (files.isEmpty) src
          else touchedScan.join(srcKeys, keyCols, "left_anti")
            .unionByName(src)
        val changes =
          if (!cdf) None
          else {
            val dels =
              if (files.isEmpty) src.limit(0)
              else touchedScan.join(srcKeys, keyCols, "semi")
            Some(dels.withColumn(ChangeTypeCol, lit("delete"))
              .unionByName(src.withColumn(ChangeTypeCol, lit("insert"))))
          }
        rewriteFiles(spark, fs, path, dir, stats, schema, files,
          Some(replacement), vacuum, retentionMs, markerRetentionMs,
          opStart, changes, op = "MERGE", txn = txn,
          observedParts = Some(observed),
          // read scope = the key-envelope prune: a winner-added file
          // outside the source/key envelope can match no key, so a
          // disjoint maintenance winner rebases instead of re-running
          readSkip = Some(skip))
        (touched.map(_._2).sum, srcCount)
        } finally if (cdf && files.nonEmpty) touchedScan.unpersist()
      } finally matched.foreach(_.unpersist())
    } finally src.unpersist()
  }

  /** The table schema a [[mergeUpsert]] source must match, checked —
    * and with `mergeSchema` (the Delta autoMerge analog) widened —
    * ONCE before the keyed-MERGE kernel runs. Without evolution the
    * source carries exactly the table's columns (any order). With it
    * the source may ADD columns: the table widens sidecars-first (the
    * append-evolution crash order: a crash after the sidecar write
    * leaves a widened table whose old files read as nulls —
    * consistent), matched rows take the source's new values, and
    * UNTOUCHED files are never rewritten (their rows surface nulls
    * for the new columns from the parquet reader, zero data movement
    * — the 100 TB point). Shared columns never retype; the
    * tracked-stats set is unchanged (track a new column via append
    * evolution or a stats rewrite). Partitioned tables evolve too:
    * a new field is by definition not a partition column.
    */
  private[sources] def mergeUpsertSchema(spark: SparkSession, path: String,
      source: StructType, mergeSchema: Boolean): StructType = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val schema0 = tableSchemaIn(spark, path, dir)
    if (!mergeSchema) {
      require(
        source.map(f => (f.name, f.dataType)).toSet ==
          schema0.map(f => (f.name, f.dataType)).toSet,
        s"source schema ${source.simpleString} must carry exactly the " +
          s"table's columns ${schema0.simpleString} (any order); pass " +
          "mergeSchema = true to add columns")
      return schema0
    }
    schema0.foreach { f =>
      source.find(_.name == f.name) match {
        case Some(b) => require(b.dataType == f.dataType,
          s"column ${f.name}: source type ${b.dataType.simpleString} must " +
            s"match stored ${f.dataType.simpleString} — evolution adds " +
            "columns, never retypes")
        case None => require(false,
          s"merge source must carry every stored column; missing ${f.name}")
      }
    }
    val newFields = source.filterNot(f => schema0.fieldNames.contains(f.name))
    if (newFields.isEmpty) return schema0
    require(colMapIn(fs, dir).isEmpty,
      "merge schema evolution on a column-mapped table is not " +
        "supported — evolve via appendWithStats(mergeSchema = true) " +
        "first (it allocates collision-free physical names), then merge")
    val widened = StructType(schema0.fields ++ newFields.map(_.copy(nullable = true)))
    // tracked set unchanged — preserve the stats-cols FILE order
    // verbatim (manifest part columns are keyed to it)
    writeSidecars(spark, dir, widened, statsColsInOrderOf(spark, dir),
      manifestFeatures(fs, dir))
    widened
  }

  /** FULL CONDITIONAL MERGE — the Delta `MERGE INTO` with the
    * complete clause surface ([[MergeClause]]): ordered
    * `WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT *` (the full source
    * row), and `WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * UPDATE | DELETE`. The ON condition is equi-key on `keyCols`
    * (the scalable case; source keys must be unique so each matched
    * target row pairs one source row — the error Delta MERGE raises;
    * a target key stored in several rows updates or deletes each of
    * them). Matched rows take the FIRST clause whose condition holds;
    * rows matching no clause carry unchanged and do NOT force their
    * file to rewrite. The one keyed-MERGE kernel: [[mergeUpsert]],
    * [[mergeDelete]] and the streaming CDC sink are clause sets over
    * it.
    *
    * Every source column stays visible to clause conditions and SET
    * values as `s.<col>`, table column or not. The source must carry
    * the key columns; only INSERT (and a SET reading them) needs
    * every table column, so a key-only source drives a pure
    * `WHEN MATCHED THEN DELETE`.
    *
    * Copy-on-write on the target's files:
    *
    *  1. PRUNE: candidates = files whose per-key min/max ranges
    *     overlap the source's key envelope (one small agg over the
    *     source — a CDC batch touching one day's keys prunes
    *     everything else at planning time) UNION (when by-source
    *     clauses exist) files passing the stats rewrite of the
    *     by-source conditions' OR (an unprunable by-source condition
    *     keeps every file a candidate — Delta's cost too: "not
    *     matched by source" is a whole-table question).
    *  2. PROBE: ONE candidate scan computes each row's action; only
    *     (file, action) counts reach the driver, and only the rows
    *     that matched a source key or act are persisted (the insert
    *     anti-join needs just those keys).
    *  3. REWRITE: only files holding an acting row are rewritten,
    *     everything else carries into the next generation verbatim.
    *
    * The generation commit snapshots the whole merge atomically
    * (readers see none or all of it); removal-log / retention /
    * time-travel semantics are [[compactTable]]'s. CDF records update
    * pre/postimages, deletes and inserts. A merge where nothing acts
    * commits no generation.
    *
    * IDEMPOTENT WRITES (`txn = Some(appId -> version)`, the Delta
    * `txnAppId`/`txnVersion` analog): if the table's [[txnVersion]]
    * for `appId` is already >= `version`, the whole merge is SKIPPED
    * (returns zeros) — an at-least-once writer replaying a batch
    * whose merge committed but whose own offset didn't cannot
    * double-apply. On commit the stamp lands in the generation's
    * [[TxnFile]] atomically with the merged rows and is carried
    * forward by every later generation.
    *
    * Returns (target rows updated, target rows deleted, source rows
    * inserted).
    */
  private[sources] def mergeIntoPhys(spark: SparkSession, path: String,
      source: DataFrame, keyCols: Seq[String], clauses: Seq[MergeClause],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      txn: Option[(String, Long)] = None): (Long, Long, Long) =
      withConcurrentRetry("mergeInto") {
    import MergeClause._
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    require(clauses.nonEmpty, "mergeInto needs at least one clause")
    val matchedClauses = clauses.collect {
      case c: MatchedUpdate => c: MergeClause
      case c: MatchedDelete => c: MergeClause
    }
    val insertClauses = clauses.collect { case c: NotMatchedInsert => c }
    val bySourceClauses = clauses.collect {
      case c: BySourceUpdate => c: MergeClause
      case c: BySourceDelete => c: MergeClause
    }
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    // partitioned tables take the full conditional merge too (see
    // replaceKeyed note); an UPDATE SET that changes a partition
    // value routes the row to its new directory
    val replayed = txn.exists { case (app, v) =>
      readSidecarIn(fs, dir, TxnFile)
        .flatMap(j => txnMapFromJson(j).get(app)).exists(_ >= v)
    }
    if (replayed) return (0L, 0L, 0L)
    val schema = tableSchemaIn(spark, path, dir)
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"key column $k is not in the table schema ${schema.simpleString}"))
    clauses.foreach {
      case MatchedUpdate(_, set) => (set.keySet -- schema.fieldNames).foreach(c =>
        sys.error(s"SET column $c is not in the table schema"))
      case BySourceUpdate(_, set) => (set.keySet -- schema.fieldNames).foreach(c =>
        sys.error(s"SET column $c is not in the table schema"))
      case _ => ()
    }
    keyCols.foreach(k => require(source.columns.contains(k),
      s"merge source must carry key column $k"))
    if (insertClauses.nonEmpty) schema.fieldNames.foreach(c =>
      require(source.columns.contains(c),
        s"INSERT needs every table column in the source; missing $c"))
    val observed = listManifestNames(fs, dir)
    val stats = readManifestPinned(spark, dir, observed)
    // every source column is kept: clause conditions may read
    // non-table columns (the CDC sink's delete marker)
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // table-shaped empty frame for change-feed arms with no rows
    val noRows = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    try {
      // ONE action answers source count, key uniqueness, and the
      // per-key envelope (guide §1.2: fewer actions). The duplicate
      // EXAMPLE is only computed on the failure path.
      val tracked = trackedCols(spark, dir)
      val nullsTracked = stats.columns.collect {
        case c if c.startsWith("nulls_") => c.drop(6) }.toSet
      val prunable = keyCols.filter(tracked)
      val perKey = src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"))
      val sumAggs = Seq(sum(col("__n")).as("__total"),
        max(col("__n")).as("__maxn")) ++
        prunable.flatMap(k =>
          Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
      val env = perKey.agg(sumAggs.head, sumAggs.tail: _*).head()
      val srcCount = if (env.isNullAt(0)) 0L else env.getLong(0)
      if (srcCount > 0L && env.getLong(1) > 1L) {
        val dup = perKey.filter(col("__n") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"source keys must be unique on (${keyCols.mkString(",")}) — " +
            s"duplicate: ${dup.headOption.getOrElse("")}")
      }

      // candidate files: key-envelope overlap + the by-source
      // conditions' stats rewrite (unprunable => every file)
      val envelopeSkip: Column =
        if (srcCount == 0L) lit(false)
        else if (prunable.isEmpty) lit(true)
        else prunable.zipWithIndex.map { case (k, i) =>
          val lo = env.get(2 + 2 * i); val hi = env.get(2 + 2 * i + 1)
          if (lo == null) lit(false)
          else minC(k) <= lit(hi) && maxC(k) >= lit(lo)
        }.reduce(_ && _)
      // by-source conditions are written over `t.<col>` — strip the
      // alias before resolving against the bare schema for the
      // stats rewrite
      def stripT(c: Column): Column = {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        val e = org.apache.spark.sql.graft.ColumnBridge.expression(c).transform {
          case a: UnresolvedAttribute if a.nameParts.size == 2 &&
              a.nameParts.head == "t" =>
            UnresolvedAttribute(Seq(a.nameParts(1)))
        }
        org.apache.spark.sql.graft.ColumnBridge.column(e)
      }
      val bySourceSkip: Column =
        if (bySourceClauses.isEmpty) lit(false)
        else bySourceClauses.map {
          case BySourceUpdate(cond, _) => cond
          case BySourceDelete(cond) => cond
          case _ => None
        }.map {
          case None => lit(true)
          case Some(c) =>
            rewrite(resolvedCondition(spark, schema, stripT(c)),
              tracked, nullsTracked).getOrElse(lit(true))
        }.reduce(_ || _)
      val candStatuses = statusesOf(stats.filter(envelopeSkip || bySourceSkip))
      val dv = readDvIn(spark, dir)
      def scanOf(statuses: Seq[FileStatusWithMetadata]): DataFrame =
        applyDv(partAwareStatusScan(spark, path, dir, schema, statuses), dv)
      val srcA = src.withColumn("__smatch", lit(1)).as("s")
      def joined(statuses: Seq[FileStatusWithMetadata]): DataFrame =
        scanOf(statuses)
          .withColumn("__tfile", col("_metadata.file_path"))
          .as("t")
          .join(srcA,
            keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
            "left_outer")
      val matchedCol = col("s.__smatch").isNotNull
      // first-match-wins action index: matched clauses 1.., by-source
      // clauses 101.. (0 = carry unchanged)
      val actionConds: Seq[(Column, Int)] =
        matchedClauses.zipWithIndex.map { case (cl, i) =>
          val cond = cl match {
            case MatchedUpdate(c, _) => c
            case MatchedDelete(c) => c
            case _ => None
          }
          (matchedCol && cond.getOrElse(lit(true)), i + 1)
        } ++ bySourceClauses.zipWithIndex.map { case (cl, i) =>
          val cond = cl match {
            case BySourceUpdate(c, _) => c
            case BySourceDelete(c) => c
            case _ => None
          }
          (!matchedCol && cond.getOrElse(lit(true)), 101 + i)
        }
      val act: Column = actionConds match {
        case Seq() => lit(0)
        case (c0, i0) +: rest =>
          rest.foldLeft(when(c0, lit(i0))) { case (w, (c, i)) => w.when(c, lit(i)) }
            .otherwise(lit(0))
      }
      val updateActs: Seq[Int] =
        matchedClauses.zipWithIndex.collect { case (_: MatchedUpdate, i) => i + 1 } ++
          bySourceClauses.zipWithIndex.collect { case (_: BySourceUpdate, i) => 101 + i }
      val deleteActs: Seq[Int] =
        matchedClauses.zipWithIndex.collect { case (_: MatchedDelete, i) => i + 1 } ++
          bySourceClauses.zipWithIndex.collect { case (_: BySourceDelete, i) => 101 + i }

      // PASS A: ONE candidate scan -> (target keys, file, action) for
      // the candidate rows that matched a source key or act,
      // persisted narrow. One collect over the acting rows' (file,
      // action) groups answers both the per-action counts and the
      // touched-file list, and the insert probe's target-key set
      // reads the SAME persisted frame instead of re-scanning every
      // candidate file (guide §1.2 / §2: fewer actions, fewer bytes
      // scanned). Rows that neither match nor act can change no
      // count and no insert, so they are never cached.
      val probe =
        if (candStatuses.isEmpty) None
        else Some(joined(candStatuses)
          .withColumn("__act", act)
          .filter(matchedCol || col("__act") =!= 0)
          .select(keyCols.map(k => col(s"t.$k").as(k)) ++
            Seq(col("__tfile"), col("__act")): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
        val fileActs: Seq[(String, Int, Long)] = probe.fold(
          Seq.empty[(String, Int, Long)])(
          _.filter(col("__act") =!= 0)
            .groupBy(col("__tfile"), col("__act"))
            .agg(count(lit(1)).as("__n"))
            .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
            .toSeq)
        val actCounts: Map[Int, Long] =
          fileActs.groupBy(_._2).map { case (a, xs) => a -> xs.map(_._3).sum }
        val updated = updateActs.map(actCounts.getOrElse(_, 0L)).sum
        val deleted = deleteActs.map(actCounts.getOrElse(_, 0L)).sum
        val files: Seq[String] = fileActs.map(_._1).distinct
        val touchedSet = files.toSet

        // unmatched source rows -> inserts (matched keys computed
        // from the candidates; the key envelope keeps every file that
        // could hold a matching key, so the set is complete). The
        // anti-join needs no distinct target keys, and the rows are
        // counted AND written, so they are persisted (source-sized)
        // and the anti-join runs once
        val insertRows: Option[DataFrame] =
          if (insertClauses.isEmpty || srcCount == 0L) None
          else {
            val tgtKeys = probe.fold(
              src.limit(0).select(keyCols.map(col): _*))(
              _.select(keyCols.map(col): _*))
            val insCond = insertClauses.map(_.condition)
              .map(_.getOrElse(lit(true))).reduce(_ || _)
            Some(src.join(tgtKeys, keyCols, "left_anti").as("s")
              .filter(insCond)
              .select(schema.fieldNames.map(col).toSeq: _*)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          }
        try {
        val inserted = insertRows.fold(0L)(_.count())
        if (files.isEmpty && inserted == 0L) {
          if (vacuum) vacuumTable(spark, path, retentionMs)
          return (updated, deleted, 0L) // nothing acts: no generation
        }

        // PASS B: rewrite only the touched files
        val touchedStatuses = candStatuses.filter(s => touchedSet(s.getPath.toString))
        def withAct = joined(touchedStatuses).withColumn("__act", act)
        def projectedCols: Seq[Column] = schema.fields.toSeq.map { f =>
          val updates =
            matchedClauses.zipWithIndex.collect {
              case (MatchedUpdate(_, set), i) if set.contains(f.name) =>
                (i + 1, set(f.name))
            } ++ bySourceClauses.zipWithIndex.collect {
              case (BySourceUpdate(_, set), i) if set.contains(f.name) =>
                (101 + i, set(f.name))
            }
          updates.foldLeft(col(s"t.${f.name}")) { case (acc, (i, v)) =>
            when(col("__act") === i, v.cast(f.dataType)).otherwise(acc)
          }.as(f.name)
        }
        def tRow: Seq[Column] = schema.fieldNames.toSeq.map(c => col(s"t.$c").as(c))
        val keptTouched =
          if (files.isEmpty) None
          else Some(withAct
            .filter(if (deleteActs.isEmpty) lit(true)
              else !col("__act").isin(deleteActs.map(Integer.valueOf): _*))
            .select(projectedCols: _*))
        val replacement = (keptTouched, insertRows) match {
          case (Some(k), Some(i)) => k.unionByName(i)
          case (Some(k), None) => k
          case (None, Some(i)) => i
          case (None, None) => sys.error("unreachable: nothing to write")
        }
        val changes =
          if (!cdfEnabled(fs, dir)) None
          else {
            val updIn = (c: Column) =>
              if (updateActs.isEmpty) lit(false)
              else c.isin(updateActs.map(Integer.valueOf): _*)
            val delIn = (c: Column) =>
              if (deleteActs.isEmpty) lit(false)
              else c.isin(deleteActs.map(Integer.valueOf): _*)
            val pre =
              if (files.isEmpty) noRows
              else withAct.filter(updIn(col("__act"))).select(tRow: _*)
            val post =
              if (files.isEmpty) noRows
              else withAct.filter(updIn(col("__act"))).select(projectedCols: _*)
            val del =
              if (files.isEmpty) noRows
              else withAct.filter(delIn(col("__act"))).select(tRow: _*)
            val ins = insertRows.getOrElse(noRows)
            Some(pre.withColumn(ChangeTypeCol, lit("update_preimage"))
              .unionByName(post.withColumn(ChangeTypeCol, lit("update_postimage")))
              .unionByName(del.withColumn(ChangeTypeCol, lit("delete")))
              .unionByName(ins.withColumn(ChangeTypeCol, lit("insert"))))
          }
        rewriteFiles(spark, fs, path, dir, stats, schema, files, Some(replacement),
          vacuum, retentionMs, markerRetentionMs, opStart, changes,
          op = "MERGE", txn = txn,
          observedParts = Some(observed),
          // read scope = the candidate prune itself (key envelope OR
          // the by-source conditions' stats rewrite): a winner-added
          // file matching neither can satisfy no clause, so disjoint
          // maintenance rebases; unconditional by-source clauses
          // leave lit(true) and every race re-runs (correct — their
          // read is the whole table)
          readSkip = Some(envelopeSkip || bySourceSkip))
        (updated, deleted, inserted)
        } finally insertRows.foreach(_.unpersist())
      } finally probe.foreach(_.unpersist())
    } finally src.unpersist()
  }

  /** Full conditional MERGE; see [[mergeIntoPhys]]. Under a column
    * mapping the source, key columns and every clause condition /
    * SET expression arrive in LOGICAL names (`t.<col>` / `s.<col>`
    * qualified references translate too).
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      txn: Option[(String, Long)] = None): (Long, Long, Long) = {
    import MergeClause._
    val m = currentMap(spark, path)
    def mapC(c: Column): Column = m.fold(c)(toPhysicalColumn(c, _))
    def mapS(set: Map[String, Column]): Map[String, Column] =
      m.fold(set)(mm => set.map { case (k, v) =>
        mm.getOrElse(k, k) -> toPhysicalColumn(v, mm) })
    val mapped = clauses.map {
      case MatchedUpdate(c, set) => MatchedUpdate(c.map(mapC), mapS(set))
      case MatchedDelete(c) => MatchedDelete(c.map(mapC))
      case NotMatchedInsert(c) => NotMatchedInsert(c.map(mapC))
      case BySourceUpdate(c, set) => BySourceUpdate(c.map(mapC), mapS(set))
      case BySourceDelete(c) => BySourceDelete(c.map(mapC))
    }
    val (srcM, keysM) = mapDfCols(spark, path, source, keyCols)
    mergeIntoPhys(spark, path, srcM, keysM, mapped, vacuum, retentionMs,
      markerRetentionMs, txn)
  }

  /** The generation's `_op.json` operation record (see [[OpFile]]). */
  private[sources] def writeOpFile(fs: org.apache.hadoop.fs.FileSystem,
      build: Path, op: String, opStartMs: Long): Unit = {
    val out = fs.create(new Path(build, OpFile), true)
    try out.write(s"""{"operation":"$op","ts":$opStartMs}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // JSON string escaping for txn app ids (paths may hold quotes or
  // backslashes on exotic filesystems; everything else in the map is
  // a number)
  private[sources] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private[sources] def jsonUnescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case c => b.append(c); i += 2
        }
      } else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }

  private[sources] def txnMapToJson(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1)
      .map { case (a, v) => s""""${jsonEscape(a)}":$v""" }
      .mkString("{", ",", "}")

  // Entries are `"escaped-app-id":version`; the app id may contain
  // escaped quotes, so split on `":` boundaries, not bare commas.
  private[sources] def txnMapFromJson(json: String): Map[String, Long] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(-?\\d+)".r
      .findAllMatchIn(json)
      .map(m => jsonUnescape(m.group(1)) -> m.group(2).toLong)
      .toMap

  private[graft] def constraintsToJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (n, e) => s""""${jsonEscape(n)}":"${jsonEscape(e)}"""" }
      .mkString("{", ",", "}")

  private[graft] def constraintsFromJson(json: String): Map[String, String] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(json)
      .map(m => jsonUnescape(m.group(1)) -> jsonUnescape(m.group(2)))
      .toMap

  private[sources] def constraintsIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Map[String, String] =
    readSidecarIn(fs, dir, ConstraintsFile)
      .map(constraintsFromJson).getOrElse(Map.empty)

  /** The table's tracked stats columns, sorted — the set every
    * append must match (public for the `format("graft")` write path
    * and callers resolving a table's statsCols contract).
    */
  def tableStatsCols(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    trackedCols(spark, manifestDirOf(fs, path)).toSeq.sorted
  }

  /** The table's LIVE partition-value tuples under their CURRENT
    * LOGICAL names, TYPED — one distinct manifest aggregate
    * (partition columns are tracked min=max per file), no directory
    * listing at any table size. The `SHOW PARTITIONS` substrate.
    */
  def partitionValues(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val phys = partitionColsIn(fs, dir)
    require(phys.nonEmpty, s"$path is not a partitioned graft table")
    val inv = colMapIn(fs, dir).map(_.map(_.swap)).getOrElse(Map.empty[String, String])
    readManifestIn(spark, dir)
      .select(phys.map(p => mc(s"min_$p").as(inv.getOrElse(p, p))): _*)
      .distinct()
  }

  /** Per-PARTITION visible row counts straight from the manifest —
    * the grouped companion of [[countWhere]] for `SELECT p…,
    * count(*) … GROUP BY p…` (partition values are min=max per file,
    * so ANY deterministic predicate over partition columns evaluates
    * EXACTLY against the manifest row; deletion-vector dead rows
    * subtract per file; groups whose visible count reaches zero
    * disappear, matching SQL GROUP BY). One small distributed
    * aggregate over O(files) manifest rows — no data read at any
    * table size. `predicate` must reference partition columns only
    * (logical names).
    */
  /** Per-partition aggregates straight from the manifest — the
    * grouped companion of [[countWhereDetail]]/[[minMaxWhereDetail]]
    * for `SELECT p…, count(*) / count(c) / min(c) / max(c) … GROUP
    * BY p…` over PARTITION columns. Partition values are min=max per
    * file, so ANY deterministic partition-column predicate evaluates
    * EXACTLY against manifest rows — every kept file is all-match
    * (no boundary files). Per-file stats then answer the aggregates:
    * visible count = `n_rows − dead`, non-null count = `n_rows −
    * coalesce(nulls_c, n_rows)` (NULL stat = the column didn't exist
    * in that file — all rows read NULL), group min/max = min/max of
    * per-file stat envelopes (exact: stats exclude nulls, MIN/MAX
    * ignore them; a NULL stat contributes nothing). Files carrying
    * DELETION-VECTOR entries demote to a real scan whenever a
    * per-column answer is requested (dead rows' values are
    * unknowable from stats; plain count(*) stays exact without
    * demotion) — the scan side unions with the stats side and one
    * re-aggregation merges the partials. Groups whose visible count
    * reaches zero disappear, matching SQL GROUP BY. Output columns
    * follow `specs` positionally. One small distributed aggregate
    * over O(files) manifest rows plus at most the DV files scanned.
    * `predicate` must reference partition columns only (LOGICAL
    * names); target columns arrive logical too. `groupKeys` are the
    * QUERIED grouping columns — any non-empty subset of the
    * partition columns, and the aggregate groups by exactly those
    * (a strict subset merges the unqueried partition dimensions per
    * group; grouping by all partition columns would emit duplicate
    * groups). Exact because each file carries one value per
    * partition column, so per-file partials re-aggregate cleanly
    * under any partition-key grouping.
    */
  private[sources] def partitionGroupAggs(spark: SparkSession,
      path: String, predicate: Option[Column], groupKeys: Seq[String],
      specs: Seq[MetaAggPushdown.GroupOut]): DataFrame = {
    import MetaAggPushdown._
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val phys = partitionColsIn(fs, dir)
    require(phys.nonEmpty, s"$path is not a partitioned graft table")
    val mapOpt = colMapIn(fs, dir)
    val inv = mapOpt.map(_.map(_.swap)).getOrElse(Map.empty[String, String])
    val fwd = mapOpt.getOrElse(Map.empty[String, String])
    def physOf(c: String): String = mapStatsKey(fwd, c)
    val logicalParts = phys.map(p => inv.getOrElse(p, p))
    require(groupKeys.nonEmpty, "grouped metadata aggregate needs keys")
    require(groupKeys.forall(k => logicalParts.exists(_.equalsIgnoreCase(k))),
      s"group keys ${groupKeys.mkString(",")} must be partition columns " +
        s"(${logicalParts.mkString(",")})")
    // group by the QUERIED keys under their queried spelling; the
    // per-file partials below re-aggregate exactly under any subset
    // of the partition columns
    val partCols = groupKeys.map(k =>
      col(logicalParts.find(_.equalsIgnoreCase(k)).get).as(k))
    val keyRefs = groupKeys.map(col)
    val targets = specs.collect {
      case GroupCountCol(c) => c
      case GroupMin(c) => c
      case GroupMax(c) => c
    }.distinct
    val ti = targets.zipWithIndex.toMap
    val m = readManifestIn(spark, dir)
    val statSel = targets.zipWithIndex.flatMap { case (c, i) =>
      val p = physOf(c)
      Seq(mc(s"min_$p").as(s"__lo_$i"), mc(s"max_$p").as(s"__hi_$i"),
        (if (m.columns.contains(s"nulls_$p")) mc(s"nulls_$p")
         else lit(null).cast(org.apache.spark.sql.types.LongType))
          .as(s"__nu_$i"))
    }
    val proj = m.select(
      Seq(col("file"), col("n_rows"), col("file_size"), col("mod_time")) ++
        phys.map(p => mc(s"min_$p").as(inv.getOrElse(p, p))) ++ statSel: _*)
    val matched = predicate.fold(proj)(c => proj.filter(coalesce(c, lit(false))))
    val dvOpt = readDvIn(spark, dir)
    val withDead = dvOpt match {
      case None => matched.withColumn("__dead", lit(0L))
      case Some(d) => matched.join(
          d.groupBy(col("file")).agg(count(lit(1)).as("__dead")),
          Seq("file"), "left")
        .withColumn("__dead", coalesce(col("__dead"), lit(0L)))
    }
    val needScan = targets.nonEmpty
    val demote = if (needScan) col("__dead") > 0L else lit(false)
    val statsFile = withDead.filter(!demote).select(
      partCols ++ Seq((col("n_rows") - col("__dead")).as("__cnt")) ++
        targets.indices.flatMap(i => Seq(
          col(s"__lo_$i"), col(s"__hi_$i"),
          (col("n_rows") - coalesce(col(s"__nu_$i"), col("n_rows")))
            .as(s"__nn_$i"))): _*)
    val scanFile: Option[DataFrame] =
      if (!needScan) None
      else {
        val statuses = statusesOf(withDead.filter(demote))
        if (statuses.isEmpty) None
        else {
          val schema = tableSchemaIn(spark, path, dir)
          val scan0 = applyDv(
            partAwareStatusScan(spark, path, dir, schema, statuses), dvOpt)
          // logical view of partition + target columns, so the SQL
          // predicate (logical names) applies directly
          val scanL = scan0.select(
            phys.map(p => col(p).as(inv.getOrElse(p, p))) ++
              targets.zipWithIndex.map { case (c, i) =>
                col(physOf(c)).as(s"__t_$i") }: _*)
          val filtered = predicate.fold(scanL)(c =>
            scanL.filter(coalesce(c, lit(false))))
          Some(filtered.select(
            partCols ++ Seq(lit(1L).as("__cnt")) ++
              targets.indices.flatMap(i => Seq(
                col(s"__t_$i").as(s"__lo_$i"),
                col(s"__t_$i").as(s"__hi_$i"),
                when(col(s"__t_$i").isNotNull, 1L).otherwise(0L)
                  .as(s"__nn_$i"))): _*))
        }
      }
    val partials = scanFile.fold(statsFile)(statsFile.unionByName(_))
    val finalAggs = Seq(sum(col("__cnt")).as("__cnt")) ++
      targets.indices.flatMap(i => Seq(
        min(col(s"__lo_$i")).as(s"__lo_$i"),
        max(col(s"__hi_$i")).as(s"__hi_$i"),
        sum(col(s"__nn_$i")).as(s"__nn_$i")))
    val grouped = partials.groupBy(keyRefs: _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
      .filter(col("__cnt") > 0L)
    grouped.select(specs.map {
      case GroupKey(n) => col(n)
      case GroupCount => col("__cnt")
      case GroupCountCol(c) => col(s"__nn_${ti(c)}")
      case GroupMin(c) => col(s"__lo_${ti(c)}")
      case GroupMax(c) => col(s"__hi_${ti(c)}")
    }: _*)
  }

  /** The tracked stats columns under their CURRENT LOGICAL names —
    * what a USER predicate or MIN/MAX target may reference (the
    * manifest itself stores physical names; see [[tableStatsCols]]).
    */
  def tableStatsColsLogical(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val phys = trackedCols(spark, dir).toSeq
    (colMapIn(fs, dir) match {
      case None => phys
      case Some(m) =>
        val inv = m.map(_.swap)
        phys.map(mapStatsKey(inv, _))
    }).sorted
  }

  /** The table's CHECK constraints (name → SQL expression). */
  def tableConstraints(spark: SparkSession, path: String): Map[String, String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    constraintsIn(fs, manifestDirOf(fs, path))
  }

  /** A row VIOLATES a check iff the expression is FALSE — SQL CHECK
    * semantics, NULL passes.
    */
  private[sources] def violates(exprSql: String): Column =
    !coalesce(expr(exprSql), lit(true))

  /** One agg pass over `scan` counting violations per constraint —
    * shared by validation and monitoring; empty map → None.
    */
  private[sources] def violationCounts(scan: DataFrame,
      cons: Map[String, String]): Option[Seq[(String, Long)]] =
    if (cons.isEmpty) None
    else {
      val names = cons.keys.toSeq.sorted
      val aggs = names.map(n =>
        sum(when(violates(cons(n)), 1L).otherwise(0L)).as(n))
      val row = scan.agg(aggs.head, aggs.tail: _*).head()
      Some(names.zipWithIndex.map { case (n, i) =>
        n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) })
    }

  private[sources] def writeConstraintsSidecar(spark: SparkSession, dir: String,
      cons: Map[String, String]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s".constraints-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(constraintsToJson(cons)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(dir, ConstraintsFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Register the CHECK constraint `name` with boolean SQL
    * `exprSql` — see [[ConstraintsFile]]. With `validate = true`
    * (default) every existing row is checked first (one scan) and a
    * violating table is refused loudly; `validate = false` registers
    * a MONITORING-ONLY baseline ([[constraintViolations]]) that still
    * enforces on future writes.
    */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
      exprSql0: String, validate: Boolean = true): Unit = {
    require(name.matches("[A-Za-z0-9_][A-Za-z0-9._-]*"),
      s"constraint name '$name' must be alphanumeric/._-")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    require(fs.exists(new Path(dir, SchemaFile)),
      s"$path is not a stats table with a schema sidecar; use writeWithStats first")
    // under a column mapping the stored expression binds to PHYSICAL
    // names (stable across renames — enforcement on staged physical
    // files keeps working after any rename); users write logical names
    val exprSql = colMapIn(fs, dir) match {
      case None => exprSql0
      case Some(m) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.sqlParser.parseExpression(exprSql0)
          .transform {
            case a: UnresolvedAttribute
                if a.nameParts.size == 1 && m.contains(a.nameParts.head) =>
              UnresolvedAttribute(Seq(m(a.nameParts.head)))
          }.sql
    }
    val cons = constraintsIn(fs, dir)
    require(!cons.contains(name),
      s"constraint $name already exists on $path (as: ${cons.getOrElse(name, "")})")
    // fail fast on an unparseable/unresolvable expression before
    // anything is written
    val scan = readSkippingIn(spark, path, dir, lit(true))
    scan.filter(violates(exprSql)).queryExecution.assertAnalyzed()
    if (validate) {
      val n = scan.filter(violates(exprSql)).count()
      require(n == 0L,
        s"cannot add CHECK constraint $name ($exprSql) to $path: $n existing " +
          "row(s) violate it — clean the data first, or register with " +
          "validate = false for monitoring")
    }
    writeConstraintsSidecar(spark, dir, cons.updated(name, exprSql))
  }

  /** Remove the CHECK constraint `name` (loud if absent). */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val cons = constraintsIn(fs, dir)
    require(cons.contains(name), s"no CHECK constraint $name on $path " +
      s"(have: ${cons.keys.toSeq.sorted.mkString(",")})")
    writeConstraintsSidecar(spark, dir, cons.removed(name))
  }

}
