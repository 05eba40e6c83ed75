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

/** The READ/metadata surface: logical-name DML entry points, retention VACUUM, shallow CLONE, RESTORE, time travel, DESCRIBE HISTORY/DETAIL, metadata-only aggregates (count/min-max/grouped), readSkipping + the stats-predicate rewrite, generated-column read-side derivation, and the lazy scan plan.
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait StorageRead { this: DataSkipping.type =>

  // --- DML entry points under the mapping: LOGICAL names in, the
  // physical implementations (`...Phys`) below them unchanged ---

  private[sources] def mapPred(spark: SparkSession, path: String, c: Column): Column =
    currentMap(spark, path) match {
      case None => c
      case Some(m) =>
        // resolve against the LOGICAL schema first so a renamed-away
        // or dropped name fails with the standard unresolved-column
        // error instead of silently binding to the physical column
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val dir = manifestDirOf(fs, path)
        resolvedCondition(spark,
          logicalSchemaOf(tableSchemaIn(spark, path, dir), Some(m)), c)
        toPhysicalColumn(c, m)
    }

  private[sources] def mapSet(spark: SparkSession, path: String,
      set: Map[String, Column]): Map[String, Column] =
    currentMap(spark, path).fold(set)(m =>
      set.map { case (k, v) => mapStatsKey(m, k) -> toPhysicalColumn(v, m) })

  private[sources] def mapDfCols(spark: SparkSession, path: String,
      df: DataFrame, keyCols: Seq[String]): (DataFrame, Seq[String]) =
    currentMap(spark, path).fold((df, keyCols))(m =>
      (toPhysicalInput(df, m), keyCols.map(k => m.getOrElse(k, k))))

  /** Row-level DELETE (copy-on-write); see [[deleteWherePhys]]. */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long =
    deleteWherePhys(spark, path, mapPred(spark, path, predicate),
      vacuum, retentionMs, markerRetentionMs)

  /** Row-level UPDATE (copy-on-write); see [[updateWherePhys]]. */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long = {
    requireNotIdentity(spark, path, set.keys, "UPDATE")
    updateWherePhys(spark, path, mapPred(spark, path, predicate),
      mapSet(spark, path, set), vacuum, retentionMs, markerRetentionMs)
  }

  /** GENERATED ALWAYS AS IDENTITY columns cannot be assigned. */
  private[sources] def requireNotIdentity(spark: SparkSession, path: String,
      assigned: Iterable[String], op: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = identityIn(fs, manifestDirOf(fs, path)).keySet
    val hit = assigned.filter(ids)
    require(hit.isEmpty,
      s"$op cannot assign identity column(s) ${hit.toSeq.sorted.mkString(",")} " +
        "— ids are GENERATED ALWAYS and never reassigned")
  }

  /** Merge-on-read DELETE (deletion vector); see [[deleteWhereDVPhys]]. */
  def deleteWhereDV(spark: SparkSession, path: String, predicate: Column,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long =
    deleteWhereDVPhys(spark, path, mapPred(spark, path, predicate),
      vacuum, retentionMs, markerRetentionMs)

  /** Merge-on-read UPDATE (deletion vector); see [[updateWhereDVPhys]]. */
  def updateWhereDV(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long = {
    requireNotIdentity(spark, path, set.keys, "UPDATE")
    updateWhereDVPhys(spark, path, mapPred(spark, path, predicate),
      mapSet(spark, path, set), vacuum, retentionMs, markerRetentionMs)
  }

  /** Atomic keyed replace; see [[replaceKeyedPhys]]. */
  def replaceKeyed(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      txn: Option[(String, Long)] = None): (Long, Long) = {
    val (src, keys) = mapDfCols(spark, path, source, keyCols)
    replaceKeyedPhys(spark, path, src, keys, vacuum, retentionMs,
      markerRetentionMs, txn)
  }

  /** Keyed MERGE DELETE preset: `WHEN MATCHED THEN DELETE` over
    * [[mergeIntoPhys]], the source being the distinct keys of `keys`
    * (duplicate keys stay legal; other columns are ignored) — the
    * CDC-tombstone apply path, where the delete set is a DATAFRAME of
    * keys, not a predicate (a predicate form would need an O(batch)
    * IN literal; the frame rides joins). Keys absent from the target
    * are no-ops; CDF records the dropped rows as `delete`. Returns the
    * number of target rows deleted.
    */
  def mergeDelete(spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      txn: Option[(String, Long)] = None): Long = {
    val (src, kc) = mapDfCols(spark, path, keys, keyCols)
    mergeIntoPhys(spark, path, src.select(kc.map(col): _*).distinct(), kc,
      Seq(MergeClause.MatchedDelete(None)), vacuum, retentionMs,
      markerRetentionMs, txn)._2
  }

  /** Upsert MERGE preset: `WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` over [[mergeIntoPhys]]. The source must
    * carry exactly the table's columns (any order) and unique keys;
    * `mergeSchema = true` lets it add columns, widening the table
    * once before the merge ([[mergeUpsertSchema]]). A target key
    * stored in several rows updates each of them (Delta MERGE
    * semantics). Returns (target rows updated, source rows inserted).
    */
  def mergeUpsert(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): (Long, Long) = {
    val (src, keys) = mapDfCols(spark, path, source, keyCols)
    val setAll = mergeUpsertSchema(spark, path, src.schema, mergeSchema)
      .fieldNames.map(c => c -> col(s"s.$c")).toMap
    val (updated, _, inserted) = mergeIntoPhys(spark, path, src, keys,
      Seq(MergeClause.MatchedUpdate(None, setAll), MergeClause.NotMatchedInsert(None)),
      vacuum, retentionMs, markerRetentionMs, txn)
    (updated, inserted)
  }

  /** Live violation counts per constraint, `(constraint, violations)`
    * ordered by name — the monitoring surface for `validate = false`
    * rollouts and post-RESTORE audits. One pruned scan, one agg pass
    * for ALL constraints.
    */
  def constraintViolations(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val cons = constraintsIn(fs, dir)
    val rows = violationCounts(readSkippingIn(spark, path, dir, lit(true)), cons)
      .getOrElse(Seq.empty)
      .map { case (n, c) => Row(n, c) }
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      StructType(Seq(
        StructField("constraint", org.apache.spark.sql.types.StringType,
          nullable = false),
        StructField("violations", org.apache.spark.sql.types.LongType,
          nullable = false))))
  }

  /** Validate freshly STAGED files against the table's constraints
    * before they become visible; on violation the staging dir is
    * deleted and the op aborts loudly — the commit choke point for
    * both appends and DML rewrites.
    */
  private[sources] def enforceConstraintsOnStaged(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      staging: Path, schema: StructType, op: String): Unit = {
    val cons = constraintsIn(fs, dir)
    if (cons.isEmpty) return
    // a partitioned stage nests its parts under col=value dirs; the
    // partition-discovering read below serves those columns back so
    // constraints over them are enforced too
    def hasParts(p: Path): Boolean = fs.exists(p) && fs.listStatus(p)
      .exists(f => (f.isFile && f.getPath.getName.endsWith(".parquet")) ||
        (f.isDirectory && !f.getPath.getName.startsWith(".") &&
          hasParts(f.getPath)))
    if (!hasParts(staging)) return
    val staged = spark.read.schema(schema).parquet(staging.toString)
    violationCounts(staged, cons).foreach { counts =>
      val bad = counts.filter(_._2 > 0L)
      if (bad.nonEmpty) {
        fs.delete(staging, true)
        throw new IllegalArgumentException(
          s"$op aborted: CHECK constraint violation(s) in the batch — " +
            bad.map { case (n, c) => s"$n: $c row(s) (${cons(n)})" }
              .mkString("; ") + " — nothing was committed")
      }
    }
  }

  /** The generation's idempotent-writer map (see [[TxnFile]]):
    * previous generation's map carried forward, merged with this
    * op's stamp (a replayed version never lowers the watermark —
    * `max` keeps the map monotonic per app id).
    */
  private[sources] def writeTxnFile(fs: org.apache.hadoop.fs.FileSystem,
      prevDir: String, build: Path, txn: Option[(String, Long)]): Unit = {
    val prev = readSidecarIn(fs, prevDir, TxnFile)
      .map(txnMapFromJson).getOrElse(Map.empty)
    val merged = txn.fold(prev) { case (app, v) =>
      prev.updated(app, prev.get(app).fold(v)(_ max v))
    }
    if (merged.nonEmpty) {
      val out = fs.create(new Path(build, TxnFile), true)
      try out.write(txnMapToJson(merged)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Last transaction version stamped for `appId` on this table, or
    * None if the app never committed here — the idempotent-replay
    * check (Delta's `txnVersion(appId)`). O(1): one sidecar read of
    * the current generation.
    */
  def txnVersion(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSidecarIn(fs, manifestDirOf(fs, path), TxnFile)
      .flatMap(j => txnMapFromJson(j).get(appId))
  }

  /** `<table-root-relative path>\t<removedAtMillis>` lines. */
  private[sources] def writeRemovalLog(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path, entries: Seq[(String, Long)]): Unit =
    if (entries.nonEmpty) {
      val out = fs.create(new Path(gen, RemovedFile), true)
      try out.write(entries.map { case (p, t) => s"$p\t$t" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  private[sources] def readRemovalLog(fs: org.apache.hadoop.fs.FileSystem,
      gen: Path): Seq[(String, Long)] =
    readSidecarIn(fs, gen.toString, RemovedFile)
      .map(_.linesIterator.filter(_.nonEmpty).map { line =>
        val i = line.lastIndexOf('\t')
        line.substring(0, i) -> line.substring(i + 1).toLong
      }.toSeq).getOrElse(Seq.empty)

  /** Retention-aware reclamation (the Delta VACUUM analog): delete
    *  - files/dirs in the removal logs whose removal is older than
    *    `retentionMs` (replaced data files, superseded generations),
    *  - visible data files no manifest claims and no log records
    *    (crashed-append orphans) whose MTIME is older than
    *    `retentionMs`,
    *  - hidden staging dirs and uncommitted generation debris older
    *    than `retentionMs`.
    * Nothing younger is touched, so any reader that planned within
    * the window completes against intact files. With the default
    * window this is safe to run alongside readers; `retentionMs = 0`
    * reclaims everything immediately and needs reader exclusivity.
    */
  def vacuumTable(spark: SparkSession, path: String,
      retentionMs: Long = RetentionDefaultMs): Unit = {
    vacuumImpl(spark, path, retentionMs, delete = true); ()
  }

  /** `VACUUM ... DRY RUN` — the files a vacuum at `retentionMs`
    * would delete right now, without deleting anything. Same four
    * passes, same guards, purely observational.
    */
  def vacuumDryRun(spark: SparkSession, path: String,
      retentionMs: Long = RetentionDefaultMs): Seq[String] =
    vacuumImpl(spark, path, retentionMs, delete = false)

  private[sources] def vacuumImpl(spark: SparkSession, path: String,
      retentionMs: Long, delete: Boolean): Seq[String] = {
    require(retentionMs >= 0, "retentionMs must be >= 0")
    val targets = scala.collection.mutable.ArrayBuffer.empty[String]
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def act(p: Path, recursive: Boolean): Unit = {
      targets += p.toString
      if (delete) {
        fs.delete(p, recursive)
        // reclaim any manifest-row-cache entries keyed under the
        // deleted dir ahead of LRU (waste-only: keys are
        // content-addressed, stale service was never possible)
        if (recursive) dropManifestCacheUnder(p.toString)
      }
    }
    val statsDir = new Path(s"$path/$StatsDir")
    if (!fs.exists(statsDir)) return targets.toSeq
    val now = System.currentTimeMillis()
    def expired(t: Long): Boolean = now - t >= retentionMs
    val gens = genDirs(fs, statsDir)
    val current = currentGen(fs, statsDir)

    // Claim set = the current manifest's file names (tolerating a
    // freshly bootstrapped table whose manifest has no parts yet).
    // Computed FIRST: it guards BOTH deletion passes below.
    val claimed: Set[String] = {
      val dir = manifestDirOf(fs, path)
      val hasParts = fs.exists(new Path(dir)) && fs.listStatus(new Path(dir))
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (!hasParts) Set.empty
      else readManifestIn(spark, dir).select("file").collect()
        .map(r => new Path(r.getString(0)).getName).toSet
    }

    // 1. removal-log entries past retention (from every generation
    //    still on disk — a superseded generation's log stays
    //    actionable until the generation itself expires, which by
    //    construction happens after everything it recorded)
    val recorded = gens.flatMap { case (_, f) => readRemovalLog(fs, f.getPath) }
    recorded.foreach { case (rel, t) =>
      if (expired(t)) {
        val p = new Path(path, rel)
        // never delete the current generation or a live data file the
        // current manifest claims (paranoia: removal logs only ever
        // record superseded state, but a bad entry must not cascade)
        val isCurrentGen = current.exists(_._2.toString == fs.makeQualified(p).toString)
        if (!isCurrentGen && !claimed(p.getName) && fs.exists(p))
          act(p, true)
      }
    }
    val recordedNames = recorded.map { case (rel, _) => new Path(rel).getName }.toSet

    // 2. unrecorded visible orphans (crashed appends): mtime-gated.
    // A partition-converted table's orphans live INSIDE `col=value`
    // dirs (crashed partitioned append/DML moved files before the
    // generation commit) — walk those too; the claim/record guards
    // compare by (job-UUID-unique) name, so depth changes nothing.
    // 3. stale staging dirs (crashed append/compact debris), any depth.
    //
    // The walk is LEVEL-WISE: a level whose directory fan-out exceeds
    // a driver threshold is listed in ONE DISTRIBUTED pass (each task
    // lists a slice of dirs) — a 10^4-partition table costs
    // O(dirs / parallelism) listing round-trips instead of 10^4
    // sequential driver calls, which on an object store is the
    // difference between seconds and tens of minutes (the r15 ramp
    // measured the sequential walk at ~5x cost across the 100→10^4
    // dir decade even on local fs).
    val stagingPrefixes =
      Seq(".append-", ".compact-", ".stats-", ".markers-", ".changes-",
        ".overwrite-staging-", SwapPrefix)
    // `col=value` descent stays gated on the CURRENT generation's
    // partitioning: descending unconditionally could reclaim a user's
    // unrelated `a=b` subdirectory under a flat table. The one shape
    // this leaves behind — a PARTITIONED overwrite that crashed after
    // move-in over a still-flat table — strands bounded, invisible
    // debris that the next successful partitioned overwrite's vacuum
    // sweeps (the table is partitioned by then).
    val partitioned = partitionColsIn(fs, manifestDirOf(fs, path)).nonEmpty
    val retention = retentionMs
    var level: Seq[Path] = Seq(new Path(path))
    var depth = 0
    while (level.nonEmpty && depth <= 16) {
      val entries: Seq[(String, String)] =
        if (level.size <= 256) {
          level.flatMap(d => fs.listStatus(d).toSeq).flatMap { f =>
            val n = f.getPath.getName
            if (f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
                !claimed(n) && !recordedNames(n) &&
                expired(f.getModificationTime))
              Seq(("file", f.getPath.toString))
            else if (f.isDirectory && stagingPrefixes.exists(n.startsWith) &&
                expired(f.getModificationTime))
              Seq(("staging", f.getPath.toString))
            else if (f.isDirectory && partitioned &&
                !n.startsWith("_") && !n.startsWith(".") && n.contains("="))
              Seq(("dir", f.getPath.toString))
            else Nil
          }
        } else {
          // identical per-entry rules, evaluated in executor tasks;
          // the Hadoop conf travels as plain properties (no
          // non-serializable Configuration in the closure)
          val confProps: Seq[(String, String)] = {
            val it = spark.sparkContext.hadoopConfiguration.iterator()
            val b = Seq.newBuilder[(String, String)]
            while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
            b.result()
          }
          val claimedB = spark.sparkContext.broadcast(claimed)
          val recordedB = spark.sparkContext.broadcast(recordedNames)
          val (now0, sp, isPart) = (now, stagingPrefixes, partitioned)
          val dirs = level.map(_.toString)
          val out = spark.sparkContext
            .parallelize(dirs, math.min(dirs.size, 512))
            .mapPartitions { it =>
              val conf = new org.apache.hadoop.conf.Configuration(false)
              confProps.foreach { case (k, v) => conf.set(k, v) }
              it.flatMap { d =>
                val p = new Path(d)
                val efs = p.getFileSystem(conf)
                def exp(t: Long): Boolean = now0 - t >= retention
                efs.listStatus(p).iterator.flatMap { f =>
                  val n = f.getPath.getName
                  if (f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
                      !claimedB.value(n) && !recordedB.value(n) &&
                      exp(f.getModificationTime))
                    Iterator(("file", f.getPath.toString))
                  else if (f.isDirectory && sp.exists(n.startsWith) &&
                      exp(f.getModificationTime))
                    Iterator(("staging", f.getPath.toString))
                  else if (f.isDirectory && isPart &&
                      !n.startsWith("_") && !n.startsWith(".") &&
                      n.contains("="))
                    Iterator(("dir", f.getPath.toString))
                  else Iterator.empty
                }
              }
            }.collect().toSeq
          claimedB.destroy(); recordedB.destroy()
          out
        }
      entries.foreach {
        case ("file", p) => act(new Path(p), false)
        case ("staging", p) => act(new Path(p), true)
        case _ => ()
      }
      level = entries.collect { case ("dir", p) => new Path(p) }
      depth += 1
    }
    // 4. uncommitted generation debris and crashed generation builds
    gens.foreach { case (_, f) =>
      if (!isCommittedGen(fs, f.getPath) && expired(f.getModificationTime))
        act(f.getPath, true)
    }
    fs.listStatus(statsDir).foreach { f =>
      if (f.isDirectory && f.getPath.getName.startsWith(".genbuild-") &&
          expired(f.getModificationTime))
        act(f.getPath, true)
    }
    targets.toSeq
  }

  /** The table's persisted schema (what a pruned or streaming read
    * plans with — no data-file footer is touched).
    */
  def tableSchema(spark: SparkSession, path: String): StructType =
    tableSchemaIn(spark, path, manifestDir(spark, path))

  /** Table schema from the generation's schema sidecar. */
  private[sources] def tableSchemaIn(spark: SparkSession, path: String,
      dir: String): StructType = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    DataType.fromJson(requiredSidecarIn(fs, dir, SchemaFile))
      .asInstanceOf[StructType]
  }

  /** The user predicate analyzed against the table schema (via an
    * empty local relation — NO file listing or footer read), as the
    * resolved Filter condition the min/max rewriter consumes.
    */
  private[sources] def resolvedCondition(
      spark: SparkSession, schema: StructType, predicate: Column): Expression =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .filter(predicate)
      .queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .getOrElse(sys.error("predicate did not analyze to a Filter"))

  /** Committed manifest generations (ascending) — the TIME-TRAVEL
    * surface. Generations freeze at maintenance boundaries: appends
    * land in the NEWEST generation, so generation N holds exactly the
    * table state at the moment generation N+1 was committed (and the
    * newest one is the live state). Superseded generations and the
    * data files they reference survive for `retentionMs` after
    * replacement (see [[vacuumTable]]) — the same window bounds how
    * far back [[readSkippingAt]] can read, exactly Delta's
    * time-travel-vs-VACUUM coupling. Empty when `path` holds no
    * committed table.
    */
  def tableVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    genDirs(fs, new Path(s"$path/$StatsDir"))
      .filter { case (_, f) => isCommittedGen(fs, f.getPath) }
      .map(_._1)
  }

  /** [[readSkipping]] against a RETAINED manifest generation — the
    * Delta `VERSION AS OF` analog at maintenance granularity. Fails
    * loudly (with the retained range) for a version that is not on
    * disk; note a version older than the vacuum retention may name
    * data files that are already gone.
    */
  def readSkippingAt(spark: SparkSession, path: String, version: Long,
      predicate: Column): DataFrame = {
    val have = tableVersions(spark, path)
    require(have.contains(version),
      s"version $version of $path is not retained (have " +
        s"${have.mkString("[", ",", "]")}) — superseded generations are " +
        "vacuumed retentionMs after replacement; raise the retention to " +
        "time-travel further back")
    // time travel reads under the VERSION'S OWN column mapping — a
    // read at a pre-rename version shows the names of that time
    readSkippingMapped(spark, path, s"$path/$StatsDir/v$version", predicate)
  }

  /** The table's CHANGE DATA FEED over committed versions
    * `[fromVersion, toVersion]` (default: through the latest) — the
    * Delta `table_changes(...)` analog. Returns the table columns
    * plus `_change_type` (`insert` / `delete` / `update_preimage` /
    * `update_postimage`) and `_commit_version`; rows in each version
    * are read through THAT generation's schema sidecar and united by
    * name, so the feed spans schema evolution (pre-evolution change
    * rows carry nulls for later columns).
    *
    * Only row-level DML generations carry change rows: compaction and
    * Z-ORDER record nothing (no logical change), and appends land
    * inside a generation, not at a version boundary — consume appends
    * as inserts through [[graft.streaming.StatsTableSource]] (exactly
    * Delta's insert-only-commit path) and this feed for the DML
    * deltas. Fails loudly when `fromVersion` predates the retained
    * history (the feed's availability window IS the vacuum retention
    * — the change files live inside the generation dirs) or when the
    * feed was never enabled ([[writeWithStats]] `changeFeed = true`
    * or [[enableChangeFeed]]).
    */
  def readChangeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(cdfEnabled(fs, manifestDirOf(fs, path)),
      s"$path has no change data feed — create with writeWithStats(" +
        "changeFeed = true) or call enableChangeFeed first")
    val have = tableVersions(spark, path)
    val hi = toVersion.getOrElse(have.max)
    require(fromVersion <= hi,
      s"fromVersion $fromVersion must be <= toVersion $hi")
    require(hi <= have.max,
      s"toVersion $hi is beyond the latest committed version ${have.max}")
    require(fromVersion >= have.min,
      s"version $fromVersion of $path is not retained (have " +
        s"${have.mkString("[", ",", "]")}) — change data lives inside the " +
        "generation dirs and is vacuumed with them; raise the retention " +
        "to read further back")
    val frames = have.filter(v => v >= fromVersion && v <= hi).flatMap { v =>
      val gen = s"$path/$StatsDir/v$v"
      val cd = new Path(gen, ChangeDataDir)
      if (!fs.exists(cd)) None
      else {
        val genSchema = tableSchemaIn(spark, path, gen)
        val withType = StructType(genSchema.fields :+
          StructField(ChangeTypeCol, org.apache.spark.sql.types.StringType))
        // per-version change files are generation state, write-once
        // like manifest parts — small ones serve from the driver-side
        // part cache (zero scan jobs per version; r18 verdict #7),
        // large ones keep the distributed read
        val parts = fs.listStatus(cd).filter { f =>
          val n = f.getPath.getName
          f.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
            !n.startsWith(".")
        }.toSeq
        localPartRows(spark, cd.toString, parts, withType) match {
          case Some(rows) => Some(spark.createDataFrame(
            new java.util.ArrayList[Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
            withType).withColumn(CommitVersionCol, lit(v)))
          case None => Some(spark.read.schema(withType).parquet(cd.toString)
            .withColumn(CommitVersionCol, lit(v)))
        }
      }
    }
    val raw =
      if (frames.isEmpty) {
        val empty = StructType(tableSchema(spark, path).fields ++ Seq(
          StructField(ChangeTypeCol, org.apache.spark.sql.types.StringType),
          StructField(CommitVersionCol, org.apache.spark.sql.types.LongType,
            nullable = false)))
        spark.createDataFrame(java.util.Collections.emptyList[Row](), empty)
      }
      else frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // change files are keyed by stable PHYSICAL names (which is what
    // lets the feed span renames); consumers see the CURRENT logical
    // view, like a Delta CDF read under column mapping
    colMapIn(fs, manifestDirOf(fs, path)) match {
      case None => raw
      case Some(m) =>
        val phys = tableSchemaIn(spark, path, manifestDirOf(fs, path))
        val inverse = m.map(_.swap)
        raw.select(phys.fields.toSeq.flatMap(f =>
          inverse.get(f.name).map(l => col(f.name).as(l))) ++
          Seq(col(ChangeTypeCol), col(CommitVersionCol)): _*)
    }
  }

  /** Resolve a wall-clock instant to a table version — the Delta
    * `TIMESTAMP AS OF` analog: the LATEST retained version whose
    * commit instant (the `_COMMIT` create, the atomic visibility
    * point) is <= `tsMillis`. Loud when the instant predates the
    * earliest retained version (vacuumed history cannot be read —
    * same error `VERSION AS OF` raises) and when it precedes nothing.
    */
  def versionAtTime(spark: SparkSession, path: String,
      tsMillis: Long): Long = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsDir = new Path(s"$path/$StatsDir")
    val commits = genDirs(fs, statsDir)
      .filter { case (_, f) => isCommittedGen(fs, f.getPath) }
      .map { case (v, f) => v -> commitInstant(fs, f.getPath) }
    require(commits.nonEmpty, s"$path has no committed versions")
    val at = commits.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version of $path existed at $tsMillis — the earliest retained " +
        s"commit is ${commits.head._2} (v${commits.head._1}); earlier " +
        "history is vacuumed or never existed")
    at.map(_._1).max
  }

  /** `TIMESTAMP AS OF` read: [[readSkippingAt]] of
    * [[versionAtTime]]`(tsMillis)`.
    */
  def readSkippingAtTime(spark: SparkSession, path: String,
      tsMillis: Long, predicate: Column): DataFrame =
    readSkippingAt(spark, path, versionAtTime(spark, path, tsMillis),
      predicate)

  /** One-row table summary — the `DESCRIBE DETAIL` analog: live file
    * count and bytes (manifest sum, no listing), physical row count
    * and deletion-vector entry count (visible rows = n_rows - dv),
    * retained version range, feature flags, tracked stats columns
    * and constraint count. O(manifest) + an O(vector) count.
    */
  /** Live table bytes for PLANNER STATISTICS — the number the
    * optimizer compares against `autoBroadcastJoinThreshold` when a
    * graft table joins by catalog name: manifest sum of live file
    * sizes (the `DESCRIBE DETAIL` `size_bytes`), discounted by the
    * deletion vector's dead-row fraction (a merge-on-read DELETE
    * shrinks the effective relation even though file bytes don't
    * move). One manifest aggregate + an O(vector) count only when a
    * vector exists — no file listing, no data read.
    */
  def tableSizeInBytes(spark: SparkSession, path: String,
      version: Option[Long] = None): Long = {
    val dir = version match {
      case Some(v) =>
        val have = tableVersions(spark, path)
        require(have.contains(v),
          s"version $v of $path is not retained (have " +
            s"${have.mkString("[", ",", "]")})")
        s"$path/$StatsDir/v$v"
      case None => manifestDir(spark, path)
    }
    val aggRow = readManifestIn(spark, dir)
      .agg(sum(col("file_size")), sum(col("n_rows"))).head()
    if (aggRow.isNullAt(0)) return 0L // empty manifest
    val bytes = aggRow.getLong(0)
    val physRows = if (aggRow.isNullAt(1)) 0L else aggRow.getLong(1)
    val dead = if (physRows > 0L) readDvIn(spark, dir).fold(0L)(_.count()) else 0L
    val live =
      if (dead > 0L)
        math.ceil(bytes.toDouble * (physRows - dead).toDouble / physRows).toLong
      else bytes
    math.max(live, 0L)
  }

  def tableDetail(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val stats = readManifestIn(spark, dir)
    val agg = stats.agg(count(lit(1)), sum(col("file_size")),
      sum(col("n_rows"))).head()
    val versions = tableVersions(spark, path)
    val dvCount = readDvIn(spark, dir).fold(0L)(_.count())
    val row = Row(
      agg.getLong(0),
      if (agg.isNullAt(1)) 0L else agg.getLong(1),
      if (agg.isNullAt(2)) 0L else agg.getLong(2),
      dvCount,
      versions.minOption.getOrElse(-1L), versions.maxOption.getOrElse(-1L),
      manifestFeatures(fs, dir).toSeq.sorted.mkString(","),
      trackedCols(spark, dir).toSeq.sorted.mkString(","),
      constraintsIn(fs, dir).size.toLong)
    val schema = StructType(Seq(
      StructField("num_files", org.apache.spark.sql.types.LongType, false),
      StructField("size_bytes", org.apache.spark.sql.types.LongType, false),
      StructField("num_rows_physical", org.apache.spark.sql.types.LongType, false),
      StructField("dv_entries", org.apache.spark.sql.types.LongType, false),
      StructField("earliest_version", org.apache.spark.sql.types.LongType, false),
      StructField("latest_version", org.apache.spark.sql.types.LongType, false),
      StructField("features", org.apache.spark.sql.types.StringType, false),
      StructField("stats_columns", org.apache.spark.sql.types.StringType, false),
      StructField("num_constraints", org.apache.spark.sql.types.LongType, false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(Seq(row)).asJava, schema)
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE`
    * analog): create `target` as a stats table whose v0 manifest
    * REFERENCES the source's current data files — nothing is copied
    * except the manifest generation itself (parts, named commit
    * markers, schema/stats/features/constraints sidecars and the
    * deletion vector), so cloning a 100 TB table costs O(manifest).
    * The clone then lives its own life: DML rewrites touched files
    * INTO the clone's root (the source is never written), untouched
    * rows keep reading the source's files, and a compaction/z-order
    * makes the clone fully self-contained. The clone's vacuum can
    * never reclaim source files (removal-log entries resolve under
    * the clone root, where source files don't live; the orphan pass
    * only lists the clone root) — and symmetrically, the SOURCE's
    * vacuum does not know about clones: vacuuming the source past
    * the clone's creation point can break the clone, exactly Delta's
    * documented shallow-clone hazard. Writer lineage does NOT carry:
    * the `_txn.json` idempotency map stays with the source (a writer
    * resuming against the clone is a NEW writer). Returns the number
    * of referenced data files.
    */
  def cloneTable(spark: SparkSession, source: String,
      target: String): Long = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcDir = manifestDirOf(fs, source)
    require(fs.exists(new Path(srcDir, SchemaFile)),
      s"$source is not a stats table with a schema sidecar")
    val targetStats = new Path(s"$target/$StatsDir")
    require(!fs.exists(targetStats),
      s"$target already has a stats dir — refusing to overwrite")
    fs.mkdirs(new Path(target))
    val build = new Path(targetStats, s".genbuild-${java.util.UUID.randomUUID}")
    fs.mkdirs(build)
    val conf = spark.sparkContext.hadoopConfiguration
    // manifest parts + named markers, verbatim (marker rows keep
    // replaying exactly; replay protection transfers conservatively)
    fs.listStatus(new Path(srcDir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach(f => org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath,
        fs, new Path(build, f.getPath.getName), false, conf))
    // metadata sidecars — but NOT the txn map (writer lineage), NOT
    // the removal log (the clone must never re-delete source state),
    // NOT the op record (the clone's history starts at CLONE)
    Seq(SchemaFile, StatsColsFile, FeaturesFile, ManifestSchemaFile,
      ConstraintsFile, ColMapFile, GeneratedFile, IdentityFile,
      PartitionColsFile, VIndexFile).foreach { n =>
      val p = new Path(srcDir, n)
      if (fs.exists(p))
        org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(build, n),
          false, conf)
    }
    val dvPath = new Path(srcDir, DvDir)
    if (fs.exists(dvPath))
      org.apache.hadoop.fs.FileUtil.copy(fs, dvPath,
        fs, new Path(build, DvDir), false, conf)
    writeOpFile(fs, build, s"CLONE($source)", System.currentTimeMillis())
    val gen = new Path(targetStats, "v0")
    require(fs.rename(build, gen), s"generation rename $build -> $gen failed")
    commitGen(spark, gen)
    readManifestIn(spark, gen.toString).count()
  }

  /** RESTORE the table to a retained version (the Delta
    * `RESTORE TABLE ... VERSION AS OF` analog): publishes a NEW
    * generation whose manifest, schema, tracked columns and manifest
    * schema are version `version`'s — history is preserved (restore
    * is a commit on top, so a bad restore is itself restorable), and
    * nothing is copied: the old generation's data files are simply
    * re-claimed by the new manifest. Fails loudly when any data file
    * the restored manifest references has already been vacuumed
    * (same failure Delta RESTORE raises) — within the retention
    * window replaced files are still on disk by construction, so a
    * restore inside the window always succeeds. Files the current
    * manifest holds beyond the restored set enter the removal log
    * (they age out through the normal retention vacuum; the vacuum
    * claim-set guard protects them if a later restore-forward
    * re-claims them first).
    *
    * With the change feed enabled, the restore records file-level
    * diff rows the way Delta does: every row of a dropped file as
    * `delete`, every row of a re-added file as `insert` — rows living
    * in files common to both states record nothing. Feature flags
    * carry over from the CURRENT generation for table-property flags
    * (the change feed must not silently vanish) but row-describing
    * flags (null counts, bloom config) come from the RESTORED
    * generation — they describe the restored manifest rows.
    *
    * Stream-aware like DML: the restored generation's named commit
    * markers are copied VERBATIM (an in-flight [[graft.streaming
    * .StatsTableSource]] consumer owing one of them replays its exact
    * rows), and markers existing only in the superseded current
    * generation are re-created zero-row — their rows are not part of
    * the restored state, but their names must keep short-circuiting
    * an at-least-once writer's replays.
    *
    * Single-writer like all maintenance ops. Returns the new
    * generation's version.
    */
  def restoreTable(spark: SparkSession, path: String, version: Long,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Long =
      withConcurrentRetry("restoreTable") {
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    // restore is METADATA-ONLY (old files re-claimed, nothing
    // copied), so partition-converted tables restore too; the CDF
    // diff scans below are part-aware for them
    val have = tableVersions(spark, path)
    require(have.contains(version),
      s"version $version of $path is not retained (have " +
        s"${have.mkString("[", ",", "]")}) — superseded generations are " +
        "vacuumed retentionMs after replacement")
    val vDir = s"$path/$StatsDir/v$version"
    val restored = readManifestIn(spark, vDir)
    val files = restored.select("file").collect().map(_.getString(0)).toSeq
    // ONE listing PER PARENT DIR (the vacuumTable claim-set shape)
    // instead of O(files) serial exists() probes — at object-store
    // latency the per-file HEAD loop would stall the driver for
    // minutes on a large restored manifest. Grouping by parent
    // handles SHALLOW CLONES, whose manifests reference files
    // outside the table root ([[cloneTable]]).
    val byParent = files.groupBy(f =>
      fs.makeQualified(new Path(f)).getParent.toString)
    val missing = byParent.toSeq.flatMap { case (parent, inParent) =>
      val present: Set[String] =
        if (!fs.exists(new Path(parent))) Set.empty
        else fs.listStatus(new Path(parent))
          .filter(_.isFile).map(_.getPath.getName).toSet
      inParent.map(f => new Path(f).getName).filterNot(present)
    }
    require(missing.isEmpty,
      s"cannot restore $path to version $version: ${missing.size} of its " +
        s"data files are already vacuumed (first: ${missing.headOption
          .getOrElse("")}) — raise the retention to keep restore targets " +
        "whole for longer")
    val vSchema = tableSchemaIn(spark, path, vDir)
    val vStatsCols = trackedCols(spark, vDir).toSeq.sorted
    val feats = manifestFeatures(fs, vDir) ++
      manifestFeatures(fs, dir).filter(_ == CdfFeature)
    val vManifestSchema = manifestSchemaIn(fs, vDir)
    val curSchema = tableSchemaIn(spark, path, dir)
    val curFiles = readManifestIn(spark, dir).select("file").collect()
      .map(_.getString(0)).toSet
    val restoredSet = files.toSet
    val dropped = (curFiles -- restoredSet).toSeq
    val added = (restoredSet -- curFiles).toSeq
    val changes =
      if (!cdfEnabled(fs, dir)) None
      else {
        // each side's rows are its OWN generation's visible rows:
        // dropped files minus the current vector, re-added files
        // minus the restored version's vector
        val dels =
          if (dropped.isEmpty) None
          else Some(applyDv(partAwareStatusScan(spark, path, dir,
                curSchema, statusesFor(fs, dropped)),
              readDvIn(spark, dir))
            .withColumn(ChangeTypeCol, lit("delete")))
        val ins =
          if (added.isEmpty) None
          else Some(applyDv(partAwareStatusScan(spark, path, vDir,
                vSchema, statusesFor(fs, added)),
              readDvIn(spark, vDir))
            .withColumn(ChangeTypeCol, lit("insert")))
        // files COMMON to both states can still change visibility
        // through their deletion vectors: positions dead now but
        // alive at the restored version are RESURRECTED (insert);
        // positions alive now but dead there are re-deleted. Row
        // lookup cost is bounded by the vector sizes, never the
        // files.
        val common = (curFiles & restoredSet).toSeq
        def dvDiff(a: Option[DataFrame], b: Option[DataFrame])
            : Option[DataFrame] = a.map { d =>
          val inCommon = d.join(broadcast(spark.createDataset(common)(
              org.apache.spark.sql.Encoders.STRING).toDF("__c")),
            col("file") === col("__c"), "left_semi")
          b.fold(inCommon)(o => inCommon.join(broadcast(o),
            inCommon("file") === o("file") &&
              inCommon("row_index") === o("row_index"), "left_anti"))
        }
        def rowsAt(positions: Option[DataFrame], schemaX: StructType,
            genDir: String, changeType: String): Option[DataFrame] =
          positions.flatMap { pos =>
            // read ONLY the files the position diff names (the
            // distinct-file list is bounded by the vector, collected
            // once)
            val posFiles = pos.select("file").distinct()
              .collect().map(_.getString(0)).toSeq
            if (posFiles.isEmpty) None
            else {
              val scanDf = partAwareStatusScan(spark, path, genDir,
                schemaX, statusesFor(fs, posFiles))
              Some(scanDf.join(broadcast(pos),
                  scanDf("_metadata.file_path") === pos("file") &&
                    scanDf("_metadata.row_index") === pos("row_index"),
                  "left_semi")
                .withColumn(ChangeTypeCol, lit(changeType)))
            }
          }
        val (curDvF, vDvF) =
          if (common.isEmpty) (None, None)
          else (readDvIn(spark, dir), readDvIn(spark, vDir))
        val resurrected = rowsAt(dvDiff(curDvF, vDvF), vSchema, vDir, "insert")
        val reDeleted = rowsAt(dvDiff(vDvF, curDvF), curSchema, dir, "delete")
        (dels ++ ins ++ resurrected ++ reDeleted).reduceOption(
          _.unionByName(_, allowMissingColumns = true))
      }
    // Build the new generation as a VERBATIM file copy of the
    // restored one — parts stay parts and MARKERS STAY MARKERS. This
    // is what keeps restore stream-aware like DML: a StatsTableSource
    // consumer still owing a batch whose marker exists in the
    // restored generation replays exactly that generation's rows for
    // it (the data files were just verified present). Markers that
    // exist only in the CURRENT generation (landed after the restored
    // state froze, or already folded there) are re-created zero-row:
    // their rows are legitimately not part of the restored state, but
    // their names must keep short-circuiting an at-least-once
    // writer's replays — dropping them would let a replayed batch
    // RE-COMMIT rows the restore removed. (Copied markers get fresh
    // mtimes, so an ancient marker can outlive one extra retention
    // window after a restore — bounded, and erring toward replay
    // protection.)
    val statsDir = new Path(s"$path/$StatsDir")
    // strict observed+1 targeting — see publishGeneration (the
    // current manifest was read above, so `dir` is a committed
    // generation)
    val obsV = obsVersionOf(dir).get
    val nextV = obsV + 1
    val build = new Path(statsDir, s".genbuild-${java.util.UUID.randomUUID}")
    fs.mkdirs(build)
    val conf = spark.sparkContext.hadoopConfiguration
    val copiedMarkers = fs.listStatus(new Path(vDir)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath,
          fs, new Path(build, f.getPath.getName), false, conf)
        f.getPath.getName
      }
      .filterNot(_.startsWith("part-")).toSet
    // the restored version's deletion vector IS part of its state —
    // a restore to a DV-bearing version must hide exactly the rows
    // that version hid
    val vDvPath = new Path(vDir, DvDir)
    if (fs.exists(vDvPath))
      org.apache.hadoop.fs.FileUtil.copy(fs, vDvPath,
        fs, new Path(build, DvDir), false, conf)
    writeSidecars(spark, build.toString, vSchema, vStatsCols, feats,
      manifestSchema = Some(vManifestSchema))
    // the idempotent-writer watermarks ride the CURRENT generation
    // forward like any other op's commit would — restore rewinds the
    // table's CONTENT, never a writer's replay protection (a lost
    // _txn.json would let an at-least-once writer double-apply its
    // in-flight batch right after the restore)
    writeTxnFile(fs, dir, build, txn = None)
    // constraints are table metadata, not content: the CURRENT set
    // carries through a restore (the restored rows are NOT
    // re-validated — audit with constraintViolations)
    Seq(ConstraintsFile, GeneratedFile, IdentityFile).foreach { n =>
      readSidecarIn(fs, dir, n).foreach { j =>
        val out = fs.create(new Path(build, n), true)
        try out.write(j.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    // the column mapping and the partition-column list are SCHEMA
    // metadata and follow the TARGET version like the schema sidecar
    // does — restoring past a rename restores the old logical names
    Seq(ColMapFile, PartitionColsFile).foreach { n =>
      readSidecarIn(fs, vDir, n).foreach { j =>
        val out = fs.create(new Path(build, n), true)
        try out.write(j.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    val markerCutoff = opStart - markerRetentionMs
    val currentOnly = fs.listStatus(new Path(dir)).toSeq
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".parquet") && !n.startsWith("part-") &&
          f.getModificationTime >= markerCutoff && !copiedMarkers(n)
      }.map(_.getPath.getName)
    if (currentOnly.nonEmpty) {
      // zero-row marker re-creations are schema-only templates —
      // minted ONCE driver-side (no Spark job per restore just to
      // write an empty parquet; same shape publishGeneration's folded
      // markers took in r18)
      val tmp = new Path(path, s".markers-${java.util.UUID.randomUUID}")
      val part = new Path(tmp, "template.parquet")
      fs.mkdirs(tmp)
      writeLocalParquetFile(spark, restored.schema, Nil, part)
      currentOnly.foreach { n =>
        org.apache.hadoop.fs.FileUtil.copy(fs, part,
          fs, new Path(build, n), false, conf)
      }
      fs.delete(tmp, true)
    }
    changes.foreach(cd =>
      cd.write.parquet(new Path(build, ChangeDataDir).toString))
    writeOpFile(fs, build, s"RESTORE(v$version)", opStart)
    val now = System.currentTimeMillis()
    writeRemovalLog(fs, build,
      (dropped.map(p => rootRelativeOrName(fs, path, p)) :+
        s"$StatsDir/v$obsV").map(_ -> now))
    val gen = new Path(statsDir, s"v$nextV")
    commitBuildAs(spark, fs, build, gen)
    if (vacuum) vacuumTable(spark, path, retentionMs)
    nextV
  }

  /** The table's commit history (the `DESCRIBE HISTORY` analog), one
    * row per RETAINED committed generation, newest first: `version`,
    * `operation` (WRITE / OPTIMIZE / DELETE / UPDATE / MERGE /
    * RESTORE(vN) / …, from the generation's [[OpFile]] record), and
    * `op_time` (the operation's entry timestamp).
    * History reaches back exactly as far as time travel does — the
    * retention window — because superseded generations ARE the
    * history records. Tiny driver-side listing (O(retained
    * generations)), like Delta's.
    */
  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsDir = new Path(s"$path/$StatsDir")
    val rows = genDirs(fs, statsDir)
      .filter { case (_, f) => isCommittedGen(fs, f.getPath) }
      .map { case (v, f) =>
        val json = requiredSidecarIn(fs, f.getPath.toString, OpFile)
        val opRe = "\"operation\"\\s*:\\s*\"([^\"]*)\"".r
        val tsRe = "\"ts\"\\s*:\\s*(\\d+)".r
        Row(v, opRe.findFirstMatchIn(json).get.group(1),
          tsRe.findFirstMatchIn(json).get.group(1).toLong)
      }.reverse
    val schema = StructType(Seq(
      StructField("version", org.apache.spark.sql.types.LongType,
        nullable = false),
      StructField("operation", org.apache.spark.sql.types.StringType,
        nullable = false),
      StructField("op_time", org.apache.spark.sql.types.LongType,
        nullable = false)))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Shared planning preamble for the pruning entry points: load the
    * manifest at `dir`, derive the tracked/null/bloom column sets,
    * and rewrite `predicate` into the file-skip filter. Returns
    * (manifest frame, table schema, skip filter).
    */
  private[sources] def planSkip(spark: SparkSession, path: String, dir: String,
      predicate: Column,
      pin: Option[Set[String]] = None): (DataFrame, StructType, Column) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.plans.GraftFunctions.register(spark)
    val stats = pin.fold(readManifestIn(spark, dir))(
      readManifestPinned(spark, dir, _))
    val tracked = stats.columns.collect { case c if c.startsWith("min_") => c.drop(4) }.toSet
    val nullsTracked = stats.columns.collect { case c if c.startsWith("nulls_") => c.drop(6) }.toSet
    val bloomIdx = bloomIndex(fs, dir, stats.columns)
    val schema = tableSchemaIn(spark, path, dir)
    // SKIP side only: conjuncts on generated columns derived from the
    // user's raw-column bounds (the Delta generated-partition-column
    // read-side optimization) — pure pruning, the row predicate the
    // caller applies above the scan is untouched
    val augmented = withGeneratedPruning(spark, fs, dir, schema, predicate)
    val cond = resolvedCondition(spark, schema, augmented)
    (stats, schema, rewrite(cond, tracked, nullsTracked, bloomIdx).getOrElse(lit(true)))
  }

  // --- generated-column pruning (read side) -------------------------
  //
  // A table partitioned (or clustered) by a GENERATED column
  // `g = f(raw)` is usually queried by the RAW column — `WHERE ts
  // BETWEEN a AND b` on a table partitioned by `day =
  // date_trunc('DAY', ts)`. Without derivation that predicate prunes
  // nothing (g's stats are min=max per partition dir, raw's stats
  // may be absent). For MONOTONE generation expressions the bounds
  // transfer: raw ∈ [lo, hi] ⟹ g ∈ [f(lo), f(hi)], so the skip
  // predicate gains `g >= f(lo) AND g <= f(hi)` (equality gains
  // `g = f(v)`) — Delta's optimizable-expression families, done as
  // endpoint evaluation. Strict raw bounds derive NON-strict g
  // bounds (always implied). A null f(bound) (e.g. a cast that
  // fails) derives nothing. Cost: only when the table HAS generated
  // columns AND the predicate carries usable bounds — then one
  // 1-row local evaluation per bound.

  /** The single source column of `e` IF `e` is monotone
    * non-decreasing in it — (column, required raw-type family).
    * Whitelisted families: identity (any type), temporal truncation
    * casts (DATE/TIMESTAMP), date_trunc(unit, c), year(c),
    * to_date(c) — TEMPORAL raw only (over a STRING these are NOT
    * monotone: '2021-12-1' < '2021-2-1' lexicographically while the
    * parsed dates order the other way, and deriving from them would
    * silently drop rows); floor/div by a positive constant (NUMERIC
    * raw only); substring(c, 1, k) (STRING raw only — binary-order
    * prefix). Deliberately NOT month/day/hour — they wrap and are
    * not monotone alone. The caller checks the family against the
    * raw column's actual type ([[monotoneTypeOk]]).
    */
  private[sources] def monotoneSource(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[(String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Literal => CLit}
    import org.apache.spark.sql.types.{DateType, TimestampType}
    def fname(f: UnresolvedFunction): String =
      f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
    def inner(c: org.apache.spark.sql.catalyst.expressions.Expression,
        family: String): Option[(String, String)] =
      c match {
        // only a BARE attribute below a family wrapper — nested
        // wrappers would need family composition; keep the whitelist
        // one level deep and provably sound
        case a: UnresolvedAttribute if a.nameParts.size == 1 =>
          Some((a.nameParts.head, family))
        case _ => None
      }
    e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some((a.nameParts.head, "any"))
      case c: Cast if c.dataType == DateType || c.dataType == TimestampType =>
        inner(c.child, "temporal")
      case f: UnresolvedFunction if fname(f) == "date_trunc" =>
        f.arguments match {
          case Seq(CLit(_, _), c) => inner(c, "temporal")
          case _ => None
        }
      case f: UnresolvedFunction if fname(f) == "year" || fname(f) == "to_date" =>
        f.arguments match {
          case Seq(c) => inner(c, "temporal")
          case _ => None
        }
      case f: UnresolvedFunction if fname(f) == "floor" =>
        f.arguments match {
          case Seq(Divide(c, CLit(n, _), _)) if positiveConst(n) =>
            inner(c, "numeric")
          case _ => None
        }
      case Divide(c, CLit(n, _), _) if positiveConst(n) => inner(c, "numeric")
      case f: UnresolvedFunction
          if fname(f) == "substring" || fname(f) == "substr" =>
        f.arguments match {
          case Seq(c, CLit(pos, _), CLit(_, _)) if String.valueOf(pos) == "1" =>
            inner(c, "string")
          case _ => None
        }
      case _ => None
    }
  }

  /** Does the raw column's ACTUAL type satisfy the family the
    * monotone whitelist assumed? (A temporal function over a STRING
    * column parses but is not monotone in the column's order.)
    */
  private[sources] def monotoneTypeOk(family: String, dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    family match {
      case "any" => true
      case "temporal" => dt == DateType || dt == TimestampType ||
        dt == TimestampNTZType
      case "numeric" => dt.isInstanceOf[NumericType]
      case "string" => dt == StringType
      case _ => false
    }
  }

  private[sources] def positiveConst(v: Any): Boolean = v match {
    case n: java.lang.Number => n.doubleValue > 0
    case d: java.math.BigDecimal => d.signum > 0
    case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal.signum > 0
    case _ => false
  }

  /** Evaluate the generation expression at a single raw value.
    * None when the result is null (derive nothing) or the
    * evaluation itself fails (an expression family the whitelist
    * admitted but the engine rejects — never break the read).
    */
  private[sources] def evalGenAt(spark: SparkSession, exprSql: String, rawName: String,
      rawType: DataType,
      v: org.apache.spark.sql.catalyst.expressions.Literal): Option[Any] =
    try {
      val row = spark.range(1)
        .select(org.apache.spark.sql.graft.ColumnBridge.column(v)
          .cast(rawType).as(rawName))
        .selectExpr(s"($exprSql) AS __g")
        .head()
      if (row.isNullAt(0)) None else Some(row.get(0))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** predicate && derived generated-column conjuncts (see section
    * comment). Identity (no generated columns / no usable bounds) is
    * the common fast path: one sidecar read, no evaluation.
    */
  private[sources] def withGeneratedPruning(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      schema: StructType, predicate: Column): Column = {
    val gens = generatedIn(fs, dir)
    if (gens.isEmpty) return predicate
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo => CEq, Expression => CExpr, GreaterThan => CGt, GreaterThanOrEqual => CGte, LessThan => CLt, LessThanOrEqual => CLte, Literal => CLit}
    val tree =
      try org.apache.spark.sql.graft.ColumnBridge.expression(predicate)
      catch { case scala.util.control.NonFatal(_) => return predicate }
    // the Column DSL converts to UnresolvedFunction("and"/">="/...)
    // nodes, SQL-parsed trees to catalyst And/GreaterThanOrEqual —
    // normalize both shapes
    def fn(e: CExpr): Option[(String, Seq[CExpr])] = e match {
      case f: UnresolvedFunction if f.nameParts.size == 1 =>
        Some((f.nameParts.head.toLowerCase(java.util.Locale.ROOT), f.arguments))
      case _ => None
    }
    object Fn {
      def unapply(e: CExpr): Option[(String, Seq[CExpr])] = fn(e)
    }
    def conjuncts(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case Fn("and", Seq(l, r)) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // (op, attr-side, literal, attrOnLeft)
    object Cmp {
      def unapply(e: CExpr): Option[(String, CExpr, CExpr)] = e match {
        case CEq(l, r) => Some(("=", l, r))
        case CGt(l, r) => Some((">", l, r))
        case CGte(l, r) => Some((">=", l, r))
        case CLt(l, r) => Some(("<", l, r))
        case CLte(l, r) => Some(("<=", l, r))
        case Fn(op, Seq(l, r))
            if Set("=", "==", ">", ">=", "<", "<=")(op) =>
          Some((if (op == "==") "=" else op, l, r))
        case _ => None
      }
    }
    def attrName(e: CExpr): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    val cs = conjuncts(tree)
    // one sidecar read for the whole pass, not one per generated
    // column (the tz gate below fires per temporal column)
    lazy val temporalTzOk = generatedTzIn(fs, dir).contains(sessionTz(spark))
    val derived: Seq[Column] = gens.toSeq.flatMap { case (g, exprSql) =>
      val parsed =
        try spark.sessionState.sqlParser.parseExpression(exprSql)
        catch { case scala.util.control.NonFatal(_) => return predicate }
      def rawTypeOf(raw: String): Option[DataType] =
        schema.fieldNames.find(_.equalsIgnoreCase(raw))
          .map(n => schema(schema.fieldIndex(n)).dataType)
      monotoneSource(parsed) match {
        case None => Nil
        case Some((raw, family))
            if !rawTypeOf(raw).exists(monotoneTypeOk(family, _)) => Nil
        // temporal endpoint evaluation runs under the READER's
        // session timezone; stored values were computed under the
        // recorded writer timezone — derive only when they AGREE
        // (unknown/mixed record ⟹ no temporal derivation; a
        // mismatched reader would shift bounds by the offset and
        // silently drop files). The other families are tz-free.
        case Some((_, family))
            if family == "temporal" && !temporalTzOk => Nil
        case Some((raw, family)) =>
          val rawType = rawTypeOf(raw).get
          def isRaw(e: CExpr): Boolean =
            attrName(e).exists(_.equalsIgnoreCase(raw))
          def f(v: CLit): Option[Column] =
            evalGenAt(spark, exprSql, raw, rawType, v).map(lit(_))
          cs.flatMap {
            case Cmp(op, a, l: CLit) if isRaw(a) => op match {
              case "=" => f(l).map(col(g) === _)
              case ">" | ">=" => f(l).map(col(g) >= _)
              case "<" | "<=" => f(l).map(col(g) <= _)
            }
            // literal-on-the-left comparisons flip the bound side
            case Cmp(op, l: CLit, a) if isRaw(a) => op match {
              case "=" => f(l).map(col(g) === _)
              case ">" | ">=" => f(l).map(col(g) <= _)
              case "<" | "<=" => f(l).map(col(g) >= _)
            }
            // IN-lists: raw IN (v1..vn) ⟹ g IN (f(v1)..f(vn)) — but
            // only when EVERY endpoint evaluates non-null (a null
            // f(vi) means raw=vi rows live in the null partition;
            // g IN (...) would exclude them and lose rows)
            case org.apache.spark.sql.catalyst.expressions.In(a, vs)
                if isRaw(a) && vs.nonEmpty &&
                  vs.forall(_.isInstanceOf[CLit]) =>
              val mapped = vs.map(v => f(v.asInstanceOf[CLit]))
              if (mapped.forall(_.isDefined))
                Seq(mapped.flatten.map(col(g) === _).reduce(_ || _))
              else Nil
            case Fn("in", args) if args.size >= 2 && isRaw(args.head) &&
                args.tail.forall(_.isInstanceOf[CLit]) =>
              val mapped = args.tail.map(v => f(v.asInstanceOf[CLit]))
              if (mapped.forall(_.isDefined))
                Seq(mapped.flatten.map(col(g) === _).reduce(_ || _))
              else Nil
            case _ => Nil
          }
      }
    }
    derived.foldLeft(predicate)(_ && _)
  }

  /** (files the predicate might match, all files) from the manifest.
    * DRIVER-SIDE LISTS — the test/diagnostic surface for pruning
    * counts. The scan path is [[readSkipping]], which never
    * materializes the all-files list.
    */
  def prunedFiles(
      spark: SparkSession, path: String,
      predicate: Column): (Seq[String], Seq[String]) = {
    val (stats, _, skip) = planSkip(spark, path, manifestDir(spark, path),
      mapPred(spark, path, predicate))
    val all = stats.select("file").collect().map(_.getString(0)).toSeq
    val kept = stats.filter(skip).select("file").collect().map(_.getString(0)).toSeq
    (kept, all)
  }

  /** Read `path` under `predicate`, scanning only files whose stats
    * admit a match; the predicate is re-applied to surviving rows.
    *
    * Scale shape (the Delta-snapshot pattern): the manifest is a
    * TABLE — the kept-file set is computed by a distributed filter
    * over it, and only the surviving (path, size, mtime) rows reach
    * the driver, where they become a [[ManifestFileIndex]] feeding
    * the parquet reader directly. Planning therefore does:
    *  - ZERO data-file listings (statuses come from the manifest),
    *  - ZERO footer reads (schema comes from the sidecar),
    *  - no per-file path list in the plan (the scan node holds one
    *    relation whose file index serves the statuses),
    * and the driver never materializes the all-files list — at 10^6
    * manifest entries with a selective predicate, driver memory is
    * O(kept), not O(files).
    */
  def readSkipping(spark: SparkSession, path: String, predicate: Column): DataFrame =
    readSkippingMapped(spark, path, manifestDir(spark, path), predicate)

  /** [[readSkippingIn]] behind the column mapping: the predicate
    * arrives in LOGICAL names, pruning and scanning run on PHYSICAL
    * names, and the result projects back to logical. Identity (no
    * sidecar) short-circuits to the plain path.
    */
  private[sources] def readSkippingMapped(spark: SparkSession, path: String,
      dir: String, predicate: Column): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    colMapIn(fs, dir) match {
      case None => readSkippingIn(spark, path, dir, predicate)
      case Some(m) =>
        val phys = tableSchemaIn(spark, path, dir)
        // loud on renamed-away/dropped names (see mapPred)
        resolvedCondition(spark, logicalSchemaOf(phys, Some(m)), predicate)
        toLogicalScan(
          readSkippingIn(spark, path, dir, toPhysicalColumn(predicate, m)),
          phys, m)
    }
  }

  /** METADATA-ONLY `COUNT(*) WHERE predicate` (the Delta/Photon
    * metadata-count optimization): every file is classified from its
    * manifest stats as ALL-match ([[rewriteAll]] — counted as
    * `n_rows` minus its deletion-vector entries, no data read),
    * NO-match (the [[rewrite]] skip predicate — contributes zero), or
    * BOUNDARY (scanned with the row predicate, vector applied). A
    * range count over a clustered 100 TB table reads the manifest
    * plus at most the two boundary files; `countWhere(lit(true))` on
    * a vector-free table reads no data at all. The DV subtraction on
    * all-match files is EXACT: stats are physical, so every physical
    * row matches — dead rows included — and visible matches are
    * `n_rows - dead`. Always equals
    * `readSkipping(...).filter(predicate).count()`; only the bytes
    * read differ.
    */
  /** Current-mapping predicate/name translation for the metadata
    * aggregates (identity when no mapping exists).
    */
  private[sources] def currentMap(spark: SparkSession, path: String): Option[Map[String, String]] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    colMapIn(fs, manifestDirOf(fs, path))
  }

  def countWhere(spark: SparkSession, path: String,
      predicate: Column): Long =
    countWhereDetail(spark, path, mapPred(spark, path, predicate))._1

  /** Metadata-only `MIN(column), MAX(column) WHERE predicate` — the
    * aggregate-pushdown companion of [[countWhere]]: ALL-match files
    * contribute their manifest `min_/max_` stats directly (exact —
    * stats exclude nulls, and MIN/MAX ignore nulls), files with
    * deletion-vector entries are DEMOTED to a scan (the extremum row
    * might be dead — stats are only upper/lower BOUNDS under a
    * vector), and boundary files scan with the predicate. One small
    * distributed agg over (stats rows ∪ scanned rows); a clustered
    * range query answers from the manifest + ≤2 boundary files.
    * `column` must be stats-tracked. Returns (min, max) as Options
    * (None on zero matching non-null rows).
    */
  def minMaxWhere(spark: SparkSession, path: String, column: String,
      predicate: Column): (Option[Any], Option[Any]) = {
    val m = currentMap(spark, path)
    minMaxWhereDetail(spark, path,
      m.fold(column)(mapStatsKey(_, column)),
      mapPred(spark, path, predicate))._1
  }

  /** ((min, max), scanned files) — detail behind [[minMaxWhere]];
    * `private[sources]` so the no-scan claim is testable.
    */
  private[sources] def minMaxWhereDetail(spark: SparkSession, path: String,
      column: String, predicate: Column)
      : ((Option[Any], Option[Any]), Long) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (stats, schema, skip) = planSkip(spark, path, dir, predicate)
    require(stats.columns.contains(s"min_$column"),
      s"$column is not stats-tracked — minMaxWhere needs manifest " +
        "min/max for it")
    def scanAll(statuses: Seq[FileStatusWithMetadata],
        dv: Option[DataFrame]): Option[DataFrame] =
      if (statuses.isEmpty) None
      else Some(applyDv(
        partAwareStatusScan(spark, path, dir, schema, statuses), dv)
        .filter(coalesce(predicate, lit(false)))
        .select(col(column).as("__lo"), col(column).as("__hi")))
    val tracked = stats.columns.collect {
      case c if c.startsWith("min_") => c.drop(4) }.toSet
    val nullsTracked = stats.columns.collect {
      case c if c.startsWith("nulls_") => c.drop(6) }.toSet
    val cond = resolvedCondition(spark, schema, predicate)
    val all = coalesce(
      rewriteAll(cond, tracked, nullsTracked).getOrElse(lit(false)),
      lit(false))
    val dv = readDvIn(spark, dir)
    val kept = stats.filter(skip)
    // vector-bearing files demote to the scan side: their stats are
    // bounds, not witnesses
    val (statsSide, demoted) = dv match {
      case None => (kept.filter(all), kept.filter(!all))
      case Some(d) =>
        val dvFiles = d.select(col("file")).distinct()
        (kept.filter(all).join(broadcast(dvFiles), Seq("file"), "left_anti"),
          kept.filter(!all).unionByName(
            kept.filter(all).join(broadcast(dvFiles), Seq("file"), "left_semi")))
    }
    val statuses = statusesOf(demoted)
    val fromStats = statsSide
      .select(mc(s"min_$column").as("__lo"), mc(s"max_$column").as("__hi"))
    val frames = Seq(fromStats) ++ scanAll(statuses, dv).toSeq
    val r = frames.reduce(_.unionByName(_))
      .agg(min(col("__lo")), max(col("__hi"))).head()
    ((Option(r.get(0)), Option(r.get(1))), statuses.size.toLong)
  }

  /** (count, all-match files, scanned files) — the detail triple
    * backing [[countWhere]]; `private[sources]` so the no-scan claim
    * is directly testable.
    */
  private[sources] def countWhereDetail(spark: SparkSession, path: String,
      predicate: Column): (Long, Long, Long) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (stats, schema, skip) = planSkip(spark, path, dir, predicate)
    val tracked = stats.columns.collect {
      case c if c.startsWith("min_") => c.drop(4) }.toSet
    val nullsTracked = stats.columns.collect {
      case c if c.startsWith("nulls_") => c.drop(6) }.toSet
    val cond = resolvedCondition(spark, schema, predicate)
    // null-safe tri-state: a null stats term (evolved column) falls
    // to the same side the read path puts it on — skip null drops the
    // file, all null demotes to boundary scan
    val all = coalesce(
      rewriteAll(cond, tracked, nullsTracked).getOrElse(lit(false)),
      lit(false))
    val fullRows = stats.filter(skip && all)
    val dv = readDvIn(spark, dir)
    val fullAgg = dv match {
      case None =>
        fullRows.agg(sum(col("n_rows")), count(lit(1))).head()
      case Some(d) =>
        val dvc = d.groupBy(col("file")).agg(count(lit(1)).as("__dead"))
        fullRows.join(dvc, Seq("file"), "left")
          .agg(sum(col("n_rows") - coalesce(col("__dead"), lit(0L))),
            count(lit(1))).head()
    }
    val fullCount = if (fullAgg.isNullAt(0)) 0L else fullAgg.getLong(0)
    val fullFiles = fullAgg.getLong(1)
    val partialStatuses = statusesOf(stats.filter(skip && !all))
    val partialCount =
      if (partialStatuses.isEmpty) 0L
      else applyDv(
        partAwareStatusScan(spark, path, dir, schema, partialStatuses), dv)
        .filter(coalesce(predicate, lit(false))).count()
    (fullCount + partialCount, fullFiles, partialStatuses.size.toLong)
  }

  /** (count of rows where `column` IS NOT NULL and `predicate`
    * matches, all-match files answered from stats, files scanned) —
    * the `COUNT(col)` companion of [[countWhereDetail]], answering
    * `COUNT(col) = n_rows − nullCount` from the manifest: an
    * all-match file contributes `n_rows − coalesce(nulls_col,
    * n_rows)` (a NULL null-count means the column did not exist when
    * the file was written — every row reads NULL; the skip
    * rewriter's own backfill rule), files carrying deletion-vector
    * entries demote to a scan (a dead row's nullity is unknowable
    * from stats), boundary files scan with the row predicate. A
    * manifest without null tracking for the column scans every kept
    * file — correct but no pushdown win, so the PLANNER should not
    * claim such plans (see [[manifestNullCountedLogical]]).
    * `column` arrives PHYSICAL, `predicate` pre-mapped — like every
    * sibling detail function.
    */
  private[sources] def countNonNullWhereDetail(spark: SparkSession,
      path: String, column: String, predicate: Column): (Long, Long, Long) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val (stats, schema, skip) = planSkip(spark, path, dir, predicate)
    val notNullPred = coalesce(predicate, lit(false)) && col(column).isNotNull
    val tracked = stats.columns.collect {
      case c if c.startsWith("min_") => c.drop(4) }.toSet
    val nullsTracked = stats.columns.collect {
      case c if c.startsWith("nulls_") => c.drop(6) }.toSet
    val cond = resolvedCondition(spark, schema, predicate)
    val all = coalesce(
      rewriteAll(cond, tracked, nullsTracked).getOrElse(lit(false)),
      lit(false))
    val hasNulls = stats.columns.contains(s"nulls_$column")
    val eligible = if (hasNulls) all else lit(false)
    val dv = readDvIn(spark, dir)
    val kept = stats.filter(skip)
    val (statsSide, demoted) = dv match {
      case None => (kept.filter(eligible), kept.filter(!eligible))
      case Some(d) =>
        val dvFiles = d.select(col("file")).distinct()
        (kept.filter(eligible).join(broadcast(dvFiles), Seq("file"), "left_anti"),
          kept.filter(!eligible).unionByName(
            kept.filter(eligible).join(broadcast(dvFiles), Seq("file"), "left_semi")))
    }
    val nnExpr = if (hasNulls)
      col("n_rows") - coalesce(mc(s"nulls_$column"), col("n_rows"))
    else lit(0L)
    val aggRow = statsSide.agg(sum(nnExpr), count(lit(1))).head()
    val fullCount = if (aggRow.isNullAt(0)) 0L else aggRow.getLong(0)
    val fullFiles = aggRow.getLong(1)
    val statuses = statusesOf(demoted)
    val partial =
      if (statuses.isEmpty) 0L
      else applyDv(
        partAwareStatusScan(spark, path, dir, schema, statuses), dv)
        .filter(notNullPred).count()
    (fullCount + partial, fullFiles, statuses.size.toLong)
  }

  /** [[countNonNullWhereDetail]] with LOGICAL column/predicate
    * (current-mapping translation applied, like [[minMaxWhere]]).
    */
  private[sources] def countColWhereDetail(spark: SparkSession, path: String,
      column: String, predicate: Column): (Long, Long, Long) = {
    val m = currentMap(spark, path)
    countNonNullWhereDetail(spark, path,
      m.fold(column)(mapStatsKey(_, column)),
      mapPred(spark, path, predicate))
  }

  /** Metadata-backed `COUNT(column) WHERE predicate` (non-null count;
    * logical names).
    */
  def countNonNullWhere(spark: SparkSession, path: String, column: String,
      predicate: Column): Long =
    countColWhereDetail(spark, path, column, predicate)._1

  /** The logical names whose per-file NULL COUNTS the current
    * manifest records — the columns `COUNT(col)` pushdown may claim.
    * Schema-only (no job).
    */
  private[sources] def manifestNullCountedLogical(spark: SparkSession,
      path: String): Set[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val inv = colMapIn(fs, dir).map(_.map(_.swap)).getOrElse(Map.empty[String, String])
    readManifestIn(spark, dir).columns.collect {
      case c if c.startsWith("nulls_") =>
        mapStatsKey(inv, c.drop(6))
    }.toSet
  }

  private[sources] def readSkippingIn(spark: SparkSession, path: String, dir: String,
      predicate: Column): DataFrame = {
    val (stats, schema, skip) = planSkip(spark, path, dir, predicate)
    val statuses = statusesOf(stats.filter(skip))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Partition-converted tables: values come from directory names,
    // so [[partAwareRelation]] splits the sidecar schema into data
    // columns (read from bytes) and partition columns (served per
    // PartitionDirectory by the file index — zero bytes read). The
    // manifest already pruned on partition predicates via min=max
    // stats; the index re-applies the partition filters Catalyst
    // hands it because FileSourceStrategy TRUSTS listing-time
    // pruning and never re-checks those conjuncts on rows.
    val relation = partAwareRelation(spark, path,
      partitionColsIn(fs, dir), schema, statuses)
    applyDv(classic.baseRelationToDataFrame(relation),
      readDvIn(spark, dir)).filter(predicate)
  }

  /** Rewrite a row predicate into a file-stats predicate over
    * min_/max_ (and, per manifest features, nulls_/bloom_) columns.
    * None = cannot skip on this expression. `bloom` maps each
    * bloom-indexed column to its probe count; equality and IN terms
    * on those columns ALSO require the per-file Bloom to admit the
    * value — the pruning that works where min/max ranges are useless
    * (unclustered high-cardinality columns).
    *
    * Null-count terms use `coalesce(nulls_c, n_rows)`: a null
    * null-count in a nulls-featured manifest means the row was
    * written before the column existed (schema evolution) — every
    * row in that file reads as null for the column, so the backfill
    * is exact. (A bloom_ column that is null for pre-evolution rows
    * needs no special casing: the bloom probe evaluates null, the
    * skip predicate is null, and the file is dropped — correct, the
    * file holds no values of an evolved column.)
    */
  private[sources] def rewrite(e: Expression, tracked: Set[String],
      nullsTracked: Set[String] = Set.empty,
      bloom: Map[String, Int] = Map.empty): Option[Column] = {
    def eqTerm(a: String, v: Literal): Column = {
      val range = minC(a) <= litOf(v) && maxC(a) >= litOf(v)
      bloom.get(a).fold(range)(k => range &&
        call_function("graft_bloom_contains_col",
          xxhash64(litOf(v)), mc(s"bloom_$a"), lit(k)))
    }
    e match {
    // Boolean literals skip exactly as themselves: `false` (an empty
    // dynamic-pruning envelope, a folded contradiction) prunes EVERY
    // file — without this case it fell to `None` and the one
    // predicate that should read nothing read everything.
    case Literal(true, org.apache.spark.sql.types.BooleanType) =>
      Some(lit(true))
    case Literal(false, org.apache.spark.sql.types.BooleanType) =>
      Some(lit(false))
    case And(l, r) =>
      // an unsupported conjunct restricts nothing: x AND unknown -> x
      (rewrite(l, tracked, nullsTracked, bloom),
        rewrite(r, tracked, nullsTracked, bloom)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (Some(a), None) => Some(a)
        case (None, Some(b)) => Some(b)
        case _ => None
      }
    case Or(l, r) =>
      // an unsupported disjunct could match anywhere: give up the OR
      for (a <- rewrite(l, tracked, nullsTracked, bloom);
        b <- rewrite(r, tracked, nullsTracked, bloom)) yield a || b
    case IsNull(Attr(a)) if nullsTracked(a) =>
      Some(coalesce(mc(s"nulls_$a"), col("n_rows")) > 0L)
    case IsNotNull(Attr(a)) if nullsTracked(a) =>
      Some(col("n_rows") > coalesce(mc(s"nulls_$a"), col("n_rows")))
    case EqualTo(Attr(a), Lit(v)) if tracked(a) =>
      Some(eqTerm(a, v))
    case EqualTo(Lit(v), Attr(a)) if tracked(a) =>
      Some(eqTerm(a, v))
    case GreaterThan(Attr(a), Lit(v)) if tracked(a) =>
      Some(maxC(a) > litOf(v))
    case GreaterThan(Lit(v), Attr(a)) if tracked(a) =>
      Some(minC(a) < litOf(v)) // v > a  <=>  a < v
    case GreaterThanOrEqual(Attr(a), Lit(v)) if tracked(a) =>
      Some(maxC(a) >= litOf(v))
    case GreaterThanOrEqual(Lit(v), Attr(a)) if tracked(a) =>
      Some(minC(a) <= litOf(v))
    case LessThan(Attr(a), Lit(v)) if tracked(a) =>
      Some(minC(a) < litOf(v))
    case LessThan(Lit(v), Attr(a)) if tracked(a) =>
      Some(maxC(a) > litOf(v))
    case LessThanOrEqual(Attr(a), Lit(v)) if tracked(a) =>
      Some(minC(a) <= litOf(v))
    case LessThanOrEqual(Lit(v), Attr(a)) if tracked(a) =>
      Some(maxC(a) >= litOf(v))
    case org.apache.spark.sql.catalyst.expressions.In(Attr(a), vs)
        if tracked(a) && vs.nonEmpty && vs.forall(Lit.unapply(_).isDefined) =>
      // a IN (v1..vn): the file can hold a match iff its range (and
      // bloom, when indexed) admits SOME value. A null element's term
      // evaluates null, which is conservative-correct under the OR (a
      // row only survives the row filter when IN is TRUE, never null).
      val lits = vs.map { case Lit(v) => v }
      val elemType = lits.head.dataType
      if (lits.size <= 16 || !lits.forall(_.dataType == elemType))
        Some(lits.map(eqTerm(a, _)).reduce(_ || _))
      else {
        // LARGE key sets (dynamic file pruning hands a whole dim's
        // keys over): an n-term OR chain builds an O(n)-deep Column
        // tree whose recursive conversion/optimization costs seconds
        // of DRIVER time per query — and overflows the stack first on
        // small-stack threads (seen at 626 keys). ONE array literal +
        // EXISTS keeps the tree O(1); evaluation is O(n) per manifest
        // row, which is the cheap side of the trade (manifest rows ≪
        // data rows). `exists` follows the same three-valued logic as
        // the OR chain (null element → null, never true).
        val arr = org.apache.spark.sql.graft.ColumnBridge.column(
          Literal(new org.apache.spark.sql.catalyst.util.GenericArrayData(
            lits.map(_.value)),
            org.apache.spark.sql.types.ArrayType(elemType,
              containsNull = lits.exists(_.value == null))))
        Some(exists(arr, x => {
          val range = minC(a) <= x && maxC(a) >= x
          bloom.get(a).fold(range)(k => range &&
            call_function("graft_bloom_contains_col",
              xxhash64(x), mc(s"bloom_$a"), lit(k)))
        }))
      }
    case org.apache.spark.sql.catalyst.expressions.StartsWith(Attr(a), Lit(v))
        if tracked(a) && v.value != null &&
          v.value.toString.forall(_ < 0x80) =>
      // v startsWith p  ⟹  p <= v < succ(p). ASCII prefixes only:
      // Spark orders strings by UTF-8 bytes, the JVM by UTF-16 code
      // units — they agree on ASCII, and a wrong bound here silently
      // drops live files.
      val prefix = v.value.toString
      val lower = maxC(a) >= lit(prefix)
      if (prefix.isEmpty) Some(lower) // every string matches ""
      else Some(lower &&
        minC(a) < lit(prefix.init + (prefix.last + 1).toChar))
    case _ => None
    }
  }

  /** Foldable comparand, evaluated to a Literal. The ANALYZED plan
    * wraps type-coerced literals in Cast (e.g. an Int literal
    * against a BIGINT column) — matching bare `Literal` only would
    * silently disable pruning for the most common predicate form.
    */
  private[sources] object Lit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable && e.references.isEmpty =>
        Some(Literal.create(e.eval(), e.dataType))
      case _ => None
    }
  }

  /** Rewrite a row predicate into a file-stats predicate that is TRUE
    * only when EVERY row of the file matches — the dual of [[rewrite]]
    * (which proves "no row matches" by negation). Sufficient, never
    * necessary: None or FALSE just means the file must be scanned.
    * Used by [[countWhere]]'s metadata-only counting.
    *
    * Null discipline: stats min/max EXCLUDE nulls, and a null
    * comparison is not TRUE, so every comparison term additionally
    * requires the file to have ZERO nulls in the column (exact via
    * the nulls feature's `coalesce(nulls_c, n_rows)` backfill — a
    * pre-evolution file is all-null and correctly fails the test).
    * AND needs both sides proven; OR either (a file all-matching one
    * disjunct all-matches the disjunction).
    */
  private[sources] def rewriteAll(e: Expression, tracked: Set[String],
      nullsTracked: Set[String]): Option[Column] = {
    def noNulls(a: String): Option[Column] =
      if (!nullsTracked(a)) None
      else Some(coalesce(mc(s"nulls_$a"), col("n_rows")) === 0L)
    def cmp(a: String, term: Column): Option[Column] =
      if (!tracked(a)) None else noNulls(a).map(term && _)
    e match {
      case Literal(true, org.apache.spark.sql.types.BooleanType) =>
        Some(lit(true))
      case And(l, r) =>
        for (a <- rewriteAll(l, tracked, nullsTracked);
          b <- rewriteAll(r, tracked, nullsTracked)) yield a && b
      case Or(l, r) =>
        (rewriteAll(l, tracked, nullsTracked).toSeq ++
          rewriteAll(r, tracked, nullsTracked).toSeq)
          .reduceOption(_ || _)
      case EqualTo(Attr(a), Lit(v)) =>
        cmp(a, minC(a) === litOf(v) && maxC(a) === litOf(v))
      case EqualTo(Lit(v), Attr(a)) =>
        cmp(a, minC(a) === litOf(v) && maxC(a) === litOf(v))
      case GreaterThan(Attr(a), Lit(v)) => cmp(a, minC(a) > litOf(v))
      case GreaterThan(Lit(v), Attr(a)) => cmp(a, maxC(a) < litOf(v))
      case GreaterThanOrEqual(Attr(a), Lit(v)) => cmp(a, minC(a) >= litOf(v))
      case GreaterThanOrEqual(Lit(v), Attr(a)) => cmp(a, maxC(a) <= litOf(v))
      case LessThan(Attr(a), Lit(v)) => cmp(a, maxC(a) < litOf(v))
      case LessThan(Lit(v), Attr(a)) => cmp(a, minC(a) > litOf(v))
      case LessThanOrEqual(Attr(a), Lit(v)) => cmp(a, maxC(a) <= litOf(v))
      case LessThanOrEqual(Lit(v), Attr(a)) => cmp(a, minC(a) >= litOf(v))
      case IsNull(Attr(a)) if nullsTracked(a) =>
        Some(coalesce(mc(s"nulls_$a"), col("n_rows")) === col("n_rows"))
      case IsNotNull(Attr(a)) if nullsTracked(a) =>
        Some(coalesce(mc(s"nulls_$a"), col("n_rows")) === 0L)
      case _ => None
    }
  }

}
