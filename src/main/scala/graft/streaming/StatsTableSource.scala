package graft.streaming

import graft.sources.{DataSkipping, ManifestFileIndex}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Offset for [[StatsTableSource]]: the SET of named manifest commits
  * this stream has observed. Commit names are `[A-Za-z0-9._-]+`
  * (enforced at append), so the JSON needs no escaping. Progress is
  * the set difference between two offsets — commits carry no global
  * order (two writers may land markers concurrently), and a set is
  * exactly the structure that makes replay deterministic anyway.
  */
private[streaming] case class StatsCommitOffset(commits: Seq[String]) extends Offset {
  // Sorted in json AND in equality terms: the engine compares
  // consecutive offsets by case-class equality to decide whether a
  // batch fires, and a filesystem listing carries no order contract.
  private val normalized: Seq[String] = commits.sorted
  override def json: String =
    normalized.map(c => "\"" + c + "\"").mkString("{\"commits\":[", ",", "]}")
  override def equals(o: Any): Boolean = o match {
    case s: StatsCommitOffset => normalized == s.commits.sorted
    case _ => false
  }
  override def hashCode(): Int = normalized.hashCode()
}

private[streaming] object StatsCommitOffset {
  def from(o: org.apache.spark.sql.connector.read.streaming.Offset): StatsCommitOffset =
    o match {
      case s: StatsCommitOffset => s
      case other => parse(other.json)
    }

  def parse(json: String): StatsCommitOffset = {
    val body = json.trim.stripPrefix("{\"commits\":[").stripSuffix("]}")
    if (body.isEmpty) StatsCommitOffset(Nil)
    else StatsCommitOffset(
      body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
  }
}

/** Streaming source FROM a [[DataSkipping]] stats table — the Delta
  * streaming-source analog, and the half that closes DLT's
  * `dlt.read_stream(table)` loop end-to-end: [[StatsTableSink]]
  * writes each micro-batch INTO the manifest as a named commit;
  * this source turns each named commit BACK into one micro-batch
  * for the next pipeline stage (reference: pos-dlt's silver tables
  * read the bronze Delta table as a stream,
  * `03_Bronze-to-Silver ETL.py:249-324`).
  *
  * Mechanics: a named commit is one manifest file whose rows describe
  * exactly the data files of that batch. `getOffset` LISTS the
  * manifest dir for marker names (one small listing — no data-file
  * listing, no footer read); `getBatch` reads the NEW markers' rows
  * (tiny parquet files) and serves the recorded (path, size, mtime)
  * statuses straight to the parquet reader through a
  * [[ManifestFileIndex]] — planning cost is O(batch files) after the
  * first batch, never O(table files).
  *
  * INITIAL SNAPSHOT (Delta-source semantics): a FRESH consumer's
  * first batch is the table's current committed snapshot — the plain
  * manifest parts (base write, unnamed appends, compaction folds)
  * plus the markers its first offset covers — so a stream started on
  * a long-lived, already-compacted table begins from current state
  * instead of silently skipping folded history. Unnamed appends
  * landing AFTER the first batch are not streamed (they carry no
  * commit identity); feed continuously-written tables through
  * [[StatsTableSink]]'s named commits.
  *
  * Exactly-once: offsets are commit-name sets persisted in the query
  * checkpoint; a restart replays the last uncommitted batch by
  * re-reading the same markers — same rows, same files. A marker
  * named by the replayed offset range that has VANISHED from the
  * manifest (expired by a compaction that outran this consumer)
  * fails LOUDLY rather than delivering an empty batch as success.
  * Marker lifetime is [[DataSkipping.compactTable]]'s `retentionMs`
  * (markers older than the window are dropped at compaction — the
  * Delta txn-retention analog that keeps offsets and manifest
  * listings bounded by the window's commit count instead of growing
  * forever); run compaction only when downstream streams are within
  * the retention window, and prefer caught-up streams — a surviving
  * marker is re-created zero-row, so an in-flight batch replayed
  * across a compaction reads empty (indistinguishable from a
  * legitimately empty commit). Row-level DML
  * ([[DataSkipping.deleteWhere]]/`updateWhere`, and every keyed MERGE
  * — `mergeInto` and its `mergeUpsert`/`mergeDelete` presets) is
  * gentler: a commit none of whose files were rewritten survives the
  * new generation VERBATIM and replays unchanged; only commits whose
  * files the DML op touched fold to zero-row. Rewrites themselves
  * are never re-streamed (the Delta skipChangeCommits analog —
  * already-delivered rows are not retracted).
  *
  * ADMISSION CONTROL ([[SupportsTriggerAvailableNow]]): the source
  * answers `latestOffset(start, limit)` directly, so
  * `Trigger.AvailableNow` runs the real multi-batch drain (marker
  * set pinned once at query start) instead of the lossy
  * single-batch fallback, and `maxCommitsPerTrigger` (default 128)
  * caps the named commits admitted per micro-batch — a backlogged
  * consumer catches up in bounded batches (bounded manifest reads,
  * bounded file-status lists) instead of one batch holding the whole
  * backlog.
  */
final class StatsTableSource(
    sqlContext: SQLContext, path: String,
    maxCommitsPerTrigger: Int = StatsTableSource.DefaultMaxCommitsPerTrigger,
    schemaTrackingLocation: Option[String] = None)
  extends Source with SupportsTriggerAvailableNow {

  require(maxCommitsPerTrigger > 0,
    s"maxCommitsPerTrigger must be positive, got $maxCommitsPerTrigger")

  private val spark =
    sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** SCHEMA TRACKING (the Delta `schemaTrackingLocation` analog) for
    * COLUMN-MAPPED tables: on first start the source pins the table's
    * current (visible physical schema, logical→physical mapping) into
    * a sidecar under the given location (normally a subdir of the
    * query checkpoint), atomically (write-aside + rename). Every
    * batch is then read under the PINNED physical schema and
    * projected to the PINNED logical names — a RENAME committed
    * mid-stream (or between restarts) does not disturb the consumer,
    * because column mapping's whole contract is that the physical
    * column identity is stable across renames; the stream keeps
    * serving the logical names it started with (a streaming query's
    * output schema cannot change mid-run anyway). A mid-stream
    * logical DROP also continues — drops are metadata-only, so
    * already-written rows still carry their values and post-drop
    * rows read as null under the pinned name, which is exactly what
    * the column now holds. Only a PHYSICAL removal or retype of a
    * tracked column (a post-drop rewrite/OPTIMIZE materializing the
    * drop, or an incompatible evolution) fails the next batch
    * LOUDLY — adopt the new table schema by restarting with a fresh
    * tracking location. Without a tracking location,
    * renamed/dropped tables are refused (Delta's rule): silently
    * serving physical names would be a correctness trap.
    */
  private val tracked: Option[(StructType, Map[String, String])] =
    schemaTrackingLocation.map(loc =>
      StatsTableSource.loadOrInitTracking(spark, path, loc))

  require(tracked.isDefined || !DataSkipping.hasNonIdentityMapping(spark, path),
    s"$path has renamed or dropped columns (column mapping) — streaming " +
      "reads of a mapped table need .option(\"schemaTrackingLocation\", " +
      "<dir>) (the Delta schemaTrackingLocation analog): the stream pins " +
      "the logical schema it starts with and keeps serving it across " +
      "renames; or read the table as a batch (readSkipping / " +
      "format(\"graft\"))")

  /** Output schema: the tracked LOGICAL view when tracking is on
    * (pinned at first start), else the table's physical schema
    * (identity-mapped tables only, per the require above).
    */
  override val schema: StructType = tracked match {
    case Some((phys, m)) =>
      val inverse = m.map(_.swap)
      StructType(phys.fields.map(f => f.copy(name = inverse(f.name))))
    case None => DataSkipping.tableSchema(spark, path)
  }

  /** PARTITION-CONVERTED tables: partition columns live only in
    * `col=value` directory names, never in file bytes — a flat
    * relation would serve them as silent NULLs on every streamed
    * row, so every batch routes through the same part-aware relation
    * the batch read path uses (`DataSkipping.partAwareRelation`).
    * The sidecar names are PHYSICAL — directory keys never change
    * (a rename moves only the logical map), so the set is immutable
    * for the table's lifetime and a column-mapped partitioned table
    * streams correctly under tracking too. Resolved ONCE here, not
    * per micro-batch.
    */
  private lazy val partCols: Seq[String] =
    DataSkipping.tablePartitionColumns(spark, path)

  /** Marker names currently committed (manifest files that are not
    * plain `part-` pieces). One listing of the manifest dir.
    */
  // ONE definition of the marker-name contract, shared with the
  // backlog-observability surface: lag must count exactly the set
  // the source drains
  private def markerNames(): Seq[String] =
    TableLag.liveCommitMarkers(spark, path)

  /** Marker set pinned by [[prepareForTriggerAvailableNow]]: under
    * `Trigger.AvailableNow` the run drains exactly the commits that
    * existed at query start, then terminates; commits landing mid-run
    * wait for the next run.
    */
  @volatile private var availableNowCeiling: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCeiling = Some(markerNames().toSet)

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxFiles(maxCommitsPerTrigger)

  /** Markers OBSERVED by this query but not yet admitted into an
    * offset. Accumulating them (instead of re-deriving from the live
    * listing each trigger) closes a capped-admission loss window: a
    * queued marker that compaction expires BEFORE it was admitted
    * would silently vanish from a live listing — from the
    * accumulator it is still admitted, and `getBatch`'s
    * vanished-marker check then fails LOUDLY, the same contract as
    * an expired already-admitted marker. The accumulator is
    * query-lifetime state: across a RESTART the protection is the
    * table's marker retention window itself (compaction must not
    * expire markers faster than consumers drain — the documented
    * `compactTable` retention contract).
    */
  @volatile private var pendingObserved: Set[String] = Set.empty

  /** Admission control: admit at most `limit` NEW named commits past
    * `startOffset` (a `ReadMaxFiles` counts commit markers here —
    * one marker = one logical commit). Deterministic order: new
    * marker names sorted, first N. The initial-snapshot batch (fresh
    * consumer, null start) is not capped below its first offset —
    * snapshot semantics need the whole current marker set in one
    * consistent batch. Offsets stay BOUNDED by the marker-retention
    * window: already-delivered names that have expired from the
    * manifest are pruned from the next offset (they can never be
    * re-delivered — a re-created marker is zero-row by contract).
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset)
      .map(StatsCommitOffset.from(_).commits.toSet).getOrElse(Set.empty[String])
    val live = markerNames().toSet
    pendingObserved =
      (pendingObserved ++ availableNowCeiling.getOrElse(live)) -- start
    val fresh = pendingObserved.toSeq.sorted
    val admitted = (Option(startOffset), limit) match {
      case (Some(_), mf: ReadMaxFiles) => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    StatsCommitOffset((start.filter(live) ++ admitted).toSeq.sorted)
  }

  override def reportLatestOffset(): OffsetV2 =
    StatsCommitOffset(markerNames().sorted)

  // Always an offset (possibly the empty set) once the table exists:
  // the INITIAL SNAPSHOT batch must fire even on a fully-compacted
  // table whose markers have all expired — `None` here would mean
  // "no data ever", and the engine would never call getBatch. Equal
  // consecutive offsets (sorted-set equality) trigger no new batch.
  // Retained for engines driving the plain v1 path; admission-control
  // engines call latestOffset above instead.
  override def getOffset: Option[Offset] =
    Some(StatsCommitOffset(markerNames()))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val done = start.map(o => StatsCommitOffset.from(o).commits.toSet)
      .getOrElse(Set.empty[String])
    val todo = StatsCommitOffset.from(end).commits.filterNot(done).sorted
    val dir = DataSkipping.manifestDir(spark, path)
    val markerPaths = todo.map { n =>
      val p = s"$dir/$n.parquet"
      // a named commit this consumer still owes downstream has been
      // EXPIRED from the manifest: delivering an empty batch here
      // would record it consumed with its rows silently lost — fail
      // loudly instead (the consumer lagged past the table's marker
      // retention; raise retentionMs or keep streams within it)
      require(fs.exists(new Path(p)) || start.isEmpty,
        s"stats-table stream at $path: commit marker '$n' is named by this " +
          "batch's offset range but no longer exists in the manifest — a " +
          "compaction expired it before this consumer caught up; its rows " +
          "cannot be replayed. Raise compactTable's retentionMs (marker " +
          "lifetime) or keep downstream streams within the retention window")
      p
    }.filter(p => fs.exists(new Path(p)))
    // fresh consumer: first batch = the current committed snapshot
    // (plain manifest parts) + the markers this offset covers
    val partPaths: Seq[String] =
      if (start.isDefined) Seq.empty
      else fs.listStatus(new Path(dir)).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .map(_.toString)
    val manifestPaths = partPaths ++ markerPaths
    val statuses: Seq[FileStatusWithMetadata] =
      if (manifestPaths.isEmpty) Seq.empty
      // pinned manifest read — served from the driver-side row cache
      // for small manifests (zero Spark jobs per micro-batch)
      else DataSkipping.readManifestPinned(spark, dir,
          manifestPaths.map(p => new Path(p).getName).toSet)
        .select("file", "file_size", "mod_time").collect().toSeq
        .map(r => FileStatusWithMetadata(new FileStatus(
          r.getLong(1), false, 1, 128L * 1024 * 1024, r.getLong(2),
          new Path(r.getString(0)))))
    // MicroBatchExecution requires an isStreaming=true frame; an
    // empty batch (all-new markers were zero-row) is a streaming
    // LocalRelation with no rows
    if (statuses.isEmpty)
      org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark,
        LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))
    else {
      tracked match {
        case None =>
          val relation = DataSkipping.partAwareRelation(
            spark, path, partCols, schema, statuses)
          // the relation orders partition columns last; project back
          // to the source's declared column order
          org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark,
            LogicalRelation(relation, isStreaming = true))
            .select(schema.fieldNames.toSeq.map(
              org.apache.spark.sql.functions.col): _*)
        case Some((phys, m)) =>
          // a PHYSICAL removal or retype that outran the pinned view
          // cannot be served (logical drops are fine — see class doc:
          // the physical column persists and post-drop rows are
          // genuinely null under it)
          val cur = DataSkipping.tableSchema(spark, path)
          val gone = phys.fields.filterNot(f =>
            cur.exists(c => c.name == f.name && c.dataType == f.dataType))
          require(gone.isEmpty,
            s"stats-table stream at $path: tracked physical column(s) " +
              s"${gone.map(_.name).mkString(", ")} were dropped or retyped " +
              "after this stream pinned its schema — restart the query with " +
              "a fresh schemaTrackingLocation to adopt the new table schema")
          val relation = DataSkipping.partAwareRelation(
            spark, path, partCols, phys, statuses)
          val inverse = m.map(_.swap)
          org.apache.spark.sql.graft.GraftSqlShims.ofRows(spark,
            LogicalRelation(relation, isStreaming = true))
            .select(phys.fields.toSeq.map(f =>
              org.apache.spark.sql.functions.col(f.name).as(inverse(f.name))): _*)
      }
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"StatsTableSource[$path]"
}

object StatsTableSource {
  /** Default cap on named commits per micro-batch: bounds marker
    * reads and file-status lists for a backlogged consumer while
    * letting ingest-cadence streams (a few commits per trigger)
    * drain in one batch.
    */
  val DefaultMaxCommitsPerTrigger = 128

  /** Tracked-schema sidecar name under the schemaTrackingLocation. */
  val TrackingFile = "graft_schema_track.txt"

  /** Load the pinned (visible physical schema, logical→physical
    * mapping) from the tracking location, initializing it from the
    * table's CURRENT state on first start. Two-line format: line 1 =
    * physical StructType json, line 2 = mapping json. Init is
    * write-aside + atomic rename, so a crash leaves either nothing
    * (next start re-inits identically — the table state can only
    * have advanced, and a fresh stream pins whatever it first sees)
    * or the complete file.
    */
  private[streaming] def loadOrInitTracking(
      spark: org.apache.spark.sql.SparkSession, path: String,
      loc: String): (StructType, Map[String, String]) = {
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(loc, TrackingFile)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val lines = txt.linesIterator.toSeq
      require(lines.size >= 2, s"corrupt schema-tracking file $p")
      (org.apache.spark.sql.types.DataType.fromJson(lines.head)
        .asInstanceOf[StructType],
        graft.sources.DataSkipping.constraintsFromJson(lines(1)))
    } else {
      val physAll = DataSkipping.tableSchema(spark, path)
      val mapping = DataSkipping.columnMapping(spark, path)
      val physNames = mapping.values.toSet
      // the VISIBLE physical fields (logically-dropped physical
      // columns are excluded from the pinned view for good)
      val visible = StructType(physAll.fields.filter(f => physNames(f.name)))
      fs.mkdirs(new Path(loc))
      val tmp = new Path(loc, s".$TrackingFile-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, false)
      try out.write((visible.json + "\n" +
        graft.sources.DataSkipping.constraintsToJson(mapping))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.NONE)
      (visible, mapping)
    }
  }

  /** The schema a tracked stream WOULD serve — the pinned logical
    * view if the tracking file exists, else the table's current
    * logical schema (what a first start would pin).
    */
  private[streaming] def peekSchema(
      spark: org.apache.spark.sql.SparkSession, path: String,
      loc: Option[String]): StructType = loc match {
    case None => DataSkipping.tableSchema(spark, path)
    case Some(l) =>
      val fs = new Path(l).getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(new Path(l, TrackingFile))) {
        val (phys, m) = loadOrInitTracking(spark, path, l)
        val inverse = m.map(_.swap)
        StructType(phys.fields.map(f => f.copy(name = inverse(f.name))))
      } else DataSkipping.tableLogicalSchema(spark, path)
  }
}

/** `spark.readStream.format(classOf[StatsTableSourceProvider].getName)
  * .option("path", table)[.option("maxCommitsPerTrigger", n)].load()`
  * — the registration glue.
  */
final class StatsTableSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-stats-table"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-stats-table source requires .option(\"path\", <stats table dir>)"))

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      StatsTableSource.peekSchema(sqlContext.sparkSession, path(parameters),
        parameters.get("schemaTrackingLocation"))))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new StatsTableSource(sqlContext, path(parameters),
      parameters.get("maxCommitsPerTrigger").map(_.toInt)
        .getOrElse(StatsTableSource.DefaultMaxCommitsPerTrigger),
      parameters.get("schemaTrackingLocation"))
}
