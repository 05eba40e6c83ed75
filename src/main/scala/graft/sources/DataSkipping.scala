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

/** File-level data skipping — the Delta-Lake-style min/max manifest,
  * re-expressed over plain parquet (reference: pos-dlt stores its
  * tables as Delta, whose transaction log carries per-file column
  * stats used to prune scans).
  *
  * Parquet footers already hold row-group stats, but the engine must
  * OPEN every footer to use them — at 100 TB that is millions of
  * remote reads before the first data byte. A manifest is one
  * KB-to-MB-sized sidecar holding per-file min/max: planning-time
  * pruning selects the file subset BEFORE any footer is touched, and
  * the original predicate is re-applied to the surviving rows so
  * pruning can only ever remove whole files that provably contain no
  * match — never change results.
  *
  * The manifest lives under `<path>/_graft_stats`: the leading
  * underscore keeps it invisible to plain `spark.read.parquet(path)`
  * (Hadoop's default path filter hides `_`/`.` entries), so readers
  * that don't know about skipping see exactly the same table.
  *
  * MANIFEST GENERATIONS (the Delta-log-checkpoint analog): the stats
  * dir holds versioned generation dirs `v0, v1, ...`, each a COMPLETE
  * manifest snapshot — part files, sidecars, named commit markers —
  * made visible by an atomic `_COMMIT` marker file created LAST.
  * Readers resolve the highest committed generation and plan against
  * it; [[compactTable]] builds the next generation offline (invisible
  * until its marker lands) and commits with ONE file create — there
  * is no delete-then-rename window and therefore no repair path. A
  * crash mid-build leaves an uncommitted generation dir that readers
  * never see, reclaimed by the next vacuum. Appends land INSIDE the
  * current generation (the manifest gains rows, the generation does
  * not change — generations are compaction/migration events, exactly
  * like Delta checkpoints vs commits). A committed generation is the
  * only layout read or written: older layouts (flat manifests
  * directly under `_graft_stats`, torn pre-generation swaps,
  * manifests without the manifest-schema sidecar or null counts)
  * are refused by name, never migrated ([[refuseLegacyLayout]]).
  *
  * RETENTION (the Delta-VACUUM analog): maintenance never deletes a
  * file a concurrent reader could still be scanning. Compaction
  * records every file it replaces (and the generation it supersedes)
  * in the new generation's removal log with a timestamp;
  * [[vacuumTable]] deletes a recorded file only `retentionMs` after
  * its removal, and unrecorded debris (crashed-append orphans, stale
  * staging dirs) only `retentionMs` after its last modification. A
  * reader that planned against generation N keeps every data file it
  * resolved for at least the retention window after a concurrent
  * compaction commits N+1 — at 100 TB, long-running queries
  * overlapping maintenance are the NORMAL case, which is exactly why
  * Delta's VACUUM defaults to 7 days. Pass `retentionMs = 0` only
  * when no reader can be in flight (tests, exclusive maintenance
  * windows).
  *
  * SCHEMA EVOLUTION on append (`mergeSchema = true`, the Auto-Loader
  * addNewColumns analog at the storage layer): a batch may carry NEW
  * columns. The widened schema sidecars are written FIRST (every
  * crash point leaves a consistently-readable table), old data files
  * read through the widened schema yield nulls for the new columns,
  * and old MANIFEST rows read through the widened manifest schema
  * yield null min/max/null-counts — which the rewriter interprets
  * exactly right: null min/max = "no non-null values in this file"
  * prunes value predicates, and `coalesce(nulls_c, n_rows)` backfills
  * the null count so `IS NULL` keeps pre-evolution files and
  * `IS NOT NULL` prunes them.
  *
  * Predicate support (the skippable subset): =, <, <=, >, >=, IN,
  * ASCII startsWith, and — on manifests carrying per-file null
  * counts (the "nulls" feature, Delta's nullCount analog; every
  * manifest carries it) — IS NULL /
  * IS NOT NULL, composed with AND/OR. Anything else is handled
  * CONSERVATIVELY — an unsupported conjunct prunes nothing, an
  * unsupported disjunct disables pruning of its OR — so correctness
  * never depends on the rewriter's coverage. Null semantics fall out
  * of SQL three-valued logic: an all-null file has null min/max, the
  * skip predicate evaluates null, and the file is (correctly)
  * dropped for any value comparison.
  */
/** A clause of the full conditional MERGE ([[DataSkipping.mergeInto]]
  * — the Delta `whenMatched`/`whenNotMatched`/`whenNotMatchedBySource`
  * builder's clause model). Clause conditions and UPDATE SET values
  * reference the target row as `t.<col>` and (for matched clauses)
  * the pairing source row as `s.<col>`; insert conditions see only
  * `s.<col>`, by-source clauses only `t.<col>`. First matching clause
  * wins within each family; a row matching no clause carries
  * unchanged.
  */
sealed trait MergeClause
object MergeClause {
  case class MatchedUpdate(condition: Option[Column], set: Map[String, Column]) extends MergeClause
  case class MatchedDelete(condition: Option[Column]) extends MergeClause
  case class NotMatchedInsert(condition: Option[Column]) extends MergeClause
  case class BySourceUpdate(condition: Option[Column], set: Map[String, Column]) extends MergeClause
  case class BySourceDelete(condition: Option[Column]) extends MergeClause
}

/** A generation commit lost an optimistic race against a concurrent
  * writer (another maintenance/DML op committed the version number
  * first, or a concurrent append landed mid-build). The losing op is
  * safe to RE-RUN against the new table state — every op's inputs
  * are declarative (predicates, key sets, target versions), so
  * re-execution is exactly the write-serializable ordering Delta's
  * optimistic concurrency produces. [[DataSkipping]]'s entry points
  * retry internally ([[DataSkipping.ConcurrentRetries]] attempts);
  * this surfaces only under pathological sustained contention.
  */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

object DataSkipping extends org.apache.spark.internal.Logging
    with ManifestCore
    with StorageWrite
    with StorageCommit
    with StorageDml
    with StorageDdl
    with StorageRead
    with StorageCluster {

  val StatsDir = "_graft_stats"
  val SchemaFile = "_table_schema.json"
  val StatsColsFile = "_stats_cols.txt"
  val FeaturesFile = "_manifest_features.txt"
  val ManifestSchemaFile = "_manifest_schema.json"
  val CommitFile = "_COMMIT"
  val RemovedFile = "_removed.txt"

  /** Per-generation operation record (`_op.json`: operation name +
    * entry timestamp) — the DESCRIBE HISTORY analog's storage. Absent
    * on generations written before this sidecar existed (and on a
    * `writeWithStats` v0, which IS the WRITE operation).
    */
  val OpFile = "_op.json"

  /** Per-generation idempotent-writer sidecar (`_txn.json`: a JSON
    * map of application id → last applied transaction version — the
    * Delta `txnAppId`/`txnVersion` analog). Written by DML ops passed
    * a `txn` stamp and CARRIED FORWARD verbatim into every later
    * generation (compaction, restore, unrelated DML), so the
    * watermark survives vacuum of the generation that wrote it. An
    * at-least-once writer (foreachBatch's crash window: its DML
    * committed but its stream offset didn't) checks
    * [[txnVersion]] before re-applying a batch — replaying an
    * already-stamped version is a detectable no-op, not a silent
    * double-apply.
    */
  val TxnFile = "_txn.json"

  /** Manifest feature flag: this table records a CHANGE DATA FEED
    * (the Delta `enableChangeDataFeed` table-property analog). See
    * [[writeWithStats]] / [[readChangeFeed]].
    */
  val CdfFeature = "changefeed"

  /** Manifest feature flag + sidecar for a PARTITION-CONVERTED table
    * (Delta's `CONVERT TO DELTA ... PARTITIONED BY` analog): the data
    * files live in Hive-style `col=value` subdirectories and do NOT
    * physically contain the partition columns — values are derived
    * from directory names at planning time and served through the
    * relation's partition schema (never read from data bytes). The
    * sidecar lists the partition column names in directory-nesting
    * order; their types live in the ordinary schema sidecar. The
    * feature flag makes pre-partitioning readers refuse loudly
    * instead of returning all-null partition columns.
    */
  val PartitionColsFile = "_partition_cols.txt"
  val PartitionedFeature = "partitioned"

  /** Per-generation clustering-state sidecar (`_clustered.txt`): the
    * liquid-clustering analog. First line = the table's clustering
    * spec (`<curve>:<zcol1>,<zcol2>[,...]`, physical names); each
    * further line = the NAME of a data file whose rows were written
    * in clustered order. `OPTIMIZE ZORDER` (full rewrite) sets it;
    * [[optimizeIncremental]] reclusters only manifest files NOT
    * listed here, then extends the list. DML rewrites and appends
    * simply produce files that are not on the list (their carried
    * sidecar names the replaced file, which is no longer in the
    * manifest — stale names are pruned at the next incremental run,
    * and UUID file names make a stale-name collision impossible), so
    * "unclustered backlog" is always derivable from (manifest files)
    * minus (this list) with no bookkeeping on the write path.
    */
  val ClusteredFile = "_clustered.txt"

  /** Per-generation vector-index model sidecar
    * ([[VectorIndex]]): the frozen centroids/codebooks travel INSIDE
    * the generation, so a rebuild's overwrite swaps (model, codes) as
    * ONE atomic commit — a concurrent search can never pair new codes
    * with an old model — and every DML/OPTIMIZE/checkpoint generation
    * carries the model forward like the declarations. Versioned with
    * the data: `metaAt(v)` + `readSkippingAt(v)` is a consistent
    * index snapshot (index time travel).
    */
  val VIndexFile = "_vindex.txt"

  /** Per-generation change-data subdir (`v<N>/_change_data`): the
    * leading underscore hides it from the generation's own parquet
    * manifest read, and living INSIDE the generation dir makes it
    * atomic with the `_COMMIT` marker and reclaimed by the same
    * vacuum that reclaims the generation — the CDF availability
    * window IS the time-travel retention window, exactly Delta's
    * CDF-vs-VACUUM coupling.
    */
  val ChangeDataDir = "_change_data"
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** DELETION VECTORS (the Delta deletion-vector analog — merge-on-
    * read DELETE/UPDATE): a parquet dir inside the generation holding
    * `(file, row_index)` positions that are DELETED from otherwise-
    * untouched data files. [[deleteWhereDV]]/[[updateWhereDV]] write
    * O(changed rows) instead of rewriting files — at 100 TB, deleting
    * 0.1% of rows costs the DV rows, not a copy of every touched
    * file. Every read and every DML-internal scan applies the DV as a
    * BROADCAST-hash LEFT ANTI join on (`_metadata.file_path`,
    * `_metadata.row_index`) — O(1) probe per row, no shuffle of the
    * data side; file stats stay valid as UPPER bounds (a DV only
    * removes rows, so min/max/nulls pruning can only over-keep, never
    * over-prune). Generations CARRY the DV forward minus rewritten/
    * removed files; [[compactTable]] MATERIALIZES it (rewrites files
    * without the dead rows and clears the vector) — the broadcast's
    * size bound is therefore the deletes between compactions, the
    * same maintenance contract Delta's OPTIMIZE has. Living inside
    * the generation dir makes the vector atomic with `_COMMIT`,
    * time-travel-consistent (each version reads ITS OWN vector) and
    * vacuumed with its generation.
    */
  val DvDir = "_dv"

  /** CHECK constraints (the Delta `ALTER TABLE ADD CONSTRAINT`
    * analog): a JSON sidecar mapping constraint name → SQL boolean
    * expression, carried forward by every generation like [[TxnFile]].
    * SQL CHECK semantics — a row violates only when the expression is
    * FALSE (NULL passes). Enforcement happens at the single choke
    * point every new row passes through: the STAGED files of an
    * append or DML rewrite are validated before the move-in/commit,
    * so a violating batch aborts with the table untouched (only
    * inert staging debris remains, reclaimed by vacuum) and costs
    * one extra read of the staged batch — O(batch), never O(table).
    * [[addCheckConstraint]] validates existing rows first (or
    * `validate = false` registers a monitoring-only constraint for
    * staged rollout — [[constraintViolations]] reports its live
    * counts). A RESTORE carries the CURRENT constraint set and does
    * NOT re-validate the restored rows (validation pins the state at
    * add time; auditing a restore is [[constraintViolations]]'s job).
    */
  val ConstraintsFile = "_constraints.json"

  /** GENERATED COLUMNS (`_generated.json`, the Delta
    * `GENERATED ALWAYS AS (expr)` analog): logical column name →
    * generation SQL expression. Two behaviors compose:
    *
    *  - COMPUTE on append: a batch that OMITS a generated column
    *    gets it computed from the stored expression before any
    *    schema check — the writer convenience that makes derived
    *    pruning columns (event_day from a timestamp) maintenance-
    *    free. With min/max file stats on the generated column this
    *    is the graft equivalent of Delta's partition pruning via
    *    generation expressions: filter the derived column, prune
    *    files, zero writer discipline required.
    *  - ENFORCE everywhere else: registration also installs the
    *    paired CHECK constraint `_gen_<col>` asserting
    *    `col <=> (expr)`, so a batch (or DML rewrite) that SUPPLIES
    *    the column with non-conforming values aborts at the same
    *    staged-write choke point every constraint uses — the table
    *    can never hold a row whose generated column disagrees with
    *    its expression (validated back to add time, like Delta).
    *
    * Expressions are stored in LOGICAL names (the compute runs on
    * the logical batch before any column-mapping translation); the
    * paired constraint goes through [[addCheckConstraint]]'s
    * physical binding, so enforcement survives RENAME COLUMN.
    */
  val GeneratedFile = "_generated.json"

  /** IDENTITY COLUMNS (`_identity.json`, the Delta `GENERATED ALWAYS
    * AS IDENTITY` analog): logical column name → `"start,step,next"`
    * where `next` is the high-water mark — the next id this table
    * will issue. Appends must OMIT the column (GENERATED ALWAYS);
    * the engine assigns each batch row a fresh id from the
    * arithmetic sequence `start + k*step` and advances `next` by
    * `step * batchRows` SIDECAR-FIRST, so a crash between the
    * watermark advance and the data move burns ids (a gap — legal
    * for identity, Delta's contract too) but can never issue the
    * same id twice. Ids are allocated densely per batch with NO
    * global sort and NO window: `monotonically_increasing_id`
    * decomposes into (partition, row-in-partition), per-partition
    * counts (O(tasks) driver rows, the partition-count pattern) turn
    * into exclusive prefix offsets broadcast-joined back, and the id
    * is pure arithmetic — codegen the whole way. The batch is pinned
    * (persist) across the count and write passes so a recomputation
    * cannot re-deal rows across partitions between them.
    *
    * DML keeps stored ids verbatim (rewrites carry rows; MERGE
    * sources carry the full schema and thus supply ids — the
    * caller's contract, like Delta's `GENERATED BY DEFAULT` inserts);
    * UPDATE refuses to assign an identity column. The sidecar rides
    * DML generations and clones forward; RESTORE carries the CURRENT
    * watermark (content rewinds, issued ids are never re-issued —
    * the same never-rewind rule as `_txn.json`).
    *
    * RETRIED WRITERS: because the watermark advances sidecar-first, a
    * failing or engine-retried append burns a batch-sized id gap on
    * EVERY retry — unless the append carries a `commitName`, whose
    * early idempotency short-circuit (already-committed name → no-op)
    * runs BEFORE the identity hook. Streaming/foreachBatch writers
    * into identity tables should therefore always pass a commitName
    * derived from the batch id; anonymous retries are legal (gaps
    * are Delta's identity contract too) but waste id space fast.
    */
  val IdentityFile = "_identity.json"

  /** Default reader-safety window (Delta VACUUM's default): nothing a
    * manifest ever claimed is deleted sooner than this after being
    * replaced.
    */
  val RetentionDefaultMs: Long = 7L * 24 * 60 * 60 * 1000
  private[sources] val SwapPrefix = ".stats-swap-"
  private[sources] val GenRe = "^v(\\d+)$".r

  /** The generation version a manifest dir path names (None for the
    * bare stats dir of a path with no committed generation).
    */
  private[sources] def obsVersionOf(dir: String): Option[Long] =
    GenRe.findFirstMatchIn(new Path(dir).getName).map(_.group(1).toLong)

}


/** A [[FileIndex]] served entirely from manifest rows: the statuses
  * (path, size, mtime) were recorded at write time, so the scan
  * plans with NO filesystem listing and no footer read — the role
  * Delta's log snapshot plays for its reader. Unpartitioned (the
  * manifest's min/max pruning replaces partition pruning); the
  * already-pruned file set is returned for any filter combination.
  */
private[graft] class ManifestFileIndex(
    root: Path, files: Seq[FileStatusWithMetadata],
    partSchema: StructType = new StructType(),
    partitioned: Seq[(InternalRow, Seq[FileStatusWithMetadata])] = Nil)
    extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  /** Unpartitioned: one synthetic directory holding every manifest-
    * kept file. Partitioned: one directory per distinct partition
    * tuple, and the partition filters ARE applied here — Spark's
    * FileSourceStrategy removes partition-column conjuncts from the
    * post-scan filter on the assumption that listing-time pruning
    * honored them, so ignoring them would return wrong rows, not
    * just extra files. Binding is by column name against the
    * partition schema (the filters arrive resolved against the
    * relation's own partition attributes).
    */
  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partSchema.isEmpty) Seq(PartitionDirectory(InternalRow.empty, files))
    else {
      val dirs = partitioned.map { case (row, fs) => PartitionDirectory(row, fs) }
      if (partitionFilters.isEmpty) dirs
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partSchema.fieldNames.indexWhere(_.equalsIgnoreCase(a.name))
            require(i >= 0, s"partition filter references ${a.name}, not a " +
              s"partition column of ${partSchema.fieldNames.mkString(",")}")
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, partSchema(i).dataType, partSchema(i).nullable)
        }
        val pred = org.apache.spark.sql.catalyst.expressions.Predicate
          .createInterpreted(bound)
        dirs.filter(d => pred.eval(d.values))
      }
    }

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override val sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = partSchema
}

/** LAZY, predicate-aware manifest file index — the Delta
  * TahoeFileIndex shape behind [[DataSkipping.lazyScanPlan]]: the
  * kept-file set is NOT baked at plan construction; `listFiles`
  * receives the query's own (resolved) partition and data filters
  * from `FileSourceScanExec` and evaluates the manifest under them —
  * one distributed filter over O(files) manifest rows, zero listings,
  * zero footer reads, O(kept) driver memory. Nested struct-path
  * predicates, null counts, blooms and generated-column derivation
  * all apply because the evaluation IS [[DataSkipping]]'s skip
  * planner. Partition filters are additionally applied EXACTLY to the
  * listed directories (FileSourceStrategy trusts listing-time
  * pruning), and Spark's own dynamic partition pruning re-filters the
  * listed directories at runtime — which is what makes name-addressed
  * fact⋈dim joins prune files automatically on this surface.
  *
  * Pinned to one manifest generation (`dir`) at construction: a query
  * resolves the snapshot once and every `listFiles` call serves it,
  * so concurrent compaction/DML/overwrite can never tear a plan
  * (replaced files stay on disk for the retention window).
  */
private[graft] class SkippingFileIndex(
    spark: SparkSession, path: String, dir: String,
    schema: StructType, partCols: Seq[String],
    sizeHint: Long) extends FileIndex {

  private val root = new Path(path)
  private val partSchemaV =
    StructType(partCols.map(c => schema(schema.fieldIndex(c))))

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType = partSchemaV

  override def refresh(): Unit = ()

  /** Manifest-backed live bytes (DV-discounted) — no listing job;
    * drives broadcast planning exactly like `DESCRIBE DETAIL`.
    */
  override val sizeInBytes: Long = sizeHint

  override def inputFiles: Array[String] =
    DataSkipping.lazySkipStatuses(spark, path, dir, Nil)
      .map(_.getPath.toString).toArray

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val statuses = DataSkipping.lazySkipStatuses(spark, path, dir,
      partitionFilters ++ dataFilters)
    if (partCols.isEmpty) Seq(PartitionDirectory(InternalRow.empty, statuses))
    else DataSkipping.manifestIndexFor(spark, path, partCols, partSchemaV,
        statuses)
      .listFiles(partitionFilters, dataFilters)
  }
}

