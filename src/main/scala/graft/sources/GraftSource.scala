package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft").load(path)` — the stats table as a
  * standard data source, so SQL views and DataFrame readers get the
  * manifest machinery WITHOUT calling [[DataSkipping]] directly:
  * filters arrive at PLANNING time through `PrunedFilteredScan`,
  * translate to the same predicate [[DataSkipping.readSkipping]]
  * prunes with (min/max, null counts, blooms — and the deletion
  * vector applies like on every read), and column pruning reaches
  * the parquet scan through the inner relation. Every source filter
  * is also RE-APPLIED by Spark above the scan (the `buildScan`
  * contract's safe default), so a translation gap can only lose
  * pruning, never correctness.
  *
  * `.load(path)` is LAZY about files: the manifest is consulted when
  * a query plans, so a view created over this source prunes per
  * QUERY, not per view creation — the property an eager
  * `readSkipping(...).createTempView` cannot have.
  */
class GraftSourceProvider extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {
  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft source needs a path: .format(\"graft\").load/save(path)"))

  /** Read options: `versionAsOf` (a retained version number) and
    * `timestampAsOf` (epoch millis or `java.sql.Timestamp`-parseable
    * text) time-travel the relation — the Delta reader options. The
    * instant resolves to a version ONCE at load time and the
    * relation stays pinned to it.
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version: Option[Long] = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map { ts =>
        val ms = ts.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(ts).getTime)
        DataSkipping.versionAtTime(spark, path, ms)
      })
    new GraftRelation(spark, path, version)
  }

  /** `df.write.format("graft").option("statsCols", "a,b").save(path)`
    * — the write side: Overwrite = [[DataSkipping.writeWithStats]]
    * (fresh table; `statsCols` required), Append =
    * [[DataSkipping.appendWithStats]] (O(batch) manifest growth,
    * optional `commitName` exactly-once marker, `mergeSchema`
    * evolution; `statsCols` defaults to the table's tracked set),
    * ErrorIfExists/Ignore with their standard meanings against an
    * existing stats dir.
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(s"$path/${DataSkipping.StatsDir}"))
    def statsColsOpt: Option[Seq[String]] = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def requiredStatsCols: Seq[String] = statsColsOpt.getOrElse(
      throw new IllegalArgumentException(
        "a fresh graft table needs .option(\"statsCols\", \"c1,c2\")"))
    // `df.write.format("graft").partitionBy("p")...` — DataFrameWriter
    // encodes partitioning for v1 sources under this option key (the
    // Delta writer reads the same one): fresh writes create a
    // hive-partitioned graft table; appends route by the table's OWN
    // partition columns, so a partitionBy on append must match them
    val partitionBy: Seq[String] = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .getOrElse(Nil)
    def requireAppendPartitioning(): Unit =
      DataSkipping.requireDeclaredPartitioning(spark, path, partitionBy,
        "format(\"graft\") append")
    def freshWrite(): Unit =
      DataSkipping.writeWithStats(data, path, requiredStatsCols,
        bloomCols = Nil,
        changeFeed = parameters.get("changeFeed").exists(_.toBoolean),
        partitionBy = partitionBy)
    import org.apache.spark.sql.SaveMode._
    mode match {
      case Overwrite => freshWrite()
      case Append if exists =>
        requireAppendPartitioning()
        // LOGICAL names: appendWithStats' statsCols contract is
        // logical (translateBatchForAppend maps them physical) — the
        // PHYSICAL tracked set would mis-translate after a rename
        // whose old physical name collides with a current logical one
        val cols = statsColsOpt.getOrElse(
          DataSkipping.tableStatsColsLogical(spark, path))
        DataSkipping.appendWithStats(data, path, cols,
          commitName = parameters.get("commitName"),
          mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean))
      case Append => freshWrite()
      case ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"$path already exists (SaveMode.ErrorIfExists)")
      case ErrorIfExists => freshWrite()
      case Ignore if exists => ()
      case Ignore => freshWrite()
    }
    new GraftRelation(spark, path)
  }

  /** `df.writeStream.format("graft").option("statsCols", "a,b")
    * .option("checkpointLocation", ck).start(path)` — the streaming
    * WRITE side (the `writeStream.format("delta")` analog), closing
    * the stream-in/stream-out loop around the stats-table format:
    * each micro-batch appends through
    * [[DataSkipping.appendWithStats]] under a NAMED commit marker
    * `commit-<writerId>-batch<id>`, so foreachBatch-style replays
    * are exactly-once to manifest readers (the
    * [[graft.streaming.StatsTableSink]] semantics behind the
    * standard API). The writer identity is a hash of the qualified
    * checkpoint location (stable across restarts, distinct between
    * streams into one table) or an explicit `writerId` option. A
    * fresh target bootstraps from the first batch's schema
    * (`statsCols` required); an existing table takes its tracked
    * set. Append output mode only — a stats table has no
    * complete/update semantics.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"format(\"graft\") streaming writes support Append mode only, got $outputMode")
    // partitionBy on a streaming write: a FRESH target bootstraps as
    // a hive-partitioned graft table; an existing target must match
    new GraftStreamSink(sqlContext.sparkSession, pathOf(parameters), parameters,
      partitionColumns)
  }

  // --- streaming READ side: spark.readStream.format("graft") -------
  //
  // One format string for all four surfaces (read / write /
  // readStream / writeStream — the Delta shape). Default is the
  // append stream of committed rows ([[graft.streaming
  // .StatsTableSource]]; bounded admission via
  // `maxCommitsPerTrigger`); `.option("readChangeFeed", "true")`
  // switches to the row-level change feed ([[graft.streaming
  // .ChangeFeedSource]]; `startingVersion`, `maxVersionsPerTrigger`)
  // — exactly the Delta CDF reader option. The dedicated short names
  // (`graft-stats-table`, `graft-change-feed`) stay registered for
  // explicit use; this delegation only closes the API loop.

  private def readsChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.trim.equalsIgnoreCase("true"))

  private def streamDelegate(parameters: Map[String, String]): StreamSourceProvider =
    if (readsChangeFeed(parameters)) new graft.streaming.ChangeFeedSourceProvider
    else new graft.streaming.StatsTableSourceProvider

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      streamDelegate(parameters)
        .sourceSchema(sqlContext, schema, providerName, parameters)._2)

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    streamDelegate(parameters)
      .createSource(sqlContext, metadataPath, schema, providerName, parameters)
}

private[sources] class GraftStreamSink(spark: SparkSession, path: String,
    parameters: Map[String, String], partitionBy: Seq[String] = Nil)
  extends org.apache.spark.sql.execution.streaming.Sink {

  private val writerId: String = parameters.get("writerId").getOrElse {
    val ck = parameters.getOrElse("checkpointLocation",
      throw new IllegalArgumentException(
        "graft streaming sink needs .option(\"checkpointLocation\", ...) (or an " +
          "explicit writerId option) — the writer identity that keeps replayed " +
          "batches exactly-once is derived from it"))
    val p = new Path(ck)
    val qualified = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  // A table's partition columns and tracked stats set are immutable
  // for the sink's lifetime (StatsTableSource resolves partCols once
  // for the same reason), so ensureTable + the partitionBy-vs-layout
  // check + the statsCols sidecar read run ONCE on the first batch —
  // on object stores re-running them per micro-batch is several
  // extra listings/reads per trigger for answers that cannot change.
  @volatile private var resolvedStatsCols: Seq[String] = null

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.DatasetBridge.asBatch(data)
    if (resolvedStatsCols == null) {
      val cols = statsColsOf(batch)
      graft.streaming.StatsTableSink.ensureTable(spark, path, batch.schema,
        cols, partitionBy)
      DataSkipping.requireDeclaredPartitioning(spark, path, partitionBy,
        "format(\"graft\") streaming write")
      resolvedStatsCols = cols
    }
    DataSkipping.appendWithStats(batch, path, resolvedStatsCols,
      commitName = Some(s"commit-$writerId-batch$batchId"))
  }

  private def statsColsOf(batch: org.apache.spark.sql.DataFrame): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new Path(DataSkipping.manifestDir(spark, path),
      DataSkipping.SchemaFile))
    val opt = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // LOGICAL names, like the batch append/insert paths:
    // appendWithStats translates logical→physical itself — the
    // PHYSICAL tracked set would mis-translate after a rename whose
    // old physical name collides with a current logical one
    if (exists) opt.getOrElse(DataSkipping.tableStatsColsLogical(spark, path))
    else opt.getOrElse(throw new IllegalArgumentException(
      "a fresh graft streaming target needs .option(\"statsCols\", \"c1,c2\")"))
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

private[sources] class GraftRelation(spark: SparkSession,
    private[sources] val path: String,
    private[sources] val version: Option[Long] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  override def sqlContext: SQLContext = spark.sqlContext

  /** `INSERT INTO`/`INSERT OVERWRITE` a catalog-registered graft
    * table (Spark routes V1 inserts here; the batch arrives already
    * cast and re-ordered to [[schema]], the table's LOGICAL view).
    * INTO = one manifest append generation; OVERWRITE = a fresh
    * table keeping the tracked stats set and the partition layout —
    * the Delta writer's semantics for the same statements.
    */
  /** Output columns the INSERT filled with a NULL LITERAL because
    * the statement's column list OMITTED them (Spark's V1 insert
    * resolution projects `CAST(NULL AS t) AS c` for every missing
    * column). Plan inspection only — no evaluation — so user DATA
    * that happens to be null is never mistaken for omission. An
    * EXPLICITLY WRITTEN `NULL` literal, however, is indistinguishable
    * from omission here (the V1 insert resolution produces the same
    * projection for both), so it is likewise computed/assigned —
    * the engine never stores NULL in an always-generated column.
    * (Delta refuses an explicit NULL into GENERATED ALWAYS identity;
    * this surface cannot tell the two apart and prefers keeping the
    * column-list omission — the porting user's main path — working.)
    */
  private def nullLiteralColumns(
      data: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Literal}
    def isNullLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case Literal(null, _) => true
        case c: Cast => isNullLit(c.child)
        case _ => false
      }
    data.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.collect {
          case a: Alias if isNullLit(a.child) => a.name
        }.toSet
      case _ => Set.empty
    }
  }

  override def insert(data0: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit = {
    require(version.isEmpty,
      "cannot INSERT into a time-travel (versionAsOf/timestampAsOf) relation")
    // `INSERT INTO n (a, b) SELECT …` on a table with GENERATED or
    // IDENTITY columns: the omitted columns arrive as null literals;
    // DROP them so the append hooks compute/assign (the Delta
    // behavior) — appendWithStats refuses a SUPPLIED identity column
    // and CHECK-verifies a supplied generated one, so only genuine
    // omissions take this path
    val data = {
      val auto = (DataSkipping.tableGeneratedColumns(spark, path).keySet ++
        DataSkipping.tableIdentityColumns(spark, path).keySet)
        .intersect(nullLiteralColumns(data0))
      if (auto.isEmpty || overwrite) data0 else data0.drop(auto.toSeq: _*)
    }
    if (overwrite) {
      // LOGICAL names throughout: the batch arrives under the
      // relation's logical schema, and the overwrite creates a FRESH
      // table whose physical names ARE those logical names — physical
      // tracked names from the old mapping would fail (or worse,
      // silently diverge) after a rename
      val partCols = DataSkipping.tablePartitionColumnsLogical(spark, path)
      val statsCols = DataSkipping.tableStatsColsLogical(spark, path)
        .filterNot(partCols.contains)
      DataSkipping.writeWithStats(data, path, statsCols,
        bloomCols = Nil, partitionBy = partCols)
    } else {
      // LOGICAL names, like the overwrite branch: appendWithStats
      // translates logical→physical itself (see its statsCols
      // contract) — passing the physical tracked set would
      // mis-translate after renames
      DataSkipping.appendWithStats(data, path,
        DataSkipping.tableStatsColsLogical(spark, path))
    }
  }

  // the LOGICAL view: renames/drops apply; filters arrive in logical
  // names and readSkipping translates them for pruning. A pinned
  // version reads under ITS OWN schema and mapping.
  override val schema: StructType = version match {
    case Some(v) => DataSkipping.tableLogicalSchemaAt(spark, path, v)
    case None => DataSkipping.tableLogicalSchema(spark, path)
  }

  // rows come back as the inner DataFrame's InternalRows — no
  // Row conversion layer on top of an already-planned scan
  override def needConversion: Boolean = false

  /** Manifest-backed relation statistics (live file bytes,
    * DV-discounted — the `DESCRIBE DETAIL` number): without this the
    * V1 default is `spark.sql.defaultSizeInBytes` (effectively ∞),
    * so a 1 MB graft dim joined BY NAME (`spark.table("dim")
    * .join(fact, …)` — the first join every porter writes) plans a
    * sort-merge join shuffling BOTH sides where a broadcast fits.
    * Lazy: computed once per relation instance, only when the
    * planner asks; a fresh resolution (new query over the name/path)
    * re-reads the manifest, so the size tracks append/DELETE
    * generations. The internal read paths were always immune
    * ([[DataSkipping]]'s `ManifestFileIndex` serves real file sizes)
    * — this closes the same gap for the catalog/`format("graft")`
    * surface.
    */
  override lazy val sizeInBytes: Long =
    try DataSkipping.tableSizeInBytes(spark, path, version)
    catch {
      // never fail PLANNING over statistics — fall back to the
      // conservative default (no auto-broadcast, correct plans)
      case scala.util.control.NonFatal(_) => super.sizeInBytes
    }

  /** Source filters → one Column the skip planner understands; None
    * for a filter family the translation doesn't cover (Spark still
    * applies it above the scan — only pruning is lost).
    */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) if vs.nonEmpty => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case And(l, r) =>
      // a one-sided And still restricts: x AND unknown -> x
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, None) => one
        case (None, one) => one
      }
    case Or(l, r) =>
      // an untranslatable disjunct could match anywhere: drop the Or
      for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(EqualTo(a, v)) => Some(col(a) =!= lit(v))
    case _ => None
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    // report everything unhandled: Spark re-applies all filters above
    // the scan, so file-level pruning can never change results even
    // if a translated term were subtly off
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val pred = filters.flatMap(toColumn(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    val scan = version match {
      case Some(v) => DataSkipping.readSkippingAt(spark, path, v, pred)
      case None => DataSkipping.readSkipping(spark, path, pred)
    }
    val projected =
      if (requiredColumns.isEmpty)
        // COUNT(*)-style scans need a row per row, no columns
        scan.select(lit(1))
      else scan.select(requiredColumns.map(col).toSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
