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

/** Declared-column DDL: GENERATED columns (+ the session-timezone poison gate), IDENTITY columns, and the column MAPPING (RENAME/DROP under stable physical names).
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait StorageDdl { this: DataSkipping.type =>

  // -----------------------------------------------------------------
  // Generated columns (see [[GeneratedFile]])
  // -----------------------------------------------------------------

  /** Reserved sidecar key recording the SESSION TIMEZONE the stored
    * generated values were computed under. Temporal generation
    * expressions (`to_date(ts)`, `date_trunc`, casts over
    * TIMESTAMP) evaluate through the session timezone, so read-side
    * bound derivation ([[withGeneratedPruning]]) is only sound when
    * the reader evaluates endpoints under the SAME timezone the
    * writer stored values under — a mismatched reader would derive
    * bounds shifted by the offset and silently drop matching files.
    * Recorded at declaration; an append under a DIFFERENT session
    * timezone poisons it to [[GenTzMixed]], permanently disabling
    * temporal derivation for the table (stored values now mix
    * epochs — no single timezone is right). No record → temporal
    * derivation stays off (conservative).
    */
  private[sources] val GenTzKey = "__session_tz__"
  private[sources] val GenTzMixed = "__mixed__"

  private[sources] def generatedIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Map[String, String] =
    readSidecarIn(fs, dir, GeneratedFile)
      .map(constraintsFromJson).getOrElse(Map.empty)
      .removed(GenTzKey)

  /** The recorded generation timezone, if any (see [[GenTzKey]]). */
  private[sources] def generatedTzIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[String] =
    readSidecarIn(fs, dir, GeneratedFile)
      .map(constraintsFromJson).getOrElse(Map.empty)
      .get(GenTzKey)

  private[sources] def sessionTz(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  /** Append hook: stored generated values about to be computed (or
    * checked) under the CURRENT session timezone — if that differs
    * from the recorded one, poison the record so read-side temporal
    * derivation turns off for good rather than pruning wrong.
    */
  private[sources] def poisonGeneratedTzOnDrift(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit =
    generatedTzIn(fs, dir) match {
      case Some(tz) if tz != GenTzMixed && tz != sessionTz(spark) =>
        writeGeneratedSidecar(spark, dir,
          generatedIn(fs, dir), Some(GenTzMixed))
      case _ => ()
    }

  /** The table's generated columns (name → generation SQL). */
  def tableGeneratedColumns(spark: SparkSession, path: String): Map[String, String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    generatedIn(fs, manifestDirOf(fs, path))
  }

  private[sources] def writeGeneratedSidecar(spark: SparkSession, dir: String,
      gens: Map[String, String], tz: Option[String]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s".generated-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(constraintsToJson(
        tz.fold(gens)(t => gens.updated(GenTzKey, t)))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(dir, GeneratedFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Declare existing column `name` as GENERATED ALWAYS AS
    * (`exprSql`). The column must already be in the table schema
    * (declare it at creation by materializing the expression once);
    * existing rows are validated against the expression through the
    * paired `_gen_<name>` CHECK constraint (`validate = false` for
    * the monitoring-only rollout, like [[addCheckConstraint]]).
    * From then on appends may simply OMIT the column.
    *
    * Crash consistency: the constraint registers first; if the
    * sidecar write is lost, enforcement still holds and a batch
    * omitting the column fails the plain schema check — fail-safe,
    * never silent drift.
    */
  def addGeneratedColumn(spark: SparkSession, path: String, name: String,
      exprSql: String, validate: Boolean = true): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    require(fs.exists(new Path(dir, SchemaFile)),
      s"$path is not a stats table with a schema sidecar; use writeWithStats first")
    // works on partitioned tables too — a generated PARTITION column
    // computes in the append hook BEFORE partition routing (Delta's
    // generated-partition-column shape), and the paired _gen_ CHECK
    // enforces supplied values at the staged choke point, partition
    // dirs discovered back into the staged read
    val schema = tableSchemaIn(spark, path, dir)
    require(schema.fieldNames.contains(name),
      s"generated column $name must already exist in the table schema " +
        s"[${schema.fieldNames.sorted.mkString(",")}] — materialize it once at " +
        "creation, then declare it")
    val gens = generatedIn(fs, dir)
    require(!gens.contains(name),
      s"column $name is already generated on $path (as: ${gens(name)})")
    addCheckConstraint(spark, path, s"_gen_$name",
      s"`$name` <=> ($exprSql)", validate)
    // first generated column records the session timezone the stored
    // values live under (see [[GenTzKey]]); later declarations keep
    // the existing record — generated columns without a record stay
    // unknown (temporal derivation off)
    val tz = if (gens.isEmpty) Some(sessionTz(spark))
      else generatedTzIn(fs, dir)
    writeGeneratedSidecar(spark, dir, gens.updated(name, exprSql), tz)
  }

  /** Remove the generation (column and data stay; the paired CHECK
    * constraint is dropped too). Loud if absent.
    */
  def dropGeneratedColumn(spark: SparkSession, path: String, name: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val gens = generatedIn(fs, dir)
    require(gens.contains(name), s"no generated column $name on $path " +
      s"(have: ${gens.keys.toSeq.sorted.mkString(",")})")
    // sidecar first: a crash between the two leaves enforcement
    // without compute — appends omitting the column fail the schema
    // check loudly instead of silently diverging
    writeGeneratedSidecar(spark, dir, gens.removed(name),
      generatedTzIn(fs, dir))
    dropCheckConstraint(spark, path, s"_gen_$name")
  }

  // -----------------------------------------------------------------
  // Identity columns (see [[IdentityFile]])
  // -----------------------------------------------------------------

  /** Parsed identity spec: (start, step, next id to issue). */
  private[sources] final case class IdentitySpec(start: Long, step: Long, next: Long)

  private[sources] def identityIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Map[String, IdentitySpec] =
    readSidecarIn(fs, dir, IdentityFile)
      .map(constraintsFromJson).getOrElse(Map.empty)
      .map { case (n, v) =>
        val parts = v.split(",", 3)
        require(parts.length == 3, s"malformed identity spec for $n: $v")
        n -> IdentitySpec(parts(0).toLong, parts(1).toLong, parts(2).toLong)
      }

  private[sources] def writeIdentitySidecar(spark: SparkSession, dir: String,
      ids: Map[String, IdentitySpec]): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s".identity-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(constraintsToJson(ids.map { case (n, s) =>
        n -> s"${s.start},${s.step},${s.next}" })
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(dir, IdentityFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The table's identity columns (name → (start, step, next)). */
  def tableIdentityColumns(spark: SparkSession,
      path: String): Map[String, (Long, Long, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    identityIn(fs, manifestDirOf(fs, path))
      .map { case (n, s) => n -> (s.start, s.step, s.next) }
  }

  /** Declare existing LONG column `name` as GENERATED ALWAYS AS
    * IDENTITY (START WITH `start` STEP `step`). The column must
    * already exist (bootstrap its initial values at creation — e.g.
    * a deterministic row_number — then declare); the watermark
    * resolves PAST every stored value on the `start + k*step` grid,
    * so already-issued ids can never repeat. From then on every
    * append must OMIT the column and the engine assigns fresh ids
    * (see [[IdentityFile]]).
    */
  def addIdentityColumn(spark: SparkSession, path: String, name: String,
      start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0L, "identity step must be non-zero")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    require(fs.exists(new Path(dir, SchemaFile)),
      s"$path is not a stats table with a schema sidecar; use writeWithStats first")
    // identity on a PARTITION column is refused: every row would get
    // a fresh id = its own directory (Delta refuses this pairing too);
    // identity on DATA columns of a partitioned table works — the
    // assignment hook runs before partition routing
    require(!partitionColsIn(fs, dir).contains(name),
      s"identity column $name cannot be a partition column of $path — " +
        "each row's fresh id would become its own partition directory")
    val schema = tableSchemaIn(spark, path, dir)
    val field = schema.find(_.name == name)
    require(field.isDefined,
      s"identity column $name must already exist in the table schema " +
        s"[${schema.fieldNames.sorted.mkString(",")}] — bootstrap its values " +
        "once at creation, then declare it")
    require(field.get.dataType == org.apache.spark.sql.types.LongType,
      s"identity column $name must be BIGINT, is ${field.get.dataType.simpleString}")
    val ids = identityIn(fs, dir)
    require(!ids.contains(name), s"column $name is already an identity column")
    require(!generatedIn(fs, dir).contains(name),
      s"column $name is a generated column — it cannot also be identity")
    // one agg scan resolves the watermark past existing ids on the
    // grid (declaration-time only; appends never re-scan)
    val extreme = readSkipping(spark, path,
        col(name).isNotNull || col(name).isNull)
      .agg((if (step > 0) max(col(name)) else min(col(name))).as("m")).head()
    val next =
      if (extreme.isNullAt(0)) start
      else {
        val m = extreme.getLong(0)
        // first grid point strictly past m (in step direction), >= start
        if (step > 0) {
          if (m < start) start
          else start + step * (Math.floorDiv(m - start, step) + 1)
        } else {
          if (m > start) start
          else start + step * (Math.floorDiv(start - m, -step) + 1)
        }
      }
    writeIdentitySidecar(spark, dir, ids.updated(name,
      IdentitySpec(start, step, next)))
  }

  /** Remove the identity declaration (column and data stay). Loud if
    * absent.
    */
  def dropIdentityColumn(spark: SparkSession, path: String, name: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    val ids = identityIn(fs, dir)
    require(ids.contains(name), s"no identity column $name on $path " +
      s"(have: ${ids.keys.toSeq.sorted.mkString(",")})")
    writeIdentitySidecar(spark, dir, ids.removed(name))
  }

  /** Assign fresh identity ids to `batch` for every declared identity
    * column (all of which the batch must omit) and advance the
    * watermark sidecar-first. Returns the batch unchanged when the
    * table has no identity columns, else `(batch with ids, pinned)`
    * where `pinned` must be unpersisted by the caller after the
    * write lands. See [[IdentityFile]] for the allocation shape.
    */
  private[sources] def assignIdentity(spark: SparkSession, dir: String,
      batch: DataFrame): (DataFrame, Option[DataFrame]) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = identityIn(fs, dir)
    if (ids.isEmpty) return (batch, None)
    ids.keys.foreach(n => require(!batch.columns.contains(n),
      s"column $n is GENERATED ALWAYS AS IDENTITY — the batch must omit " +
        "it; the engine assigns ids"))
    val rowBits = 33 // monotonically_increasing_id: pid << 33 | row
    val pinned = batch
      .withColumn("__graft_mid", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pid = shiftright(col("__graft_mid"), rowBits).cast("int")
    // O(partitions) rows to the driver — the partition-count pattern
    val counts = pinned.groupBy(pid.as("__graft_pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    if (total == 0L) {
      pinned.unpersist()
      val withCols = ids.keys.toSeq.sorted.foldLeft(batch) {
        (acc, n) => acc.withColumn(n, lit(null).cast("bigint"))
      }
      return (withCols.limit(0), None)
    }
    val offsets = counts.scanLeft((0, 0L)) {
      case ((_, acc), (p, n)) => (p, acc + n)
    }.tail.zip(counts).map { case ((p, cum), (_, n)) => (p, cum - n) }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("__graft_pid", "__graft_off")
    val rank = col("__graft_off") +
      col("__graft_mid").bitwiseAND((1L << rowBits) - 1)
    // watermark advances BEFORE any data lands: crash = gap, never a
    // duplicate id
    writeIdentitySidecar(spark, dir, ids.map { case (n, s) =>
      n -> s.copy(next = s.next + s.step * total) })
    val withIds = ids.toSeq.sortBy(_._1).foldLeft(
        pinned.withColumn("__graft_pid", pid)
          .join(broadcast(offsetsDf), Seq("__graft_pid"))) {
      case (acc, (n, s)) =>
        acc.withColumn(n, lit(s.next) + lit(s.step) * rank)
    }.drop("__graft_pid", "__graft_mid", "__graft_off")
    (withIds, Some(pinned))
  }

  // -----------------------------------------------------------------
  // Column mapping: RENAME / DROP COLUMN (the Delta column-mapping
  // 'name'-mode analog)
  // -----------------------------------------------------------------

  /** Logical→physical column-name map (`_colmap.json`, same JSON
    * string-map codec as `_constraints.json`). PHYSICAL names — what
    * the data files, manifest stats, deletion vector and change data
    * are keyed by — never change after a file is written; a RENAME
    * changes only which logical name maps to a physical, and a DROP
    * removes the logical entry while the physical column simply stops
    * being projected (zero data rewritten in both cases — the whole
    * point at 100 TB). Absent sidecar = identity mapping (the
    * pre-mapping table every writeWithStats produces). The sidecar
    * rides every generation forward like `_constraints.json`; RESTORE
    * takes the TARGET version's map (a rename is schema metadata, and
    * restore restores schema); clones carry it.
    *
    * Boundary semantics, pinned by ColumnMappingSpec:
    *  - every BATCH entry point speaks LOGICAL names (read
    *    predicates, DML predicates/SET exprs, merge sources and key
    *    columns, append batches) and every batch read RETURNS logical
    *    columns; pruning still happens on the physical stats.
    *  - a dropped-then-re-added logical name binds to a FRESH
    *    physical column, so old values can never resurrect (Delta's
    *    drop semantics). Re-adds arrive via mergeSchema appends.
    *  - STREAMING sources ([[graft.streaming.StatsTableSource]],
    *    [[graft.streaming.ChangeFeedSource]]) REFUSE a non-identity
    *    mapping loudly — Delta likewise blocks streaming reads from
    *    renamed/dropped tables without a schema-tracking location;
    *    serving physical names silently would be a correctness trap.
    *  - CHECK constraints bind to PHYSICAL names (exprs given to
    *    [[addCheckConstraint]] are translated at registration), so a
    *    rename never breaks enforcement; dropping a constrained
    *    column is refused until the constraint is dropped.
    */
  val ColMapFile = "_colmap.json"

  private[sources] def colMapIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Map[String, String]] =
    readSidecarIn(fs, dir, ColMapFile).map(constraintsFromJson)

  private[sources] def writeColMap(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, m: Map[String, String]): Unit = {
    val out = fs.create(new Path(dir, ColMapFile), true)
    try out.write(constraintsToJson(m)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The current logical→physical map (identity entries for every
    * column when no rename/drop ever happened).
    */
  def columnMapping(spark: SparkSession, path: String): Map[String, String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    colMapIn(fs, dir).getOrElse(
      tableSchemaIn(spark, path, dir).fieldNames.map(n => n -> n).toMap)
  }

  /** True when a rename or drop is in effect (the logical view
    * differs from the physical schema) — the condition under which
    * STREAMING sources refuse the table (Delta's rule without a
    * schema-tracking location: silently serving physical names would
    * be a correctness trap for downstream consumers).
    */
  def hasNonIdentityMapping(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    colMapIn(fs, dir).exists { m =>
      val phys = tableSchemaIn(spark, path, dir).fieldNames.toSet
      m.exists { case (l, p) => l != p } || (phys != m.values.toSet)
    }
  }

  /** The user-facing schema: logical names in PHYSICAL field order
    * (a rename keeps its column's position; a drop removes it).
    */
  def tableLogicalSchema(spark: SparkSession, path: String): StructType = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    logicalSchemaOf(tableSchemaIn(spark, path, dir), colMapIn(fs, dir))
  }

  /** The logical schema AT a retained version (its own mapping). */
  def tableLogicalSchemaAt(spark: SparkSession, path: String,
      version: Long): StructType = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = s"$path/$StatsDir/v$version"
    logicalSchemaOf(tableSchemaIn(spark, path, dir), colMapIn(fs, dir))
  }

  private[sources] def logicalSchemaOf(phys: StructType,
      m: Option[Map[String, String]]): StructType = m match {
    case None => phys
    case Some(map) =>
      val inverse = map.map(_.swap)
      StructType(phys.fields.flatMap(f =>
        inverse.get(f.name).map(l => f.copy(name = l))))
  }

  /** Physical scan → logical projection (physical field order). */
  private[sources] def toLogicalScan(df: DataFrame, phys: StructType,
      m: Map[String, String]): DataFrame = {
    val inverse = m.map(_.swap)
    df.select(phys.fields.toSeq.flatMap(f =>
      inverse.get(f.name).map(l => col(f.name).as(l))): _*)
  }

  /** Rename an input DataFrame's LOGICAL columns to physical names
    * (columns not in the map — e.g. new columns in a mergeSchema
    * append — pass through).
    */
  private[sources] def toPhysicalInput(df: DataFrame, m: Map[String, String]): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      col(c).as(m.getOrElse(c, c))): _*)

  /** Translate single-part attribute references in a Column from
    * logical to physical names (pre-analysis — the result resolves
    * against the physical scan).
    */
  private[sources] def toPhysicalColumn(c: Column, m: Map[String, String]): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val e = org.apache.spark.sql.graft.ColumnBridge.expression(c)
    val t = e.transform {
      case a: UnresolvedAttribute
          if a.nameParts.size == 1 && m.contains(a.nameParts.head) =>
        UnresolvedAttribute(Seq(m(a.nameParts.head)))
      // merge-clause references qualified by the fixed t/s aliases
      case a: UnresolvedAttribute
          if a.nameParts.size == 2 && Set("t", "s")(a.nameParts.head) &&
            m.contains(a.nameParts(1)) =>
        UnresolvedAttribute(Seq(a.nameParts.head, m(a.nameParts(1))))
    }
    org.apache.spark.sql.graft.ColumnBridge.column(t)
  }

  /** Column names referenced by a SQL boolean expression (used to
    * guard drops and translate constraint registrations).
    */
  private[sources] def referencedNames(spark: SparkSession, exprSql: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(exprSql)
      .collect { case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        a.nameParts.head }.toSet
  }

  /** RENAME COLUMN — metadata-only (the Delta
    * `ALTER TABLE ... RENAME COLUMN` analog under column-mapping
    * 'name' mode): no data file, manifest row, vector or change-data
    * byte is touched; only the logical→physical sidecar changes. The
    * new name must be free among BOTH logical names (obviously) and
    * physical names — logical and physical namespaces must stay
    * disjoint outside identity entries, or input translation would be
    * ambiguous.
    */
  def renameColumn(spark: SparkSession, path: String,
      oldName: String, newName: String): Unit = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid column name '$newName'")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    require(fs.exists(new Path(dir, SchemaFile)),
      s"$path is not a stats table with a schema sidecar")
    // partition-converted tables rename fine — partition DIRECTORIES
    // key on the PHYSICAL name, which never changes; only the
    // logical→physical sidecar moves (partition columns included)
    val phys = tableSchemaIn(spark, path, dir)
    val m = colMapIn(fs, dir).getOrElse(
      phys.fieldNames.map(n => n -> n).toMap)
    require(m.contains(oldName),
      s"no column $oldName on $path (have: ${m.keys.toSeq.sorted.mkString(",")})")
    require(!m.contains(newName), s"column $newName already exists on $path")
    require(m(oldName) == newName || !phys.fieldNames.contains(newName),
      s"$newName collides with a physical column name of $path — " +
        "pick a name never used by this table")
    writeColMap(fs, dir, m.removed(oldName).updated(newName, m(oldName)))
  }

  /** DROP COLUMN — metadata-only: the physical column stays in every
    * file (and its stats in the manifest, harmless) but stops being
    * projected, immediately and for O(1) cost. A later mergeSchema
    * append may re-add the same LOGICAL name — it binds to a FRESH
    * physical column, so the dropped values never resurrect.
    * Refused while a CHECK constraint references the column (drop the
    * constraint first — Delta's rule).
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    require(fs.exists(new Path(dir, SchemaFile)),
      s"$path is not a stats table with a schema sidecar")
    val phys = tableSchemaIn(spark, path, dir)
    val m = colMapIn(fs, dir).getOrElse(
      phys.fieldNames.map(n => n -> n).toMap)
    require(m.contains(name),
      s"no column $name on $path (have: ${m.keys.toSeq.sorted.mkString(",")})")
    require(m.size > 1, s"cannot drop the last column of $path")
    val physName = m(name)
    // a PARTITION column cannot drop: its values are directory-encoded
    // and every append/DML routes rows by them — a metadata drop would
    // leave the table unwritable (Delta refuses this too). Non-partition
    // columns of a partitioned table drop normally.
    require(!partitionColsIn(fs, dir).contains(physName),
      s"cannot drop $name: it is a partition column of $path (rows route " +
        "by its directory-encoded values) — RENAME is supported; to remove " +
        "it, materialize into a table partitioned differently")
    constraintsIn(fs, dir).foreach { case (cn, expr) =>
      require(!referencedNames(spark, expr).contains(physName),
        s"cannot drop column $name: CHECK constraint $cn ($expr) references " +
          "it — drop the constraint first")
    }
    writeColMap(fs, dir, m.removed(name))
  }

}
