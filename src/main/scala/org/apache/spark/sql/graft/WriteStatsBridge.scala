package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering, XxHash64Function}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** Write-TASK statistics collection — the bridge that lets every graft
  * data write gather its per-file manifest stats (min/max/null count/
  * row count per tracked column, plus the per-file Bloom words) in the
  * SAME pass that writes the bytes, instead of re-scanning its own
  * output afterwards (`statsFor` over the moved files): the
  * DeltaJobStatisticsTracker shape, optimization guide §6 (write-side
  * I/O) and §1.2 (one distributed action fewer per write statement).
  *
  * Lives under `org.apache.spark.sql` because [[FileFormatWriter]] and
  * the `WriteJobStatsTracker` / `WriteTaskStatsTracker` hooks are
  * `private[sql]` — the standard extension-library shim (Delta's
  * `TransactionalWrite`/`DeltaJobStatisticsTracker` declare exactly
  * this). Value PARITY with the read-back `statsFor` aggregate is the
  * load-bearing contract (the manifest rows these stats become are
  * user-visible through catalog queries and drive pruning):
  *
  *  - min/max compare through [[TypeUtils.getInterpretedOrdering]] —
  *    the same total order Spark's Min/Max aggregates use (NaN
  *    greatest, binary collation for default strings, null skipped);
  *  - null counts mirror `sum(when(col.isNull, 1).otherwise(0))`
  *    (nested paths: null at ANY level counts, like the extraction);
  *  - Bloom words run the identical chain: `xxhash64(col)` (seed 42,
  *    null input hashes to the seed — [[XxHash64Function]]) into
  *    [[graft.plans.BloomFilterOps.setBits]], so the bit layout is
  *    byte-identical to `graft_bloom_agg`;
  *  - values convert to EXTERNAL Row objects with the same
  *    [[CatalystTypeConverters]] a `collect()` applies.
  *
  * File routing parity: [[FileFormatWriter.write]] with a plan that
  * carries no WriteFiles node takes the one-phase v1 path —
  * `df.write.parquet`'s own machinery — inserting the identical
  * empty2null projection and partition sort, so the (row → file)
  * assignment, file naming and bytes are what the plain writer
  * produces.
  */
case class FileWriteStats(
    relPath: String,
    partValues: Array[Any],
    nRows: Long,
    mins: Array[Any],
    maxs: Array[Any],
    nulls: Array[Long],
    blooms: Array[Array[Long]])

private case class GraftTaskStats(files: Seq[FileWriteStats])
  extends WriteTaskStats

/** Ordinal chain for one (possibly nested) tracked column: `ords(i)`
  * indexes level i, `fieldCounts(i)` is that level's struct width
  * (for `getStruct`), `leafType` the extracted type.
  */
private case class ColChain(ords: Array[Int], fieldCounts: Array[Int],
    leafType: DataType)

private class GraftTaskStatsTracker(
    statsChains: Array[ColChain],
    bloomChains: Array[ColChain],
    bloomBits: Int, bloomHashes: Int,
    partTypes: Array[DataType]) extends WriteTaskStatsTracker {

  private val nStats = statsChains.length
  // absent (all-null) columns never compare or convert a value
  private val orderings: Array[Ordering[Any]] =
    statsChains.map(c => if (c.ords.isEmpty) null
      else TypeUtils.getInterpretedOrdering(c.leafType).asInstanceOf[Ordering[Any]])
  private val statsConv: Array[Any => Any] =
    statsChains.map(c => CatalystTypeConverters.createToScalaConverter(c.leafType))
  private val partConv: Array[Any => Any] =
    partTypes.map(CatalystTypeConverters.createToScalaConverter)

  private final class FileAcc(val relPath: String, val partVals: Array[Any]) {
    var nRows = 0L
    val mins = new Array[Any](nStats)
    val maxs = new Array[Any](nStats)
    val nulls = new Array[Long](nStats)
    val blooms: Array[Array[Long]] =
      Array.fill(bloomChains.length)(new Array[Long](bloomBits / 64))
  }

  private val done = scala.collection.mutable.ArrayBuffer.empty[FileWriteStats]
  private var current: FileAcc = null
  private var currentPart: Array[Any] = Array.empty

  /** Partition-dir-relative path of a task-attempt temp file: the
    * segments after the `attempt_*` component (the default commit
    * protocols place files under
    * `_temporary/<app>/_temporary/<attempt>/<partdirs>/<name>`);
    * direct-output committers fall back to the partition-dir
    * heuristic (`col=value` segments plus the name).
    */
  private def relPathOf(filePath: String): String = {
    val segs = filePath.split('/')
    val at = segs.lastIndexWhere(_.startsWith("attempt_"))
    if (at >= 0 && at < segs.length - 1) segs.drop(at + 1).mkString("/")
    else {
      val firstPart = segs.indexWhere(s => s.contains("=") &&
        !s.startsWith("_") && !s.startsWith("."))
      if (firstPart >= 0 && firstPart < segs.length - 1)
        segs.drop(firstPart).mkString("/")
      else segs.last
    }
  }

  private def flush(): Unit = if (current != null) {
    val c = current
    current = null
    // internal → external happens ONCE per file, not per row
    val mins = new Array[Any](nStats); val maxs = new Array[Any](nStats)
    var i = 0
    while (i < nStats) {
      mins(i) = if (c.mins(i) == null) null else statsConv(i)(c.mins(i))
      maxs(i) = if (c.maxs(i) == null) null else statsConv(i)(c.maxs(i))
      i += 1
    }
    done += FileWriteStats(c.relPath, c.partVals, c.nRows, mins, maxs,
      c.nulls, c.blooms)
  }

  override def newPartition(partitionValues: InternalRow): Unit = {
    val vals = new Array[Any](partTypes.length)
    var i = 0
    while (i < partTypes.length) {
      val v = if (partitionValues.isNullAt(i)) null
        else partitionValues.get(i, partTypes(i))
      vals(i) = if (v == null) null else partConv(i)(v)
      i += 1
    }
    currentPart = vals
  }

  override def newFile(filePath: String): Unit = {
    flush()
    current = new FileAcc(relPathOf(filePath), currentPart)
  }

  override def closeFile(filePath: String): Unit = flush()

  private def extract(row: InternalRow, chain: ColChain): Any = {
    var r: InternalRow = row
    val ords = chain.ords
    if (ords.isEmpty) return null
    var i = 0
    while (i < ords.length - 1) {
      if (r.isNullAt(ords(i))) return null
      r = r.getStruct(ords(i), chain.fieldCounts(i))
      i += 1
    }
    if (r.isNullAt(ords(ords.length - 1))) null
    else r.get(ords(ords.length - 1), chain.leafType)
  }

  /** Retained values must not alias the (reused) UnsafeRow buffer. */
  private def copyVal(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
    case b: Array[Byte] => java.util.Arrays.copyOf(b, b.length)
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case r: InternalRow => r.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case other => other
  }

  override def newRow(filePath: String, row: InternalRow): Unit = {
    val acc = current
    if (acc == null) return
    acc.nRows += 1
    var i = 0
    while (i < nStats) {
      val v = extract(row, statsChains(i))
      if (v == null) acc.nulls(i) += 1
      else {
        if (acc.mins(i) == null || orderings(i).compare(v, acc.mins(i)) < 0)
          acc.mins(i) = copyVal(v)
        if (acc.maxs(i) == null || orderings(i).compare(v, acc.maxs(i)) > 0)
          acc.maxs(i) = copyVal(v)
      }
      i += 1
    }
    var b = 0
    while (b < bloomChains.length) {
      val v = extract(row, bloomChains(b))
      // xxhash64 of a NULL input is the seed itself (42) and the
      // aggregate inserts it — mirror, or null-bearing files would
      // probe differently than their manifest says
      val h = if (v == null) 42L
        else XxHash64Function.hash(v, bloomChains(b).leafType, 42L)
      graft.plans.BloomFilterOps.setBits(acc.blooms(b), bloomHashes, h)
      b += 1
    }
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
    flush()
    GraftTaskStats(done.toSeq)
  }
}

/** Driver-side job tracker: accumulates every task's per-file stats.
  * The instance handed to [[FileFormatWriter.write]] is the one whose
  * `processStats` runs on the driver; executors see serialized copies
  * that only ever call `newTaskInstance`.
  */
private[graft] class GraftWriteStatsTracker(
    statsChains: Array[ColChain],
    bloomChains: Array[ColChain],
    bloomBits: Int, bloomHashes: Int,
    partTypes: Array[DataType]) extends WriteJobStatsTracker {

  @transient private lazy val buf =
    scala.collection.mutable.ArrayBuffer.empty[FileWriteStats]

  def results: Seq[FileWriteStats] = buf.toSeq

  override def newTaskInstance(): WriteTaskStatsTracker =
    new GraftTaskStatsTracker(statsChains, bloomChains, bloomBits,
      bloomHashes, partTypes)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    stats.foreach {
      case g: GraftTaskStats => buf ++= g.files
      case _ => ()
    }
}

object TrackedParquetWrite {

  /** Resolve a (possibly dotted-nested) tracked column against
    * `schema` into an ordinal chain; None when it does not resolve to
    * a struct path.
    */
  private def chainOf(schema: StructType, name: String,
      resolver: (String, String) => Boolean): Option[ColChain] = {
    val parts = name.split('.')
    val ords = new Array[Int](parts.length)
    val counts = new Array[Int](parts.length)
    var st: DataType = schema
    var i = 0
    while (i < parts.length) {
      st match {
        case s: StructType =>
          val idx = s.fields.indexWhere(f => resolver(f.name, parts(i)))
          if (idx < 0) return None
          ords(i) = idx
          counts(i) = s.fields.length
          st = s.fields(idx).dataType
        case _ => return None
      }
      i += 1
    }
    Some(ColChain(ords, counts, st))
  }

  /** No maps/variants anywhere in the extracted value — the
    * interpreted ordering, the interpreted xxhash64 and the external
    * converters cover everything else the engine tracks.
    */
  private def plainType(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case s: StructType => s.fields.forall(f => plainType(f.dataType))
    case a: ArrayType => plainType(a.elementType)
    case _: VariantType => false
    case _ => true
  }

  /** A tracked column whose TOP-LEVEL name the frame does not carry —
    * a schema-evolution batch omitting a stored column: its files hold
    * no values for it, so it is recorded all-null, exactly as a scan
    * under the table schema reads it.
    */
  private val absentChain = ColChain(Array.empty, Array.empty, NullType)

  /** The type a file-source read serves for bytes written as `dt`:
    * nullable at every level (struct fields, array elements, map
    * values) — what `spark.read.parquet` reports for the same bytes,
    * without the footer job that asks it.
    */
  def readTypeOf(dt: DataType): DataType = dt.asNullable

  /** Write `df` as parquet under `outPath` through the SAME v1
    * machinery `df.write.parquet` / `.partitionBy(...)` uses, with a
    * per-file stats tracker riding the write tasks; returns every
    * written file's stats. A stats shape the tracker cannot serve (a
    * map or variant stats/bloom column, an unknown partition column, a
    * nested path that does not resolve, an invalid Bloom geometry) is
    * refused by name BEFORE any byte is written.
    */
  def write(df: DataFrame, outPath: String, partCols: Seq[String],
      statsDataCols: Seq[String], bloomCols: Seq[String],
      bloomBits: Int, bloomHashes: Int): Seq[FileWriteStats] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    val resolver = spark.sessionState.conf.resolver
    val output = ds.queryExecution.analyzed.output
    val partAttrs: Seq[Attribute] = partCols.map(n =>
      output.find(a => resolver(a.name, n)).getOrElse(throw
        new IllegalArgumentException(s"partition column $n is not in " +
          s"the written frame ${df.schema.simpleString}")))
    // newRow hands the data-only projected row for dynamic-partition
    // writes (the full row when partCols is empty) — ordinals resolve
    // against the output minus the partition columns, order preserved
    val partSet = partAttrs.map(_.exprId).toSet
    val dataSchema = StructType(output.filterNot(a => partSet.contains(a.exprId))
      .map(a => StructField(a.name, a.dataType, a.nullable)))
    def resolve(c: String, what: String, ok: DataType => Boolean): ColChain =
      chainOf(dataSchema, c, resolver) match {
        case Some(ch) =>
          require(ok(ch.leafType), s"$what column $c has type " +
            s"${ch.leafType.simpleString}, which per-file write stats " +
            "cannot serve (maps and variants have no order or hash)")
          ch
        case None =>
          require(!dataSchema.exists(f => resolver(f.name, c.split('.').head)),
            s"$what column $c does not resolve to a struct path in " +
              dataSchema.simpleString)
          absentChain
      }
    val statsChains = statsDataCols.map(c => resolve(c, "stats",
      t => RowOrdering.isOrderable(t) && plainType(t)))
    val bloomChains = bloomCols.map(c => resolve(c, "bloom", plainType))
    require(bloomCols.isEmpty || (bloomBits >= 64 && bloomBits % 64 == 0 &&
        bloomHashes >= 1 && bloomHashes <= 32),
      s"bloom geometry $bloomBits bits / $bloomHashes hashes: bits must be " +
        "a positive multiple of 64 and hashes within [1, 32]")
    val tracker = new GraftWriteStatsTracker(
      statsChains.toArray, bloomChains.toArray,
      bloomBits, bloomHashes, partAttrs.map(_.dataType).toArray)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = outPath,
      dynamicPartitionOverwrite = false)
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("graft_tracked_write")) {
      FileFormatWriter.write(
        sparkSession = spark,
        plan = ds.queryExecution.executedPlan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(outPath, Map.empty, output),
        hadoopConf = hadoopConf,
        partitionColumns = partAttrs,
        bucketSpec = None,
        statsTrackers = Seq(tracker),
        options = Map.empty)
    }
    tracker.results
  }
}
