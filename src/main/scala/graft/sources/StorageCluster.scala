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

/** Z-ORDER / Hilbert clustering: full OPTIMIZE ZORDER, incremental recluster, and the clustering-state sidecar.
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait StorageCluster { this: DataSkipping.type =>

  // -----------------------------------------------------------------
  // Z-order clustering (the OPTIMIZE ZORDER analog)
  // -----------------------------------------------------------------

  /** Scale a numeric column into a 16-bit bucket given its global
    * [min, max]: floor((v - min) * 65535 / (max - min)). Pure integer
    * arithmetic — replayable as SQL in any engine.
    */
  def bucket16(c: Column, minV: Long, maxV: Long): Column = {
    require(maxV >= minV, s"empty range [$minV,$maxV]")
    if (maxV == minV) lit(0L)
    // exact integer division (`div`; Column./ is DOUBLE division,
    // which silently loses bits past 2^53) over DECIMAL(38,0)
    // products: (v - min) * 65535 in Long arithmetic would wrap for
    // column ranges past 2^47 — snowflake-style ids get there — and
    // a wrapped bucket garbles the whole z-order silently
    else call_function("div",
      (c.cast("bigint") - lit(minV)).cast("decimal(38,0)") * lit(65535L),
      lit(maxV - minV)).cast("bigint")
  }

  /** Spread the low 16 bits of `x` so consecutive bits land `n`
    * positions apart (n = number of z-order columns, 2-4) — the
    * classic Morton bit-dilation, expressed entirely in codegen'd
    * bitwise column functions (shifts/AND/OR exist in every SQL
    * engine, so the oracle replays the exact arithmetic).
    */
  def spreadBits(x: Column, n: Int): Column = {
    require(n >= 2 && n <= 4, "z-order supports 2-4 columns")
    // dilate bit-by-bit: bit i of x moves to position i*n. 16
    // iterations of (x >> i & 1) << (i*n) OR'd together — codegen
    // folds this into straight-line long ops.
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * n)
    }.reduce(_ bitwiseOR _)
  }

  /** Morton z-value of 2-4 bucketized columns: bit i of column j
    * lands at position i*n + j. Equal weight per column — range
    * predicates on ANY of them map to z-ranges, which is what makes
    * multi-column skipping work.
    */
  def zValue(buckets: Seq[Column]): Column = {
    val n = buckets.size
    buckets.zipWithIndex.map { case (b, j) =>
      shiftleft(spreadBits(b, n), j)
    }.reduce(_ bitwiseOR _)
  }

  /** `OPTIMIZE ... ZORDER BY` as TABLE MAINTENANCE (vs
    * [[writeZOrdered]]'s creation-time form): re-cluster an EXISTING
    * stats table on `zCols`, as a generation commit with
    * [[compactTable]]'s exact safety contract — snapshot rewrite
    * built hidden, one atomic `_COMMIT`, old generation retained for
    * time travel, removal-log vacuum. The global column ranges come
    * from the MANIFEST (one tiny agg over min_/max_ rows — no data
    * scan), the snapshot read is deletion-vector-filtered (z-order
    * MATERIALIZES the vector like compaction does), feature flags
    * (bloom config, change feed, null counts) carry, and the change
    * feed records nothing — re-clustering is not a logical change.
    * Tracked stats switch to `zCols` (they are what the new layout
    * prunes on). Returns the number of files written.
    */
  def zorderTable(spark: SparkSession, path: String, zCols0: Seq[String],
      targetFiles: Int,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs,
      curve: String = "morton"): Int =
      withConcurrentRetry("zorderTable") {
    val zCols = currentMap(spark, path).fold(zCols0)(m =>
      zCols0.map(c => m.getOrElse(c, c)))
    require(zCols.size >= 2 && zCols.size <= 4, "z-order supports 2-4 columns")
    require(curve == "morton" || curve == "hilbert",
      s"curve must be morton or hilbert: $curve")
    require(curve == "morton" || zCols.size == 2,
      "the Hilbert curve is 2-D — pass exactly two columns")
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    // partition-converted tables z-order WITHIN partitions: the range
    // shuffle keys on (partition columns, z), so each partition's
    // rows sort by z among themselves and stage back through
    // partitionBy. Z columns must be DATA columns — partition values
    // already prune exactly (min=max=directory value).
    val partCols = partitionColsIn(fs, dir)
    require(zCols.intersect(partCols).isEmpty,
      s"z-order columns ${zCols.mkString("(", ",", ")")} must be data " +
        "columns — partition columns already prune exactly via their " +
        "min=max directory values")
    val observed = listManifestNames(fs, dir)
    val stats = readManifestPinned(spark, dir, observed)
    zCols.foreach(c => require(stats.columns.contains(s"min_$c"),
      s"z-order column $c is not stats-tracked in the current manifest — " +
        "its global range must come from somewhere; compact with it tracked first"))
    locally {
      val sch = tableSchemaIn(spark, path, dir)
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      zCols.foreach { c =>
        val t = sch(c).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
          s"z-order column $c has type ${t.simpleString} — the 16-bit " +
            "bucketization needs an integral column (derive one upstream)")
      }
    }
    // global ranges from the manifest: one small agg, no data read
    val aggs = zCols.flatMap(c =>
      Seq(min(mc(s"min_$c")).cast("bigint"), max(mc(s"max_$c")).cast("bigint")))
    val env = stats.agg(aggs.head, aggs.tail: _*).head()
    val bounds = zCols.zipWithIndex.map { case (c, i) =>
      require(!env.isNullAt(2 * i),
        s"z-order column $c has no non-null values recorded — nothing to cluster on")
      (c, env.getLong(2 * i), env.getLong(2 * i + 1))
    }
    val schema = tableSchemaIn(spark, path, dir)
    val dv = readDvIn(spark, dir)
    val old = stats.select(col("file")).collect().map(_.getString(0))
    val snapshot = applyDv(partAwareStatusScan(spark, path, dir, schema,
      statusesOf(stats)), dv)
    val bkts = bounds.map { case (c, lo, hi) => bucket16(col(c), lo, hi) }
    // Hilbert keeps every consecutive cell pair ADJACENT (Morton
    // jumps diagonally at power-of-two seams), so per-file (x, y)
    // envelopes come out tighter — see [[graft.plans.HilbertIndex]]
    val z = curve match {
      case "hilbert" =>
        graft.plans.GraftFunctions.register(spark)
        call_function("graft_hilbert", bkts(0), bkts(1))
      case _ => zValue(bkts)
    }
    val staging = new Path(path, s".compact-${java.util.UUID.randomUUID}")
    val rangeKeys = partCols.map(col) :+ col("__z")
    val zSorted = snapshot.withColumn("__z", z)
      .repartitionByRange(targetFiles, rangeKeys: _*)
      .sortWithinPartitions(rangeKeys: _*)
      .drop("__z")
    val bloomCfg = bloomFeature(manifestFeatures(fs, dir))
    // tracked set GROWS to include the z columns (dropping an
    // existing tracked column would silently stop pruning on it)
    val newTracked = (trackedCols(spark, dir) ++ zCols).toSeq.distinct.sorted
    // per-file stats ride the write tasks (guide §6 — the statsFor
    // read-back below then never executes)
    val writeStats = stagedWriteTracked(zSorted, staging, partCols,
      newTracked, bloomCfg)
    val moved =
      if (partCols.isEmpty) moveIn(fs, staging, new Path(path))
      else moveInPartitioned(fs, staging, new Path(path))
    val newStats = statsFor(
      partAwareStatusScan(spark, path, dir, schema, statusesFor(fs, moved)),
      newTracked, bloom = bloomCfg)
    val statsLocal: Option[(StructType, Seq[Row])] =
      if (moved.size > 10000) None
      else writeStats.flatMap(ws => statsRowsFromWrite(fs, path, moved,
          newTracked, partCols, bloomCfg.map(_._1).getOrElse(Nil), ws,
          newStats.schema))
        .map(rows => (newStats.schema, rows))
    val movedNames = moved.map(p => new Path(p).getName).toSet
    val replaced = old.map(p => rootRelativeOrName(fs, path, p))
      .filterNot(rel => movedNames(new Path(rel).getName)).toSeq
    publishGeneration(spark, fs, path, dir, newStats, schema,
      newTracked,
      Set("nulls") ++ bloomCfg.map(bloomFeatureLine).toSet ++
        manifestFeatures(fs, dir).filter(_ == CdfFeature),
      manifestSchema = newStats.schema, removedData = replaced,
      markerRetentionMs = markerRetentionMs, opStartMs = opStart,
      op = "OPTIMIZE ZORDER",
      clustered = Some((s"$curve:${zCols.mkString(",")}" +:
        moved.map(p => new Path(p).getName)).mkString("\n")),
      observedParts = Some(observed),
      manifestRowsLocal = statsLocal)
    if (vacuum) vacuumTable(spark, path, retentionMs)
    moved.size
  }

  /** INCREMENTAL RECLUSTER (the liquid-clustering OPTIMIZE shape):
    * recluster ONLY the data files that arrived since the last
    * clustering pass — appends, DML replacements, compaction output —
    * so a maintenance cycle's rewrite cost is proportional to NEW
    * data, never to table size. At 100 TB this is the difference
    * between an hourly maintenance loop and an impossible one: a
    * full [[zorderTable]] rewrite moves the whole table every cycle;
    * this moves only the backlog.
    *
    * The clustering spec (curve + columns) and the clustered-file
    * set come from the [[ClusteredFile]] generation sidecar that a
    * one-time full `OPTIMIZE ZORDER` establishes (the `ALTER TABLE
    * ... CLUSTER BY` registration analog). Backlog = manifest files
    * not on the list (a broadcast anti-join — no O(files) IN
    * literal). Backlog rows are DV-filtered, z/hilbert-sorted with
    * bucket ranges from the CURRENT FULL manifest envelope (so new
    * files land in the same key space as the existing layout), and
    * bin-packed at `targetFileBytes`. Newly written files may
    * overlap existing clusters' z-ranges — the documented liquid
    * tradeoff: per-file min/max pruning still holds, and a periodic
    * full rewrite restores global tightness. Commit semantics are
    * [[rewriteFiles]]' copy-on-write contract (atomic generation,
    * verbatim markers for untouched commits, DV carry for untouched
    * files, time-travel retention); the sidecar is rewritten as
    * (survivors still in the manifest) + (files this pass wrote), so
    * stale names from DML/compaction are pruned each cycle and the
    * list stays O(live files).
    *
    * Returns the number of backlog files reclustered (0 = nothing to
    * do — the cheap steady-state probe).
    */
  def optimizeIncremental(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      vacuum: Boolean = true,
      retentionMs: Long = RetentionDefaultMs,
      markerRetentionMs: Long = RetentionDefaultMs): Int =
      withConcurrentRetry("optimizeIncremental") {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val opStart = System.currentTimeMillis()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = manifestDirOf(fs, path)
    // partitioned tables recluster incrementally too — the backlog
    // rewrite shares zorderTable's within-partition range keys and
    // rewriteFiles' partitionBy staging
    val partColsIncr = partitionColsIn(fs, dir)
    val sidecar = readSidecarIn(fs, dir, ClusteredFile)
    require(sidecar.isDefined,
      s"$path has no clustering spec — run a full OPTIMIZE ZORDER " +
        "(zorderTable) once to establish the clustering columns; " +
        "incremental recluster maintains, it does not bootstrap")
    val lines = sidecar.get.linesIterator.toSeq
    val spec = lines.head
    val Array(curve, colsCsv) = spec.split(":", 2)
    val zCols = colsCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val clusteredNames = lines.tail.filter(_.nonEmpty).toSet
    val observed = listManifestNames(fs, dir)
    val stats = readManifestPinned(spark, dir, observed)
    val named = stats.withColumn("__name",
      element_at(split(col("file"), "/"), -1))
    val clusteredDf = spark.createDataset(clusteredNames.toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("__cname")
    val backlog = named.join(broadcast(clusteredDf),
      col("__name") === col("__cname"), "left_anti")
    // O(backlog) driver rows — the touched-files pattern
    val backlogFiles = backlog
      .select(col("file"), col("file_size"), col("mod_time")).collect()
    if (backlogFiles.isEmpty) { if (vacuum) vacuumTable(spark, path, retentionMs); return 0 }
    // survivors: clustered names still present in the manifest (one
    // O(live files) name list, the vacuum claim-set shape — bounds
    // the sidecar against stale DML/compaction debris)
    val liveNames = stats.select(element_at(split(col("file"), "/"), -1))
      .collect().map(_.getString(0)).toSet
    val survivors = clusteredNames.intersect(liveNames).toSeq.sorted
    // bucket ranges from the FULL manifest envelope: new files share
    // the existing layout's key space
    val aggs = zCols.flatMap(c =>
      Seq(min(mc(s"min_$c")).cast("bigint"), max(mc(s"max_$c")).cast("bigint")))
    val env = stats.agg(aggs.head, aggs.tail: _*).head()
    val bounds = zCols.zipWithIndex.map { case (c, i) =>
      require(!env.isNullAt(2 * i),
        s"clustering column $c has no non-null values recorded")
      (c, env.getLong(2 * i), env.getLong(2 * i + 1))
    }
    val schema = tableSchemaIn(spark, path, dir)
    val dv = readDvIn(spark, dir)
    val statuses = backlogFiles.map { r =>
      FileStatusWithMetadata(new FileStatus(
        r.getLong(1), false, 1, 128L * 1024 * 1024, r.getLong(2),
        new Path(r.getString(0))))
    }.toSeq
    val backlogBytes = backlogFiles.map(_.getLong(1)).sum
    val nFiles = math.max(1L,
      (backlogBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val bkts = bounds.map { case (c, lo, hi) => bucket16(col(c), lo, hi) }
    val z = curve match {
      case "hilbert" =>
        graft.plans.GraftFunctions.register(spark)
        call_function("graft_hilbert", bkts(0), bkts(1))
      case _ => zValue(bkts)
    }
    val incrKeys = partColsIncr.map(col) :+ col("__z")
    val replacement = applyDv(partAwareStatusScan(spark, path, dir,
        schema, statuses), dv)
      .withColumn("__z", z)
      .repartitionByRange(nFiles, incrKeys: _*)
      .sortWithinPartitions(incrKeys: _*)
      .drop("__z")
    rewriteFiles(spark, fs, path, dir, stats, schema,
      touched = backlogFiles.map(_.getString(0)).toSeq,
      replacement = Some(replacement),
      vacuum = vacuum, retentionMs = retentionMs,
      markerRetentionMs = markerRetentionMs, opStartMs = opStart,
      op = "OPTIMIZE INCREMENTAL",
      clusteredOf = moved => Some((spec +: (survivors ++
        moved.map(p => new Path(p).getName).sorted)).mkString("\n")),
      observedParts = Some(observed))
    backlogFiles.length
  }

  /** Write `df` z-ordered on `zCols` (each as (name, globalMin,
    * globalMax)) into ~`targetFiles` files WITH the stats manifest
    * for those columns: range partition + local sort by z-value, so
    * every file covers a compact z-range — a hypercube-ish region of
    * the column space — and min/max stats prune on EVERY z column,
    * not just a leading sort key. The caller passes the global
    * ranges (usually known, or one cheap agg) so the bucketization
    * is a deterministic plan, not a hidden extra scan per write.
    */
  def writeZOrdered(
      df: DataFrame, path: String,
      zCols: Seq[(String, Long, Long)], targetFiles: Int): Unit = {
    require(zCols.size >= 2 && zCols.size <= 4, "z-order supports 2-4 columns")
    val z = zValue(zCols.map { case (c, lo, hi) => bucket16(col(c), lo, hi) })
    val ordered = df.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    writeWithStats(ordered, path, zCols.map(_._1))
  }

  /** Column name of a (resolved or unresolved) attribute node. */
  /** Predicate target as a STATS-KEY string: a bare column name, or
    * a dotted struct-field path (`a.b` — resolved trees carry
    * `GetStructField` chains, Column-DSL trees a multi-part
    * `UnresolvedAttribute`; both normalize to the path the nested
    * stats are tracked under, Delta's nested-column-stats shape).
    */
  private[sources] object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.nameParts.mkString("."))
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        unapply(g.child).map(p => s"$p.${g.extractFieldName}")
      case _ => None
    }
  }

  /** Manifest stat-column reference by LITERAL name: stats columns
    * for NESTED field paths are named with dots (`min_a.b`), which
    * bare `col()` would mis-parse as struct access — always
    * backtick-quote (a no-op for flat names).
    */
  private[sources] def mc(name: String): Column = col(s"`$name`")

  /** The leaf type of a (possibly nested) field path through
    * `schema`; None when any segment fails to resolve.
    */
  private[sources] def fieldTypeOfPath(schema: StructType,
      path: String): Option[DataType] = {
    def walk(dt: DataType, rest: List[String]): Option[DataType] = rest match {
      case Nil => Some(dt)
      case h :: t => dt match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(h)).flatMap(f => walk(f.dataType, t))
        case _ => None
      }
    }
    walk(schema, path.split("\\.").toList)
  }

  /** Column-mapping translation for a stats key that may be a NESTED
    * path: the mapping speaks TOP-LEVEL column names, so only the
    * head segment translates (`a.b` under a→c becomes `c.b`); a flat
    * name maps wholesale.
    */
  private[sources] def mapStatsKey(m: Map[String, String], c: String): String = {
    val i = c.indexOf('.')
    if (i < 0) m.getOrElse(c, c)
    else m.get(c.substring(0, i)).fold(c)(h => h + c.substring(i))
  }

  private[sources] def minC(a: String): Column = mc(s"min_$a")
  private[sources] def maxC(a: String): Column = mc(s"max_$a")
  private[sources] def litOf(v: Literal): Column =
    lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(v.value, v.dataType))
}
