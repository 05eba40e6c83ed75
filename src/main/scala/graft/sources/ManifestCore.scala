package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType, StructField, StructType}

/** Manifest GENERATION RESOLUTION and reading: versioned `v<N>` dirs, the `_COMMIT` visibility point, the refusal of layouts no code path writes any more, the pinned manifest read, and the optimistic-retry loop every generation-building entry point wraps itself in.
  *
  * One slice of the storage kernel, mixed into [[DataSkipping]] -
  * the object is the single public surface; the trait split is
  * file organization only (r17, the twice-deferred seam split).
  */
private[sources] trait ManifestCore { this: DataSkipping.type =>

  // -----------------------------------------------------------------
  // Generation resolution
  // -----------------------------------------------------------------

  /** (version, status) of every `v<N>` generation dir, ascending. */
  private[sources] def genDirs(fs: org.apache.hadoop.fs.FileSystem,
      statsDir: Path): Seq[(Long, FileStatus)] =
    if (!fs.exists(statsDir)) Seq.empty
    else fs.listStatus(statsDir).toSeq.flatMap { f =>
      f.getPath.getName match {
        case GenRe(v) if f.isDirectory => Some(v.toLong -> f)
        case _ => None
      }
    }.sortBy(_._1)

  private[sources] def isCommittedGen(fs: org.apache.hadoop.fs.FileSystem, gen: Path): Boolean =
    fs.exists(new Path(gen, CommitFile))

  /** Highest committed generation, if the table is versioned. */
  private[sources] def currentGen(fs: org.apache.hadoop.fs.FileSystem,
      statsDir: Path): Option[(Long, Path)] =
    genDirs(fs, statsDir)
      .filter { case (_, f) => isCommittedGen(fs, f.getPath) }
      .lastOption.map { case (v, f) => v -> f.getPath }

  /** The directory the CURRENT manifest lives in: the highest
    * committed generation. Everything the planner needs — manifest
    * parts, sidecars, commit markers — is under this one dir. With no
    * committed generation the path is not a table yet and the bare
    * stats dir comes back (its manifest read fails, bootstrap may
    * create v0) — unless an older layout lives there, which is
    * refused ([[refuseLegacyLayout]]).
    */
  def manifestDir(spark: SparkSession, path: String): String = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestDirOf(fs, path)
  }

  private[sources] def manifestDirOf(fs: org.apache.hadoop.fs.FileSystem, path: String): String = {
    val statsDir = new Path(s"$path/$StatsDir")
    currentGen(fs, statsDir) match {
      case Some((_, gen)) => gen.toString
      case None =>
        if (fs.exists(statsDir) && fs.listStatus(statsDir).exists(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet")))
          refuseLegacyLayout(path, "flat manifest (manifest parts directly " +
            s"under $StatsDir, no committed generation)")
        val root = new Path(path)
        if (fs.exists(root) && fs.listStatus(root).exists(f =>
            f.isDirectory && f.getPath.getName.startsWith(SwapPrefix)))
          refuseLegacyLayout(path, s"torn stats swap ($SwapPrefix* dir, no " +
            "committed generation)")
        statsDir.toString
    }
  }

  /** The one refusal for a table layout no code path writes any more
    * (pre-generation flat manifests, torn pre-generation swaps,
    * manifests without the manifest-schema sidecar or null counts,
    * empty `_COMMIT`s, generations without an operation record,
    * root-level vector-index models). Like Delta's reader/writer
    * protocol it refuses instead of carrying a read branch for the
    * old layout, and it names the layout. Every caller throws BEFORE
    * its first write, so nothing on disk changes.
    */
  private[sources] def refuseLegacyLayout(path: String, layout: String): Nothing =
    throw new IllegalStateException(
      s"$path holds a legacy $layout layout that this build neither reads " +
        "nor writes (graft tables are committed v<N> generations only) — " +
        "refusing it; nothing on disk was changed. Rewrite the table's " +
        "rows with writeWithStats using the build that wrote it.")

  /** The reader/writer protocol gate every manifest consumer passes
    * (reads, metadata aggregates, appends, compaction, DML, vacuum):
    * refuses feature flags this build does not implement (see
    * [[unknownFeatures]]) and a generation from before the
    * manifest-schema sidecar and per-file null counts. Returns the
    * persisted manifest schema — no extra filesystem call on a
    * healthy table (both sidecars are read anyway).
    */
  private[sources] def requireManifestProtocol(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, feats: Set[String],
      manifestSchemaJson: Option[String]): StructType = {
    val unknown = unknownFeatures(feats)
    require(unknown.isEmpty,
      s"manifest at $dir requires table feature(s) " +
        s"[${unknown.toSeq.sorted.mkString(", ")}] this build does not " +
        "implement — refusing it rather than silently ignoring them " +
        "(a newer writer's stats encoding or visibility rule could make an " +
        "ignorant read wrong, not just slow); upgrade the library")
    manifestSchemaJson match {
      case Some(json) if obsVersionOf(dir).nonEmpty =>
        if (!feats("nulls")) refuseLegacyLayout(dir,
          "manifest without per-file null counts (no nulls feature)")
        DataType.fromJson(json).asInstanceOf[StructType]
      case _ => missingSidecar(fs, dir, ManifestSchemaFile)
    }
  }

  /** A sidecar every committed generation carries. */
  private[sources] def requiredSidecarIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String): String =
    readSidecarIn(fs, dir, name).getOrElse(missingSidecar(fs, dir, name))

  /** Missing from a committed generation, a required sidecar marks an
    * older layout; anywhere else (the bare stats dir of a path with no
    * table yet, a version that is not retained) there is simply no
    * committed generation to read.
    */
  private def missingSidecar(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, name: String): Nothing =
    if (obsVersionOf(dir).nonEmpty && isCommittedGen(fs, new Path(dir)))
      refuseLegacyLayout(dir, s"generation without a $name sidecar")
    else throw new IllegalArgumentException(
      s"$dir is not a committed graft generation (no table there yet, or " +
        "a version that is not retained)")

  /** Manifest rows of the table's current generation, read through
    * the persisted manifest schema (no footer reads; post-evolution
    * parts wider than older ones surface nulls for the added
    * columns).
    */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    readManifestIn(spark, manifestDir(spark, path))

  /** Feature flags THIS build implements. Everything else in a
    * manifest's `_manifest_features.txt` came from a NEWER writer
    * whose semantics this reader cannot honor — and ignoring a
    * feature is not merely slow: a different stats encoding or
    * row-visibility rule would make an ignorant read WRONG. So every
    * manifest consumer (reads, metadata aggregates, appends,
    * compaction, DML, vacuum — they all pass
    * [[requireManifestProtocol]]) REFUSES unknown features loudly — the Delta
    * reader/writer-protocol rule, feature-name-granular like Delta's
    * table features. `describeHistory`/`tableVersions` stay readable
    * (inspection needs no feature semantics).
    */
  private[sources] def unknownFeatures(feats: Set[String]): Set[String] =
    feats.filterNot(f =>
      f == "nulls" || f == CdfFeature || f == PartitionedFeature ||
        f.startsWith("bloom:"))

  /** The persisted manifest schema of a generation whose manifest the
    * caller already read through [[requireManifestProtocol]].
    */
  private[sources] def manifestSchemaIn(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): StructType =
    DataType.fromJson(requiredSidecarIn(fs, dir, ManifestSchemaFile))
      .asInstanceOf[StructType]

  private[sources] def readManifestIn(spark: SparkSession, dir: String): DataFrame =
    manifestScan(spark, dir, None, tagged = false)

  // -----------------------------------------------------------------
  // Manifest row cache (driver-side, content-keyed)
  //
  // Every plan, DML candidate probe and generation carry reads the
  // manifest; as a distributed parquet read each such touch is a full
  // Spark action (plan + schedule + scan) over a frame that is
  // typically a few KB. The cache holds each manifest PART's rows
  // driver-side, keyed by (dir, part name, part length) — parts are
  // write-once (appends add new UUID-named files, generations are new
  // dirs), so a key can never serve stale rows — and serves reads as
  // LocalRelations: filters/collects fold driver-side
  // (ConvertToLocalRelation), `statusesOf` stops being a job, and the
  // commit path's carried-row reads cost no scan. Size-gated like the
  // Delta snapshot cache: a read whose pinned parts exceed the local
  // budget keeps the distributed route (the 100 TB manifest never
  // lands on the driver), and the cache evicts LRU past its cap.
  // -----------------------------------------------------------------

  /** `weight` is the part's DRIVER-HEAP footprint (SizeEstimator over
    * the deserialized rows), not its on-disk length: bloom/ndv stat
    * columns are incompressible binary that expands ~3-8x into boxed
    * Row values, so accounting by compressed bytes would overshoot
    * the nominal cache budget by that factor (r18 advice, medium).
    */
  private case class ManifestPart(name: String, len: Long, weight: Long,
      rows: Seq[Row])

  private val manifestPartCache =
    new java.util.LinkedHashMap[String, ManifestPart](256, 0.75f, true)
  private val manifestCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Conservative on-disk → heap expansion factor for GATING a read
    * before its rows exist to measure: schemas carrying non-atomic
    * stat columns (bloom word arrays, ndv register structs) expand
    * hardest — incompressible binary into boxed element objects.
    */
  private def heapExpansionFactor(schema: StructType): Long = {
    val complex = schema.fields.exists(_.dataType match {
      case BinaryType | _: ArrayType | _: StructType | _: MapType => true
      case _ => false
    })
    if (complex) 8L else 2L
  }

  /** Budget for serving one manifest read driver-side (sum of its
    * parts' compressed ON-DISK bytes, the r18 meaning) — reads past
    * it stay distributed.
    */
  private[sources] def maxLocalManifestBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.maxLocalBytes")
      .map(_.toLong).getOrElse(16L * 1024 * 1024)

  /** SEPARATE driver-heap ceiling for one local serve: the disk
    * budget times the schema expansion factor is checked against
    * this, so a bloom/binary-heavy manifest whose boxed rows would
    * dwarf its compressed size stays distributed (r18 advice,
    * medium) — WITHOUT silently shrinking the disk budget for
    * ordinary manifests (a first cut gated `disk × factor` against
    * the 16 MB disk budget itself, which de-cached every
    * bloom-carrying manifest ≤16 MB and measurably REGRESSED the
    * whole skipping family — q_agg_pushdown 2.9→3.6 s; this split
    * restores r18 serving at the defaults while keeping the
    * worst-case heap bound explicit).
    */
  private def maxLocalManifestHeapBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.maxLocalHeapBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)

  /** Total cache capacity in MEASURED HEAP bytes (SizeEstimator over
    * the cached rows). The default grew 64→256 MB alongside the
    * accounting switch from compressed-disk to heap bytes: the same
    * parts now weigh 2-8x more on the books, and keeping the old
    * number would have quietly shrunk effective capacity by that
    * factor (LRU thrash); 256 MB heap is strictly tighter than the
    * r18 worst case (64 MB disk of unaccounted boxed rows) on any
    * realistic driver.
    */
  private def manifestCacheCapBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.cacheBytes")
      .map(_.toLong).getOrElse(256L * 1024 * 1024)

  /** Test/diagnostic hook. */
  private[sources] def clearManifestCache(): Unit =
    manifestPartCache.synchronized {
      manifestPartCache.clear()
      manifestCacheBytes.set(0L)
    }

  /** Test/diagnostic hook: the dirs the cached parts are keyed under. */
  private[sources] def manifestCacheDirs(): Set[String] =
    manifestPartCache.synchronized {
      manifestPartCache.keySet().toArray.map(_.toString.takeWhile(_ != '#')).toSet
    }

  /** Drop every cached part keyed under `dir` — called when a
    * generation directory is physically DELETED (vacuum). Keys are
    * content-addressed so stale service was never possible; this is
    * pure waste reclamation ahead of LRU (r18 verdict #6 nicety).
    */
  private[sources] def dropManifestCacheUnder(dir: String): Unit =
    manifestPartCache.synchronized {
      // scheme-tolerant: keys carry the dir string as the reader saw
      // it (raw or scheme-qualified, `file:/`, `file:///`, `hdfs://`);
      // compare bare paths so hygiene fires for every spelling
      def bare(s: String): String = new Path(s).toUri.getPath
      val prefix = bare(dir)
      val it = manifestPartCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val keyDir = bare(e.getKey.takeWhile(_ != '#'))
        if (keyDir == prefix || keyDir.startsWith(prefix + "/")) {
          manifestCacheBytes.addAndGet(-e.getValue.weight)
          it.remove()
        }
      }
    }

  private def cacheGet(key: String): Option[ManifestPart] =
    manifestPartCache.synchronized(Option(manifestPartCache.get(key)))

  private def cachePut(spark: SparkSession, key: String, part: ManifestPart): Unit =
    manifestPartCache.synchronized {
      if (!manifestPartCache.containsKey(key)) {
        manifestPartCache.put(key, part)
        manifestCacheBytes.addAndGet(part.weight)
        val cap = manifestCacheCapBytes(spark)
        val it = manifestPartCache.entrySet().iterator()
        while (manifestCacheBytes.get() > cap && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) {
            manifestCacheBytes.addAndGet(-e.getValue.weight)
            it.remove()
          }
        }
      }
    }

  /** Per-part manifest rows for `wanted`, driver-side, or None when
    * the read exceeds the local budget. Missing parts are fetched in
    * ONE schema'd Spark read (tagged with their source path) and
    * cached; zero-row parts (named commit markers) cache as empty.
    */
  private def localManifestParts(spark: SparkSession, dir: String,
      wanted: Seq[FileStatus], schema: StructType): Option[Seq[ManifestPart]] = {
    // disk-gated like r18, PLUS a heap ceiling: what lands on the
    // driver are boxed Row objects, so the on-disk sum scaled by a
    // schema-aware expansion factor must also clear the heap budget
    // (the cached parts' ACCOUNTED weight is then the measured heap
    // size)
    val diskSum = wanted.map(_.getLen).sum
    if (diskSum > maxLocalManifestBytes(spark) ||
      diskSum * heapExpansionFactor(schema) >
        maxLocalManifestHeapBytes(spark)) return None
    // the MANIFEST SCHEMA is part of the key: evolution widens the
    // sidecar in place, and rows cached under the old width must not
    // serve a read declared at the new one (the parquet reader fills
    // the added columns with nulls; the cache must re-read to match).
    // The MTIME is in the key as defense-in-depth: parts are
    // write-once by protocol, but an out-of-band same-name same-length
    // rewrite (manual repair, backup restore) must not serve stale
    // rows forever (r18 advice).
    val schemaTag = scala.util.hashing.MurmurHash3.stringHash(schema.json)
    def keyOf(f: FileStatus) =
      s"$dir#$schemaTag#${f.getPath.getName}#${f.getLen}#${f.getModificationTime}"
    val missing = wanted.filter(f => cacheGet(keyOf(f)).isEmpty)
    if (missing.nonEmpty) {
      // read the misses through a ManifestFileIndex over the statuses
      // ALREADY IN HAND — `spark.read.parquet(paths)` would re-list
      // them, and past 32 paths that listing is its own distributed
      // job (measured on the 33-part deletion vectors: two 64 ms
      // listing jobs per probe before this)
      val collected = statusScan(spark, dir, schema,
          missing.map(f => FileStatusWithMetadata(f)))
        .select(col("*"), col("_metadata.file_path").as("__mfile"))
        .collect()
      val byName: Map[String, Seq[Row]] = collected.toSeq
        .groupBy(r => new Path(r.getString(schema.length)).getName)
        .view.mapValues(_.map(r => Row.fromSeq(r.toSeq.dropRight(1)))).toMap
      missing.foreach { f =>
        val n = f.getPath.getName
        val rows = byName.getOrElse(n, Seq.empty)
        val weight = math.max(f.getLen,
          org.apache.spark.util.SizeEstimator.estimate(rows))
        cachePut(spark, keyOf(f), ManifestPart(n, f.getLen, weight, rows))
      }
    }
    Some(wanted.map(f => cacheGet(keyOf(f)).getOrElse(
      // evicted between put and get under heavy contention — re-read
      // is always correct, just give up on the local route this time
      return None)))
  }

  /** The pinned manifest as DRIVER-SIDE (row, source part name) pairs
    * with their schema, when the read is cache-servable — the zero-job
    * input to the driver-side generation carry ([[rewriteFiles]]).
    * None → the caller keeps the DataFrame route (past the local
    * budget).
    */
  private[sources] def localManifestRowsPinned(spark: SparkSession,
      dir: String, names: Set[String])
      : Option[(StructType, Seq[(Row, String)])] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = requireManifestProtocol(fs, dir, manifestFeatures(fs, dir),
      readSidecarIn(fs, dir, ManifestSchemaFile))
    val p = new Path(dir)
    val listed =
      if (fs.exists(p)) fs.listStatus(p).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq.empty
    val wanted = listed.filter(f => names(f.getPath.getName))
      .sortBy(_.getPath.getName)
    if (wanted.size != names.size) None
    else localManifestParts(spark, dir, wanted, schema).map { parts =>
      (schema, parts.flatMap(part => part.rows.map(_ -> part.name)))
    }
  }

  /** Driver-side `unionByName(allowMissingColumns = true)` for local
    * manifest rows: left columns in order, right-only columns
    * appended; missing values fill with null. Shared columns must
    * agree on type (one generation's manifest is type-consistent);
    * a divergent type — possible only after an out-of-band stat
    * column retype — returns None so the caller falls back to the
    * DataFrame route, whose `unionByName` applies Spark's implicit
    * coercions instead of aborting the DML (r18 advice).
    */
  private[sources] def unionRowsByName(ls: StructType, lrows: Seq[Row],
      rs: StructType, rrows: Seq[Row]): Option[(StructType, Seq[Row])] = {
    val extra = rs.fields.filterNot(f => ls.fieldNames.contains(f.name))
    val mismatch = ls.fields.exists(f =>
      rs.fields.find(_.name == f.name).exists(_.dataType != f.dataType))
    if (mismatch) return None
    val out = StructType((ls.fields ++ extra).map(_.copy(nullable = true)))
    val rIdx: Array[Int] = out.fields.map(f => rs.fieldNames.indexOf(f.name))
    val left = lrows.map(r => Row.fromSeq(r.toSeq ++ Seq.fill(extra.length)(null)))
    val right = rrows.map(r => Row.fromSeq(
      rIdx.toSeq.map(i => if (i < 0) null else r.get(i))))
    Some((out, left ++ right))
  }

  /** Rows of `wanted` parquet parts under `dir` served from the
    * driver-side part cache when the size gate admits them — the
    * generic entry the DELETION-VECTOR probe shares with the manifest
    * read (r18 verdict #4: the per-plan DV read on vector-carrying
    * tables was the last always-distributed metadata scan). None =
    * over budget, stay distributed. Same content-addressed keys
    * (dir, schema, name, length, mtime), same LRU budget, same vacuum
    * eviction.
    */
  private[graft] def localPartRows(spark: SparkSession, dir: String,
      wanted: Seq[FileStatus], schema: StructType): Option[Seq[Row]] =
    localManifestParts(spark, dir, wanted, schema)
      .map(_.flatMap(_.rows))

  /** The one manifest read everything plans through. `pin` restricts
    * to an explicit part-name set (the optimistic writers' observed
    * set); `tagged` appends a `__mfile` column carrying each row's
    * source manifest file path (what the distributed route reads from
    * `_metadata.file_path`) for marker-fold provenance.
    */
  private[sources] def manifestScan(spark: SparkSession, dir: String,
      pin: Option[Set[String]], tagged: Boolean): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = requireManifestProtocol(fs, dir, manifestFeatures(fs, dir),
      readSidecarIn(fs, dir, ManifestSchemaFile))
    def distributed(): DataFrame = {
      val base = pin match {
        case Some(names) => spark.read.schema(schema)
          .parquet(names.toSeq.sorted.map(n => s"$dir/$n"): _*)
        case None => spark.read.schema(schema).parquet(dir)
      }
      if (tagged) base.select(col("*"), col("_metadata.file_path").as("__mfile"))
      else base
    }
    val p = new Path(dir)
    val listed =
      if (fs.exists(p)) fs.listStatus(p).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      else Seq.empty
    val wanted = pin match {
      case Some(names) =>
        val got = listed.filter(f => names(f.getPath.getName))
        // a pinned name missing from the dir would fail the
        // distributed read loudly — keep that behavior
        if (got.size != names.size) return distributed()
        got.sortBy(_.getPath.getName)
      case None => listed.sortBy(_.getPath.getName)
    }
    localManifestParts(spark, dir, wanted, schema) match {
      case None => distributed()
      case Some(parts) =>
        val outSchema =
          if (tagged) StructType(schema.fields :+
            StructField("__mfile", org.apache.spark.sql.types.StringType,
              nullable = false))
          else schema
        val rows: Seq[Row] = parts.flatMap { part =>
          if (tagged) part.rows.map(r =>
            Row.fromSeq(r.toSeq :+ s"$dir/${part.name}"))
          else part.rows
        }
        spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          outSchema)
    }
  }

  /** How many optimistic-commit races a DML/maintenance entry point
    * absorbs by re-running itself before giving up.
    */
  val ConcurrentRetries = 8

  /** Re-run `body` on [[ConcurrentWriteException]] — the optimistic
    * retry loop every generation-building entry point wraps itself
    * in. Each retry re-executes the WHOLE op from scratch, so it
    * re-plans against whatever state the winning writer committed
    * (declarative inputs make that the correct serial order). Small
    * jittered backoff so a herd of contenders interleaves instead of
    * re-colliding.
    */
  private[sources] def withConcurrentRetry[T](op: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt >= ConcurrentRetries)
            throw new ConcurrentWriteException(
              s"$op lost $attempt consecutive optimistic-commit races " +
                s"(last: ${e.getMessage}) — sustained writer contention; " +
                "coordinate maintenance or retry later")
          Thread.sleep(5L + scala.util.Random.nextInt(45))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The manifest dir's current *.parquet file names (parts + named
    * commit markers) — the OBSERVED SET an optimistic writer pins its
    * carried-rows read to and hands to [[publishGeneration]], which
    * treats anything beyond it as a concurrent append to ride
    * forward verbatim.
    */
  private[sources] def listManifestNames(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Set[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
  }

  /** [[readManifestIn]] PINNED to an explicit file-name set: the
    * returned frame reads exactly those files, so a concurrent
    * append landing after the listing can never half-appear in a
    * generation build (it is either wholly beyond the pin — and
    * ridden forward verbatim at publish — or wholly inside it).
    */
  private[graft] def readManifestPinned(spark: SparkSession, dir: String,
      names: Set[String]): DataFrame =
    if (names.isEmpty) readManifestIn(spark, dir).limit(0)
    else manifestScan(spark, dir, Some(names), tagged = false)

}
