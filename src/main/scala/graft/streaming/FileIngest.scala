package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamReader, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Incremental file ingestion — the Auto Loader analog.
  *
  * Re-expresses the reference's snapshot ingest
  * (pos-dlt `03_Bronze-to-Silver ETL.py:348-364`:
  * `cloudFiles` with an explicit schema over periodically dropped
  * files) as a Structured Streaming file source: files that appear
  * in `dir` after the stream starts are picked up incrementally,
  * `maxFilesPerTrigger` bounds each micro-batch (the
  * `maxOffsetsPerTrigger` analog for files), and the explicit schema
  * skips inference exactly like the reference's schema'd loader.
  *
  * Beyond the fixed-schema loader, the Auto Loader extras
  * (reference `03:357-362`):
  *  - [[streamEvolving]] — schema inference persisted under a schema
  *    location, with addNewColumns-on-restart evolution (the
  *    `cloudFiles.schemaLocation` / `schemaEvolutionMode` behavior:
  *    a RUNNING query keeps its start-time schema; new columns land
  *    when the stream restarts, which is also when cloudFiles picks
  *    them up — it fails the stream on a new column and expects the
  *    retry to re-read the evolved schema).
  *  - [[runQuarantined]] — PERMISSIVE parse with a corrupt-record
  *    column, good rows appended to the target, malformed raw rows
  *    appended to a quarantine directory (the `badRecordsPath`
  *    behavior) in the SAME single scan.
  */
object FileIngest {

  /** Streaming reader over a directory of files.
    *
    * @param format  "csv", "json" or "parquet"
    * @param options extra reader options (header, timestampFormat...)
    */
  def stream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      format: String = "csv",
      maxFilesPerTrigger: Option[Int] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val base: DataStreamReader = spark.readStream
      .format(format)
      .schema(schema)
      .options(options)
    maxFilesPerTrigger.fold(base)(n =>
      base.option("maxFilesPerTrigger", n.toString)).load(dir)
  }

  /** Per-sampled-file inferred schemas (file path -> schema). Skips
    * the `_`- and `.`-prefixed names Spark's own file source ignores
    * — inferring from a half-written `.part.tmp` dotfile would
    * pollute the schema with garbage the stream itself never reads.
    */
  private def fileSchemas(
      spark: SparkSession,
      dir: String,
      format: String,
      options: Map[String, String],
      sampleFiles: Int): Seq[(String, StructType)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(path).filter(_.isFile)
      .map(_.getPath.toString)
      .filterNot { f =>
        val name = f.split('/').last
        name.startsWith("_") || name.startsWith(".")
      }
      .sorted.take(sampleFiles)
    require(files.nonEmpty, s"no files in $dir to infer a schema from")
    files.toSeq.map { f =>
      f -> (format match {
        case "csv" => spark.read.options(options)
          .option("inferSchema", "true").csv(f).schema
        case "json" => spark.read.options(options).json(f).schema
        case "parquet" => spark.read.options(options).parquet(f).schema
        case other => throw new IllegalArgumentException(
          s"unsupported format for inference: $other")
      })
    }
  }

  /** Append every field of `schemas` (in order) not already present
    * by name — new columns land at the END, existing columns keep
    * their original type (a type change upstream must not silently
    * rewrite a column; rows that don't parse under the kept type are
    * a job for [[runQuarantined]]).
    */
  private def mergeFields(base: StructType, schemas: Seq[StructType]): StructType =
    schemas.foldLeft(base)((acc, one) =>
      one.fields.foldLeft(acc)((s, fld) =>
        if (s.fieldNames.contains(fld.name)) s else s.add(fld)))

  /** Infer the merged schema of the files currently in `dir`: each
    * sampled file is inferred SEPARATELY and their columns unioned
    * ([[mergeFields]]), so a new column appearing in only the newest
    * file is seen even when older files lack it (per-dir inference
    * would take the column set of whichever file the reader lists
    * first). Bounded by `sampleFiles` — at 100 TB nobody infers over
    * every file; Auto Loader samples too
    * (`cloudFiles.schemaInference.sampleSize`). On conflicting
    * types the first sampled file wins.
    */
  def inferSchema(
      spark: SparkSession,
      dir: String,
      format: String = "csv",
      options: Map[String, String] = Map.empty,
      sampleFiles: Int = 64): StructType =
    mergeFields(new StructType(),
      fileSchemas(spark, dir, format, options, sampleFiles).map(_._2))

  private val SchemaVersionFile = "^v(\\d+)\\.json$".r

  /** The persisted schema versions under `schemaLocation`, ascending;
    * empty for a missing dir.
    */
  private def schemaVersions(schemaLocation: String): Seq[Long] = {
    val dir = Paths.get(schemaLocation)
    if (!Files.isDirectory(dir)) Nil
    else {
      val listing = Files.list(dir) // holds a descriptor until closed
      try listing.iterator().asScala.map(_.getFileName.toString)
        .collect { case SchemaVersionFile(v) => v.toLong }.toSeq.sorted
      finally listing.close()
    }
  }

  /** Latest persisted schema under `schemaLocation`, if any. */
  def persistedSchema(schemaLocation: String): Option[StructType] =
    schemaVersions(schemaLocation).lastOption.map { v =>
      DataType.fromJson(new String(
        Files.readAllBytes(Paths.get(schemaLocation, s"v$v.json")),
        StandardCharsets.UTF_8)).asInstanceOf[StructType]
    }

  /** Resolve the stream schema for this (re)start: infer from the
    * current files, merge NEW columns onto the persisted schema
    * (existing columns keep their persisted type — an upstream type
    * change must not silently rewrite the table's column), and
    * persist a new version iff the schema changed. The version files
    * (`v0.json`, `v1.json`, ...) are the audit trail of every
    * evolution step, like cloudFiles' `_schemas` directory.
    */
  def evolveSchema(
      spark: SparkSession,
      dir: String,
      schemaLocation: String,
      format: String = "csv",
      options: Map[String, String] = Map.empty,
      sampleFiles: Int = 64): StructType = {
    val perFile = fileSchemas(spark, dir, format, options, sampleFiles)
    val prior = persistedSchema(schemaLocation)
    val merged = mergeFields(prior.getOrElse(new StructType()), perFile.map(_._2))
    // CSV is parsed POSITIONALLY against the stream schema (the
    // header is skipped, not matched by name), so appended-at-end is
    // the only evolution CSV can express: a file whose columns are
    // not a positional prefix of the merged schema would have every
    // token silently land in the wrong column — token counts still
    // match, no corrupt-record marker fires. Fail LOUDLY here
    // instead. (JSON/parquet resolve by name and are unaffected;
    // use them for out-of-order evolution. Only sampled files are
    // checked — keep sampleFiles above the drop cadence.)
    if (format == "csv") perFile.foreach { case (f, sch) =>
      val expect = merged.fieldNames.take(sch.length).toSeq
      require(sch.fieldNames.toSeq == expect,
        s"CSV file $f has columns ${sch.fieldNames.mkString("[", ",", "]")} " +
          s"but the evolved schema expects the positional prefix " +
          s"${expect.mkString("[", ",", "]")} — CSV evolution must append " +
          "new columns at the end (or switch to json/parquet, which " +
          "resolve columns by name)")
    }
    if (!prior.contains(merged)) {
      Files.createDirectories(Paths.get(schemaLocation))
      val next = schemaVersions(schemaLocation).lastOption.getOrElse(-1L) + 1
      Files.write(Paths.get(schemaLocation, s"v$next.json"),
        merged.json.getBytes(StandardCharsets.UTF_8))
    }
    merged
  }

  /** [[stream]] with inferred + evolving schema: the addNewColumns
    * restart loop of Auto Loader. Files dropped mid-run with a new
    * column keep flowing (the new column is simply not read); the
    * next restart picks the column up and reads it from files
    * processed AFTER the restart. Historical rows read back null for
    * late-added columns when the caller reads its sink with the
    * latest [[persistedSchema]].
    */
  def streamEvolving(
      spark: SparkSession,
      dir: String,
      schemaLocation: String,
      format: String = "csv",
      maxFilesPerTrigger: Option[Int] = None,
      options: Map[String, String] = Map.empty,
      sampleFiles: Int = 64): DataFrame =
    stream(spark, dir,
      evolveSchema(spark, dir, schemaLocation, format, options, sampleFiles),
      format, maxFilesPerTrigger, options)

  /** Ingest with bad-record quarantine (the `badRecordsPath`
    * behavior): rows that fail to parse under `schema` are captured
    * raw by a PERMISSIVE corrupt-record column and written to
    * `quarantineDir`; clean rows to `targetDir`. ONE scan feeds both
    * sinks (the micro-batch is persisted across the two writes, not
    * re-read). Restartable via `checkpointDir`.
    *
    * IDEMPOTENT REPLAY: foreachBatch is at-least-once — a crash
    * after the target write but before the batch commits replays the
    * batch on restart. Each write therefore lands in a
    * `batch=<batchId>` subdirectory with overwrite mode: the replay
    * rewrites the same subdirectory instead of appending duplicates.
    * Read the sinks with `spark.read.parquet(dir)` — the batch id
    * surfaces as one extra partition column.
    *
    * Returns the started query (AvailableNow trigger — run-to-drain,
    * matching [[StreamingPipeline.runOnce]]'s cascade model).
    */
  def runQuarantined(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      targetDir: String,
      quarantineDir: String,
      checkpointDir: String,
      format: String = "csv",
      options: Map[String, String] = Map.empty,
      corruptCol: String = "_corrupt_record"): StreamingQuery = {
    require(!schema.fieldNames.contains(corruptCol),
      s"schema already has a '$corruptCol' column")
    val src = stream(spark, dir, schema.add(corruptCol, StringType),
      format, None,
      options ++ Seq("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptCol))
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          b.filter(col(corruptCol).isNull).drop(corruptCol)
            .write.mode("overwrite").parquet(s"$targetDir/batch=$batchId")
          b.filter(col(corruptCol).isNotNull).select(col(corruptCol).as("raw"))
            .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
        } finally b.unpersist()
        ()
      }
      .start()
  }
}
