package graft.streaming

import graft.operators.Cdc
import graft.sources.DataSkipping
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** Streaming sink into a [[DataSkipping]] stats table — the bridge
  * between the ingest boundary ([[FileIngest]], Kafka-shaped
  * sources) and the skipping-read/maintenance storage layer: each
  * micro-batch lands via `appendWithStats`, so a continuously-fed
  * table is immediately prunable (`readSkipping`) and compactable
  * (`compactTable`) without ever re-scanning what was already
  * written.
  *
  * EXACTLY-ONCE to manifest readers: foreachBatch is at-least-once,
  * so each batch commits under the deterministic name
  * `commit-batch<id>` — the named-manifest-file marker in
  * `appendWithStats`. A replayed batch finds its marker and is
  * skipped; a crash between the data move and the marker leaves
  * orphan files manifest readers never see (reclaimed by the next
  * `compactTable`). Reference behavior: pos-dlt's DLT tables get
  * this from Delta's transaction log (03_Bronze-to-Silver-ETL Auto
  * Loader writes); this is the same contract over plain parquet +
  * manifest. Run `compactTable` only with the stream stopped — it
  * rewrites the manifest the markers live in.
  */
object StatsTableSink {

  /** Bootstrap an EMPTY stats table (schema sidecar + empty
    * manifest) so the first streaming batch can append. Idempotent
    * for an existing STATS table (left untouched) — but a directory
    * that holds files WITHOUT a schema sidecar is refused loudly:
    * bootstrapping runs writeWithStats, whose overwrite would
    * destroy whatever lives there (a raw parquet dataset). Convert
    * such a dataset explicitly with [[DataSkipping.writeWithStats]]
    * over its read-back contents.
    *
    * FIRST-TIME bootstrap is serialized by an exclusive-create
    * sentinel NEXT TO the table dir (inside it would be destroyed by
    * writeWithStats' overwrite): two streams starting against the
    * same empty path would otherwise both pass the empty check and
    * run concurrent overwrites — a torn manifest. The loser of the
    * sentinel race fails loudly instead. A crashed bootstrap leaves
    * the sentinel behind (deliberate: the half-built table must be
    * inspected, not silently overwritten) — delete the sentinel and
    * the partial table dir to retry.
    */
  def ensureTable(
      spark: SparkSession, path: String,
      schema: StructType,
      statsCols: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(DataSkipping.manifestDir(spark, path),
        DataSkipping.SchemaFile)))
      return
    val root = new Path(path)
    require(!fs.exists(root) || fs.listStatus(root).isEmpty,
      s"$path exists and is not a stats table (no schema sidecar) — refusing to " +
        "overwrite it; convert it with DataSkipping.writeWithStats first")
    val qualified = fs.makeQualified(root)
    val sentinel = new Path(qualified.getParent,
      s".${qualified.getName}.bootstrap-lock")
    // exclusive create (overwrite=false) — the conditional-put
    // analog. Only a genuine already-exists failure maps to the
    // rival-bootstrap message; any other IO failure (permissions,
    // disk) propagates as itself instead of sending the operator
    // hunting for a sentinel that is not there
    val out =
      try fs.create(sentinel, false)
      catch {
        case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                  _: java.nio.file.FileAlreadyExistsException) =>
          throw new IllegalStateException(
            s"stats-table bootstrap sentinel $sentinel already exists — either a " +
              "concurrent caller is bootstrapping this table right now, or a " +
              "previous bootstrap crashed mid-write; inspect and delete the " +
              s"sentinel (and any partial $path) before retrying", e)
      }
    out.close()
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    // partitionBy: the bootstrap creates a PARTITIONED table (the
    // zero-row v0 carries the partition sidecar; the first batch's
    // rows route into their col=value dirs)
    DataSkipping.writeWithStats(empty.coalesce(1), path, statsCols,
      bloomCols = Nil, partitionBy = partitionBy)
    fs.delete(sentinel, false) // success: release; a crash above keeps it
  }

  /** Start draining `source` (a streaming DataFrame) into the stats
    * table at `path`. Defaults to the AvailableNow trigger —
    * run-to-drain, matching [[StreamingPipeline.runOnce]]'s cascade
    * model (pass `trigger` for continuous cadence); restart with the
    * same `checkpointDir` to pick up new source data, replays
    * deduplicated by the per-batch commit marker.
    *
    * Marker names are scoped per WRITER, not per table: batch ids
    * restart from 0 in every fresh checkpoint, so two streams
    * feeding one table would collide on bare batch numbers and the
    * second stream's data would be silently "replay"-skipped (the
    * bug Delta's txn (appId, version) pairs exist to prevent). The
    * writer identity defaults to a hash of `checkpointDir` — stable
    * across restarts of the same logical stream, distinct between
    * streams; pass `writerId` to pin it explicitly (e.g. when a
    * checkpoint is relocated).
    */
  def run(
      source: DataFrame, path: String, statsCols: Seq[String],
      checkpointDir: String, writerId: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      partitionBy: Seq[String] = Nil): StreamingQuery = {
    val spark = source.sparkSession
    ensureTable(spark, path, source.schema, statsCols, partitionBy)
    // an EXISTING table short-circuits the bootstrap above — a
    // declared partitionBy that does not match its layout must fail
    // loudly here, not be silently ignored (the user believes a
    // layout that does not exist)
    DataSkipping.requireDeclaredPartitioning(spark, path, partitionBy,
      "StatsTableSink.run")
    val writer = writerId.getOrElse(checkpointWriterId(spark, checkpointDir))
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DataSkipping.appendWithStats(batch, path, statsCols,
          commitName = Some(s"commit-$writer-batch$batchId"))
        () // discard the committed/skipped flag: skip IS success here
      }
      .start()
  }

  /** The default writer identity of a sink: a hash of the QUALIFIED
    * checkpoint path, not the raw string — "/tmp/ck", "/tmp/ck/" and
    * "file:/tmp/ck" are the same checkpoint and must yield the same
    * identity, or a restart under a different spelling re-applies its
    * replayed batches.
    */
  private def checkpointWriterId(spark: SparkSession, checkpointDir: String): String = {
    val p = new Path(checkpointDir)
    val qualified = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** Streaming CDC MERGE sink — the Delta
    * `foreachBatch { merge }` pattern as a first-class sink, and
    * graft's one `apply_changes` store (pos-dlt `03_Bronze-to-Silver
    * ETL.py:375-384`): each micro-batch goes through [[mergeBatch]],
    * ONE key-envelope-pruned copy-on-write [[DataSkipping.mergeInto]]
    * commit, so a CDC batch touching one day's keys rewrites a
    * handful of files, not the whole state.
    *
    * DELETES (`deleteWhen`, DLT's `APPLY AS DELETE WHEN`): the target
    * stores one more column, [[Cdc.DeletedCol]], and keeps each
    * winning delete as a TOMBSTONE row, so a later change older than
    * the delete loses to it instead of re-inserting the key; a newer
    * change replaces the tombstone. Read the live rows through
    * [[readCurrent]] (a raw read shows the tombstones, as DLT's
    * backing table does). The column exists exactly when `deleteWhen`
    * is given: a target whose schema disagrees is refused by name
    * before the stream starts. Without `deleteWhen` the target holds
    * the source's columns only.
    *
    * EXACTLY-ONCE across foreachBatch's at-least-once delivery: each
    * batch is ONE commit carrying the `txn` stamp
    * (`graft-merge-sink-ups:<writer>`, batchId), so a replayed batch
    * whose merge already committed re-applies as a detected no-op.
    *
    * `dropCols` are visible to `deleteWhen`/collapse but not stored
    * (the op column of a CDC feed). The target's schema is the
    * source's minus `dropCols` (plus the tombstone column).
    */
  def runMerge(
      source: DataFrame, path: String, keyCols: Seq[String],
      seqCols: Seq[String], statsCols: Seq[String],
      checkpointDir: String,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      dropCols: Seq[String] = Nil,
      writerId: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = source.sparkSession
    require(keyCols.nonEmpty && seqCols.nonEmpty,
      "runMerge needs key and sequence columns")
    val tombstones = deleteWhen.isDefined
    val storedFields = source.schema.fields
      .filterNot(f => dropCols.contains(f.name)) ++
      (if (tombstones) Seq(StructField(Cdc.DeletedCol, BooleanType)) else Nil)
    ensureTable(spark, path, StructType(storedFields), statsCols)
    val has = DataSkipping.tableSchema(spark, path).fieldNames.contains(Cdc.DeletedCol)
    require(has == tombstones,
      if (tombstones) s"runMerge with deleteWhen needs a target that stores the " +
        s"${Cdc.DeletedCol} tombstone column; $path has none"
      else s"$path stores the ${Cdc.DeletedCol} tombstone column of a deleteWhen " +
        "target; runMerge without deleteWhen would lose it")
    // kept from the two-arm sink, so a checkpoint written by it
    // replays as a detected no-op
    val app = s"graft-merge-sink-ups:${writerId.getOrElse(
      checkpointWriterId(spark, checkpointDir))}"
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(spark, batch, path, keyCols, seqCols, deleteWhen, dropCols,
          txn = Some(app -> batchId))
      }
      .start()
  }

  /** One [[runMerge]] batch against an existing target: the batch
    * collapses to one winner per key, the greatest
    * `struct(seqCols :+ __del ++ payload)` (latest by `seqCols`, a
    * delete beating an update at equal sequence —
    * [[graft.operators.Cdc.applyChanges]]'s tie rule), and ONE
    * [[DataSkipping.mergeInto]] applies the winners. A stored row is
    * replaced only when the incoming winner would have won the same
    * collapse against it, so a change older than the stored row
    * (or its tombstone) is a no-op. The same two clauses serve both
    * shapes: with `deleteWhen` the SET carries [[Cdc.DeletedCol]], so
    * a winning delete is stored as a tombstone (update or insert);
    * without it no row is a delete and the stored row ranks as a
    * non-delete. The merge runs in `spark`,
    * not in the micro-batch's own session (a streaming clone with
    * adaptive execution off).
    */
  private[graft] def mergeBatch(
      spark: SparkSession, batch: DataFrame, path: String, keyCols: Seq[String],
      seqCols: Seq[String], deleteWhen: Option[org.apache.spark.sql.Column],
      dropCols: Seq[String], txn: Option[(String, Long)]): Unit = {
    import graft.sources.MergeClause._
    val del = Cdc.DeletedCol
    val storedCols = batch.columns.toSeq.filterNot(dropCols.contains)
    val payload = storedCols.filterNot(c =>
      keyCols.contains(c) || seqCols.contains(c))
    val ranked = (seqCols :+ del) ++ payload
    // the collapse's order key for the incoming (s) and the stored (t)
    // row
    val wins = struct(ranked.map(c => col(s"s.$c").as(c)): _*) >
      struct(ranked.map(c =>
        (if (c == del && deleteWhen.isEmpty) lit(false) else col(s"t.$c")).as(c)): _*)
    val tableCols = storedCols ++ deleteWhen.map(_ => del)
    val clauses = Seq(
      MatchedUpdate(Some(wins), tableCols.map(c => c -> col(s"s.$c")).toMap),
      NotMatchedInsert(None))
    val winners = batch
      .withColumn(del, coalesce(deleteWhen.getOrElse(lit(false)), lit(false)))
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(ranked.map(col): _*)).as("__w"))
      .select(keyCols.map(col) ++ ranked.map(c => col(s"__w.$c").as(c)): _*)
    DataSkipping.mergeInto(spark, path, winners, keyCols, clauses, txn = txn)
  }

  /** The live rows of a [[runMerge]] target: the skipping read with
    * a `deleteWhen` target's tombstones filtered out and the
    * [[Cdc.DeletedCol]] column dropped. A target without tombstones
    * reads as it is stored.
    */
  def readCurrent(spark: SparkSession, path: String): DataFrame = {
    val df = DataSkipping.readSkipping(spark, path, lit(true))
    if (!df.columns.contains(Cdc.DeletedCol)) df
    else df.filter(!col(Cdc.DeletedCol)).drop(Cdc.DeletedCol)
  }
}
