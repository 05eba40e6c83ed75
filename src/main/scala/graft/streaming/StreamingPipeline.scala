package graft.streaming

import graft.operators.Expectations
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Declarative STREAMING pipeline — the `dlt.read_stream` side of the
  * DLT engine that [[Pipeline]] (batch DAG) doesn't cover, and the
  * formalization of what [[PipelineDemo]] chains by hand.
  *
  * The reference declares continuous tables with
  * `@dlt.table` + `dlt.read_stream(dep)` and lets the DLT runtime
  * own each flow's checkpoint and query lifecycle
  * (pos-dlt `03_Bronze-to-Silver ETL.py:249-324`,
  * `05_DLT Job Scheduling.py` Continuous mode). Here:
  *
  *  - `source(name)` declares a root streaming frame (file ingest,
  *    Kafka, MemoryStream...).
  *  - `table(name, deps*)` declares a stream-backed table: its build
  *    receives the deps AS STREAMS and its result is materialized to
  *    `storageRoot/name/data` (parquet, append) by a dedicated
  *    StreamingQuery with a per-table checkpoint at
  *    `storageRoot/name/ckpt` — so each table is independently
  *    restartable and downstream tables re-read its storage as a
  *    stream, exactly the DLT storage model.
  *  - `sink(name, dep)` declares a terminal flow with a custom
  *    writer (e.g. [[StatsTableSink.runMerge]], the CDC upsert into a
  *    graft table).
  *
  * Lifecycle:
  *  - [[runOnce]] — triggered mode: one `Trigger.AvailableNow`
  *    cascade in dependency order, each table awaited before its
  *    dependents start, processing exactly the data available at
  *    trigger time. Checkpoints persist, so the next `runOnce` only
  *    processes NEW data.
  *  - [[start]] — continuous mode: every table's query starts
  *    concurrently and keeps running; the returned [[StreamingRun]]
  *    drains ([[StreamingRun.processAllAvailable]]), stops and
  *    inspects the fleet.
  *
  * Expectations on streaming tables: violation counts ride the
  * stream as `observe` metrics (one CollectMetrics node before any
  * filtering — no extra scan, visible in every progress event);
  * Drop/Fail rules filter null-safely exactly like the batch DAG.
  * Fail rules are enforced post-batch in [[runOnce]] (the cascade
  * aborts before dependents run) — unlike DLT on Delta there is no
  * transaction to roll back, so the failing micro-batch's own writes
  * remain in storage; the gate protects downstream tables.
  *
  * Scale: per-table parquet materialization is append-only file I/O
  * partitioned by the stream's natural partitioning; nothing
  * collects to the driver; state (dedup, session, CDC) lives in the
  * per-query checkpoint/state stores, bounded by watermarks.
  */
final class StreamingPipeline(spark: SparkSession, storageRoot: String) {

  private sealed trait Node {
    def name: String
    def deps: Seq[String]
    def expectations: Seq[Expectations.Rule]
  }
  private final case class SourceDef(
      name: String, build: () => DataFrame) extends Node {
    def deps: Seq[String] = Nil
    def expectations: Seq[Expectations.Rule] = Nil
  }
  private final case class TableDef(
      name: String, deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame,
      expectations: Seq[Expectations.Rule],
      statsCols: Option[Seq[String]] = None,
      partitionBy: Seq[String] = Nil) extends Node
  private final case class SinkDef(
      name: String, dep: String,
      start: (DataFrame, String) => StreamingQuery,
      expectations: Seq[Expectations.Rule]) extends Node {
    def deps: Seq[String] = Seq(dep)
  }

  private val defs = mutable.LinkedHashMap[String, Node]()
  private val schemas = mutable.Map[String, StructType]()
  private val triggers = mutable.Map[String, Trigger]()

  private def add(n: Node): this.type = {
    require(!defs.contains(n.name), s"duplicate table ${n.name}")
    defs(n.name) = n
    this
  }

  /** Root streaming source (no dependencies). */
  def source(name: String)(build: => DataFrame): this.type =
    add(SourceDef(name, () => build))

  /** Stream-backed table: deps arrive as streams, the result is
    * materialized with a dedicated query + checkpoint.
    */
  def table(name: String, deps: String*)(
      build: Map[String, DataFrame] => DataFrame): this.type =
    add(TableDef(name, deps, build, Nil))

  def tableWithExpectations(
      name: String, deps: Seq[String],
      expectations: Seq[Expectations.Rule])(
      build: Map[String, DataFrame] => DataFrame): this.type =
    add(TableDef(name, deps, build, expectations))

  /** Stream-backed table materialized as a [[graft.sources.DataSkipping]]
    * STATS TABLE instead of plain parquet: each micro-batch lands as
    * a NAMED manifest commit ([[StatsTableSink]]), and dependents'
    * `readStream` consumes those commits through
    * [[StatsTableSource]] — one commit = one downstream micro-batch,
    * the `dlt.read_stream`-from-a-Delta-table loop closed end to end
    * (file discovery driven by the manifest, never a directory
    * listing). The materialized table is also immediately prunable
    * (`readSkipping`) and compactable (`compactTable`, streams
    * stopped and caught up first).
    */
  def statsTable(name: String, statsCols: Seq[String], deps: String*)(
      build: Map[String, DataFrame] => DataFrame): this.type =
    add(TableDef(name, deps, build, Nil, statsCols = Some(statsCols)))

  def statsTableWithExpectations(
      name: String, statsCols: Seq[String], deps: Seq[String],
      expectations: Seq[Expectations.Rule])(
      build: Map[String, DataFrame] => DataFrame): this.type =
    add(TableDef(name, deps, build, expectations, statsCols = Some(statsCols)))

  /** [[statsTable]] materialized HIVE-PARTITIONED (the Delta
    * `partitionBy` table-property analog): the bootstrap creates the
    * table partitioned by `partitionBy`, every micro-batch routes
    * its rows into their `col=value` directories, and downstream
    * streams serve the partition values through the part-aware
    * manifest relation. `statsCols` must name DATA columns (partition
    * columns are tracked implicitly, min=max=directory value).
    */
  def statsTablePartitioned(
      name: String, statsCols: Seq[String], partitionBy: Seq[String],
      deps: String*)(
      build: Map[String, DataFrame] => DataFrame): this.type =
    add(TableDef(name, deps, build, Nil, statsCols = Some(statsCols),
      partitionBy = partitionBy))

  /** Terminal flow with a custom writer; `start` receives the
    * upstream stream and this sink's checkpoint dir. The writer owns
    * the trigger (e.g. [[StatsTableSink.runMerge]] defaults to
    * AvailableNow).
    */
  def sink(name: String, dep: String,
      expectations: Seq[Expectations.Rule] = Nil)(
      start: (DataFrame, String) => StreamingQuery): this.type =
    add(SinkDef(name, dep, start, expectations))

  /** Per-table trigger cadence for CONTINUOUS mode — the
    * `pipelines.trigger.interval` table property of the reference
    * (pos-dlt `04_Silver-to-Gold ETL.sql:68` runs gold aggregates on
    * a 5-minute cadence while silver processes per-arrival). Tables
    * without an interval use the default micro-batch trigger
    * (process-as-available). [[runOnce]] ignores intervals — its
    * whole point is one AvailableNow cascade. Sink triggers belong
    * to the sink's own writer, so setting one here is rejected.
    */
  def triggerInterval(name: String, trigger: Trigger): this.type = {
    val node = defs.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown table $name — declare it before setting its trigger"))
    require(!node.isInstanceOf[SinkDef],
      s"$name is a sink: its writer owns the trigger (pass it to the sink's start fn)")
    triggers(name) = trigger
    this
  }

  def dataDir(name: String): String = s"$storageRoot/$name/data"
  def checkpointDir(name: String): String = s"$storageRoot/$name/ckpt"

  /** DLT's "full refresh": wipe the named tables' materialized
    * storage AND checkpoints so the next [[runOnce]]/[[start]]
    * reprocesses their inputs from scratch. The refresh closes over
    * DEPENDENTS transitively — a dependent's checkpoint tracks which
    * of the upstream's storage files it has seen, so leaving it in
    * place after the upstream is rebuilt would silently skip the
    * rebuilt files (same names = already-seen to the file source) —
    * exactly DLT's behavior, where refreshing a table refreshes
    * everything downstream of it. With no names: refresh the whole
    * pipeline. Sources keep their EXTERNAL input data (that is the
    * point — a refreshed source re-reads it); only engine-owned
    * state under `storageRoot` is deleted. Call only between runs —
    * deleting a LIVE query's checkpoint out from under it fails that
    * query (stop the [[StreamingRun]] first).
    */
  def fullRefresh(names: String*): Unit = {
    names.foreach(n => require(defs.contains(n), s"unknown table $n"))
    val targets =
      if (names.isEmpty) defs.keySet.toSet
      else {
        var ts = names.toSet
        var grown = true
        while (grown) {
          val next = ts ++ defs.values.collect {
            case d if d.deps.exists(ts) => d.name
          }
          grown = next.size > ts.size
          ts = next
        }
        ts
      }
    val fs = new org.apache.hadoop.fs.Path(storageRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    order.filter(targets).foreach { name =>
      fs.delete(new org.apache.hadoop.fs.Path(dataDir(name)), true)
      fs.delete(new org.apache.hadoop.fs.Path(checkpointDir(name)), true)
      schemas.remove(name)
    }
  }

  /** Dependency-ordered node names (cycle / unknown dep -> error). */
  def order: Seq[String] = {
    val visiting = mutable.Set[String]()
    val done = mutable.LinkedHashSet[String]()
    def visit(n: String): Unit =
      if (!done.contains(n)) {
        require(!visiting.contains(n), s"dependency cycle through $n")
        val d = defs.getOrElse(n,
          throw new IllegalArgumentException(s"unknown table $n"))
        visiting += n
        d.deps.foreach(visit)
        visiting -= n
        done += n
      }
    defs.keys.foreach(visit)
    done.toSeq
  }

  private def isStatsTable(name: String): Boolean =
    defs.get(name).exists {
      case t: TableDef => t.statsCols.isDefined
      case _ => false
    }

  /** Backlog of table `name`'s consumer query against each of its
    * STATS-TABLE dependencies: commits the dep has committed that
    * `name`'s checkpoint has not drained ([[TableLag.statsTableLag]];
    * manifest + checkpoint-log reads only — no stream started, no
    * data touched). Lags pair with the stats deps POSITIONALLY in
    * declaration order — exact for the chain-shaped pipelines the
    * builder produces (each table one stats dep); a build function
    * that reorders its source composition should query
    * [[TableLag.statsTableLag]] with an explicit index instead.
    */
  def tableLag(name: String): Seq[TableLag.CommitLag] = {
    val node = defs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table $name"))
    // source index = the dep's position among ALL deps (every dep is
    // a streaming source in the consumer's checkpoint, stats-backed
    // or not) — filtering first would mis-index mixed dep lists
    node.deps.zipWithIndex.filter { case (dep, _) => isStatsTable(dep) }
      .map { case (dep, i) =>
        TableLag.statsTableLag(spark, dataDir(dep), checkpointDir(name), i)
      }
  }

  /** The whole pipeline's backlog, one row per (consumer table ←
    * stats dep) edge in dependency order — the operator's "is
    * anything falling behind" view, at manifest-only cost.
    */
  def pipelineStatus(): Seq[TableLag.CommitLag] =
    order.flatMap(tableLag)

  /** Read a materialized table's storage as a NEW stream (what
    * `dlt.read_stream("name")` hands a dependent table). Stats-backed
    * tables stream MANIFEST COMMITS ([[StatsTableSource]]: one named
    * commit = one micro-batch, no directory listing); plain tables
    * stream their parquet files.
    */
  def readStream(name: String): DataFrame = {
    val dir = dataDir(name)
    if (isStatsTable(name))
      spark.readStream.format(classOf[StatsTableSourceProvider].getName)
        .option("path", dir).load()
    else {
      Files.createDirectories(Paths.get(dir))
      spark.readStream.schema(schemas(name)).parquet(dir)
    }
  }

  /** Batch view of a materialized table's current storage. For a
    * stats-backed table this is the MANIFEST view (exactly the
    * committed snapshot — crash orphans from an in-flight writer are
    * invisible, as they are to Delta readers).
    */
  def readTable(name: String): DataFrame = {
    val dir = dataDir(name)
    require(schemas.contains(name) || Files.isDirectory(Paths.get(dir)),
      s"table $name has not been materialized")
    if (isStatsTable(name))
      graft.sources.DataSkipping.readSkipping(spark, dir, lit(true))
    else
      schemas.get(name).map(spark.read.schema(_)).getOrElse(spark.read).parquet(dir)
  }

  private def observeName(table: String) = s"graft_expect_$table"
  private def rowsObserveName(table: String) = s"graft_rows_$table"

  /** Directory of the persisted pipeline event log (plain parquet —
    * queryable with any engine after the fact).
    */
  def eventLogDir: String = s"$storageRoot/_eventlog"

  /** Batch view of the persisted event log: one row per
    * (table, micro-batch) with rows in/out, duration, and per-rule
    * expectation violation counts — the queryable run history DLT
    * surfaces as its event log (pos-dlt `05_DLT Job Scheduling.py`
    * surfaces run history through the DLT UI backed by this log).
    */
  def eventLog: DataFrame = spark.read.parquet(eventLogDir)

  private def appendEvents(events: Seq[StreamingPipeline.PipelineEvent]): Unit =
    if (events.nonEmpty) {
      val enc = org.apache.spark.sql.Encoders.product[StreamingPipeline.PipelineEvent]
      // one micro-file per flush — the log is tiny (one row per
      // table-batch); repartition(1) keeps it from fanning into
      // shuffle.partitions empty files
      spark.createDataset(events)(enc).repartition(1)
        .write.mode("append").parquet(eventLogDir)
    }

  /** Attach expectations to a streaming frame: one `observe` node
    * counting violations per rule (before any filtering), then the
    * null-safe Drop/Fail filter.
    */
  private def instrument(df: DataFrame, rules: Seq[Expectations.Rule],
      table: String): DataFrame = {
    if (rules.isEmpty) df
    else {
      val counts = rules.map(r =>
        sum(when(coalesce(r.predicate, lit(false)), 0L).otherwise(1L))
          .as(s"fail_${r.name}"))
      val observed = df.observe(observeName(table), counts.head, counts.tail: _*)
      val filtering = rules.filter(_.action != Expectations.Warn)
        .map(r => coalesce(r.predicate, lit(false)))
      filtering.reduceOption(_ && _).map(observed.filter).getOrElse(observed)
    }
  }

  private def enforceFail(table: String, failures: Map[String, Long],
      rules: Seq[Expectations.Rule]): Unit = {
    val failNames = rules.filter(_.action == Expectations.Fail).map(_.name).toSet
    val bad = failures.filter { case (n, c) => failNames.contains(n) && c > 0 }
    if (bad.nonEmpty)
      throw new IllegalStateException("expectation(s) failed on streaming table " +
        s"$table: ${bad.map { case (n, c) => s"$n ($c rows)" }.mkString(", ")}")
  }

  /** Build node `name`'s output stream from its deps' storage. Every
    * flow gets a post-filter `observe` counting output rows (the
    * event log's rows_out — the file sink doesn't report output rows,
    * and rows_in - dropped is wrong when rule violations overlap).
    */
  private def buildFlow(name: String): DataFrame = {
    val flow = defs(name) match {
      case SourceDef(_, build) => build()
      case TableDef(_, deps, build, rules, _, _) =>
        instrument(build(deps.map(d => d -> readStream(d)).toMap), rules, name)
      case SinkDef(_, dep, _, rules) =>
        instrument(readStream(dep), rules, name)
    }
    flow.observe(rowsObserveName(name), count(lit(1)).as("rows_out"))
  }

  /** Triggered mode: one AvailableNow cascade in dependency order —
    * each table processes exactly the data available when its turn
    * comes and is awaited before dependents start. Returns batch
    * views of every materialized (non-sink) table. Re-invoking
    * processes only data that arrived since (per-table checkpoints).
    */
  def runOnce(onMetrics: (String, Map[String, Long]) => Unit = (_, _) => ())
      : Map[String, DataFrame] = {
    // violation counts are accumulated by a listener over EVERY batch
    // — q.recentProgress is capped (default 100 entries), so a long
    // backlog cascade would silently drop early batches' metrics and
    // a Fail violation in batch 1 could slip the gate
    val collector = new StreamingPipeline.MetricsCollector
    spark.streams.addListener(collector)
    try {
      order.foreach { name =>
        val flow = buildFlow(name)
        val q = defs(name) match {
          case SinkDef(_, _, start, _) =>
            start(flow, checkpointDir(name))
          case TableDef(_, _, _, _, Some(cols), parts) =>
            schemas(name) = flow.schema
            StatsTableSink.run(flow, dataDir(name), cols, checkpointDir(name),
              partitionBy = parts)
          case _ =>
            schemas(name) = flow.schema
            Files.createDirectories(Paths.get(dataDir(name)))
            flow.writeStream
              .format("parquet")
              .option("path", dataDir(name))
              .option("checkpointLocation", checkpointDir(name))
              .outputMode("append")
              .trigger(Trigger.AvailableNow())
              .start()
        }
        q.awaitTermination()
        collector.awaitTerminated(q.runId)
        val rules = defs(name).expectations
        // log BEFORE enforcing Fail rules so the failing batch's
        // counts are queryable after the abort (as DLT's event log is)
        appendEvents(collector.events(q, name, "triggered",
          rowsObserveName(name), observeName(name), rules))
        if (rules.nonEmpty) {
          val failures = collector.failures(q, observeName(name), rules)
          onMetrics(name, failures)
          enforceFail(name, failures, rules)
        }
      }
    } finally spark.streams.removeListener(collector)
    defs.collect { case (n, _: SourceDef) => n -> readTable(n)
                   case (n, _: TableDef) => n -> readTable(n) }.toMap
  }

  /** Continuous mode: start every table's query concurrently — each
    * on its own [[triggerInterval]] cadence (default: micro-batch as
    * available) — and hand back the running fleet. Event-log rows for
    * every processed batch are flushed when the run is stopped
    * ([[StreamingRun.stopAll]]).
    */
  def start(): StreamingRun = {
    val collector = new StreamingPipeline.MetricsCollector
    spark.streams.addListener(collector)
    val queries = order.map { name =>
      val flow = buildFlow(name)
      val q = defs(name) match {
        case SinkDef(_, _, startFn, _) =>
          startFn(flow, checkpointDir(name))
        case TableDef(_, _, _, _, Some(cols), parts) =>
          schemas(name) = flow.schema
          StatsTableSink.run(flow, dataDir(name), cols, checkpointDir(name),
            trigger = triggers.getOrElse(name,
              Trigger.ProcessingTime(0L)), // default micro-batch cadence
            partitionBy = parts)
        case _ =>
          schemas(name) = flow.schema
          Files.createDirectories(Paths.get(dataDir(name)))
          val writer = flow.writeStream
            .format("parquet")
            .option("path", dataDir(name))
            .option("checkpointLocation", checkpointDir(name))
            .outputMode("append")
          triggers.get(name).foreach(writer.trigger)
          writer.start()
      }
      name -> q
    }
    new StreamingRun(queries, () => {
      try queries.foreach { case (name, q) =>
        collector.awaitTerminated(q.runId, timeoutMs = 5000)
        appendEvents(collector.events(q, name, "continuous",
          rowsObserveName(name), observeName(name), defs(name).expectations))
        collector.forget(q.runId)
      } finally spark.streams.removeListener(collector)
    })
  }
}

object StreamingPipeline {

  /** One event-log row: a single micro-batch of a single table's
    * flow. `rows_out` is measured by a post-filter observe node (the
    * file sink doesn't report output rows); `duration_ms` is the
    * batch's triggerExecution wall time (-1 if the engine didn't
    * report one). Persisted as plain parquet under
    * `storageRoot/_eventlog`.
    */
  final case class ExpectationMetric(rule: String, action: String, failed: Long)
  final case class PipelineEvent(
      table_name: String, mode: String, run_id: String, batch_id: Long,
      batch_ts: String, rows_in: Long, rows_out: Long, duration_ms: Long,
      expectations: Seq[ExpectationMetric])

  /** Accumulates per-batch progress (observed metrics, row counts,
    * durations) across ALL of a query's batches (listener events are
    * delivered asynchronously; [[awaitTerminated]] fences on the
    * terminal event so every progress update has arrived before
    * totals are read).
    *
    * Only a compact [[Snap]] is retained per batch — a full
    * `StreamingQueryProgress` (sources, sink, state operators, JSON)
    * is kilobytes, and a continuous pipeline at sub-second cadence
    * would grow the map into real driver memory; the few fields the
    * event log needs are ~100 bytes/batch (a days-long continuous
    * run accumulates megabytes, flushed and dropped at stopAll).
    */
  private final class MetricsCollector
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

    private val progresses =
      scala.collection.concurrent.TrieMap[(java.util.UUID, Long), Snap]()
    private val terminated =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progresses.put((e.progress.runId, e.progress.batchId), Snap(e.progress))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      terminated.add(e.runId)
    }

    /** Best-effort fence: wait for the terminal event so trailing
      * progress updates have been delivered. The shared listener bus
      * may DROP events under backpressure, so a missing terminal
      * event is not fatal — [[merged]] fills listener gaps from
      * `recentProgress` anyway.
      */
    def awaitTerminated(runId: java.util.UUID, timeoutMs: Long = 10000): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!terminated.contains(runId) && System.nanoTime() < deadline)
        Thread.sleep(20)
    }

    /** Per-batch progress for a finished query: the listener's rows
      * (unbounded history) merged with the query's own
      * `recentProgress` (bounded at ~100 entries but immune to
      * listener-bus drops) — each batch counted once, from whichever
      * source saw it. Only if BOTH miss a batch (dropped event AND
      * evicted from the progress buffer) can its counts be lost.
      */
    private def merged(q: StreamingQuery): Map[Long, Snap] =
      q.recentProgress.filter(_.runId == q.runId)
        .map(p => p.batchId -> Snap(p)).toMap ++
        progresses.collect { case ((r, b), p) if r == q.runId => b -> p }

    /** Drop a finished query's retained snapshots (after flushing). */
    def forget(runId: java.util.UUID): Unit =
      progresses.keys.foreach { case k @ (r, _) =>
        if (r == runId) progresses.remove(k)
      }

    /** Per-rule violation totals for a finished query. */
    def failures(q: StreamingQuery, observeName: String,
        rules: Seq[Expectations.Rule]): Map[String, Long] = {
      val perBatch = merged(q).values
        .flatMap(_.observed.get(observeName)).toSeq
      rules.map { r =>
        r.name -> perBatch.map(row =>
          row.getAs[Long](row.fieldIndex(s"fail_${r.name}"))).sum
      }.toMap
    }

    /** Event-log rows for a finished query, batch-ordered. */
    def events(q: StreamingQuery, table: String, mode: String,
        rowsName: String, expName: String,
        rules: Seq[Expectations.Rule]): Seq[PipelineEvent] =
      merged(q).toSeq.sortBy(_._1).map { case (b, p) =>
        val rowsOut = p.observed.get(rowsName)
          .map(r => r.getAs[Long](r.fieldIndex("rows_out")))
          .getOrElse(p.sinkRows)
        val exp = p.observed.get(expName).map { row =>
          rules.map(r => ExpectationMetric(r.name, r.action.toString,
            row.getAs[Long](row.fieldIndex(s"fail_${r.name}"))))
        }.getOrElse(Seq.empty)
        PipelineEvent(table, mode, q.runId.toString, b,
          p.ts, p.rowsIn, rowsOut, p.durationMs, exp)
      }
  }

  /** The per-batch fields the event log needs, extracted eagerly so
    * the listener never retains full progress objects.
    */
  private final case class Snap(
      ts: String, rowsIn: Long, sinkRows: Long, durationMs: Long,
      observed: Map[String, org.apache.spark.sql.Row])
  private object Snap {
    def apply(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Snap = {
      val obs = {
        val b = Map.newBuilder[String, org.apache.spark.sql.Row]
        val it = p.observedMetrics.entrySet().iterator()
        while (it.hasNext) { val kv = it.next(); b += kv.getKey -> kv.getValue }
        b.result()
      }
      Snap(p.timestamp, p.numInputRows,
        Option(p.sink).map(_.numOutputRows).getOrElse(-1L),
        Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(-1L),
        obs)
    }
  }
}

/** Handle on a running continuous pipeline: the per-table queries in
  * dependency order. `flushEvents` persists the run's event-log rows
  * (invoked by the FIRST [[stopAll]]; the stop-in-finally pattern
  * means stopAll often runs twice, and a second flush would append
  * every event row to the persisted log again).
  */
final class StreamingRun(
    val queries: Seq[(String, StreamingQuery)],
    flushEvents: () => Unit = () => ()) {

  private val flushed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def query(name: String): StreamingQuery =
    queries.collectFirst { case (n, q) if n == name => q }
      .getOrElse(throw new NoSuchElementException(s"no query for table $name"))

  /** Drain the whole DAG: process all currently-available data in
    * dependency order (deterministic — upstream drains before
    * dependents, so a file dropped at the root flows to every leaf).
    */
  def processAllAvailable(): Unit =
    queries.foreach { case (_, q) => q.processAllAvailable() }

  def stopAll(): Unit = {
    queries.reverseIterator.foreach { case (_, q) => q.stop() }
    if (flushed.compareAndSet(false, true)) flushEvents()
  }

  def awaitAnyTermination(): Unit =
    queries.headOption.foreach(_._2.sparkSession.streams.awaitAnyTermination())
}

