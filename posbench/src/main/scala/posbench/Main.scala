package posbench

import graft.sources.DataSkipping
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Runs one workload and prints one JSON result line on stdout:
  *
  * {{{
  * posbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *               --work <dir> --out <dir>
  * }}}
  *
  * Untraced, the line carries the end-to-end metrics; traced, the
  * per-layer metrics. The full record (sizes, fingerprints, settings,
  * sample counts and percentiles; traced: every per-layer metric, self
  * time per layer and the span file) goes to `<out>`.
  */
object Main {
  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupRepeats = 3

  /** End-to-end metrics printed on the untraced result line. The record
    * also holds `read_*`, `write_*` and `maint_s`, which only table_ops
    * measures.
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "wall_s", "rows_per_s", "cycle_p50_s",
    "cycle_tail_s", "space_amp", "live_heap_mb")

  /** Per-layer metrics printed on the traced result line; the record
    * holds more. A metric of a layer the workload does not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.runonce_s" -> "s", "streaming.ivm_fold_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.offset_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.batches" -> "count",
    "operators.gold_plan_s" -> "s", "operators.gold_exec_s" -> "s",
    "operators.latest_by_key_s" -> "s", "operators.current_state_s" -> "s",
    "operators.daily_snapshots_s" -> "s",
    "sources.jobs_per_write" -> "count", "sources.manifest_bytes" -> "bytes",
    "sources.files_live" -> "count", "sources.change_data_bytes" -> "bytes",
    "sources.written_bytes" -> "bytes", "sources.write_amp" -> "ratio",
    "spark.driver_gap_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.core_util" -> "ratio", "spark.task_skew" -> "ratio",
    "spark.input_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[posbench ${(System.nanoTime() - started) / 1e9}%7.1f s] $msg")

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val wname = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val out = Paths.get(arg(args, "out")).toAbsolutePath
    val w = Workload.all.find(_.name == wname).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $wname"))
    Files.createDirectories(work)
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"posbench-$wname")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tag = s"$wname-seed$seed-trace${if (traced) 1 else 0}"
    try {
      val record = run(spark, w, Gen(seed), seconds, traced, work, out, tag, cores)
      Files.writeString(out.resolve(s"$tag.json"), Json(record) + "\n")
      println(Json(record("result")))
    } finally spark.stop()
    log("stopped")
  }

  private def run(spark: SparkSession, w: Workload, gen: Gen, seconds: Double,
      traced: Boolean, work: Path, out: Path, tag: String, cores: Int): Map[String, Any] = {
    val cycles = math.max(2, math.round(seconds * w.cyclesPerSecond).toInt)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> gen.seed, "run_seconds" -> seconds,
      "timed_cycles" -> cycles, "cores" -> cores, "traced" -> traced,
      "client" -> "closed loop, one client",
      "spark.graft" -> {
        val set = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
        if (set.isEmpty) "all unset: program defaults" else set
      })

    // set-up on fresh roots; the last one is used
    val setups = (1 to SetupRepeats).map { i =>
      log(s"${w.name}: set-up $i/$SetupRepeats")
      time(w.setup(spark, gen, work.resolve(s"run-$i")))
    }
    record("setup_samples_s") = setups.map(_._2)
    val inst = setups.last._1
    val warmCtx = new Ctx(spark, new Tracer(false), None)
    val (_, warm) = time(inst.warmup(warmCtx))
    log(f"${w.name}: warm-up $warm%.2f s")
    record("warmup_s") = warm

    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.register())
    val ctx = new Ctx(spark, new Tracer(traced), probe)
    // traced: every file seen under the graft tables after each cycle,
    // so files a later cycle replaces still count as written
    val tables = inst.graftTables.map(Paths.get(_))
    val startFiles = filesUnder(tables).keySet
    val seenFiles = mutable.Map.empty[Path, Long]
    if (traced) ctx.afterCycle = () => seenFiles ++= filesUnder(tables)
    val t0 = System.currentTimeMillis()
    val ticks0 = cpuTicks()
    val (_, wall) = time(inst.run(ctx, 1, 1 + cycles))
    // CPU time the hypervisor gave to other guests: it explains run-to-run
    // spread the program did not cause
    record("steal_share") = for ((s0, a0) <- ticks0; (s1, a1) <- cpuTicks())
      yield (s1 - s0).toDouble / (a1 - a0).max(1)
    probe.foreach(_.unregister())
    record("cycle_samples_s") = ctx.samples.getOrElse("cycle", Nil).toSeq
    log(f"${w.name}: timed phase $wall%.2f s, ${ctx.attempted} ops, ${ctx.failed} failed")

    // full collections with pauses, so objects freed by Spark's
    // cleaner thread after the first one are gone too
    if (traced) seenFiles ++= filesUnder(tables)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val checkFailure = inst.check()
    log(s"${w.name}: check ${checkFailure.getOrElse("ok")}")
    record("check") = checkFailure.getOrElse("ok")
    record("errors") = (warmCtx.errors ++ ctx.errors).toSeq
    record("input_fingerprint") = inst.inputFingerprint
    record("sizes") = inst.sizes
    log(s"${w.name}: fingerprint and sizes recorded")

    val storeBytes = Workload.bytesUnder(inst.storageRoot)
    val liveBytes = parquetBytes(inst.liveTables, work.resolve("space-live"))
    log(s"${w.name}: space measured")
    val s = ctx.samples.map { case (k, v) => k -> v.toSeq }.withDefaultValue(Seq(0.0))
    def p50(k: String) = Stats.median(s(k))
    def tail(k: String) = Stats.tail(s(k))
    record("samples") = s.map { case (k, v) =>
      val (p, t) = Stats.tail(v)
      k -> Map("n" -> v.size, "p50_s" -> Stats.median(v), "tail_percentile" -> p, "tail_s" -> t)
    }.toMap
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setups.map(_._2)), "s"),
      "wall_s" -> (wall, "s"),
      "rows_per_s" -> (ctx.inputRows / wall, "rows/s"),
      "cycle_p50_s" -> (p50("cycle"), "s"),
      "cycle_tail_s" -> (tail("cycle")._2, "s"),
      "read_p50_s" -> (p50("read"), "s"),
      "read_tail_s" -> (tail("read")._2, "s"),
      "write_p50_s" -> (p50("write"), "s"),
      "write_tail_s" -> (tail("write")._2, "s"),
      "maint_s" -> (s("maint").sum, "s"),
      "space_amp" -> (storeBytes.toDouble / liveBytes, "ratio"),
      "live_heap_mb" -> (heapMb, "MB"))
    record("end_to_end") = e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    record("fail_frac") = ctx.failed.toDouble / ctx.attempted.max(1)
    record("bytes") = Map("storage" -> storeBytes, "live_parquet" -> liveBytes)

    val metrics: Seq[(String, Double, String)] = probe match {
      case None => EndToEnd.map { k => val (v, u) = e2e(k); (k, v, u) }
      case Some(probe) =>
        val written = seenFiles.iterator.collect {
          case (p, size) if !startFiles(p) => size }.sum
        val all = perLayer(spark, inst, ctx, probe, wall, t0, cores, work, written)
        record("per_layer") = all.toMap
        record("self_s_by_layer") = ctx.tracer.selfByLayer
        record("span_totals_s") = ctx.tracer.totals
        val spanFile = out.resolve(s"$tag-spans.jsonl")
        ctx.tracer.writeJsonl(spanFile)
        record("span_file") = spanFile.getFileName.toString
        // tracing overhead: this run's wall_s minus that of the untraced
        // run of the same workload, seed and length, when one was recorded
        val untraced = out.resolve(s"${w.name}-seed${gen.seed}-trace0.json")
        val overhead = Option(untraced).filter(Files.exists(_)).flatMap { f =>
          val rec = Files.readString(f)
          val len = "\"run_seconds\":([0-9.]+)".r.findFirstMatchIn(rec).map(_.group(1).toDouble)
          val wallS = "\"wall_s\":\\{\"unit\":\"s\",\"value\":([0-9.Ee-]+)".r
            .findFirstMatchIn(rec).map(_.group(1).toDouble)
          if (len.contains(seconds)) wallS.map(wall - _) else None
        }
        record("trace_overhead_s") = overhead
        Files.writeString(out.resolve(s"$tag-rollup.json"), Json(Map(
          "per_layer" -> all.toMap, "self_s_by_layer" -> ctx.tracer.selfByLayer,
          "span_totals_s" -> ctx.tracer.totals, "wall_s" -> wall,
          "trace_overhead_s" -> overhead, "span_file" -> spanFile.getFileName.toString)) + "\n")
        val m = all.toMap
        PerLayer.map { case (k, u) => (k, m(k), u) }
    }
    val correct = checkFailure.isEmpty && ctx.failed == 0 && warmCtx.failed == 0
    record("result") = Map(
      "correct" -> correct,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> (if (!correct) Map.empty[String, Any]
        else metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap))
    record.toMap
  }

  /** (steal, all) CPU ticks since boot from Linux's `/proc/stat`; None
    * where it is not readable.
    */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      Some((f.lift(7).getOrElse(0L), f.sum))
    } catch { case _: Exception => None }

  /** Size of every regular file under `roots`. */
  private def filesUnder(roots: Seq[Path]): Map[Path, Long] =
    roots.filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toSeq
      finally s.close()
    }.toMap

  /** Bytes of `dfs` written once as plain parquet under `dir`. */
  private def parquetBytes(dfs: Seq[org.apache.spark.sql.DataFrame], dir: Path): Long = {
    dfs.zipWithIndex.foreach { case (df, i) =>
      df.write.mode("overwrite").parquet(dir.resolve(s"t$i").toString)
    }
    val b = Workload.bytesUnder(dir)
    rmrf(dir)
    b
  }

  private def perLayer(spark: SparkSession, inst: Instance, ctx: Ctx, probe: Probe,
      wall: Double, t0: Long, cores: Int, work: Path,
      written: Long): Seq[(String, Double)] = {
    val tot = ctx.tracer.totals.withDefaultValue(0.0)
    val n = ctx.samples.map { case (k, v) => k -> v.size }.withDefaultValue(0)
    val busyMs = probe.jobBusyMs(t0, t0 + (wall * 1000).toLong)
    val sm = probe.streamMs
    val files = filesUnder(inst.graftTables.map(Paths.get(_)))
    def walk(p: Path => Boolean): Seq[Long] = files.collect { case (f, n) if p(f) => n }.toSeq
    def under(dir: String)(p: Path) = p.toString.contains(s"/$dir/")
    val manifestBytes = walk(x => under(DataSkipping.StatsDir)(x) &&
      !under(DataSkipping.DvDir)(x) && !under(DataSkipping.ChangeDataDir)(x)).sum
    val kept = ctx.readPreds.toSeq.map { case (path, pred) =>
      val (k, all) = DataSkipping.prunedFiles(spark, path, pred)
      k.size.toDouble / all.size.max(1)
    }
    val userBytes = parquetBytes(inst.userRows, work.resolve("space-user"))
    val gold = tot("bench.currentState")
    val plan = tot("operators.currentState")
    Seq(
      "streaming.runonce_s" -> tot("streaming.runOnce"),
      "streaming.ivm_fold_s" -> tot("streaming.maintainSumCount"),
      "streaming.query_planning_s" -> sm("queryPlanning") / 1e3,
      "streaming.add_batch_s" -> sm("addBatch") / 1e3,
      "streaming.offset_s" -> (sm("latestOffset") + sm("getBatch")) / 1e3,
      "streaming.wal_commit_s" -> (sm("walCommit") + sm("commitOffsets")) / 1e3,
      "streaming.batches" -> probe.batches.toDouble,
      "operators.gold_plan_s" -> (if (gold > 0) plan else 0.0),
      "operators.gold_exec_s" -> (if (gold > 0) gold - plan else 0.0),
      "operators.latest_by_key_s" -> tot("bench.latestByKey"),
      "operators.current_state_s" -> gold,
      "operators.daily_snapshots_s" -> tot("bench.dailySnapshots"),
      "sources.append_s" -> tot("sources.appendWithStats"),
      "sources.delete_dv_s" -> tot("sources.deleteWhereDV"),
      "sources.update_dv_s" -> tot("sources.updateWhereDV"),
      "sources.merge_s" -> tot("sources.mergeInto"),
      "sources.read_plan_s" -> tot("sources.readSkipping"),
      "sources.read_exec_s" -> tot("engine.execute"),
      "sources.meta_agg_s" -> (tot("sources.countWhere") + tot("sources.minMaxWhere")),
      "sources.optimize_where_s" -> tot("sources.compactWhere"),
      "sources.vacuum_s" -> tot("sources.vacuumTable"),
      "sources.files_kept_frac" -> (if (kept.isEmpty) 0.0 else kept.sum / kept.size),
      "sources.jobs_per_read" -> probe.jobsOf("read-").toDouble / n("read").max(1),
      "sources.jobs_per_write" -> probe.jobsOf("write-").toDouble / n("write").max(1),
      "sources.manifest_bytes" -> manifestBytes.toDouble,
      "sources.files_live" -> inst.graftTables.map(DataSkipping.readManifest(spark, _).count()).sum.toDouble,
      "sources.dv_bytes" -> walk(under(DataSkipping.DvDir)).sum.toDouble,
      "sources.change_data_bytes" -> walk(under(DataSkipping.ChangeDataDir)).sum.toDouble,
      "sources.written_bytes" -> written.toDouble,
      "sources.write_amp" -> written.toDouble / userBytes.max(1),
      "spark.driver_gap_s" -> (wall - busyMs / 1e3),
      "spark.jobs" -> probe.jobCount.toDouble,
      "spark.tasks" -> probe.tasks.toDouble,
      "spark.task_run_s" -> probe.taskRunMs / 1e3,
      "spark.task_cpu_s" -> probe.taskCpuNs / 1e9,
      "spark.task_gc_s" -> probe.taskGcMs / 1e3,
      "spark.core_util" -> probe.taskRunMs / 1e3 / (wall * cores),
      "spark.task_skew" -> probe.taskSkew,
      "spark.input_bytes" -> probe.inputBytes.toDouble,
      "spark.output_bytes" -> probe.outputBytes.toDouble,
      "spark.shuffle_read_bytes" -> probe.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> probe.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> probe.spillBytes.toDouble)
  }
}

/** Minimal JSON writer for the record's maps, sequences and scalars. */
object Json {
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
