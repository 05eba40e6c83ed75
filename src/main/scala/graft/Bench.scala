package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every registered query at
  * `SPARK_GRAFT_SF_DIR` and prints ONE short JSON line on stdout
  * (per-query minima keyed by run index); the full record goes to
  * an artifact file.
  *
  * Honesty rules (round-1 verdict "What's wrong" #4):
  *  - results are materialized through the `noop` sink, not
  *    `count()` — count() lets Catalyst prune away the very
  *    expressions being benchmarked;
  *  - failures are RECORDED (per-query error + failure count), never
  *    silently timed as a fast success;
  *  - a warmup pass runs first so the first timed query doesn't pay
  *    JVM/codegen/parquet-footer warmup.
  */
object Bench {

  /** Force full evaluation of the plan without collecting to the
    * driver and without letting count() prune the project list.
    */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fixed-cost calibration micro-task (a 10^7-row local-range agg —
    * constant work, no I/O): timed immediately before each query so
    * ambient machine load is SELF-EVIDENT in the artifact. On an idle
    * container every sample is ~equal; a sample far above the run's
    * minimum means that query's window was load-poisoned and its
    * timing should be re-pinned, not read as a regression (r7
    * verdict #4: two rounds of driver artifacts carried 3-10×
    * load artifacts that dissolved on re-run, and min-of-3 plus
    * tight-cluster heuristics could not prove it from the JSON
    * alone).
    */
  private def calibrate(spark: SparkSession, slices: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 10000000L, 1L, slices).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Warmup: one untimed pass over EVERY registered query, so the
    // timed pass measures warm plan cost rather than janino/JIT
    // compilation (round-4 verdict #1: the sketch-query codegen paths
    // — LshBandBits, 64-column simhash, poly-hash — cost 15-20s each
    // on first execution and <1s warm). Warmup runs at the SAME sfDir
    // because AQE may pick different physical operators (and thus
    // different generated code) at different data scales. Disable
    // with SPARK_GRAFT_BENCH_WARMUP=0 to measure cold-start cost.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0") {
      Queries.all.foreach { q =>
        try materialize(q.fn(spark, sfDir))
        catch { case _: Throwable => () }
      }
    }

    // Repeats take the per-query minimum — run-to-run noise at sf0.1
    // is ±1-2s/query (GC/scheduler), so min-of-N is the stable
    // plan-cost signal. Default 3 — the SAME protocol the BASELINE
    // table was recorded under, so gate runs compare like-for-like
    // (the r5 driver run at min-of-2 read 4-6x ambient-load outliers
    // on the iterative queries as regressions; at min-of-3 one noisy
    // attempt per query is absorbed).
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // per-batch fold instrumentation for the streaming maintenance
    // composites (enabled AFTER warmup so only timed attempts record):
    // the composites' totals are dominated by fixed costs (table
    // write, DML generations, stream startup) — `fold_sec` carries
    // the steady-state per-micro-batch fold cost those totals hide
    graft.streaming.FoldTimings.drain()
    graft.streaming.FoldTimings.enable()
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the timed set (the
    // warmup above still covers every query so a filtered run sees
    // the same JIT/codegen state as a full run) — for diagnosing one
    // query's in-suite vs alone behavior.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val timed = only.fold(Queries.all)(names => Queries.all.filter(q => names(q.name)))
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Failed attempts contribute NO timing: a fast-failing query must
    // not publish its abort latency as times.min. A query with zero
    // successful repeats reports null (and shows up in failures).
    // Per-attempt timings are kept and emitted alongside the min so a
    // divergence between this run and BASELINE is self-diagnosing
    // (all attempts slow => real cost; one outlier => ambient noise).
    // attempts keeps ONE slot per attempt (None = failed, emitted as
    // JSON null) so it stays index-aligned with attempt_start_ms —
    // a reader pairing timing i with timestamp i must get the right
    // wall-clock window even when some attempts failed
    val attempts = scala.collection.mutable.LinkedHashMap[String, Seq[Option[Double]]]()
    // per-query calibration sample + per-attempt wall-clock start
    // epoch (ms) — the load-poisoning evidence (see calibrate())
    val calibrations = scala.collection.mutable.LinkedHashMap[String, Double]()
    val attemptStarts = scala.collection.mutable.LinkedHashMap[String, Seq[Long]]()
    calibrate(spark, cpus.toInt) // one untimed calibration warmup
    val results: Seq[(String, Option[Double])] = timed.map { q =>
      calibrations(q.name) = calibrate(spark, cpus.toInt)
      val starts = scala.collection.mutable.ArrayBuffer[Long]()
      val times: Seq[Option[Double]] = (1 to repeats).map { _ =>
        // Warmup (and earlier queries/repeats) leave operator-level
        // persisted frames in the CacheManager; Spark substitutes a
        // canonically identical sub-plan with the warm InMemoryRelation,
        // so without this clear a timed sketch query would read its
        // signature aggregation from cache instead of executing it —
        // warm JIT/codegen is the thing to measure, warm DATA is not.
        spark.catalog.clearCache()
        starts += System.currentTimeMillis()
        val t0 = System.nanoTime()
        try {
          materialize(q.fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200)
            None
        }
      }
      attempts(q.name) = times
      attemptStarts(q.name) = starts.toSeq
      q.name -> times.flatten.minOption
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) =>
      s"${jstr(k)}:${v.map(_.toString).getOrElse("null")}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // BigDecimal, not f"%.3f": the f interpolator formats with the
    // default locale, and a comma-decimal locale would corrupt the
    // one-line JSON the driver parses
    val attJson = attempts.map { case (k, ts) =>
      s"${jstr(k)}:${ts.map(_.map(t => BigDecimal(t)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString)
        .getOrElse("null"))
        .mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    def dec(t: Double): String = BigDecimal(t)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val calJson = calibrations.map { case (k, t) => s"${jstr(k)}:${dec(t)}" }
      .mkString("{", ",", "}")
    val calMin = if (calibrations.isEmpty) 0.0 else calibrations.values.min
    // a query window is load-poisoned only when its calibration ran
    // >= 2x the run's best AND past an absolute floor: on an idle run
    // the fixed-cost probe bottoms out at tens of ms, where scheduler
    // jitter alone doubles it — a relative-only gate flagged ~1/3 of
    // clean windows (r17). 0.15 s is ~4x the observed idle floor; a
    // probe beyond it with 2x divergence is real ambient load.
    val poisonFloorSec = 0.15
    def isPoisoned(t: Double): Boolean =
      calMin > 0 && t >= 2 * calMin && t >= poisonFloorSec
    val poisoned = calibrations.collect {
      case (k, t) if isPoisoned(t) => jstr(k)
    }.mkString("[", ",", "]")
    // second self-diagnosis channel: the probe runs BEFORE the
    // attempts, so a load wave arriving mid-query shows up as wildly
    // divergent attempt timings with a clean probe (observed r9: a
    // 1.45/4.6/11.9 attempt series behind a 1.8x probe that slipped
    // under the 2x gate). min-of-N already reports the best attempt;
    // this flags that the WINDOW was turbulent so a reader re-pins
    // instead of reading the row as plan cost.
    val unstable = attempts.collect {
      case (k, ts) if ts.flatten.size >= 2 &&
        ts.flatten.max >= 3 * ts.flatten.min => jstr(k)
    }.mkString("[", ",", "]")
    val tsJson = attemptStarts.map { case (k, ts) =>
      s"${jstr(k)}:${ts.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // Default artifact path is PER-RUN-UNIQUE (cpus + epoch ms): the
    // driver benches twice per round (32-core gate + low-core scaling
    // run) and a shared BENCH_FULL.json meant the second run clobbered
    // the first's per-query record before the driver could diff it —
    // two rounds of PERF artifacts shipped `per_query: {}` /
    // `n_common: 0` for exactly this reason (r18 verdict #1). Each
    // run's tiny line names its own artifact via `per_query_in`; an
    // explicit SPARK_GRAFT_BENCH_OUT is honored verbatim, and the
    // legacy root BENCH_FULL.json is still mirrored for readers that
    // hard-code it; the per-run artifacts collect under bench/. Output
    // contract otherwise unchanged (additions only — same fields, same
    // timing methodology).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench/BENCH_FULL_c${cpus}_${System.currentTimeMillis()}.json")
    // steady-state fold cost per micro-batch, grouped by fold kind in
    // arrival order (each [batchId, sec] pair; attempts re-run the
    // whole composite, so the same batchId recurs once per attempt)
    val foldJson = graft.streaming.FoldTimings.drain()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (kind, es) =>
        s"${jstr(kind)}:${es.map { case (_, b, t) => s"[$b,${dec(t)}]" }
          .mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    // FULL record (per-attempt timings, wall-clock starts, calibration
    // samples) goes to the artifact file; stdout gets one TINY line.
    // Queries are numbered in run order: the tiny line keys minima by
    // that index, the artifact's `query_ids` maps index -> name.
    val idJson = results.map(_._1).zipWithIndex
      .map { case (k, i) => s""""$i":${jstr(k)}""" }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"query_ids":$idJson,"attempts":$attJson,"attempt_start_ms":$tsJson,"calibration":$calJson,"calibration_min":${dec(calMin)},"load_poisoned":$poisoned,"unstable":$unstable,"fold_sec":$foldJson,"repeats":$repeats,"failures":${errors.size},"errors":$errJson,"sf":"$sfDir"}"""
    // The driver keeps only the LAST ~2000 stdout chars ("tail") and
    // parses JSON out of them, so the one stdout line must stay short:
    // per-query minima keyed by run index at 3 significant figures
    // (~1.6 KB at 148 queries, ~1.85 KB for the whole line); names,
    // attempts and errors live in the artifact it points at.
    def sig3(t: Double): String = BigDecimal(t)
      .round(new java.math.MathContext(3)).bigDecimal.stripTrailingZeros.toPlainString
    val qsTiny = results.zipWithIndex.map { case ((_, v), i) =>
      s""""$i":${v.map(sig3).getOrElse("null")}"""
    }.mkString("{", ",", "}")
    val tiny = s"""{"metric":"total","value":${dec(total)},"unit":"sec","queries":$qsTiny,"n_queries":${results.size},"calibration_min":${dec(calMin)},"load_poisoned_n":${calibrations.count { case (_, t) => isPoisoned(t) }},"unstable_n":${attempts.count { case (_, ts) => ts.flatten.size >= 2 && ts.flatten.max >= 3 * ts.flatten.min }},"repeats":$repeats,"failures":${errors.size},"sf":"$sfDir","per_query_in":${jstr(outPath)}}"""
    println(tiny)
    try {
      val out = java.nio.file.Paths.get(outPath)
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () } // stdout has the gate line
    // legacy mirror (only when the default unique path is in use —
    // an explicit SPARK_GRAFT_BENCH_OUT is the caller's one artifact)
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
