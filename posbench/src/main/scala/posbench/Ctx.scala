package posbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.collection.mutable

/** What one timed phase records: one latency sample per operation,
  * grouped by kind (`read`, `write`, `maint`) plus one per `cycle`,
  * failures against attempts, the input rows fed in, and — traced —
  * spans and Spark counters. Every operation is sent only after the
  * previous one returned (a closed loop with one client).
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val probe: Option[Probe]) {
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  var inputRows = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** (table, predicate) of every pruned read, for the files-kept ratio. */
  val readPreds = mutable.LinkedHashSet.empty[(String, Column)]
  private var seq = 0L

  def sample(kind: String, seconds: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  /** One client operation of `kind`; its time is one sample, a throw
    * one failure.
    */
  def op(kind: String)(body: => Unit): Unit = {
    seq += 1
    val call = s"$kind-$seq"
    attempted += 1
    val t0 = System.nanoTime()
    try probe.fold(body)(_.tagged(call)(body))
    catch {
      case e: Exception =>
        failed += 1
        if (errors.size < 5) errors += s"$kind: $e"
    }
    sample(kind, (System.nanoTime() - t0) / 1e9)
  }

  /** One cycle of the workload's loop; its time is one `cycle` sample. */
  def cycle(i: Long)(body: => Unit): Unit = {
    tracer.opId = i
    val t0 = System.nanoTime()
    tracer("bench.cycle")(body)
    sample("cycle", (System.nanoTime() - t0) / 1e9)
    afterCycle()
  }

  /** Runs after each cycle's sample is taken. */
  var afterCycle: () => Unit = () => ()

  /** `readSkipping` planned to an executed plan, then run by `action`. */
  def pruned[T](path: String, pred: Column)(action: DataFrame => T): T = {
    readPreds += path -> pred
    val df = tracer("sources.readSkipping") {
      val d = graft.sources.DataSkipping.readSkipping(spark, path, pred)
      d.queryExecution.executedPlan
      d
    }
    tracer("engine.execute")(action(df))
  }
}
