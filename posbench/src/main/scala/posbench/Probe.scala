package posbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark's own counters, read through listeners the benchmark registers
  * itself. Every job carries the id of the benchmark call that started
  * it (the `posbench.call` local property, inherited by the threads a
  * streaming query starts), so jobs can be counted per call.
  */
final class Probe(spark: SparkSession) {
  val CallProp = "posbench.call"

  private final case class Job(call: String, start: Long, var end: Long)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSpan = mutable.Map.empty[Int, Long]
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var batches = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val call = Option(e.properties).flatMap(p => Option(p.getProperty(CallProp)))
      jobs(e.jobId) = Job(call.getOrElse(""), e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stageSpan(i.stageId) = c - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        taskGcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        outputBytes += m.outputMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        batches += 1
        e.progress.durationMs.asScala.foreach { case (k, v) => streamMs(k) += v.longValue }
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.posbench.BusDrain(spark.sparkContext)

  /** Run `body` with its jobs tagged `call`. */
  def tagged[T](call: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(CallProp)
    sc.setLocalProperty(CallProp, call)
    try body finally sc.setLocalProperty(CallProp, prev)
  }

  /** Jobs started by calls whose id starts with `prefix`. */
  def jobsOf(prefix: String): Int = synchronized(jobs.values.count(_.call.startsWith(prefix)))

  def jobCount: Int = synchronized(jobs.size)

  /** Milliseconds of [fromMs, toMs] during which at least one job ran. */
  def jobBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    Tracer.unionLength(jobs.values.toSeq.map { j =>
      (j.start.max(fromMs), (if (j.end < 0) toMs else j.end).min(toMs))
    }.filter { case (s, e) => e > s })
  }

  /** Max ÷ median task time in the stage that ran longest. */
  def taskSkew: Double = synchronized {
    if (stageSpan.isEmpty) 1.0
    else {
      val longest = stageSpan.maxBy(_._2)._1
      val ts = stageTasks.getOrElse(longest, mutable.ArrayBuffer(1L)).sorted
      val med = Stats.quantile(ts.map(_.toDouble).toSeq, 0.5).max(1.0)
      ts.last / med
    }
  }
}
