package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, aligned
  * with the `System.currentTimeMillis` stamps Spark puts on its events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval: a layer call, or the op that contains it. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Spans nest by call order; a disabled tracer
  * runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = Tracer.nextId()
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = Clock.nowMs()
      try body
      finally {
        stack.pop()
        spans += Span(id, name, parent, op, t0, Clock.nowMs())
      }
    }

}

object Tracer {
  private var last = -1
  /** Span ids are unique across all passes of a run. */
  def nextId(): Int = synchronized { last += 1; last }

  /** Each span's duration minus the part of it its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val k = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (s.seconds - Metrics.unionMs(k, s.startMs, s.endMs) / 1000.0)
    }.toMap
  }
}

/** Spark work attributed to one time window. */
final case class SparkWork(
    jobs: Int, stages: Int, tasks: Long, busyS: Double, planS: Double,
    inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, taskCpuS: Double, gcS: Double)

/** Collects job, stage, task, query-execution and streaming-progress
  * events from outside the engine. Ops run one at a time from a single
  * caller, so every job started inside an op's window belongs to it.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  private final case class Job(id: Int, startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = Long.MaxValue
  }
  private final class StageAgg {
    var tasks = 0L; var input = 0L; var shRead = 0L; var shWrite = 0L
    var spill = 0L; var cpuNs = 0L; var gcMs = 0L; var completed = false
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  // (start of the analysis phase, planning seconds) per executed query
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  // (trigger start, trigger s, addBatch s, input rows) per stream progress
  val progress = mutable.ArrayBuffer.empty[(Double, Double, Double, Long)]
  val queryStarts = mutable.ArrayBuffer.empty[Double]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).completed = true
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.input += m.inputMetrics.bytesRead
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum / 1000.0))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Collector.this.synchronized {
        queryStarts += java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Collector.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def sec(k: String) = Option(d.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
        progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          sec("triggerExecution"), sec("addBatch"), p.numInputRows))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  /** Spark work of the jobs that started inside [t0, t1]. */
  def window(t0: Double, t1: Double): SparkWork = synchronized {
    val js = jobs.values.filter(j => j.startMs >= math.floor(t0) && j.startMs <= t1).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val busy = Metrics.unionMs(
      js.map(j => (j.startMs.toDouble, math.min(j.endMs.toDouble, t1))), t0, t1)
    SparkWork(
      jobs = js.size,
      stages = ss.count(_.completed),
      tasks = ss.map(_.tasks).sum,
      busyS = busy / 1000.0,
      planS = plans.collect { case (st, s) if st >= math.floor(t0) && st <= t1 => s }.sum,
      inputBytes = ss.map(_.input).sum,
      shuffleReadBytes = ss.map(_.shRead).sum,
      shuffleWriteBytes = ss.map(_.shWrite).sum,
      spillBytes = ss.map(_.spill).sum,
      taskCpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1000.0)
  }
}

object Metrics {
  /** Milliseconds of [t0, t1] covered by the union of `intervals`. */
  def unionMs(intervals: Seq[(Double, Double)], t0: Double, t1: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
    }
}
