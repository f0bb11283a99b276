package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the enclosing span (-1 for a root). Spark jobs become child spans of
  * the innermost call span that contains their start. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startMs: Double, endMs: Double, run: String) {
  def durMs: Double = endMs - startMs
}

/** Aggregated Spark-runtime counters over one time window. */
final case class SparkWindow(jobs: Int, stages: Int, tasks: Int, tasksFailed: Int,
    runS: Double, cpuS: Double, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, spillBytes: Long, inputBytes: Long, peakExecMem: Long,
    planS: Double, noTaskS: Double)

/** Benchmark-side tracing: a `SparkListener` for jobs, stages and task
  * metrics plus a `QueryExecutionListener` for planning-phase times, both
  * registered from benchmark code only, and an in-memory span list that
  * `Main` writes out at the end of a run. `attach`/`detach` let traced and
  * untraced iterations alternate inside one session. */
final class Tracer(spark: SparkSession, runId: String) {
  private case class TaskRec(launch: Long, finish: Long, failed: Boolean, runMs: Long,
      cpuNs: Long, shW: Long, shWRec: Long, shR: Long, spill: Long, input: Long, peak: Long)

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stages = ArrayBuffer.empty[Long]              // completion times
  private val jobs = ArrayBuffer.empty[(Int, Long, Long)]   // id, start, end
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val plans = ArrayBuffer.empty[(Long, Double)]     // time, planning seconds
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs += ((e.jobId, jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m == null) tasks += TaskRec(i.launchTime, i.finishTime, true, 0, 0, 0, 0, 0, 0, 0, 0)
      else tasks += TaskRec(i.launchTime, i.finishTime, !i.successful, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.peakExecutionMemory)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      Tracer.this.synchronized { plans += ((System.currentTimeMillis(), ms / 1000.0)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Records `body` as a span named `name` while attached; nested calls
    * become children. */
  def span[T](name: String, kind: String)(body: => T): T = {
    if (!attached) return body
    val id = synchronized { spans.size }
    val parent = open.headOption.getOrElse(-1)
    val t0 = Tracer.nowMs()
    synchronized { spans += Span(id, name, kind, parent, t0, t0, runId) }
    open.push(id)
    try body
    finally {
      open.pop()
      val t1 = Tracer.nowMs()
      synchronized { spans(id) = spans(id).copy(endMs = t1) }
    }
  }

  /** Spark-runtime counters for tasks, stages and jobs that ended inside
    * [t0, t1]; call after `drain()`. `noTaskS` is the window time with no
    * task running anywhere. */
  def window(t0: Double, t1: Double): SparkWindow = synchronized {
    def in(t: Long) = t >= t0 && t <= t1 + 1
    val ts = tasks.filter(t => in(t.finish))
    val busy = ts.map(t => (math.max(t.launch.toDouble, t0), math.min(t.finish.toDouble, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    busy.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    SparkWindow(
      jobs = jobs.count(j => in(j._3)), stages = stages.count(in), tasks = ts.size,
      tasksFailed = ts.count(_.failed), runS = ts.map(_.runMs).sum / 1000.0,
      cpuS = ts.map(_.cpuNs).sum / 1e9, shuffleWriteBytes = ts.map(_.shW).sum,
      shuffleWriteRecords = ts.map(_.shWRec).sum, shuffleReadBytes = ts.map(_.shR).sum,
      spillBytes = ts.map(_.spill).sum, inputBytes = ts.map(_.input).sum,
      peakExecMem = if (ts.isEmpty) 0L else ts.map(_.peak).max,
      planS = plans.filter(p => in(p._1)).map(_._2).sum,
      noTaskS = math.max(0.0, (t1 - t0 - covered) / 1000.0))
  }

  /** Job spans, each parented to the innermost call span containing its
    * start; call once, after the last `drain()`. */
  def jobSpans(): Seq[Span] = synchronized {
    val calls = spans.toSeq
    jobs.toSeq.sortBy(_._2).zipWithIndex.map { case ((jobId, s, e), i) =>
      val parent = calls.filter(c => c.startMs <= s && s <= c.endMs)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(-1)
      Span(calls.size + i, s"job-$jobId", "job", parent, s.toDouble, e.toDouble, runId)
    }
  }
}

object Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with nanoTime resolution, comparable with the
    * epoch timestamps Spark puts on jobs and tasks. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
