package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `parent` is the enclosing span (-1 at top level) and
  * every span of one request or gate call carries that call's `req`.
  * Times are nanoseconds from the tracer's origin.
  */
final case class Span(id: Int, parent: Int, req: Int, name: String,
    start: Long, end: Long)

/** Spark-side counters, cumulative since the tracer was created. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    taskNs: Long, schedDelayMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, compiles: Long, compileMs: Double, analysisMs: Long,
    optimizationMs: Long, planningMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskNs - o.taskNs, schedDelayMs - o.schedDelayMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, compiles - o.compiles, compileMs - o.compileMs,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs)
  def +(o: Counters): Counters = this - Counters(-o.jobs, -o.stages,
    -o.tasks, -o.taskNs, -o.schedDelayMs, -o.shuffleRead, -o.shuffleWrite,
    -o.spill, -o.compiles, -o.compileMs, -o.analysisMs, -o.optimizationMs,
    -o.planningMs)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0.0, 0, 0, 0)
}

/** Spans and counters recorded from outside the engine. The untimed
  * variant (`enabled = false`) records nothing and registers nothing, so
  * the untraced run measures the program alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  // cumulative counters, written by the listener-bus thread
  private val jobWindows = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.Map[Int, Long]()
  @volatile private var jobs, stages, tasks, taskNs, sched = 0L
  @volatile private var shRead, shWrite, spill = 0L
  @volatile private var analysis, optimization, planning = 0L

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        jobStarts(e.jobId) = e.time
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobs += 1
        jobStarts.remove(e.jobId).foreach(s => jobWindows += ((s, e.time)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          taskNs += m.executorRunTime * 1000000L
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          val i = e.taskInfo
          sched += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            i.gettingResultTime)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        phases(qe)
    })
  }

  /** Catalyst phase times of one executed query. */
  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    analysis += ms("analysis")
    optimization += ms("optimization")
    planning += ms("planning")
  }

  def counters(): Counters = {
    if (enabled) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps an exact count but a sampled reservoir, so the
    // compile time is count x sampled mean
    Counters(jobs, stages, tasks, taskNs, sched, shRead, shWrite, spill,
      h.getCount, h.getCount * h.getSnapshot.getMean, analysis, optimization,
      planning)
  }

  def now(): Long = System.nanoTime() - origin

  /** Time `body` as a span named `name` under the current span. */
  def span[T](name: String, req: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, req, name, t0, now())
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Seconds of [start, end) during which no Spark job was running. The
    * bus is drained first, so a job whose end event is still queued counts
    * as running rather than as driver-only time.
    */
  def driverOnlyS(start: Long, end: Long): Double = {
    if (enabled) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val lo = originMs + start / 1000000L
    val hi = originMs + end / 1000000L
    val busy = synchronized {
      jobWindows.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).toSeq
    }
    var covered = 0L
    var curA = -1L
    var curB = -1L
    busy.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (hi - lo - covered) / 1000.0)
  }

  def write(path: String): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      sb.append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
